package graft

import java.sql.Timestamp

import graft.plans.AsOf
import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("as-of join: latest right ≤ left, ties broken, unmatched null") {
    val quotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 10:05:00"), 101.0),
      ("A", ts("2024-01-01 10:05:00"), 102.0), // tie on time
      ("B", ts("2024-01-01 09:00:00"), 50.0)
    ).toDF("sym", "qts", "px")
    val trades = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1L), // exact match → 100.0
      ("A", ts("2024-01-01 10:04:59"), 2L), // before 2nd quote → 100.0
      ("A", ts("2024-01-01 10:06:00"), 3L), // after tie → 102.0 (tiebreak px)
      ("B", ts("2024-01-01 08:59:59"), 4L), // before any quote → null
      ("C", ts("2024-01-01 12:00:00"), 5L)  // no quotes at all → null
    ).toDF("sym", "tts", "id")

    val out = AsOf.join(spark, trades, quotes,
        Seq(trades("sym")), Seq(quotes("sym")),
        trades("tts"), quotes("qts"), tiebreak = Seq(quotes("px")))
      .select($"id", $"px").as[(Long, Option[Double])]
      .collect().toMap
    assert(out === Map(1L -> Some(100.0), 2L -> Some(100.0),
      3L -> Some(102.0), 4L -> None, 5L -> None))
  }

  test("prop: as-of join equals window encoding on random data") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val lefts = (1 to 300).map(i =>
        (i.toLong, s"k${rnd.nextInt(8)}", new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L)))
        .toDF("lid", "k", "lts")
      val rights = (1 to 200).map(i =>
        (i.toLong, s"k${rnd.nextInt(10)}", new Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L)))
        .toDF("rid", "rk", "rts")
      val native = AsOf.join(spark, lefts, rights,
          Seq(lefts("k")), Seq(rights("rk")), lefts("lts"), rights("rts"),
          tiebreak = Seq(rights("rid")))
        .select($"lid", $"rid")
      val viaWindow = lefts.join(rights,
          lefts("k") === rights("rk") && rights("rts") <= lefts("lts"), "left")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"lid")
            .orderBy($"rts".desc_nulls_last, $"rid".desc_nulls_last)))
        .filter($"rn" === 1).select($"lid", $"rid")
      assert(native.exceptAll(viaWindow).isEmpty &&
        viaWindow.exceptAll(native).isEmpty, s"seed $seed diverged")
    }
  }

  test("as-of join plan co-partitions and sorts, no window blow-up") {
    val e = Tables.load(spark, sf001, "events")
      .select($"event_id", $"user_id", $"ts")
    val o = Tables.load(spark, sf001, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
    val joined = AsOf.join(spark, e, o, Seq(e("user_id")), Seq(o("o_custkey")),
      e("ts"), o("o_orderdate"), Seq(o("o_orderkey")))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // exec node prints sans "Exec"
    // row preservation: left outer semantics keep every event exactly once
    assert(joined.count() === e.count())
    // cross-check one user against the window-encoding reference result
    val viaWindow = e.join(o, e("user_id") === o("o_custkey") &&
        o("o_orderdate") <= e("ts"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_id")
          .orderBy($"o_orderdate".desc_nulls_last, $"o_orderkey".desc_nulls_last)))
      .filter($"rn" === 1)
      .select($"event_id", $"o_orderkey")
    val native = joined.select($"event_id", $"o_orderkey")
    assert(native.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(native).isEmpty)
  }

  test("binned range join == nested-loop reference; plans as a hash join") {
    val rnd = new scala.util.Random(11)
    // negative domain included; intervals longer and shorter than the bin
    val points = (1 to 2000).map(i => (i.toLong, rnd.nextDouble() * 400 - 200))
      .toDF("pid", "v")
    val ivs = (1 to 150).map { i =>
      val lo = rnd.nextDouble() * 380 - 210
      (i.toLong, lo, lo + rnd.nextDouble() * 60)
    }.toDF("iid", "lo", "hi")
    val binned = graft.functions.RangeJoinOps
      .pointInInterval(points, "v", ivs, "lo", "hi", binWidth = 20.0)
      .select($"pid", $"iid")
    val reference = points.join(ivs, $"v" >= $"lo" && $"v" <= $"hi")
      .select($"pid", $"iid")
    assert(binned.exceptAll(reference).isEmpty &&
      reference.exceptAll(binned).isEmpty,
      "grid must only prune, never change membership")
    val plan = binned.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") && !plan.contains("NestedLoop"), plan)

    // degenerate intervals (lo > hi) match nothing under BETWEEN — the
    // binned plan must yield the same empty result, not a sequence() error
    val degenerate = Seq((1L, 50.0, 40.0), (2L, 10.0, 10.0)).toDF("iid", "lo", "hi")
    val degJoined = graft.functions.RangeJoinOps
      .pointInInterval(points, "v", degenerate, "lo", "hi", binWidth = 20.0)
    assert(degJoined.filter($"iid" === 1L).isEmpty)
  }

  test("q83 multi-horizon windows share one sort: a single Exchange+Window") {
    val df = graft.queries.Windowed.defs("q83_multi_horizon")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // four range frames over the same (user, ts) ordering must coalesce
    // into ONE Window operator over ONE hash exchange — adding horizons
    // to the wide accumulation table costs no extra shuffle or sort
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q96/q99 window plans: one hash exchange each, no extra shuffles") {
    // prediction smoothing: the non-null subframe windows once on the
    // entity key; the null branch re-scans without shuffling
    val q96 = graft.queries.Windowed.defs("q96_prediction_smooth")(spark, sf001)
    val p96 = q96.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p96).size == 1, p96)
    // sequence packing: one cumulative-sum window over (lang, doc_id)
    val q99 = graft.queries.TrainingData.defs("q99_sequence_pack")(spark, sf001)
    val p99 = q99.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p99).size == 1, p99)
    assert("\\bWindow\\b".r.findAllIn(p99).size == 1, p99)
  }

  test("q101 mixture resample: corpus never shuffles; copy counts well-formed") {
    val df = graft.queries.TrainingData.defs("q101_mixture_resample")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // strata counts collapse map-side before their shuffle; the rates
    // frame comes back as a broadcast — the document stream itself only
    // ever flows scan → broadcast-join → explode
    val lines = plan.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
      .foreach { case (_, i) =>
        assert(lines(i + 1).contains("HashAggregate"),
          s"raw corpus crossed an exchange:\n$plan")
      }
    assert(plan.contains("BroadcastHashJoin"), plan)

    // data-independent invariants: copies per doc are contiguous 1..k,
    // and each stratum's achieved count is within n_l of target·N
    // (each doc's copy count deviates < 1 from its rate)
    val rows = df.collect()
    val perDoc = rows.groupBy(_.getLong(0)).values
    assert(perDoc.forall(c => c.map(_.getLong(2)).sorted.sameElements(1L to c.length)))
    val w = Map("en" -> 0.30, "de" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "zh" -> 0.15)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val n = docs.count()
    val nl = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val achieved = rows.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    achieved.foreach { case (lang, a) =>
      assert(math.abs(a - w(lang) * n) <= nl(lang) + 1,
        s"$lang achieved $a vs target ${w(lang) * n} (n_l=${nl(lang)})")
    }
  }

  test("q102 ccnet buckets: histogram cutoffs partition each lang by score") {
    val df = graft.queries.TrainingData.defs("q102_ccnet_buckets")(spark, sf001)
    // no ntile over the corpus: every hash shuffle carries an
    // aggregated frame (bigram counts, per-doc scores, the
    // (lang, score) histogram) — raw document rows never cross an
    // exchange, and the tertile cutoffs come back as a broadcast.
    // Asserted on the pre-AQE plan (same as the q77 test): the final
    // adaptive string interleaves QueryStage wrappers between an
    // Exchange and its child, breaking the next-line check.
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
      .foreach { case (_, i) =>
        assert(lines(i + 1).contains("HashAggregate"),
          s"shuffle not fed by a bounded frame:\n$plan")
      }
    assert(!plan.contains("ntile"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)

    val rows = df.collect().map(r =>
      (r.getString(1), r.getDouble(2), r.getString(3)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val by = rs.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      def maxOf(b: String) = by.get(b).map(_.max)
      def minOf(b: String) = by.get(b).map(_.min)
      for (t <- maxOf("tail"); m <- minOf("middle"))
        assert(t <= m, s"$lang: tail max $t > middle min $m")
      for (m <- maxOf("middle"); h <- minOf("head"))
        assert(m <= h, s"$lang: middle max $m > head min $h")
      // lower-quantile semantics: at least ⌈N/3⌉ docs at or below c13,
      // ⌈2N/3⌉ at or below c23
      val nl = rs.length
      val tail = by.get("tail").map(_.size).getOrElse(0)
      val mid = by.get("middle").map(_.size).getOrElse(0)
      assert(tail >= math.ceil(nl / 3.0).toInt - 0, s"$lang tail=$tail of $nl")
      assert(tail + mid >= math.ceil(2 * nl / 3.0).toInt, s"$lang t+m of $nl")
    }
  }

  test("q92 one-pass LM scoring: the corpus is scanned exactly once") {
    // the (doc, bigram, k) collapse plus the explicit isNotNull that
    // matches the join's inferred filter make BOTH consumers of the
    // frame canonicalize to the same Exchange — AQE materializes the
    // corpus stage once. Measured, not asserted from the plan string:
    // the job meter counts parquet records actually read, exact once
    // the listener bus is drained.
    val docRows = spark.read.parquet(s"$sf001/documents.parquet").count()
    val read = graft.ops.JobMeter.measure(spark) {
      graft.queries.TrainingData.defs("q92_doc_logprob")(spark, sf001).collect()
    }.inputRecords
    assert(read === docRows, s"corpus scanned ${read.toDouble / docRows}x")
  }

  test("q103 semdedup: at most 2 kept per cluster, all singletons kept") {
    val df = graft.queries.TrainingData.defs("q103_semdedup")(spark, sf001)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // keeper policy invariants, independent of the data: ≤2 kept per
    // cluster, the kept ones are the cluster's smallest vec_ids, and a
    // singleton is always kept
    rows.groupBy(_._2).foreach { case (cl, members) =>
      val kept = members.filter(_._3 == 1).map(_._1).sorted
      assert(kept.length <= 2, s"cluster $cl keeps ${kept.length}")
      assert(kept.sameElements(
        members.map(_._1).sorted.take(kept.length)), s"cluster $cl")
      if (members.length == 1) assert(kept.length == 1, s"singleton $cl")
      if (members.length >= 2) assert(kept.length == 2, s"cluster $cl")
    }
    // the window shuffle is keyed on cluster — never a pair join over
    // the corpus
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q114 scaled semdedup: pair join keyed by trained cluster; linear blocking tracks all-pairs truth") {
    // the pair stage's corpus self-join is an EQUI-join on the trained
    // quantizer's cluster key — the plan property that keeps pair work
    // linear in n (never a cartesian/broadcast-nested-loop over vectors)
    val pairsPlan = graft.functions.DedupOps.semanticPairsBlocked(
      Tables.load(spark, sf001, "embeddings"), "vec_id", "embedding", 0.35)
      .queryExecution.executedPlan.toString
    assert(!pairsPlan.contains("CartesianProduct"), pairsPlan)
    assert(!pairsPlan.contains("BroadcastNestedLoopJoin"), pairsPlan)
    assert(pairsPlan.contains("cluster"), pairsPlan)
    assert(
      pairsPlan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
         l.contains("BroadcastHashJoin")) && l.contains("cluster")),
      s"corpus self-join not keyed on the trained cluster:\n$pairsPlan")
    // at the 100 TB shape (broadcast off → SMJ), the self-join's two
    // sides canonicalize to ONE exchange: the corpus — including its
    // k-dot-product assignment work — shuffles once; the other side is
    // a ReusedExchange
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = graft.functions.DedupOps.semanticPairsBlocked(
        Tables.load(spark, sf001, "embeddings"), "vec_id", "embedding", 0.35)
      smj.collect()
      val smjPlan = smj.queryExecution.executedPlan.toString
      assert(smjPlan.contains("ReusedExchange"),
        s"self-join shuffles the assigned corpus twice:\n$smjPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // q114's query now emits a constant-size verdict (round 12); the
    // raw dedup rows this test pins come from the public operator with
    // q114's exact arguments
    def q114Rows() = graft.functions.DedupOps.semanticDedupBlocked(
        Tables.load(spark, sf001, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, trainSamplePct = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val scaled = q114Rows()
    assert(scaled.nonEmpty)
    // same keeper-policy invariants as q103 (≤2 kept, smallest ids,
    // singletons kept) under the IVF-cluster pair blocking
    scaled.groupBy(_._2).foreach { case (cl, members) =>
      val kept = members.filter(_._3 == 1).map(_._1).sorted
      assert(kept.length === math.min(2, members.length), s"cluster $cl")
      assert(kept.sameElements(
        members.map(_._1).sorted.take(kept.length)), s"cluster $cl")
    }
    // the boundary loss the scale path trades for linear pair work is
    // SMALL, measured against the TRUE reference: the UNBLOCKED
    // all-pairs threshold graph (computable exactly at this scale).
    // q103's label blocking is NOT that reference — it misses every
    // cross-label pair, which q114's content-trained cells legitimately
    // find — so agreement is pinned against exhaustive truth, not
    // against a different blocking choice.
    val vecs = Tables.load(spark, sf001, "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def cosR(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- vecs.indices; j <- (i + 1) until vecs.length
         if cosR(vecs(i)._2, vecs(j)._2) >= 0.35) {
      val (ri, rj) = (find(vecs(i)._1), find(vecs(j)._1))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val truthKeep = vecs.map(_._1).groupBy(find).values.flatMap { members =>
      val sorted = members.sorted
      sorted.map(id => id -> (if (sorted.indexOf(id) < 2) 1 else 0))
    }.toMap
    val agree = scaled.count { case (id, _, keep) => truthKeep(id) == keep }
    assert(agree.toDouble / scaled.length >= 0.9,
      s"keep agreement ${agree.toDouble / scaled.length}")
    // determinism: the seeded quantizer makes the whole pipeline
    // replayable
    val again = q114Rows()
    assert(scaled.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // and q114's oracle-facing verdict frame reports all-ok over the
    // same full-corpus run (the invariants this test checks by hand)
    val verdict = graft.queries.TrainingData
      .defs("q114_semdedup_scaled")(spark, sf001).collect()
    assert(verdict.length === 1)
    val v = verdict(0)
    assert(v.getAs[Long]("n_vectors") === scaled.length.toLong)
    assert(v.getAs[Int]("coverage_ok") === 1)
    assert(v.getAs[Int]("policy_ok") === 1)
    assert(v.getAs[Int]("order_ok") === 1)
    assert(v.getAs[Int]("agreement_ok") === 1)
  }

  test("q115 broadcast-LM scoring: bigram stream never crosses an exchange") {
    val df = graft.queries.TrainingData
      .defs("q115_lm_quality_scaled")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // the bounded model comes back as a broadcast, and the CORPUS-side
    // exploded (doc, bigram) stream is scored scan-locally and combined
    // map-side — the only bigram-keyed exchange in the plan is the
    // model build's own count over the bounded REFERENCE slice, inside
    // the broadcast subtree
    assert(plan.contains("BroadcastHashJoin"), plan)
    val lines = plan.linesIterator.toIndexedSeq
    val bigramEx = lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(bigram"))
    assert(bigramEx.size === 1, plan)
    val bx = lines.indexWhere(_.contains("BroadcastExchange"))
    assert(bx >= 0 && bx < bigramEx.head._2,
      s"bigram exchange outside the model-build broadcast subtree:\n$plan")
    // OOV floor: a doc whose bigrams all miss the model scores exactly
    // round(ln 1e-6, 4) — the smoothing branch is exercised, not dead
    val rows = df.collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.nonEmpty)
    val floor = BigDecimal(math.log(1e-6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.forall(_._2 >= floor), s"scores below the OOV floor")
    assert(rows.exists(_._2 > floor), "every doc fully OOV — model too small")
  }

  test("q104 dsir: models stay M-bounded and broadcast; cutoff keeps ≤ 25%") {
    val df = graft.queries.TrainingData.defs("q104_dsir_importance")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // the per-bucket LLR model and the histogram cutoff both come back
    // as broadcasts; every hash shuffle carries a partially-aggregated
    // frame (bucket counts, (doc,bucket) counts, doc weights, the
    // weight histogram) — raw exploded bigrams never cross an exchange
    // un-aggregated
    val lines = plan.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
      .foreach { case (_, i) =>
        assert(lines(i + 1).contains("HashAggregate"),
          s"shuffle not fed by a bounded frame:\n$plan")
      }
    assert(plan.contains("BroadcastHashJoin"), plan)

    val rows = df.collect().map(r => (r.getLong(0), r.getInt(2)))
    val n = rows.length
    val kept = rows.count(_._2 == 1)
    assert(n > 0)
    // strictly-above-quantile selection: ≤ 25% kept, and at least one
    // doc kept unless every weight ties at the cutoff
    assert(kept <= math.ceil(n / 4.0).toInt, s"kept $kept of $n")
    // target docs (src0/src1) are the reference distribution, never
    // scored output
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val rawN = docs.filter("source NOT IN ('src0','src1')").count()
    assert(n == rawN, s"scored $n raw docs, expected $rawN")
  }

  test("q107 composed recipe: one plan, gate before dedup shuffle, mixture invariant") {
    val df = graft.queries.TrainingData.defs("q107_pretrain_mix")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // the whole recipe is ONE Catalyst plan: no cartesian blowup, and
    // the quality gate prunes BEFORE the dedup window's exchange (the
    // filter must sit under the first hashpartitioning on md5(text))
    assert(!plan.contains("CartesianProduct"), plan)
    val lines = plan.linesIterator.toIndexedSeq
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(exIdx >= 0, plan)
    assert(lines.drop(exIdx).exists(_.matches(".*Filter.*(n_tok|size\\().*")),
      s"quality gate not pushed below the dedup exchange:\n$plan")

    val rows = df.collect()
    assert(rows.nonEmpty)
    // copies per (doc) are contiguous and packs are dense per lang:
    // every pack id in 0..max occurs (greedy packing leaves no holes)
    rows.groupBy(_.getString(2)).foreach { case (lang, rs) =>
      val packs = rs.map(_.getLong(4)).distinct.sorted
      assert(packs.sameElements(0L to packs.max), s"$lang packs: ${packs.toSeq}")
    }
    // the per-source cap held upstream: ≤ 20 distinct docs per source
    // can survive, so no source contributes more docs than that
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.map(r => docs(r.getLong(0))).groupBy(identity).foreach {
      case (src, hits) =>
        val distinctDocs = rows.filter(r => docs(r.getLong(0)) == src)
          .map(_.getLong(0)).distinct.length
        assert(distinctDocs <= 20, s"$src: $distinctDocs docs survived the cap")
    }
  }

  test("q76 plan merges sessions natively; q77 shuffles only bounded frames") {
    val sess = graft.queries.Windowed.defs("q76_session_window")(spark, sf001)
    val sessPlan = sess.queryExecution.executedPlan.toString
    // the streaming-native session operator, not a window-function scan
    assert(sessPlan.contains("MergingSessions"), sessPlan)

    val tfidf = graft.queries.TrainingData.defs("q77_tfidf")(spark, sf001)
    val tfidfPlan = tfidf.queryExecution.executedPlan.toString
    // Catalyst plans tf and df as independent scan subtrees (cheaper
    // than materializing a shared exploded frame — the round-2 persist
    // lesson); what must hold at scale is that the raw token stream
    // never crosses an exchange: each shuffle input is bounded first,
    // by a partial HashAggregate (token → term counts) or by the
    // rank-pushdown WindowGroupLimit (≤ 3 rows per doc).
    val lines = tfidfPlan.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
      .foreach { case (_, i) =>
        assert(lines(i + 1).contains("HashAggregate") ||
          lines(i + 1).contains("WindowGroupLimit"),
          s"shuffle not fed by a bounded frame:\n$tfidfPlan")
      }
  }

  test("q113 rejects documents past the 2^21-token priority bound") {
    // The (doc_id, start) → doc_id·2^21 + start priority encoding is
    // mirrored by the DuckDB oracle, so an overflow would corrupt
    // ordering identically in both engines and hash-match anyway —
    // the scan-side raise_error guard is the only observer. Fixture:
    // one doc whose last 8-token window STARTS at 2^21.
    val dir = tmpDir("q113guard")
    val nTok = (1 << 21) + 8
    val sb = new java.lang.StringBuilder(2 * nTok)
    var i = 0
    while (i < nTok) { if (i > 0) sb.append(' '); sb.append('a'); i += 1 }
    Seq((1L, sb.toString)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      graft.queries.TrainingData.defs("q113_substring_dedup")(spark, dir)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("priority encoding")),
      s"wrong failure: $ex")
    // and a conforming doc on the same path still flows
    Seq((1L, "a b c d e f g h i j a b c d e f g h i j"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ok = graft.queries.TrainingData
      .defs("q113_substring_dedup")(spark, dir).collect()
    assert(ok.length === 1)
  }

  test("substr_mask: merged windows, empty-token parity, ascending contract") {
    import graft.expressions.SubstrMask.substr_mask
    def mask(text: String, starts: Seq[Int], k: Int): (String, Long) = {
      val r = Seq((text, starts)).toDF("t", "s")
        .select(substr_mask($"t", $"s", k).as("m"))
        .select($"m.clean_text", $"m.n_removed").head()
      (r.getString(0), r.getLong(1))
    }
    // overlapping duplicated windows merge into one contiguous span
    assert(mask("a b c d e f", Seq(1, 2), 2) === ("a e f", 3L))
    // zero-copy when nothing masks
    assert(mask("a b c", Seq(), 2) === ("a b c", 0L))
    // mask to the end; window past the end covers only what exists
    assert(mask("a b c", Seq(2), 4) === ("a b", 1L))
    // empty tokens between doubled spaces survive like the HOF
    // encoding: split/rejoin on single space is the identity
    assert(mask("a  b c", Seq(0), 1) === (" b c", 1L))
    // unsorted starts fail loudly instead of silently unmasking
    val e = intercept[Exception](mask("a b c d", Seq(2, 0), 1))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ascending")), e.toString)
  }

  test("q116 leakage-safe split: near-dup clusters never straddle splits") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.TrainingData
      .defs("q116_leakage_safe_split")(spark, "/root/testdata/sf0.01")
      .cache()
    try {
      // every cluster carries exactly one split label — the property
      // a doc-id-keyed split (q72) does NOT have
      val perCluster = df.groupBy(col("cluster_id"))
        .agg(countDistinct(col("split")).as("n"), count(lit(1)).as("sz"))
      assert(perCluster.filter(col("n") =!= 1).count() === 0,
        "a near-dup cluster straddles splits")
      // non-vacuous: the corpus HAS multi-doc near-dup clusters, and
      // all three labels are in use
      assert(perCluster.filter(col("sz") > 1).count() > 0,
        "no multi-doc clusters — the property is vacuous on this corpus")
      assert(df.select(col("split")).distinct().count() === 3)
      // the split fractions still track the 80/10/10 hash thresholds
      // (clusters are small, so cluster-keying cannot skew them far)
      val n = df.count().toDouble
      val train = df.filter(col("split") === "train").count().toDouble
      assert(train / n > 0.65 && train / n < 0.95, s"train share ${train / n}")
    } finally df.unpersist()
  }

  test("q120 agreement self-check: ok flag green, bounded subset") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.TrainingData
      .defs("q120_semdedup_agreement")(spark, sf001).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_vectors") === 500L)
    assert(r.getAs[Double]("agreement_floor") === 0.9)
    assert(r.getAs[Int]("agreement_ok") === 1,
      "blocked-vs-exhaustive keep agreement fell below the floor")
  }

  test("q121 shuffled pack: sharded prefix-sum == global window; no corpus single-partition stage") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.TrainingData
      .defs("q121_shuffled_pack")(spark, sf001)
    // the sharded two-level prefix-sum must give EXACTLY the global
    // window's answer — recompute the reference the naive way (fine at
    // spec scale; the whole point of the sharded plan is not doing
    // this at corpus scale)
    val W = org.apache.spark.sql.expressions.Window
    val ref = Tables.load(spark, sf001, "documents")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("shuffle_key",
        md5(concat(lit("graft-epoch-0:"), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("n_tok"),
        floor(coalesce(sum(col("n_tok")).over(
            W.orderBy(col("shuffle_key"), col("doc_id"))
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)) / lit(2048.0))
          .cast("long").as("pack_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === ref, "sharded prefix-sum diverged from the global window")
    // plan property: the only single-partition stage is the 256-row
    // shard-offset rollup (fed by a HashAggregate) — the corpus itself
    // never funnels through one task
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toIndexedSeq
    val spIdx = lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition")).map(_._2)
    assert(spIdx.nonEmpty, s"expected the bounded offsets rollup:\n$plan")
    spIdx.foreach { i =>
      assert(lines(i + 1).contains("HashAggregate"),
        s"raw corpus crossed a single-partition exchange:\n$plan")
    }
    // pack ids are dense from 0 and the epoch order is non-trivially
    // shuffled (the seeded key must not degenerate to doc_id order)
    val packs = got.map(_._3)
    assert(packs.min === 0L)
    val sortedByDoc = df.orderBy(col("doc_id")).collect().map(_.getLong(2))
    assert(sortedByDoc.zip(sortedByDoc.tail).exists { case (a, b) => a > b },
      "pack ids monotone in doc_id — the shuffle key did nothing")
  }

  test("q123 stratified take: two-level salted rank == one window; exact K per stratum") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("source"))
    val got = graft.queries.TrainingData
      .defs("q123_stratified_eval")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // reference: the naive single window (what the oracle computes)
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(TextOps.hashDraw(col("doc_id"), "eval-0"), col("doc_id"))
    val ref = docs.withColumn("__rk", row_number().over(W))
      .filter(col("__rk") <= 20)
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === ref, "two-level salted rank diverged from one window")
    // exact-K property: every stratum contributes min(K, its size)
    val sizes = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val taken = got.groupBy(_._2).view.mapValues(_.size).toMap
    sizes.foreach { case (src, n) =>
      assert(taken.getOrElse(src, 0) === math.min(20L, n).toInt,
        s"stratum $src took ${taken.getOrElse(src, 0)} of $n")
    }
    // salts = 1 degenerates to the single window — same answer
    val s1 = TextOps.stratifiedTake(docs, Seq("source"), "doc_id",
        k = 20, salt = "eval-0", salts = 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s1 === ref)
  }

  test("GlobalOrder: null keys pass through == global nulls-first window; reserved guards") {
    import graft.core.GlobalOrder
    val df = Seq(
      (1L, Option("ab"), 3L), (2L, Option.empty[String], 5L),
      (3L, Option("0f"), 2L), (4L, Option.empty[String], 7L),
      (5L, Option(""), 1L), (6L, Option("zz"), 4L)
    ).toDF("id", "key", "v")
    val got = GlobalOrder.precedingSum(df, "id", "key", "v", "ps")
      .select($"id", $"ps").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: ONE global window, ascending (Spark default: nulls first)
    val W = org.apache.spark.sql.expressions.Window
      .orderBy($"key", $"id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = df.select($"id",
        coalesce(sum($"v").over(W), lit(0L)).as("ps"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 6, "a null-keyed row vanished from precedingSum")
    assert(got === ref, "sharded answer diverged from the global window on null keys")
    // reserved temp columns are rejected loudly, not silently overwritten
    intercept[IllegalArgumentException](GlobalOrder.precedingSum(
      df.withColumn("__go_shard", lit(1)), "id", "key", "v", "ps"))
    intercept[IllegalArgumentException](GlobalOrder.rank0(
      df.withColumn("__go_one", lit(1)), "id", "key", "r"))
    intercept[IllegalArgumentException](graft.functions.TextOps.stratifiedTake(
      df.withColumn("__st_rk1", lit(1)), Seq("key"), "id", 1, "s"))
  }

  test("epochShuffledPack: non-power-of-two budget is exact integral division") {
    import graft.lake.CorpusPack
    val docs = (1L to 400L).map(i => (i, 1L + i % 7)).toDF("doc_id", "n_tok")
    val got = CorpusPack.epochShuffledPack(docs, "doc_id", "n_tok",
        seed = "e0", budgetTokens = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // reference: exact long arithmetic over the same seeded global order
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(md5(concat(lit("e0:"), $"doc_id".cast("string"))), $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = docs.select($"doc_id",
        coalesce(sum($"n_tok").over(W), lit(0L)).as("prev"))
      .collect().map(r => r.getLong(0) -> r.getLong(1) / 3L).toMap
    assert(got === ref)
    intercept[IllegalArgumentException](CorpusPack.epochShuffledPack(
      docs.withColumn("__prev", lit(1)), "doc_id", "n_tok", "e0"))
  }
  test("decontam kernel path: zero exchanges; q140 unigram scan-local") {
    import graft.functions.TextOps
    // the fused scrub (test set as a plan reference) must be a pure
    // scan-side projection: clean AND contaminated docs never leave
    // their scan — the plan the streaming stage relies on being
    // stateless, and the batch auto-route's whole point
    val docs = Tables.load(spark, sf001, "documents")
    val scrub = TextOps.decontamScrubBroadcast(docs, "doc_id", "text",
      Seq("the quick fox", "lorem ipsum dolor"))
    val sp = scrub.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"), sp)
    assert(sp.contains("*(1)"), s"no codegen stage:\n$sp")
    // unigram token counting: one codegen scan, shuffle only for the
    // oracle-required output sort (q137's shape)
    val q140 = graft.queries.TrainingData
      .defs("q140_unigram_tokens")(spark, sf001)
    val p140 = q140.queryExecution.executedPlan.toString
    assert(!p140.contains("Exchange hashpartitioning"), p140)
    // q148 code filter: one codegen byte-walk scan, shuffle only for
    // the oracle-required output sort (the q137/q140 shape)
    val q148 = graft.queries.TrainingData
      .defs("q148_stack_code_filter")(spark, sf001)
    val p148 = q148.queryExecution.executedPlan.toString
    assert(!p148.contains("Exchange hashpartitioning"), p148)
    assert(p148.contains("code_stats"), s"kernel missing from plan:\n$p148")
  }
}
