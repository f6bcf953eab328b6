package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling probe (not part of the driver contract): runs the
  * dedup-family headliners and a persisted-ANN search at TWO scale
  * factors and reports total SHUFFLE BYTES per query, plus the fitted
  * exponent  b = log(bytes_hi/bytes_lo) / log(rows_hi/rows_lo).
  *
  * The point: the Σ bucket² and bucket-prune claims in PLANS.md are
  * plan-audited; this measures them. Sub-quadratic growth (b well under
  * 2, ideally ≈1) is the pass condition for "survives 100×". Wall-time
  * is reported but secondary — at local scale it is mostly fixed job
  * overhead, while shuffle bytes are the quantity that costs at 100 TB.
  *
  * Usage: runMain graft.tools.ScaleProbe [loDir hiDir]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val lo = args.headOption.getOrElse("/root/testdata/sf0.01")
    val hi = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val meter = new ShuffleMeter(spark.sparkContext)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def measure(f: => Unit): (Double, Long) = meter.measure(f)

    val allProbes = Seq("q59_neardup_dedup", "q52_lsh_pairs",
      "q91_bloom_contamination", "q97_semantic_dedup", "q99_sequence_pack",
      "q100_source_filter", "q101_mixture_resample", "q102_ccnet_buckets",
      "q103_semdedup", "q104_dsir_importance", "q106_source_cap",
      "q107_pretrain_mix", "q108_token_entropy", "q113_substring_dedup",
      "q114_semdedup_scaled", "q115_lm_quality_scaled",
      "q116_leakage_safe_split", "q119_corpus_drift",
      "q121_shuffled_pack", "q124_line_dedup", "q126_ngram_diversity",
      "q127_zipf_slope", "q130_quality_classifier",
      "q131_classifier_gate_pipeline", "q135_lane_verify",
      "q136_lexicon_gate", "q137_gopher_rules", "q138_decontam_scrub",
      "q139_domain_rollup", "q140_unigram_tokens", "q142_gate_calibration",
      "q145_gopher_repetition", "q147_c4_line_policy",
      "q148_stack_code_filter", "q149_wordpiece_tokens",
      "q150_family_fertility", "q151_icp_order", "q152_icp_pack",
      "q153_license_filter",
      // r17 (verdict #5): the remaining r16-round queries plus q155, so
      // the sweep covers every query the round added
      "q141_unigram_fertility", "q143_calibrated_gate",
      "q144_unigram_quantiles", "q146_subword_expected",
      "q154_bloom_line_scrub", "q155_repo_license")
    // optional 3rd arg: comma-separated substring filter (probe a single
    // query's decade without re-running the whole set)
    val probes = args.lift(2) match {
      case Some(f) =>
        val wanted = f.split(',').toSeq
        allProbes.filter(p => wanted.exists(p.contains))
      case None => allProbes
    }
    case class Obs(docRows: Long, embRows: Long, bytes: Map[String, Long])

    // which base table a probe query scans — the honest denominator
    // for scan amplification (q97/q103 read embeddings, not documents)
    val probeTable = Map(
      "q97_semantic_dedup" -> "embeddings",
      "q103_semdedup" -> "embeddings",
      "q114_semdedup_scaled" -> "embeddings",
      "q151_icp_order" -> "embeddings",
      "ann_search" -> "embeddings",
      "semantic_gate" -> "embeddings").withDefaultValue("documents")

    def observe(dir: String): Obs = {
      val docRows = Tables.load(spark, dir, "documents").count()
      val baseRows = Map(
        "documents" -> docRows,
        "embeddings" -> Tables.load(spark, dir, "embeddings").count())
      // q114 exponent decomposition: the thresholded pair graph SIZE is
      // data (the corpus's semantic-dup density), the blocking join is
      // the algorithm — report both so a dup-density shift in the scaled
      // corpus is not misread as blocking superlinearity
      if (probes.contains("q114_semdedup_scaled")) {
        // trainSamplePct mirrors q114's own setting — the decomposition
        // must count the SAME pair graph the measured query built
        val nPairs = graft.functions.DedupOps.semanticPairsBlocked(
          Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
          0.35, trainSamplePct = 10).count()
        println(s"[probe] $dir q114 pair graph: $nPairs thresholded pairs")
      }
      // q52 SKEW decomposition (VERDICT r17 #7): the in-bucket pair
      // expansion is quadratic in bucket size, so the number that
      // decides whether salting/capping is needed at scale is the
      // BUCKET-SIZE DISTRIBUTION, not the total. max vs median says
      // whether one viral bucket dominates (the starBucketThreshold
      // guard's regime); Σ n·(n−1)/2 is the exact pair-expansion work.
      if (probes.contains("q52_lsh_pairs")) {
        val docs = Tables.load(spark, dir, "documents")
        val buckets = graft.functions.DedupOps.lshBands(
            graft.functions.DedupOps.minhashSignature(docs, "doc_id", "text"),
            "doc_id")
          .groupBy(col("band_idx"), col("band_key"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        val st = buckets.agg(count(lit(1)), max(col("n")),
          expr("percentile(n, 0.5)"),
          sum((col("n") * (col("n") - 1) / lit(2)).cast("long"))).head()
        println(s"[probe] $dir q52 buckets>1: ${st.getLong(0)}, " +
          s"max ${st.getLong(1)}, median ${st.getDouble(2)}, " +
          s"pair expansions ${st.getLong(3)}")
      }
      // q91 exponent decomposition (same data-vs-algorithm split as
      // q114): the semi-join's shuffle carries the MATCHED train
      // occurrences, and in this synthetic corpus the contamination
      // density itself is superlinear — the test side is a 10% slice
      // of the SAME growing corpus over a small shared vocabulary, so
      // the match rate climbs with scale (12% → 60% across the
      // sf0.01→sf0.1 decade; measured r15). Real decontamination has a
      // FIXED test set, where the matched sliver scales with the
      // corpus, not faster. Report the matched-occurrence count so the
      // raw bytes exponent is read against the query's own OUTPUT
      // growth — bytes growing slower than matches IS linear behavior.
      if (probes.contains("q91_bloom_contamination")) {
        // the query's OWN input definition (shared, not re-implemented:
        // a drifting copy would decompose a different query)
        val (trainSh, testSh) =
          graft.queries.TrainingData.contaminationInputs(spark, dir)
        val matched = trainSh.join(testSh, Seq("sh"), "left_semi").count()
        println(s"[probe] $dir q91 matched train occurrences: $matched")
      }
      // q138 exponent decomposition (q91's data-vs-algorithm split
      // applies verbatim — same synthetic superlinear contamination
      // density): the only frame that shuffles is the (id, lo, hi)
      // collision-span list, so bytes growing WITH the collision count
      // is the linear plan behaving; report the count so the raw
      // exponent is read against the query's own input growth.
      if (probes.contains("q138_decontam_scrub")) {
        val (train, _) =
          graft.queries.TrainingData.contaminationSplit(spark, dir)
        val nSpans = graft.functions.TextOps.decontamHits(
          train.select(col("doc_id"), col("text")), "doc_id", "text",
          graft.queries.TrainingData.contaminationInputs(spark, dir)._2,
          3, 2).count()
        println(s"[probe] $dir q138 collision spans: $nSpans")
      }
      val perQuery = probes.map { name =>
        val (sec, bytes) =
          measure(noop(graft.SparkEntry.queries(name)(spark, dir)))
        // scan amplification: source records read / scanned-table rows.
        // ~1 ⇒ single pass; k ⇒ the plan re-materializes shared
        // subtrees k times (see PLANS.md one-pass notes) — the number
        // that matters at 100 TB alongside shuffle bytes. Caveat:
        // recordsRead also counts CHECKPOINT re-reads, so iterative
        // closure queries (q97/q103) report closure rounds here too.
        val base = baseRows(probeTable(name))
        val amp = if (base == 0) "n/a"
                  else f"x${meter.lastInputRecords.toDouble / base}%.1f"
        println(f"[probe] $dir $name: $sec%.2f s, shuffle ${bytes / 1048576.0}%.2f MiB, scan $amp")
        name -> bytes
      }.toMap
      // persisted ANN search: build is ingest cost (not probed); the
      // SEARCH is the serving path whose state side must not shuffle
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      // cross-run semantic-dedup gate: a FIXED 100-doc batch (half
      // stored twins, half negations) gated against the decade-growing
      // index. The ingest claim under measurement: only the BATCH ever
      // shuffles — the lists side bucket-prunes without an Exchange —
      // so gate bytes must stay ~flat as the corpus grows (exponent
      // ≈ 0, where ≈ 1 would mean the seen-set rides the shuffle).
      val batch = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          when(col("vec_id") % 2 === 0, col("embedding"))
            .otherwise(transform(col("embedding"), x => -x))
            .as("embedding"))
      val (searched, gated) = graft.lake.AnnIndex.withScratchIndex(
          spark, e, "vec_id", "embedding", k = 16, numBuckets = 8) { idx =>
        val s = measure { idx.topK(q, "embedding", 10, nprobe = 2).collect() }
        val semTmp =
          java.nio.file.Files.createTempDirectory("probe_sem").toString
        val dd = new graft.lake.CorpusDedup(spark,
          new graft.lake.Lake(spark, semTmp), "probe_sem")
        val g =
          try measure {
            dd.novelSemantic(idx, batch, "vec_id", "embedding",
              threshold = 0.9).count()
          } finally org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(semTmp))
        (s, g)
      }
      val (sec, bytes) = searched
      println(f"[probe] $dir ann_search: $sec%.2f s, shuffle ${bytes / 1048576.0}%.2f MiB")
      println(f"[probe] $dir semantic_gate: ${gated._1}%.2f s, shuffle ${gated._2 / 1048576.0}%.2f MiB")
      Obs(docRows, baseRows("embeddings"), perQuery +
        ("ann_search" -> bytes) + ("semantic_gate" -> gated._2))
    }

    println(s"[probe] lo=$lo")
    val oLo = observe(lo)
    println(s"[probe] hi=$hi")
    val oHi = observe(hi)

    val rowRatio = oHi.docRows.toDouble / oLo.docRows
    println(f"[probe] documents rows: ${oLo.docRows} -> ${oHi.docRows} (x$rowRatio%.1f)")
    if (rowRatio <= 1.0)
      println("[probe] WARNING: row counts do not grow between the two dirs — " +
        "exponents are undefined (pick SF dirs a real factor apart)")
    val embRatio = oHi.embRows.toDouble / oLo.embRows
    (probes ++ Seq("ann_search", "semantic_gate")).foreach { name =>
      val (bLo, bHi) = (oLo.bytes(name), oHi.bytes(name))
      // each query's exponent is against ITS OWN table's growth —
      // embeddings grow slower than documents between the fixture SFs,
      // so a docRows denominator would understate embedding queries
      val ratio =
        if (probeTable(name) == "embeddings") embRatio else rowRatio
      val exp =
        if (bLo <= 0 || bHi <= 0 || ratio <= 1.0) Double.NaN
        else math.log(bHi.toDouble / bLo) / math.log(ratio)
      println(f"[probe] $name: ${bLo / 1048576.0}%.2f -> ${bHi / 1048576.0}%.2f MiB, exponent $exp%.2f (vs x$ratio%.1f ${probeTable(name)})")
    }

    // recall of the persisted index at the HI scale factor, for the
    // record (q95's number at the bench SF)
    graft.SparkEntry.queries("q95_ann_recall")(spark, hi).collect()
      .foreach(r => println(s"[probe] q95@hi recall: $r"))

    // STREAMING semantic dedup at the decade: the watermarked state is
    // seeded with the whole in-horizon corpus, then a FIXED 100-vector
    // batch is measured against it ("hot"), and again after the
    // watermark evicted everything ("evicted"). Claims measured:
    //  - state rows ride the IN-HORIZON arrivals (exponent ≈ 1 by
    //    design — the horizon, not stream age, bounds them);
    //  - after eviction the same fixed batch is corpus-size-FLAT —
    //    stream age never accumulates cost.
    // Fixed-batch wall is reported but overhead-dominated at probe
    // scale (micro-batch job setup >> the 16-bucket cosine work); the
    // per-batch compute bound is the q63 bucket-density argument.
    def semStreamProbe(dir: String): (Long, Long, Double, Double) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      // negated corpus vectors: genuinely novel directions that still
      // spread across the sign buckets (the gate probe's recipe)
      val fixed = (0 until 100).map { i =>
        val v = corpus(i % corpus.length)._2
        (1000000L + i, v.map(x => -x), ts("2024-01-01 10:30:00"))
      }
      val mem = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
      val out = graft.streaming.StreamDedup.semanticWithinWatermark(
        mem.toDF.toDF("vec_id", "emb", "ts"), "vec_id", "emb", "ts",
        "60 minutes", threshold = 0.9, bits = 4)
      val q = out.writeStream.outputMode("append").format("noop").start()
      try {
        mem.addData(corpus.toIndexedSeq.map { case (id, v) =>
          (id, v, ts("2024-01-01 10:00:00")) })
        q.processAllAvailable()
        val t0 = System.nanoTime()
        mem.addData(fixed)
        q.processAllAvailable()
        val hotWall = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.reverse
          .find(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
        val stateRows = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
          .getOrElse(-1L)
        val stateBytes = prog.map(_.stateOperators.map(_.memoryUsedBytes).sum)
          .getOrElse(-1L)
        // watermark far past the horizon → next batch evicts the state
        mem.addData(Seq((999999L, corpus.head._2, ts("2024-01-01 20:00:00"))))
        q.processAllAvailable()
        val t1 = System.nanoTime()
        mem.addData(fixed.map { case (id, v, _) =>
          (id + 1000000L, v, ts("2024-01-01 20:05:00")) })
        q.processAllAvailable()
        val evictedWall = (System.nanoTime() - t1) / 1e9
        (stateRows, stateBytes, hotWall, evictedWall)
      } finally q.stop()
    }
    val (srLo, sbLo, hwLo, ewLo) = semStreamProbe(lo)
    val (srHi, sbHi, hwHi, ewHi) = semStreamProbe(hi)
    // state ROWS are the bucket KEYS (2^bits, corpus-free by design);
    // the stored vectors live inside each bucket's value, so the
    // growth quantity is state MEMORY — exponent vs in-horizon vectors
    val sbExp =
      if (sbLo <= 0 || sbHi <= 0 || embRatio <= 1.0) Double.NaN
      else math.log(sbHi.toDouble / sbLo) / math.log(embRatio)
    println(f"[probe] sem_stream state: $srLo -> $srHi bucket keys, " +
      f"${sbLo / 1024.0}%.0f -> ${sbHi / 1024.0}%.0f KiB, " +
      f"byte exponent $sbExp%.2f vs x$embRatio%.1f in-horizon vectors")
    println(f"[probe] sem_stream hot batch: $hwLo%.2f -> $hwHi%.2f s; " +
      f"evicted batch: $ewLo%.2f -> $ewHi%.2f s (flat = horizon bounds cost)")

    // q113 under BOILERPLATE SKEW: one 8-token passage appended to 30%
    // of documents, so a single K-window hash goes viral across the
    // corpus. The map-side partial agg (count + min-prio) is claimed to
    // collapse the viral key to one row per task BEFORE the shuffle —
    // this measures that claim: bytes should track the PLAIN corpus
    // decade, not blow up with the skewed key's occurrence count.
    if (probes.exists(_.startsWith("q113"))) {
      val passage =
        "all rights reserved redistribution permitted under attribution license"
      def skewDir(src: String): String = {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft_skew_${new java.io.File(src).getName}_")
          .toString
        Tables.load(spark, src, "documents")
          .withColumn("text", when(col("doc_id") % 10 < 3,
            concat(col("text"), lit(" " + passage))).otherwise(col("text")))
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        out
      }
      val (skLo, skHi) = (skewDir(lo), skewDir(hi))
      try {
        val (_, bLo) =
          measure(noop(graft.SparkEntry.queries("q113_substring_dedup")(spark, skLo)))
        val (_, bHi) =
          measure(noop(graft.SparkEntry.queries("q113_substring_dedup")(spark, skHi)))
        val exp =
          if (bLo <= 0 || bHi <= 0 || rowRatio <= 1.0) Double.NaN
          else math.log(bHi.toDouble / bLo) / math.log(rowRatio)
        println(f"[probe] q113_boilerplate_skew: ${bLo / 1048576.0}%.2f -> " +
          f"${bHi / 1048576.0}%.2f MiB, exponent $exp%.2f")
      } finally Seq(skLo, skHi).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }

    // q124 at the VIRAL-LINE regime: 30% of docs PREPEND one identical
    // 10-token passage, so segment 0 of every skewed doc is the same
    // line (prepending keeps it boundary-aligned; q113's APPEND twin
    // would fall across line boundaries and disperse). The claim: the
    // keeper's map-side partial min collapses the viral key per task
    // before the shuffle, so bytes track the corpus decade — a window-
    // over-hash formulation would sort the viral key in one task.
    if (probes.exists(_.startsWith("q124"))) {
      val passage = "all rights reserved redistribution permitted under " +
        "attribution license terms apply" // exactly 10 tokens
      def skewDir(src: String): String = {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft_vline_${new java.io.File(src).getName}_")
          .toString
        Tables.load(spark, src, "documents")
          .withColumn("text", when(col("doc_id") % 10 < 3,
            concat(lit(passage + " "), col("text"))).otherwise(col("text")))
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        out
      }
      val (skLo, skHi) = (skewDir(lo), skewDir(hi))
      try {
        val (_, bLo) =
          measure(noop(graft.SparkEntry.queries("q124_line_dedup")(spark, skLo)))
        val (_, bHi) =
          measure(noop(graft.SparkEntry.queries("q124_line_dedup")(spark, skHi)))
        val exp =
          if (bLo <= 0 || bHi <= 0 || rowRatio <= 1.0) Double.NaN
          else math.log(bHi.toDouble / bLo) / math.log(rowRatio)
        println(f"[probe] q124_viral_line_skew: ${bLo / 1048576.0}%.2f -> " +
          f"${bHi / 1048576.0}%.2f MiB, exponent $exp%.2f")
      } finally Seq(skLo, skHi).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }

    // q138 at the PATHOLOGICAL-CONTAMINATION regime: ONE train doc's
    // text grows a ~30k-word tail that is 30% test-set text, interleaved
    // so the collision spans stay DISJOINT (a 3-gram hit every 10 words
    // → ~3k merged intervals on one row). The r15 rebuild ran `exists`
    // over the RAW span list per word — O(words × spans), ~9e7 struct
    // compares on this one task — while the merged-interval gap walk is
    // O(words + spans log spans). Bytes should track the corpus decade
    // (the tail is a constant), and the wall-clock at each SF should
    // stay near the plain q138 run's.
    if (probes.exists(_.startsWith("q138"))) {
      def skewDir(src: String): String = {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft_decon_${new java.io.File(src).getName}_")
          .toString
        val docs = Tables.load(spark, src, "documents")
        val pct = graft.functions.TextOps.hashBucket(col("doc_id"))
        // a REAL test-split 3-gram: the skew must collide with the
        // query's own test set, not a synthetic stranger
        val testShingle = docs.withColumn("pct", pct)
          .filter(col("pct") >= 90).orderBy(col("doc_id"))
          .select(col("text")).head().getString(0)
          .split(" ").take(3).mkString(" ")
        // 3 hit words + 7 never-colliding fillers per unit: hits land
        // every 10 words, margin 2 keeps the spans disjoint (~3k of them)
        val unit = testShingle + " zq1 zq2 zq3 zq4 zq5 zq6 zq7"
        val blob = Seq.fill(3000)(unit).mkString(" ")
        val trainMin = docs.withColumn("pct", pct)
          .filter(col("pct") < 80).agg(min(col("doc_id"))).head().getLong(0)
        docs.withColumn("text",
            when(col("doc_id") === trainMin,
              concat(col("text"), lit(" " + blob))).otherwise(col("text")))
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        out
      }
      val (skLo, skHi) = (skewDir(lo), skewDir(hi))
      try {
        val (sLo, bLo) =
          measure(noop(graft.SparkEntry.queries("q138_decontam_scrub")(spark, skLo)))
        val (sHi, bHi) =
          measure(noop(graft.SparkEntry.queries("q138_decontam_scrub")(spark, skHi)))
        val exp =
          if (bLo <= 0 || bHi <= 0 || rowRatio <= 1.0) Double.NaN
          else math.log(bHi.toDouble / bLo) / math.log(rowRatio)
        println(f"[probe] q138_contamination_skew: ${bLo / 1048576.0}%.2f -> " +
          f"${bHi / 1048576.0}%.2f MiB ($sLo%.2f -> $sHi%.2f s), exponent $exp%.2f")
      } finally Seq(skLo, skHi).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }

    // MULTIMODAL near-dup at the DEGENERATE-HASH regime: 20% of rows
    // share ONE fingerprint (solid frames dHash to 0 — the common case
    // off text) and another ~9% sit at Hamming 1 from a neighbor (and
    // some from the viral hash itself, piling into its buckets through
    // 3 of 4 shared bands — the worst case). Claims measured on the
    // same Hamming-LSH machine both paths ride:
    //  - media_default: the wrapper with NO caller-side flag — since
    //    round 12 that IS the collapse path (identical hashes fold to
    //    min-id reps map-side; no viral collect_set buffer), so the
    //    no-flag 100 TB run gets the linear exponent;
    //  - media_exact: the explicit pair-complete opt-out (video
    //    frame-overlap's path) — star-capped, linear OUTPUT, but the
    //    viral group still collects into one buffer and a sub-cap
    //    identical group still expands quadratically.
    if (args.lift(2).forall(_.contains("media"))) {
      def mediaProbe(dir: String): Map[String, (Long, Long)] = {
        val n = Tables.load(spark, dir, "documents").count()
        val hashes = spark.range(n).select(col("id").as("media_id"),
          when(col("id") % 5 === 0, lit(0L))
            .when(col("id") % 11 === 3,
              xxhash64(col("id") - 1).bitwiseXOR(lit(1L)))
            .otherwise(xxhash64(col("id"))).as("dhash"))
        def run(label: String, pairs: => org.apache.spark.sql.DataFrame) = {
          var nPairs = 0L
          val (sec, bytes) = measure { nPairs = pairs.count() }
          println(f"[probe] $dir $label: $sec%.2f s, shuffle " +
            f"${bytes / 1048576.0}%.2f MiB, $nPairs pairs (n=$n, viral=${n / 5})")
          label -> (bytes, nPairs)
        }
        Seq(
          run("media_default", graft.multimodal.Multimodal
            .imageNearDupPairs(hashes, "media_id")),
          run("media_exact", graft.multimodal.Multimodal
            .imageNearDupPairs(hashes, "media_id", collapseIdentical = false))
        ).toMap
      }
      val mLo = mediaProbe(lo)
      val mHi = mediaProbe(hi)
      Seq("media_default", "media_exact").foreach { label =>
        val (bLo, pLo) = mLo(label); val (bHi, pHi) = mHi(label)
        def e(a: Long, b: Long) =
          if (a <= 0 || b <= 0 || rowRatio <= 1.0) Double.NaN
          else math.log(b.toDouble / a) / math.log(rowRatio)
        println(f"[probe] $label: bytes exponent ${e(bLo, bHi)}%.2f, " +
          f"pair exponent ${e(pLo, pHi)}%.2f ($pLo -> $pHi pairs)")
      }
    }
    spark.stop()
  }
}
