package graft

import graft.core.SchemaNormalizer
import graft.lake.{Lake, TableRef}
import graft.state.StateStore
import graft.transforms.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based coverage (SURVEY §5 strategy item 3): idempotence of
  * normalization, watermark monotonicity, partition write↔read
  * round-trips. Driver-side props run full ScalaCheck; Spark-backed props
  * sample a handful of generated datasets (a session per case would
  * dominate the suite). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("prop: AhoCorasick counts exactly the distinct patterns present") {
    // adversarial shapes on purpose: patterns drawn from a 3-symbol
    // alphabet are routinely substrings/prefixes/suffixes of each other
    // and of the text — the fail-link and output-closure cases where
    // hand-rolled automata break. Reference = naive per-pattern contains.
    val alpha = Gen.oneOf('a', 'b', ' ')
    val patGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val gen = for {
      pats <- Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, patGen))
      text <- Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    } yield (pats, text) // duplicates flow through ON PURPOSE — the
    // automaton's own dedup must keep the "distinct patterns" contract
    check(Prop.forAll(gen) { case (pats, text) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
      val expected = pats.distinct.count(text.contains(_))
      // BOTH representations against the naive reference: the default
      // budget freezes dense; budget 0 forces the sparse fail-chasing
      // path a 100k-entry blocklist would take
      val acDense = new graft.expressions.AhoCorasick(pats)
      val acSparse = new graft.expressions.AhoCorasick(pats,
        denseBudgetInts = 0L)
      acDense.isDense && !acSparse.isDense &&
        acDense.countDistinct(u) == expected &&
        acSparse.countDistinct(u) == expected
    })

    // memory at the crossover: past the budget the automaton freezes
    // sparse, and its table is a small fraction of the dense footprint
    // (raw trie edges ≈ nodes vs nodes×37 goto cells)
    val big = (0 until 2000).map { i =>
      val s = new StringBuilder
      var x = i * 2654435761L & 0xffffffffL
      (0 until 12).foreach { _ =>
        s.append(('a' + (x % 26)).toChar); x = (x * 48271) % 2147483647L
      }
      s.toString
    }
    val denseTwin = new graft.expressions.AhoCorasick(big)
    val forcedSparse = new graft.expressions.AhoCorasick(big,
      denseBudgetInts = denseTwin.tableInts - 1)
    assert(denseTwin.isDense && !forcedSparse.isDense)
    // ≥3× headroom (the asymptotic ratio is ~6× at 0.5 load — 3 cells
    // per edge vs 37 per node — but the power-of-two capacity jump can
    // land just under 4× at an unlucky edge count, as here: 20k nodes
    // → cap 65536)
    assert(forcedSparse.tableInts * 3 < denseTwin.tableInts,
      s"sparse ${forcedSparse.tableInts} ints should be well under dense " +
        s"${denseTwin.tableInts}")
    // and they agree on a text stitched from the patterns themselves
    val probe = org.apache.spark.unsafe.types.UTF8String.fromString(
      big.take(50).mkString(" ") + " zzz " + big.last)
    assert(denseTwin.countDistinct(probe) === forcedSparse.countDistinct(probe))
    assert(denseTwin.countDistinct(probe) === 51)
  }

  test("prop: GopherStats counters == naive string-ops reference") {
    // adversarial shapes: words/lines built from a tiny alphabet with
    // bullets, dots, hashes and stopwords so every counter exercises
    // its edges (dot runs spanning words can't exist; runs inside and
    // as whole words both occur; empty lines; leading/trailing spaces)
    // "héé" (2-byte chars) and "x😀" (4-byte astral char) pin the
    // character-=-non-continuation-bytes claim: a UTF-16 .length
    // reference would over-count both (review-found: the ASCII-only
    // generator left the multibyte branch untested)
    val word = Gen.oneOf("the", "be", "to", "ab", "x1", "22", "...",
      "a..b", "....", "#tag", "*", "-", "it...", "héé", "x😀")
    val lineGen = for {
      n <- Gen.choose(0, 6)
      ws <- Gen.listOfN(n, word)
      lead <- Gen.choose(0, 2)
      trail <- Gen.choose(0, 2)
    } yield (" " * lead) + ws.mkString(" ") + (" " * trail)
    val textGen = Gen.choose(1, 5).flatMap(k =>
      Gen.listOfN(k, lineGen).map(_.mkString("\n")))
    def naive(t: String): Seq[Long] = {
      val words = t.split("[ \n]").toSeq.filter(_.nonEmpty)
      val lines = t.split("\n", -1).toSeq
      def dotRuns(s: String): Long = {
        var runs = 0L; var run = 0
        (s + "\u0000").foreach { c =>
          if (c == '.') run += 1 else { runs += run / 3; run = 0 }
        }
        runs
      }
      Seq(
        words.size.toLong,
        // CODE POINTS, not UTF-16 units: the kernel counts characters
        // as non-continuation bytes, which is code points
        words.map(w => w.codePointCount(0, w.length).toLong).sum,
        words.count(_.exists(c => (c >= 'a' && c <= 'z') ||
          (c >= 'A' && c <= 'Z'))).toLong,
        lines.size.toLong,
        lines.count { l =>
          val s = l.dropWhile(_ == ' ')
          s.startsWith("-") || s.startsWith("*")
        }.toLong,
        lines.count(_.reverse.dropWhile(_ == ' ').startsWith("...")).toLong,
        t.count(_ == '#').toLong,
        dotRuns(t),
        graft.expressions.GopherStats.Stops.count(words.contains(_)).toLong)
    }
    check(Prop.forAll(textGen) { t =>
      val row = graft.expressions.GopherStats.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      (0 until 9).map(row.getLong) == naive(t)
    })
  }

  test("prop: CodeStats counters == naive string-ops reference") {
    // code-shaped shapes: long/short/empty lines, punctuation-only
    // lines, the XML declaration at varying offsets (before/after the
    // 100-char boundary), and multibyte chars ("héé", "x😀") pinning
    // the code-point counting against a UTF-16 .length reference
    val piece = Gen.oneOf("int x = 1;", "{}", "-= -= -=", "", " ",
      "<?xml version=", "<?xml versio", "héé", "x😀", "a" * 120)
    val lineGen = Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, piece).map(_.mkString(" ")))
    val textGen = Gen.choose(1, 6).flatMap(k =>
      Gen.listOfN(k, lineGen).map(_.mkString("\n")))
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    def naive(t: String): Seq[Long] = {
      val lines = t.split("\n", -1).toSeq
      // first occurrence of the declaration, measured in CODE POINTS
      // from the text head (the kernel's nChars-at-match-start)
      val at = t.indexOf("<?xml version=")
      Seq(
        cp(t),
        lines.size.toLong,
        lines.map(cp).sum,
        lines.map(cp).max,
        t.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9')).toLong,
        if (at >= 0 && t.codePointCount(0, at) < 100) 1L else 0L)
    }
    check(Prop.forAll(textGen) { t =>
      val row = graft.expressions.CodeStats.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      (0 until 6).map(row.getLong) == naive(t)
    })
  }

  test("prop: normalizeName is idempotent and produces valid identifiers") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = SchemaNormalizer.normalizeName(s)
      SchemaNormalizer.normalizeName(once) == once &&
        once.matches("^[a-z0-9_]*$")
    })
  }

  test("prop: normalizeName strips accents like its value twin") {
    val accented = Gen.listOf(Gen.oneOf(
      'á', 'é', 'ç', 'ã', 'õ', 'ü', 'a', 'b', ' ', '1')).map(_.mkString)
    check(Prop.forAll(accented) { s =>
      !SchemaNormalizer.normalizeName(s).exists(_ > 127)
    })
  }

  test("prop: SortedPairs == the HOF pair-expansion encoding") {
    import graft.expressions.SortedPairs.sorted_pairs
    val ids = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 50L)))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll(Gen.listOfN(12, ids)) { lists =>
      val df = lists.zipWithIndex
        .map { case (l, i) => (i, l.distinct.sorted) }.toDF("g", "ids")
      val native = df.select($"g", explode(sorted_pairs($"ids")).as("p"))
        .select($"g", $"p.id_a", $"p.id_b")
      val hof = df.select($"g", explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> " +
          "struct(x AS id_a, y AS id_b))))")).as("p"))
        .select($"g", $"p.id_a", $"p.id_b")
      native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty
    })
    assert(r.passed, r.status.toString)
  }

  test("connected components: chains, triangles and isolated nodes (dedup clusters)") {
    import graft.functions.DedupOps
    // component A: chain 1-2-3-4 (diameter 3, exercises pointer jumping)
    // component B: triangle 10-11-12 plus pendant 13
    // component C: single edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
    assert(comps.size === 10) // only nodes that appear in pairs

    // a long chain converges too (50 nodes, diameter 49 ≫ log rounds)
    val chain = (0L until 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComps = DedupOps.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(chainComps.length === 50 && chainComps.forall(_._2 == 0L))
  }

  test("star-capped LSH buckets: linear pair count, same dedup survivors") {
    import graft.functions.DedupOps
    // 60 identical docs (one viral bucket) + 5 distinct docs
    val docs = ((0 until 60).map(i =>
        (i.toLong, "the same viral boilerplate page text repeated everywhere")) ++
      (100 until 105).map(i =>
        (i.toLong, s"unique document number $i with its own words $i")))
      .toDF("doc_id", "text")
    val full = DedupOps.lshCandidatePairs(docs, "doc_id", "text")
    val capped = DedupOps.lshCandidatePairs(docs, "doc_id", "text",
      starBucketThreshold = 10)
    // quadratic: C(60,2) = 1770 pairs; star: 59 (min id 0 × each other)
    assert(full.count() === 1770)
    assert(capped.count() === 59)
    assert(capped.filter($"id_a" =!= 0L).count() === 0)
    // the keep-min survivor set is IDENTICAL either way
    def survivors(pairs: org.apache.spark.sql.DataFrame) =
      DedupOps.dropNearDuplicates(docs, "doc_id",
          DedupOps.jaccardForPairs(docs, "doc_id", "text", pairs), 0.8)
        .select($"doc_id").as[Long].collect().toSet
    assert(survivors(capped) === survivors(full))
    assert(survivors(capped) === (Set(0L) ++ (100L until 105L).toSet))

    // the sig-carrying pair path (one corpus scan, no sig join-back)
    // finds the IDENTICAL pair set, its carried lanes byte-match the
    // signature frame, and the star cap composes the same way
    val sig = DedupOps.minhashSignature(docs, "doc_id", "text")
    val withSig = DedupOps.lshCandidatePairsWithSig(sig, "doc_id")
    assert(withSig.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      === full.as[(Long, Long)].collect().toSet)
    val sigMap = sig.collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    withSig.collect().foreach { r =>
      assert((2 until 10).map(r.getLong) === sigMap(r.getLong(0)), "a lanes")
      assert((10 until 18).map(r.getLong) === sigMap(r.getLong(1)), "b lanes")
    }
    assert(DedupOps.lshCandidatePairsWithSig(sig, "doc_id",
      starBucketThreshold = 10).count() === 59)
  }

  test("prop: pair-keyed verify == per-(pair, token) reference, bit for bit") {
    import graft.functions.{DedupOps, NearDupReference}
    // repeated ids (a side's set is the union over its rows), null and
    // empty text, empty words (double spaces), repeated words and
    // multi-byte UTF-8; pairs are the LSH candidates plus random pairs,
    // some naming ids no row has
    val word = Gen.oneOf("a", "bb", "a", "", "café", "ação", "zz")
    val text = Gen.frequency(
      1 -> Gen.const(Option.empty[String]), 1 -> Gen.const(Some("")),
      6 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, word).map(w => Some(w.mkString(" ")))))
    val gen = for {
      rows <- Gen.listOfN(16, Gen.zip(Gen.choose(0L, 11L), text))
      extra <- Gen.listOfN(6, Gen.zip(Gen.choose(0L, 13L), Gen.choose(0L, 13L)))
    } yield (rows, extra.collect { case (a, b) if a < b => (a, b) })
    def bits(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(gen) { case (rows, extra) =>
        // one fixed overlapping pair keeps every sample non-trivial
        val docs = (rows ++ Seq(20L -> Some("a bb a café"), 21L -> Some("a bb ação")))
          .toDF("doc_id", "text")
        val pairs = DedupOps.lshCandidatePairs(docs, "doc_id", "text")
          .unionByName((extra :+ (20L -> 21L)).toDF("id_a", "id_b"))
        val jac = bits(DedupOps.jaccardForPairs(docs, "doc_id", "text", pairs))
        val con = bits(DedupOps.containmentForPairs(docs, "doc_id", "text", pairs))
        jac.nonEmpty &&
          jac == bits(NearDupReference.jaccardForPairs(docs, "doc_id", "text", pairs)) &&
          con == bits(NearDupReference.containmentForPairs(docs, "doc_id", "text", pairs))
      })
    assert(r.passed, r.status.toString)
  }

  test("prop: bloom semi-join == exact semi-join; prefilter sits scan-side") {
    import graft.functions.BloomOps
    val keyGen = for {
      n <- Gen.choose(1, 200)
      ks <- Gen.listOfN(n, Gen.choose(0L, 300L))
      m <- Gen.choose(0, 30)
      ss <- Gen.listOfN(m, Gen.choose(0L, 300L))
    } yield (ks, ss)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(keyGen) { case (ks, ss) =>
        val big = ks.zipWithIndex.map { case (k, i) => (i.toLong, k) }
          .toDF("row_id", "k")
        val small = ss.toDF("k")
        // default = auto-sizing from the observed small-side cardinality
        // (incl. the empty small side, where the count short-circuits)
        val viaBloom = BloomOps.bloomSemiJoin(big, "k", small, "k",
          fpp = 0.05).as[(Long, Long)].collect().toSet
        val exact = big.join(small.distinct(), Seq("k"), "left_semi")
          .as[(Long, Long)].collect().toSet
        viaBloom == exact // incl. empty small side → empty result
      })
    assert(r.passed, r.status.toString)
    // oversizing beyond Spark's silent bloom caps refuses loudly instead
    // of building a saturated filter that passes everything
    intercept[IllegalArgumentException] {
      BloomOps.bloomSemiJoin(spark.range(2).toDF("k"), "k",
        spark.range(2).toDF("k"), "k", expectedItems = Some(500000000L))
    }
    // the might_contain predicate is a FILTER above the big-side scan,
    // upstream of the join — the corpus is cut before any exchange
    val big = spark.range(1000).select($"id".as("row_id"), ($"id" % 97).as("k"))
    val small = Seq(3L, 5L).toDF("k")
    val plan = graft.functions.BloomOps.bloomSemiJoin(big, "k", small, "k", Some(64L), 0.05)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("prop: UTM forward∘inverse round-trips across zone 23S") {
    import graft.expressions.UtmToWgs84
    val ptGen = for {
      lon <- Gen.choose(-48.0, -42.0) // zone 23 span ± a zone-edge excursion
      lat <- Gen.choose(-33.0, -14.0)
    } yield (lon, lat)
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50),
      Prop.forAll(ptGen) { case (lon, lat) =>
        val (e, n) = UtmToWgs84.forward(lon, lat)
        val inv = UtmToWgs84.invert(e, n,
          UtmToWgs84.Grs80A, UtmToWgs84.Grs80InvF, UtmToWgs84.UtmK0,
          UtmToWgs84.UtmFalseEasting, UtmToWgs84.UtmFalseNorthingSouth, -45.0)
        math.abs(inv(0) - lon) < 1e-6 && math.abs(inv(1) - lat) < 1e-6
      })
    assert(r.passed, r.status.toString)
  }

  test("reliable-checkpoint knob: identical clusters, files land in the dir") {
    import graft.functions.DedupOps
    // same graph through reliable (shared-storage) checkpoints — the
    // executor-loss-tolerant 1000-executor posture — must be a pure
    // performance/durability knob, never a semantic one
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val dir = tmpDir("ckpt")
    val reliable = DedupOps.connectedComponents(pairs,
        reliableCheckpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    val default = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(reliable === default)
    // checkpoints actually went to shared storage, not executor blocks
    def rddDirs(f: java.io.File): Int =
      (if (f.getName.startsWith("rdd-")) 1 else 0) +
        Option(f.listFiles()).toSeq.flatten.map(rddDirs).sum
    assert(rddDirs(new java.io.File(dir)) > 0)

    // the documented run-scoped lifecycle: a SECOND run with a fresh dir
    // re-points the (module-owned) global and still works
    val dir2 = tmpDir("ckpt2")
    val second = DedupOps.connectedComponents(pairs,
      reliableCheckpointDir = Some(dir2)).as[(Long, Long)].collect().toMap
    assert(second === default)
    assert(rddDirs(new java.io.File(dir2)) > 0)

    // but a dir the CALLER set is never silently hijacked: checkpoints
    // landing in a run-scoped dir would be deleted with it
    val callerDir = tmpDir("caller_ckpt")
    spark.sparkContext.setCheckpointDir(callerDir)
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(pairs,
        reliableCheckpointDir = Some(tmpDir("ckpt3"))).collect()
    }
    assert(e.getMessage.contains("refusing"))
    // restore a module-owned dir so later suites aren't poisoned
    spark.sparkContext.setCheckpointDir(dir2)
  }

  test("prop: prediction smoothing == driver reference fold on random histories") {
    import graft.multimodal.PredictionBuffer
    // driver-side reference: the Python semantics verbatim — pad-left
    // seeded buffer, append non-null labels, majority of n
    def reference(labels: Seq[Option[Boolean]], n: Int): Seq[Option[Boolean]] = {
      var buf = Seq.fill(n)(false)
      labels.map {
        case Some(l) => buf = (buf :+ l).takeRight(n); Some(buf.count(identity) * 2 > n)
        case None => None
      }
    }
    val rnd = new scala.util.Random(20240813)
    (1 to 5).foreach { _ =>
      val n = 1 + rnd.nextInt(4) // buffer lengths 1..4 (even n ties → false)
      val history = for {
        ent <- Seq("a", "b", "c")
        ts <- 1L to (4 + rnd.nextInt(6))
      } yield (ent, ts, rnd.nextInt(4) match {
        case 0 => None
        case k => Some(k % 2 == 0)
      })
      val expected = history.groupBy(_._1).flatMap { case (ent, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._2).zip(reference(sorted.map(_._3), n))
          .map { case (ts, sm) => (ent, ts, sm) }
      }.toSet
      // window form
      val windowed = PredictionBuffer.smoothWindow(
          history.toDF("cam", "ts", "label"), "cam", "ts", "label", n = n)
        .select($"cam", $"ts", $"label_smoothed")
        .as[(String, Long, Option[Boolean])].collect().toSet
      assert(windowed === expected, s"window form diverged at n=$n")
      // tick-fold form (one tick per distinct ts)
      val empty = Seq.empty[(String, Seq[Boolean])].toDF("entity", "buffer")
      val folded = history.groupBy(_._2).toSeq.sortBy(_._1)
        .foldLeft((empty, Set.empty[(String, Long, Option[Boolean])])) {
          case ((st, acc), (ts, rows)) =>
            val (next, served) = PredictionBuffer.advance(
              st, rows.toDF("cam", "ts", "label"), "cam", "ts", "label", n = n)
            val mat = next.cache(); mat.count()
            (mat, acc ++ served.as[(String, Option[Boolean], Option[Boolean])]
              .collect().map(r => (r._1, ts, r._3)))
        }._2
      assert(folded === expected, s"tick fold diverged at n=$n")
    }
  }

  test("prop: lineDedup == driver keep-first reference on random corpora") {
    import graft.functions.TextOps
    // driver-side reference: segment into ceil(n/k) disjoint k-token
    // chunks (last truncated, empty text = one empty chunk), keep each
    // distinct chunk's first (doc, idx) occurrence, rejoin with spaces
    def reference(docs: Seq[(Long, String)], k: Int): Map[Long, (String, Long, Long)] = {
      def chunks(t: String): Seq[String] = {
        val w = t.split(" ", -1).toSeq
        val n = math.max(1, (w.length + k - 1) / k)
        (0 until n).map(i => w.slice(i * k, i * k + k).mkString(" "))
      }
      val firstOwner = collection.mutable.Map[String, (Long, Int)]()
      docs.sortBy(_._1).foreach { case (id, t) =>
        chunks(t).zipWithIndex.foreach { case (c, i) =>
          if (!firstOwner.contains(c)) firstOwner(c) = (id, i)
        }
      }
      docs.map { case (id, t) =>
        val cs = chunks(t)
        val kept = cs.zipWithIndex.filter { case (c, i) => firstOwner(c) == ((id, i)) }
        (id, (kept.map(_._1).mkString(" "), cs.length.toLong, kept.length.toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(20260814)
    (1 to 4).foreach { round =>
      val k = 2 + rnd.nextInt(3) // line lengths 2..4 tokens
      // small token alphabet forces heavy cross-doc and intra-doc
      // repetition — the regime where keep-first ordering must be exact
      val docs = (0L until (8 + rnd.nextInt(8))).map { id =>
        val nTok = rnd.nextInt(12) // 0 => empty text
        (id, (0 until nTok).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }
      val got = TextOps.lineDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", lineTokens = k)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === reference(docs, k), s"diverged at k=$k round=$round")
    }
  }

  test("prop: RepetitionStats == naive collections reference") {
    // independent reference: Scala collections end to end — grouping
    // for duplicates, maps for gram counts, sets for coverage — vs the
    // kernel's single-pass hash walk. Tiny alphabet + injected
    // newlines/blank lines force every rule family to fire.
    def naive(text: String): Seq[Double] = {
      def dupFracs(units: Seq[String]): (Double, Double) = {
        if (units.isEmpty) return (0.0, 0.0)
        val extra = units.groupBy(identity).values.map(g => g.size - 1)
        val extraChars = units.groupBy(identity).values
          .map(g => (g.size - 1).toLong * g.head.length)
        val total = units.map(_.length.toLong).sum
        (extra.sum.toDouble / units.size,
          if (total == 0) 0.0 else extraChars.sum.toDouble / total)
      }
      val (lf, lcf) = dupFracs(text.split("\n", -1).toSeq)
      val (pf, pcf) = dupFracs(text.split("\n\n", -1).toSeq)
      val words = text.split("[ \n]+", -1).toSeq.filter(_.nonEmpty)
      val twc = words.map(_.length.toLong).sum
      def grams(n: Int): Seq[Seq[String]] =
        if (words.size < n) Nil else words.sliding(n).toSeq
      def top(n: Int): Double =
        if (twc == 0 || words.size < n) 0.0
        else {
          val byGram = grams(n).groupBy(identity)
          val (g, occ) = byGram.toSeq
            .minBy { case (g, o) => (-o.size, g.mkString(" ")) }
          occ.size.toDouble * g.map(_.length).sum / twc
        }
      def dup(n: Int): Double =
        if (twc == 0 || words.size < n) 0.0
        else {
          val counts = grams(n).groupBy(identity).view.mapValues(_.size).toMap
          val covered = grams(n).zipWithIndex.collect {
            case (g, j) if counts(g) >= 2 => j until (j + n)
          }.flatten.toSet
          covered.toSeq.map(i => words(i).length.toLong).sum.toDouble / twc
        }
      Seq(lf, lcf, pf, pcf, top(2), top(3), top(4),
        dup(5), dup(6), dup(7), dup(8), dup(9), dup(10))
    }
    val rnd = new scala.util.Random(20260817)
    val toks = Seq("aa", "bb", "cc", "ddd", "the")
    (1 to 120).foreach { round =>
      // words, spaces, newlines, occasional blank lines (paragraphs)
      val n = rnd.nextInt(40)
      val text = (0 until n).map { _ =>
        val t = toks(rnd.nextInt(toks.length))
        rnd.nextInt(8) match {
          case 0 => t + "\n"
          case 1 => t + "\n\n"
          case _ => t + " "
        }
      }.mkString.stripSuffix(" ")
      val row = graft.expressions.RepetitionStats
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      val got = (0 until 13).map(row.getDouble)
      val want = naive(text)
      assert(got === want, s"round=$round text='${text.replace("\n", "|")}'")
    }
  }

  test("prop: decontamScrub == naive covered-index reference on random corpora") {
    import graft.functions.TextOps
    // driver-side reference: every word index covered by a colliding
    // n-gram +/- margin is removed; the merged-interval gap rebuild must
    // agree exactly (same words kept, same count) on any input
    def reference(docs: Seq[(Long, String)], testSh: Set[String], n: Int,
                  margin: Int): Map[Long, (Long, String)] =
      docs.map { case (id, t) =>
        val w = t.split(" ", -1)
        val hits = (0 to w.length - n).filter(j =>
          testSh.contains(w.slice(j, j + n).mkString(" ")))
        val covered = hits.flatMap(j =>
          math.max(j - margin, 0) to (j + n - 1 + margin)).toSet
        val kept = w.zipWithIndex.collect { case (x, i) if !covered(i) => x }
        (id, ((w.length - kept.length).toLong, kept.mkString(" ")))
      }.toMap
    val rnd = new scala.util.Random(20260815)
    (1 to 4).foreach { round =>
      val n = 1 + rnd.nextInt(3) // shingle width 1..3
      val margin = rnd.nextInt(3) // 0..2
      // tiny token alphabet: shingles repeat within and across docs, so
      // spans overlap, nest and chain - the interval-merge cases
      val docs = (0L until (8 + rnd.nextInt(8))).map { id =>
        val nTok = rnd.nextInt(30) // 0 => empty text
        (id, (0 until nTok).map(_ => s"t${rnd.nextInt(5)}").mkString(" "))
      }
      val allSh = docs.flatMap { case (_, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - n).map(j => w.slice(j, j + n).mkString(" "))
      }.distinct
      // a few real shingles (dense collisions) plus a stranger (never hits)
      val testSh = (rnd.shuffle(allSh).take(4) :+ "zz yy xx").toSet
      val got = TextOps.decontamScrub(docs.toDF("doc_id", "text"),
          "doc_id", "text", testSh.toSeq.toDF("sh"), n = n, margin = margin)
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === reference(docs, testSh, n, margin),
        s"diverged at n=$n margin=$margin round=$round")
      // the fused zero-shuffle kernel (plan-reference test set) must be
      // VALUE-IDENTICAL to the distributed join path on the same input
      val kernel = TextOps.decontamScrubBroadcast(docs.toDF("doc_id", "text"),
          "doc_id", "text", testSh, n = n, margin = margin)
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(kernel === got,
        s"kernel != join path at n=$n margin=$margin round=$round")
    }
  }

  test("prop: connected components == driver union-find on random graphs") {
    import graft.functions.DedupOps
    // ground truth: path-compressing union-find over the same edges
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = for {
      n <- Gen.choose(1, 40)
      es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
    } yield es.filter { case (a, b) => a != b }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12),
      Prop.forAll(edgeGen) { es =>
        es.isEmpty || {
          val pairs = es.toDF("id_a", "id_b")
          val spark_ = DedupOps.connectedComponents(pairs)
            .as[(Long, Long)].collect().toMap
          spark_ == unionFind(es)
        }
      })
    assert(r.passed, r.status.toString)
  }

  test("prop: native Shingles expression == window-lead shingle encoding") {
    import graft.functions.{DedupOps, NearDupReference}
    // texts over a tiny alphabet with repeated words, empty words
    // (consecutive spaces), multi-byte UTF-8 and sub-shingle lengths
    val word = Gen.oneOf("a", "bb", "ccc", "a", "", "café", "ação")
    val text = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    // each sample runs two Spark jobs — 15 diverse corpora is plenty
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll(Gen.listOfN(20, text)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = DedupOps.explodedShingles(df, "doc_id", "text", 3)
        .groupBy($"doc_id", $"shingle").count()
      val windowed = NearDupReference.shinglesFromWords(
          NearDupReference.explodedWords(df, "doc_id", "text"), "doc_id", 3)
        .groupBy($"doc_id", $"shingle").count()
      // same multiset of (doc, shingle) occurrences, not just same set
      native.unionByName(windowed).groupBy($"doc_id", $"shingle")
        .agg(countDistinct($"count").as("variants"), count(lit(1)).as("sides"))
        .filter($"variants" =!= 1 || $"sides" =!= 2)
        .isEmpty
    })
    assert(r.passed, r.status.toString)
  }

  test("prop: TextStats one-pass counters == the regex formulation") {
    import graft.functions.TextOps
    // stopword-heavy, adjacency-heavy, unicode-bearing corpora — the
    // cases where the one-pass scan could diverge from java.util.regex
    // (adjacent "a a" counting once, multi-space empty tokens, non-ASCII
    // chars counting one non-alnum each)
    val word = Gen.oneOf("the", "a", "of", "and", "a", "", "café",
      "ação", "x1", "..", "aa", "théy")
    val text = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll(Gen.listOfN(25, text)) { texts =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val st = TextOps.textStats($"text")
        df.select(
            st.getField("n_char").as("a1"),
            TextOps.nChars($"text").as("b1"),
            st.getField("n_tok").as("a2"),
            TextOps.nTokens($"text").as("b2"),
            st.getField("stop_hits").as("a3"),
            Seq("the", "a", "of", "and")
              .map(TextOps.tokenOccurrences($"text", _))
              .reduce(_ + _).as("b3"),
            st.getField("non_alnum").as("a4"),
            (length($"text") -
              length(regexp_replace($"text", "[^a-zA-Z0-9 ]", "")))
              .cast("long").as("b4"))
          .filter($"a1" =!= $"b1" || $"a2" =!= $"b2" ||
            $"a3" =!= $"b3" || $"a4" =!= $"b4")
          .isEmpty
      })
    assert(r.passed, r.status.toString)
  }

  test("prop: bandKeysPerRow == batch lshBands(minhashSignature) keys") {
    import graft.functions.DedupOps
    val word = Gen.oneOf("alpha", "bb", "ccc", "dd", "café", "xyz", "alpha")
    val text = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(Gen.listOfN(15, text)) { texts =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        // per-row path, exploded to (doc, band_idx, band_key)
        val perRow = df.select($"doc_id",
            posexplode(DedupOps.bandKeysPerRow($"text")).as(Seq("band_idx", "band_key")))
        // batch path (groupBy signature → banding)
        val batch = DedupOps.lshBands(
          DedupOps.minhashSignature(df, "doc_id", "text"), "doc_id")
        perRow.exceptAll(batch.select($"doc_id", $"band_idx", $"band_key")).isEmpty &&
          batch.select($"doc_id", $"band_idx", $"band_key").exceptAll(perRow).isEmpty
      })
    assert(r.passed, r.status.toString)
  }

  test("prop: keepFirstOrdered emits exactly the per-key ordering minimum") {
    val rows = Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 9), Gen.choose(0, 1000), Gen.alphaStr.map(_.take(4))))
    (1 to 4).foreach { i =>
      val data = rows.apply(Gen.Parameters.default.withSize(100),
        org.scalacheck.rng.Seed(i.toLong)).getOrElse(Nil)
      val df = data.toDF("k", "ord", "v")
      val got = Dedup.keepFirstOrdered(df, Seq($"k"), Seq($"ord", $"v"))
        .select($"k", $"ord", $"v").as[(Int, Int, String)].collect().toSet
      val want = data.groupBy(_._1).map { case (_, g) =>
        g.minBy(t => (t._2, t._3)) }.toSet
      assert(got === want)
    }
  }

  test("prop: partitioned write ↔ read round-trips the multiset") {
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.choose(1L, 999L), Gen.oneOf("2024-01-01", "2024-01-02", "2024-01-03")))
    (1 to 3).foreach { seed =>
      val data = gen(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong)).get
      val lake = new Lake(spark, tmpDir("prop_lake"))
      val ref = TableRef("staging", "prop", s"t$seed")
      lake.append(data.toDF("id", "data"), ref, partitionBy = Seq("data"))
      val back = lake.read(ref).select($"id", $"data".cast("string"))
        .as[(Long, String)].collect()
      assert(back.sorted.toSeq === data.sorted)
    }
  }

  test("prop: entity watermarks are monotone under any batch order") {
    val st = new StateStore(spark, tmpDir("prop_state"))
    val batches = (1 to 3).map { seed =>
      Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 10000)))
        .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong)).get
        .map { case (e, s) =>
          (e, new java.sql.Timestamp(1704067200000L + s * 1000L)) }
    }
    var seen = Map.empty[String, Long]
    batches.foreach { b =>
      st.advanceEntityWatermarks("m", b.toDF("entity", "ts"), "entity", "ts")
      val wm = st.entityWatermarks("m").as[(String, java.sql.Timestamp)]
        .collect().toMap.map { case (k, v) => k -> v.getTime }
      // never regresses, always ≥ the max seen so far per entity
      wm.foreach { case (k, v) => assert(v >= seen.getOrElse(k, 0L)) }
      val expected = b.groupBy(_._1).map { case (k, g) =>
        k -> g.map(_._2.getTime).max }
      expected.foreach { case (k, v) => assert(wm(k) >= v) }
      seen = wm
    }
  }

  test("hashFrac: uniform deciles and exact determinism (mixture primitive)") {
    import spark.implicits._
    // the q101/q107 mixture guarantee rests on the acceptance draw
    // being uniform: over 10k sequential ids every decile should hold
    // ~10%, and the same id must always draw the same fraction
    def draw() = spark.range(10000)
      .select(graft.functions.TextOps.hashFrac(col("id"), "mix").as("f"))
      .as[Double].collect()
    val fracs = draw()
    assert(fracs.forall(f => f >= 0.0 && f < 1.0))
    val byDecile = fracs.groupBy(f => (f * 10).toInt)
    (0 until 10).foreach { d =>
      val n = byDecile.get(d).map(_.length).getOrElse(0)
      assert(n > 800 && n < 1200, s"decile $d holds $n of 10000")
    }
    assert(fracs.toSeq === draw().toSeq)
  }

  test("prop: AVI parser never throws or over-allocates on hostile bytes") {
    import graft.multimodal.AviMjpeg
    // pure garbage: any byte soup must yield None/Some cleanly, and the
    // salvaged frame bytes can never exceed the input (no hostile-size
    // allocation), because every size is validated against bytes present
    val soup = Gen.chooseNum(0, 2048).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    check(Prop.forAll(soup) { bytes =>
      AviMjpeg.parse(bytes) match {
        case None => true
        case Some((_, fs)) => fs.map(_.length.toLong).sum <= bytes.length
      }
    })
    // structured fuzz: a VALID clip with random byte flips — the torn /
    // corrupt branches must stay total (no exception), and whatever
    // frames survive must still fit in the container
    val valid = aviBytes(Seq(60, 180).map(jpegGray(4, _)), 4, 4)
    val flips = for {
      n <- Gen.chooseNum(1, 8)
      ps <- Gen.listOfN(n, Gen.chooseNum(0, valid.length - 1))
      vs <- Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield ps.zip(vs)
    check(Prop.forAll(flips) { muts =>
      val b = valid.clone()
      muts.foreach { case (i, v) => b(i) = v }
      AviMjpeg.parse(b) match {
        case None => true
        case Some((_, fs)) => fs.map(_.length.toLong).sum <= b.length
      }
    })
  }

  test("prop: centroid kernel == retired expression shapes on random inputs") {
    import graft.expressions.NearestCentroid
    import graft.functions.VectorOps
    // randomized parity of the fused CentroidKernel against the
    // RETIRED typedLit+transform shapes it replaced — zero shared
    // code, and the generator forces the edge geometry: duplicate
    // centroids (tie-break), an all-zero centroid and all-zero query
    // vectors (NaN cosine ordering), and vectors SHORTER than dim
    // (the min(len, dim) contract), over both double and float
    // element types.
    val dim = 6
    val coord = Gen.frequency(4 -> Gen.choose(-50, 50).map(_ / 10.0),
      1 -> Gen.const(0.0))
    val vecGen = Gen.choose(dim - 2, dim)
      .flatMap(n => Gen.listOfN(n, coord))
    val centsGen = for {
      k <- Gen.choose(2, 9)
      base <- Gen.listOfN(k, Gen.listOfN(dim, coord))
      dup <- Gen.choose(0, k - 1)
    } yield (base :+ base(dup) :+ List.fill(dim)(0.0)).map(_.toArray)
    // the retired AnnIndex cosine-probe shape, reconstructed inline
    def hofTopCos(cents: Seq[Array[Double]], vec: org.apache.spark.sql.Column,
                  nprobe: Int) = {
      val vd = graft.expressions.VecDot.vec_dot _
      val qn2 = vd(vec, vec)
      val cArr = typedLit(cents.map(_.toSeq))
      val n2Arr = typedLit(cents.map(c => c.map(x => x * x).sum))
      slice(sort_array(transform(cArr, (cv, i) => struct(
        (-round(vd(vec, cv) /
          sqrt(element_at(n2Arr, i + lit(1)) * qn2), 4)).as("neg"),
        i.as("cluster")))), 1, nprobe).getField("cluster")
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(centsGen, Gen.listOfN(20, vecGen)) { (cents, rows) =>
        // distance legs: zero vectors/centroids INCLUDED (no division)
        def distMismatches(df: org.apache.spark.sql.DataFrame): Long =
          df.select(
              NearestCentroid.nearest_centroid($"vec", cents).as("s"),
              array_min(VectorOps.scoredArr(cents, $"vec",
                forceArrayPath = true)).getField("c").as("so"),
              NearestCentroid.nearest_centroids($"vec", cents, 3).as("m"),
              slice(sort_array(VectorOps.scoredArr(cents, $"vec",
                forceArrayPath = true)), 1, 3).getField("c").as("mo"))
            .filter($"s" =!= $"so" || $"m" =!= $"mo")
            .count()
        // cosine leg: the RETIRED oracle divides in SQL and throws
        // under ANSI on a zero norm (the kernel's 0/0 is a NaN ranked
        // last — the documented deliberate divergence, asserted
        // deterministically below), so this leg compares on nonzero
        // norms only: drop the appended zero centroid, filter zero
        // query vectors
        val centsNZ = cents.filter(_.exists(_ != 0.0))
        def cosMismatches(df: org.apache.spark.sql.DataFrame): Long =
          df.filter(graft.expressions.VecDot.vec_dot($"vec", $"vec") > 0)
            .select(
              NearestCentroid.top_cosine_centroids($"vec", centsNZ, 3).as("t"),
              hofTopCos(centsNZ, $"vec", 3).as("to"))
            .filter($"t" =!= $"to")
            .count()
        val dd = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "vec")
        val df = rows.zipWithIndex
          .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
          .toDF("id", "vec")
        distMismatches(dd) == 0 && distMismatches(df) == 0 &&
          cosMismatches(dd) == 0 && cosMismatches(df) == 0
      })
    assert(r.passed, r.status.toString)

    // the deliberate zero-norm divergence, pinned: a zero-norm QUERY
    // scores every centroid NaN → probe order degrades to cluster-id
    // order; a zero-norm CENTROID ranks strictly last
    val e1 = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val e2 = Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    val z = Array.fill(6)(0.0)
    val one = Seq((1L, z)).toDF("id", "vec")
    assert(one.select(NearestCentroid
        .top_cosine_centroids($"vec", Seq(e1, e2, z), 3))
      .head().getSeq[Int](0) === Seq(0, 1, 2))
    val q = Seq((1L, e1)).toDF("id", "vec")
    assert(q.select(NearestCentroid
        .top_cosine_centroids($"vec", Seq(z, e1, e2), 3))
      .head().getSeq[Int](0) === Seq(1, 2, 0), "zero centroid must rank last")
  }

  test("prop: AudioHash64's Goertzel energies == direct DFT sums") {
    import graft.expressions.AudioHash64
    // the Goertzel recurrence is the clever form; the spec checks it
    // against the DEFINITION — |Σ x(i)·e^{-jωi}|² summed directly per
    // (window, band) — on random signals, random lengths (including
    // windows of unequal size and length 0/1 edges)
    def directEnergies(s: Array[Double]): Array[Array[Double]] = {
      val T = AudioHash64.TimeWindows
      val B = AudioHash64.Bands
      val n = s.length
      Array.tabulate(T, B) { (t, b) =>
        val from = (t.toLong * n / T).toInt
        val to = ((t + 1).toLong * n / T).toInt
        val w = to - from
        if (w <= 0) 0.0
        else {
          val omega = 2.0 * math.Pi * (b + 1).toDouble / w
          var re = 0.0
          var im = 0.0
          var i = from
          while (i < to) {
            val ph = omega * (i - from)
            re += s(i) * math.cos(ph)
            im -= s(i) * math.sin(ph)
            i += 1
          }
          re * re + im * im
        }
      }
    }
    val sampleGen = for {
      n <- Gen.oneOf(Gen.choose(0, 12), Gen.choose(50, 400))
      xs <- Gen.listOfN(n, Gen.choose(-1000, 1000).map(_ / 1000.0))
    } yield xs.toArray
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(sampleGen) { s =>
        val g = AudioHash64.bandEnergies(s)
        val d = directEnergies(s)
        (0 until AudioHash64.TimeWindows).forall(t =>
          (0 until AudioHash64.Bands).forall { b =>
            val scale = math.max(1e-9, math.max(g(t)(b).abs, d(t)(b).abs))
            (g(t)(b) - d(t)(b)).abs <= 1e-6 * scale
          })
      })
    assert(r.passed, r.status.toString)
  }

}
