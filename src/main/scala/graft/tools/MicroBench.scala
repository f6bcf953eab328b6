package graft.tools

import graft.Tables
import graft.functions.DedupOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch A/B timer for signature-lane encodings (not part of the
  * driver contract; kept for plan experiments). */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    val sh = DedupOps.explodedShingles(docs, "doc_id", "text", 3)

    def time(name: String)(f: => Unit): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        f
        println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    time("min(md5 string)") {
      noop(sh.groupBy(col("doc_id")).agg(
        (0 until 8).map(i => min(md5(concat_ws("|", lit(i), col("shingle")))).as(s"h$i")).head,
        (0 until 8).map(i => min(md5(concat_ws("|", lit(i), col("shingle")))).as(s"h$i")).tail: _*))
    }
    time("min(conv60 long)") {
      noop(sh.groupBy(col("doc_id")).agg(
        (0 until 8).map(i => min(conv(substring(md5(concat_ws("|", lit(i), col("shingle"))), 1, 15), 16, 10).cast("long")).as(s"h$i")).head,
        (0 until 8).map(i => min(conv(substring(md5(concat_ws("|", lit(i), col("shingle"))), 1, 15), 16, 10).cast("long")).as(s"h$i")).tail: _*))
    }
    import graft.expressions.HexPrefixToLong.hex_prefix_to_long
    time("min(hexpfx long)") {
      noop(sh.groupBy(col("doc_id")).agg(
        (0 until 8).map(i => min(hex_prefix_to_long(md5(concat_ws("|", lit(i), col("shingle"))), 15)).as(s"h$i")).head,
        (0 until 8).map(i => min(hex_prefix_to_long(md5(concat_ws("|", lit(i), col("shingle"))), 15)).as(s"h$i")).tail: _*))
    }

    // in-bucket pair expansion: interpreted HOF vs native SortedPairs
    val buckets = DedupOps.lshBands(
        DedupOps.minhashSignature(docs, "doc_id", "text"), "doc_id")
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    time("pairs HOF") {
      noop(buckets.select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> " +
          "struct(x AS id_a, y AS id_b))))")).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct())
    }
    time("pairs native") {
      noop(buckets.select(explode(
          graft.expressions.SortedPairs.sorted_pairs(col("ids"))).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct())
    }

    // q59 verify stage: corpus-wide token distinct vs candidate-pruned
    def dedup(pruned: Boolean): org.apache.spark.sql.DataFrame = {
      val sig = DedupOps.minhashSignature(docs, "doc_id", "text")
      val rawPairs = DedupOps.lshCandidatePairs(sig, "doc_id")
      val (pairs, tokens) =
        if (pruned) DedupOps.verifyInputs(docs, "doc_id", "text", rawPairs)
        else (rawPairs, DedupOps.explodedWords(docs, "doc_id", "text")
          .select(col("doc_id"), col("__w").as("token")).distinct())
      DedupOps.dropNearDuplicates(docs, "doc_id",
          DedupOps.jaccardForPairs(pairs, tokens, "doc_id"), 0.8)
        .select(col("doc_id"), col("n_chars"))
    }
    time("q59 corpus-tokens") { noop(dedup(pruned = false)) }
    time("q59 pruned-tokens") { noop(dedup(pruned = true)) }

    // non-equi interval join: binned hash join vs the nested-loop plan
    // Spark picks for a raw BETWEEN condition (2000 overlapping bands ×
    // events — the regime where per-row band scanning dominates)
    val events = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("value"))
    val bands = spark.range(2000).select(col("id").as("band_id"),
      (col("id") * 0.25).as("lo"), (col("id") * 0.25 + 25).as("hi"))
    time("bandjoin nested-loop") {
      noop(events.join(bands,
          col("value") >= col("lo") && col("value") <= col("hi"))
        .groupBy(col("band_id")).agg(count(lit(1)).as("n")))
    }
    time("bandjoin binned") {
      noop(graft.functions.RangeJoinOps
        .pointInInterval(events, "value", bands, "lo", "hi", binWidth = 25.0)
        .groupBy(col("band_id")).agg(count(lit(1)).as("n")))
    }

    // q85 decontamination: plain semi-join vs bloom prefilter. With the
    // test side under the broadcast threshold (true at sf0.1) the plain
    // join already broadcasts and never shuffles the corpus — bloom is
    // pure overhead there. The regime bloom exists for is RHS > broadcast
    // threshold (the 100 TB shape: a benchmark suite's distinct shingle
    // set is GBs): then the plain plan shuffles BOTH shingle streams,
    // while the bloom blob (bounded bits) still broadcasts and cuts the
    // corpus scan-side. Simulate it by disabling auto-broadcast.
    val pct = graft.functions.TextOps.hashBucket(col("doc_id"))
    val withPct = docs.withColumn("pct", pct)
    val trainSh = withPct.filter(col("pct") < 80)
      .select(col("doc_id"), explode(graft.functions.TextOps.shingles(col("text"), 3)).as("sh"))
    val testSh = withPct.filter(col("pct") >= 90)
      .select(explode(graft.functions.TextOps.shingles(col("text"), 3)).as("sh")).distinct()
    def hits(tr: org.apache.spark.sql.DataFrame) = tr
      .groupBy(col("doc_id")).agg(countDistinct(col("sh")).as("n"))
    time("decontam semi-join (broadcastable)") {
      noop(hits(trainSh.join(testSh, Seq("sh"), "left_semi")))
    }
    time("decontam bloom (broadcastable)") {
      noop(hits(graft.functions.BloomOps.bloomSemiJoin(
        trainSh, "sh", testSh, "sh", fpp = 0.01)))
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time("decontam semi-join (RHS>bcast)") {
      noop(hits(trainSh.join(testSh, Seq("sh"), "left_semi")))
    }
    time("decontam bloom (RHS>bcast)") {
      noop(hits(graft.functions.BloomOps.bloomSemiJoin(
        trainSh, "sh", testSh, "sh", fpp = 0.01)))
    }
    // Second condition for the bloom win: LOW match density. The
    // synthetic docs share a tiny vocabulary, so nearly every train
    // shingle hits the test set and the prefilter removes ~nothing
    // (measured above: bloom only adds its build cost). A selective
    // membership join — 0.1% of orderkeys over full-width rows — is the
    // shape real decontamination has (a benchmark hits a sliver of the
    // corpus). Local wall-time is dominated by the bloom build's fixed
    // job at sub-second scale, so ALSO report what the prefilter is FOR:
    // shuffle bytes — the quantity that costs at 100 TB.
    val meter = new ShuffleMeter(spark.sparkContext)
    def timeAndShuffle(name: String)(f: => Unit): Unit =
      (1 to 3).foreach { i =>
        val (sec, bytes) = meter.measure(f)
        println(f"$name run$i: $sec%.3f s, shuffle ${bytes / 1048576.0}%.1f MiB")
      }
    val li = Tables.load(spark, sfDir, "lineitem")
    // materialize the rare keys as an INDEPENDENT table: derived from the
    // same scan by a predicate, Catalyst would infer that predicate onto
    // the big side through the semi-join and cut the scan exactly — real
    // reference sets (a benchmark's shingles) have no such predicate
    val rareDir = java.nio.file.Files.createTempDirectory("rare").toString
    li.select(col("l_orderkey")).distinct()
      .filter(pmod(col("l_orderkey"), lit(1000)) === 7)
      .write.mode("overwrite").parquet(rareDir)
    val rareKeys = spark.read.parquet(rareDir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    timeAndShuffle("selective semi-join (RHS>bcast)") {
      noop(li.join(rareKeys, Seq("l_orderkey"), "left_semi"))
    }
    timeAndShuffle("selective bloom (RHS>bcast)") {
      noop(graft.functions.BloomOps.bloomSemiJoin(
        li, "l_orderkey", rareKeys, "l_orderkey", fpp = 0.01))
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    // scratch parquet cleanup (createTempDirectory does not self-delete)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rareDir))

    // ---- BPE encoder at REALISTIC vocabulary scale (32k merges) ----
    // The fixture corpus holds 31 distinct pieces, so both the
    // vocabulary and the bench corpus are the deterministic synthetic
    // Zipf distribution (TokenizerTrain.zipfWordCounts). Each Spark
    // task deserializes its own vocab copy, so the word cache is rebuilt
    // per task — exactly the production regime being measured.
    {
      import graft.core.Mix.mix
      import graft.functions.{Bpe, BpeVocab, Tokenizer}
      import spark.implicits._
      val tTrain = System.nanoTime()
      val wc = TokenizerTrain.zipfWordCounts(1 << 16)
      val vocab32k = Bpe.trainFromWordCounts(wc, 32768)
      println(f"bpe train(64k words -> ${vocab32k.merges.length} merges): " +
        f"${(System.nanoTime() - tTrain) / 1e9}%.1f s")
      val words = wc.map(_._1).toArray
      val nW = words.length
      val lnW = math.log(nW.toDouble)
      val nDocs = 100000L
      val wordsPerDoc = 120
      // log-uniform rank draw ≈ Zipf(1) — the cache-friendly regime
      val zipfCorpus = spark.range(nDocs).mapPartitions { it =>
        it.map { d =>
          val sb = new java.lang.StringBuilder(wordsPerDoc * 8)
          var k = 0
          while (k < wordsPerDoc) {
            val u = (mix(d * 131 + k) >>> 34).toDouble / (1L << 30).toDouble
            val r = math.min(nW - 1, math.exp(u * lnW).toLong.toInt)
            if (k > 0) sb.append(' ')
            sb.append(words(r))
            k += 1
          }
          sb.toString
        }
      }.toDF("text").persist()
      val nPieces = nDocs * wordsPerDoc
      println(f"bpe zipf corpus: $nDocs docs x $wordsPerDoc pieces, " +
        f"~${words.length} distinct words -> cache hit rate ~" +
        f"${1.0 - nW.toDouble / nPieces}%.4f")
      zipfCorpus.count()
      def rate(name: String, tok: Tokenizer, df: org.apache.spark.sql.DataFrame,
               docs: Long): Unit =
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          noop(df.select(tok.count(col("text")).as("n")))
          val s = (System.nanoTime() - t0) / 1e9
          println(f"$name run$i: $s%.3f s, ${docs / s / 1000}%.0f kdocs/s, " +
            f"${docs * wordsPerDoc / s / 1e6}%.1f Mpieces/s")
        }
      rate("bpe count 90-merge zipf", BpeVocab.default, zipfCorpus, nDocs)
      rate("bpe count 32k-merge zipf", vocab32k, zipfCorpus, nDocs)

      // cache-hostile regime: every letter piece distinct (base-26
      // suffix), so each word pays a full cold encode
      val uniqueCorpus = spark.range(nDocs / 10).mapPartitions { it =>
        it.map { d =>
          val sb = new java.lang.StringBuilder(wordsPerDoc * 12)
          var k = 0
          while (k < wordsPerDoc) {
            val u = (mix(d * 137 + k) >>> 34).toDouble / (1L << 30).toDouble
            val r = math.min(nW - 1, math.exp(u * lnW).toLong.toInt)
            if (k > 0) sb.append(' ')
            sb.append(words(r))
            // unique letter tail: base-26 of (doc, k)
            var t = d * wordsPerDoc + k
            var j = 0
            while (j < 7) { sb.append(('a' + (t % 26)).toChar); t /= 26; j += 1 }
            k += 1
          }
          sb.toString
        }
      }.toDF("text").persist()
      uniqueCorpus.count()
      rate("bpe count 90-merge unique", BpeVocab.default, uniqueCorpus, nDocs / 10)
      rate("bpe count 32k-merge unique", vocab32k, uniqueCorpus, nDocs / 10)

      // ---- unigram-LM encoder on the SAME corpora: the cross-family
      // throughput comparison (q141 compares fertility; this compares
      // cost). Viterbi is O(len × maxPieceLen) per COLD word vs BPE's
      // O(len²) worst-case merge loop — the interesting regime is the
      // cache-hostile one, where every word pays the cold encode.
      // Trained on the top-16k head of the same Zipf table (EM over a
      // substring lattice is driver-side; the head carries ~99% of the
      // occurrence mass, and encode throughput is what's measured).
      val tTrainU = System.nanoTime()
      val uni8k = graft.functions.Unigram.trainFromWordCounts(
        wc.sortBy { case (w, c) => (-c, w) }.take(16384), 8192,
        maxPieceLen = 6)
      println(f"unigram train(16k words -> ${uni8k.pieces.length} pieces): " +
        f"${(System.nanoTime() - tTrainU) / 1e9}%.1f s")
      rate("unigram count 8k-piece zipf", uni8k, zipfCorpus, nDocs)
      rate("unigram count 8k-piece unique", uni8k, uniqueCorpus, nDocs / 10)

      // ---- WordPiece encoder, the third family, same corpora: greedy
      // MaxMatch is O(len × maxPieceLen) per COLD word like Viterbi but
      // with a HashSet probe instead of a lattice DP — expect it between
      // BPE-warm and unigram-cold. Trained on the same 16k head
      // (likelihood merges full-rescan per merge, driver-side).
      val wpHead16k = wc.sortBy { case (w, c) => (-c, w) }.take(16384)
      val tTrainW = System.nanoTime()
      val wp8k = graft.functions.WordPiece.trainFromWordCounts(wpHead16k, 8192)
      println(f"wordpiece train(16k words -> ${wp8k.pieces.length} pieces): " +
        f"${(System.nanoTime() - tTrainW) / 1e9}%.1f s")
      // r17: the production 64k-word/32k-piece shape — the full-rescan
      // r16 trainer projected to tens of minutes here; the incremental
      // trainer makes it routine.
      val tTrainW64 = System.nanoTime()
      val wp32k = graft.functions.WordPiece.trainFromWordCounts(wc, 32768)
      println(f"wordpiece train(64k words -> ${wp32k.pieces.length} pieces): " +
        f"${(System.nanoTime() - tTrainW64) / 1e9}%.1f s")
      rate("wordpiece count 8k-piece zipf", wp8k, zipfCorpus, nDocs)
      rate("wordpiece count 8k-piece unique", wp8k, uniqueCorpus, nDocs / 10)

      // regularization sampling throughput: uncached by design (the
      // sample depends on the seed), so the cache-friendly corpus pays
      // the full per-word lattice walk — the augmentation's real cost
      def rateSampled(name: String, c: org.apache.spark.sql.Column,
                      df: org.apache.spark.sql.DataFrame, docs: Long): Unit =
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          noop(df.select(c.as("n")))
          val s = (System.nanoTime() - t0) / 1e9
          println(f"$name run$i: $s%.3f s, ${docs / s / 1000}%.0f kdocs/s, " +
            f"${docs * wordsPerDoc / s / 1e6}%.1f Mpieces/s")
        }
      // the full 13-rule repetition gate (q145) at corpus throughput:
      // one kernel pass per row — the "gating 100 TB is one scan" claim
      rateSampled("repetition gate zipf",
        graft.functions.TextOps.repetitionKeep(
          graft.functions.TextOps.repetitionStats(col("text"))).cast("long"),
        zipfCorpus, nDocs)
      rateSampled("unigram sample a=0.2 zipf",
        graft.functions.Unigram.sampleTokenCount(col("text"),
          expr("monotonically_increasing_id()"), 0.2, uni8k),
        zipfCorpus, nDocs)
      rateSampled("bpe dropout p=0.1 zipf",
        Bpe.dropoutTokenCount(col("text"),
          expr("monotonically_increasing_id()"), 0.1, vocab32k),
        zipfCorpus, nDocs)
      zipfCorpus.unpersist()
      uniqueCorpus.unpersist()

      // ---- long-document text kernels: interpreted-HOF vs native ----
      // the HOF encodings (replaced in round 9) re-evaluate children
      // per element — quadratic in document length. A/B on the same
      // 100-doc × 1000-token corpus; the HOF side is inlined here
      // because the engine no longer contains it.
      val longDocs = spark.range(100).mapPartitions { it =>
        it.map { d =>
          val sb = new java.lang.StringBuilder(8000)
          var k = 0
          while (k < 1000) {
            val u = (mix(d * 911 + k) >>> 34).toDouble / (1L << 30).toDouble
            val r = math.min(nW - 1, math.exp(u * lnW).toLong.toInt)
            if (k > 0) sb.append(' ')
            sb.append(words(r))
            k += 1
          }
          sb.toString
        }
      }.toDF("text").persist()
      longDocs.count()
      val w = split(col("text"), " ")
      def hofShingles(n: Int) =
        when(size(w) < n, array().cast("array<string>")).otherwise(
          transform(sequence(lit(0), size(w) - n),
            i => concat_ws(" ", (0 until n).map(j =>
              element_at(w, i + j + 1)): _*)))
      time("shingle3 HOF (100x1k tokens)") {
        noop(longDocs.select(explode(hofShingles(3)).as("sh"))
          .select(md5(col("sh"))))
      }
      time("shingle3 native (100x1k tokens)") {
        noop(longDocs.select(explode(
            graft.functions.TextOps.shingles(col("text"), 3)).as("sh"))
          .select(md5(col("sh"))))
      }
      val step = 40
      val nChunks = greatest(
        (((size(w) - 10) + step - 1) / step).cast("int"), lit(1))
      time("chunk(50,10) HOF") {
        noop(longDocs.select(explode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(w, i * step + 1, lit(50)), " ")))))
      }
      time("chunk(50,10) native") {
        noop(longDocs.select(explode(
          graft.functions.TextOps.chunkTexts(col("text"), 50, 10))))
      }
      val g2 = graft.functions.TextOps.shingles(col("text"), 2)
      time("top2gram HOF") {
        noop(longDocs.select(when(size(g2) > 0,
          array_max(transform(array_distinct(g2),
            x => size(filter(g2, _ === x)))).cast("double") / size(g2))
          .otherwise(lit(0.0))))
      }
      time("top2gram native") {
        noop(longDocs.select(
          graft.functions.TextOps.topNgramFrac(col("text"), 2)))
      }
      // q113's mask stage: every 10th window duplicated
      val starts = sequence(lit(0), lit(990), lit(10))
      time("mask HOF (99 starts)") {
        noop(longDocs.select(concat_ws(" ", filter(w, (_, i) =>
          !exists(starts, st => i >= st && i < st + lit(8))))))
      }
      time("mask native (99 starts)") {
        noop(longDocs.select(graft.expressions.SubstrMask
          .substr_mask(col("text"), starts, 8).getField("clean_text")))
      }
      // streaming band keys: the retired HOF encoding (8 interpreted
      // transform lanes) vs the fused native BandKeys kernel
      def hofBandKeys(numHashes: Int, rowsPerBand: Int, n: Int) = {
        val sh = graft.expressions.Shingles.shingles(col("text"), n)
        def h64(c: org.apache.spark.sql.Column, seed: Int) =
          graft.expressions.HexPrefixToLong.hex_prefix_to_long(
            md5(concat_ws("|", lit(seed), c)), 15)
        val lanes = (0 until numHashes).map(s =>
          array_min(transform(sh, x => h64(x, s))))
        val keys = (0 until numHashes / rowsPerBand).map(b =>
          md5(concat_ws("|",
            (0 until rowsPerBand).map(r => lanes(b * rowsPerBand + r)): _*)))
        when(size(sh) > 0, array(keys: _*))
          .otherwise(array().cast("array<string>"))
      }
      time("bandkeys HOF") {
        noop(longDocs.select(explode(hofBandKeys(8, 2, 3))))
      }
      time("bandkeys native") {
        noop(longDocs.select(explode(DedupOps.bandKeysPerRow(col("text")))))
      }
      longDocs.unpersist()
    }

    // ---- nearest-centroid assignment at k ∝ n: three plan shapes ----
    // unrolled per-centroid structs (k ≤ 128 default), the retired
    // typedLit+transform HOF (interpreted per element), and the fused
    // native CentroidKernel (k > 128 default). Corpus size is scaled
    // inversely with k so every cell pays the same ~10M centroid-dot
    // budget — the comparison isolates per-dot overhead, not FLOPs.
    {
      import graft.functions.VectorOps
      val e = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      def synthCents(k: Int) = (0 until k).map(i =>
        Array.tabulate(64)(d => ((i * 31 + d * 7) % 11).toDouble - 5.0))
      for (k <- Seq(128, 512, 2048)) {
        val cents = synthCents(k)
        val factor = math.max(1, 2048 / k / 4) // 4x/1x/1x at sf0.1's 5k rows
        val corpus = spark.range(factor).crossJoin(e)
          .select(col("vec_id"), col("embedding")).persist()
        corpus.count()
        if (k <= VectorOps.LiteralCentroidMaxK)
          time(s"assign k=$k unrolled-structs") {
            noop(corpus.withColumn("cluster", array_min(
                VectorOps.scoredArr(cents, col("embedding"))).getField("c"))
              .select(col("vec_id"), col("cluster")))
          }
        time(s"assign k=$k HOF-transform") {
          noop(VectorOps.assignClustersImpl(corpus, cents, "embedding",
              forceArrayPath = true)
            .select(col("vec_id"), col("cluster")))
        }
        time(s"assign k=$k fused-kernel") {
          noop(corpus.withColumn("cluster", graft.expressions.NearestCentroid
              .nearest_centroid(col("embedding"), cents))
            .select(col("vec_id"), col("cluster")))
        }
        // the COSINE twin (topKJoin's probe selection): retired
        // typedLit+transform ranking vs the fused TopCosineCentroids
        val vd = graft.expressions.VecDot.vec_dot _
        val qn2 = vd(col("embedding"), col("embedding"))
        val cArr = typedLit(cents.map(_.toSeq))
        val n2Arr = typedLit(cents.map(c => c.map(x => x * x).sum))
        val hofProbe = slice(sort_array(transform(cArr, (cv, i) => struct(
          (-round(vd(col("embedding"), cv) /
            sqrt(element_at(n2Arr, i + lit(1)) * qn2), 4)).as("neg"),
          i.as("cluster")))), 1, 3).getField("cluster")
        time(s"probe k=$k HOF-transform") {
          noop(corpus.select(col("vec_id"), explode(hofProbe).as("cluster")))
        }
        time(s"probe k=$k fused-kernel") {
          noop(corpus.select(col("vec_id"),
            explode(graft.expressions.NearestCentroid
              .top_cosine_centroids(col("embedding"), cents, 3)).as("cluster")))
        }
        corpus.unpersist()
      }
    }

    // ---- PQ: storage footprint + scan pruning, codes vs vectors ----
    // the compression claim, measured at STORAGE level on UNIQUE
    // vectors (per-copy jitter defeats parquet's dictionary coding —
    // replicated fixtures compress away and fake the ratio), plus the
    // plan-level proof that the ADC candidate stage's ReadSchema
    // carries the codes column and NOT the embeddings. At scale,
    // bytesRead follows ReadSchema — the IO cut is column pruning.
    {
      import graft.functions.VectorOps
      val e = Tables.load(spark, sfDir, "embeddings")
      val cbs = VectorOps.pqTrainCodebooks(e, "embedding", m = 8, iters = 1)
      val uniq = spark.range(32).crossJoin(e)
        .select((col("id") * 1000000 + col("vec_id")).as("vec_id"),
          transform(col("embedding"),
            x => x + (col("id") % 97).cast("float") * lit(1.013e-3f))
            .as("embedding"))
      val vdir = java.nio.file.Files.createTempDirectory("pq_vecs").toString
      val cdir = java.nio.file.Files.createTempDirectory("pq_codes").toString
      uniq.write.mode("overwrite").parquet(vdir)
      val codesDf = VectorOps.pqEncodeCorpus(
        spark.read.parquet(vdir), "vec_id", "embedding", cbs)
      codesDf.write.mode("overwrite").parquet(cdir)
      def mib(d: String): Double = org.apache.commons.io.FileUtils
        .sizeOfDirectory(new java.io.File(d)) / 1048576.0
      println(f"pq storage: vectors ${mib(vdir)}%.2f MiB vs codes " +
        f"${mib(cdir)}%.2f MiB (x${mib(vdir) / mib(cdir)}%.1f), same ids")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      val candScan = spark.read.parquet(cdir).crossJoin(broadcast(qv))
        .select(col("vec_id"), graft.expressions.PqCodec.pq_adc_cosine(
          col("__qv"), col("pq_code"), cbs).as("s"))
      val formatted = candScan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val readSchemas = formatted.linesIterator
        .filter(_.trim.startsWith("ReadSchema")).toSeq
      println("pq candidate ReadSchema: " + readSchemas.mkString(" | "))
      assert(readSchemas.exists(_.contains("pq_code")),
        "candidate scan must read the codes column")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(vdir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cdir))
    }

    // ---- residual subtraction: interpreted zip_with vs fused VecSub --
    // the v − c feed of residual-codebook training (sample-bound, but
    // the same shape a full-corpus residual materialization would use)
    {
      val e = Tables.load(spark, sfDir, "embeddings")
      val corpus = spark.range(64).crossJoin(e)
        .select(col("vec_id"), col("embedding")).persist()
      corpus.count()
      val cent = typedLit(Array.tabulate(64)(d => (d % 7).toDouble - 3.0).toSeq)
      time("residual-sub zip_with") {
        noop(corpus.select(zip_with(col("embedding").cast("array<double>"),
          cent, (a, b) => coalesce(a, lit(0.0)) - coalesce(b, lit(0.0))).as("r")))
      }
      time("residual-sub vec_sub") {
        noop(corpus.select(graft.expressions.VecSub
          .vec_sub(col("embedding"), cent).as("r")))
      }
      corpus.unpersist()
    }

    // ---- ADC LUT cache capacity under INTERLEAVED queries ------------
    // joined candidate rows cycle through the broadcast queries, so a
    // single-entry per-thread LUT cache (the shape this engine shipped
    // first) rebuilds the m×ksub×dsub table on ~every row once a batch
    // holds >1 query — the rebuild (~16k FLOPs at 8×256×8) dwarfs the
    // m-lookup ADC it feeds. Kernel-level timing, worst-case
    // interleave (query changes EVERY candidate): capacity 1 vs the
    // shipped LRU default.
    {
      import graft.expressions.PqKernel
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val e = Tables.load(spark, sfDir, "embeddings")
      val cbs = graft.functions.VectorOps.pqTrainCodebooks(e, "embedding",
        m = 8, iters = 1)
      val nQ = 8
      val queries = (0 until nQ).map(i => new GenericArrayData(
        Array.tabulate[Any](64)(d => ((i * 13 + d * 7) % 17 - 8).toDouble)))
      val codes = Array.tabulate(200000)(i =>
        Array.tabulate(8)(b => ((i * 31 + b * 101) % 256).toByte))
      for ((cap, label) <- Seq(1 -> "cap=1(old)",
                               PqKernel.DefaultLutEntries -> "cap=default")) {
        val kern = PqKernel.build(cbs, cap)
        var sink = 0.0
        time(s"adc interleaved nQ=$nQ $label") {
          var i = 0
          while (i < codes.length) {
            sink += kern.adcDot(queries(i % nQ), false, codes(i))
            i += 1
          }
        }
        if (sink.isNaN) println("adc sink NaN (impossible)") // keep sink live
      }
    }

    // ---- raw vs RESIDUAL PQ: recall A/B at equal code bytes ----------
    // same index, same m/ksub/iters, nprobe = every list (so the coarse
    // quantizer's IVF loss cancels out of the comparison and the delta
    // is purely the codebooks' ranking quality). IVFADC's claim is that
    // residual codebooks buy recall at the same bits; this measures it
    // on the engine's own index instead of assuming the paper.
    {
      import graft.functions.VectorOps
      val e = Tables.load(spark, sfDir, "embeddings")
      val k = 10
      val nQ = 8
      val queries = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding"))
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
      val q = queries.select(col("qid"), col("embedding").as("__qv"),
        VectorOps.norm(col("embedding")).as("__qn"))
      val truth = e.withColumn("__n", VectorOps.norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), VectorOps.cosinePrenormed(
          col("embedding"), col("__qv"), col("__n"), col("__qn")).as("score"))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(W))
        .filter(col("rk") <= k)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.lake.AnnIndex.withScratchIndex(
          spark, e, "vec_id", "embedding", k = 16, numBuckets = 8) { idx =>
        for (residual <- Seq(false, true)) {
          idx.enablePq(m = 8, ksub = 256, iters = 1, samplePct = 100,
            residual = residual)
          val recalls = Seq(1, 2, 4).map { refine =>
            val got = idx.topKJoinPq(queries, "qid", "embedding", k,
                nprobe = 16, refine = refine)
              .select(col("qid"), col("id"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            truth.count(got.contains).toDouble / (k * nQ)
          }
          println(f"pq recall@$k (residual=$residual) refine 1/2/4: " +
            recalls.map(r => f"$r%.3f").mkString(" / "))
        }
      }
    }
    // ---- lineRebuild mask in the MAJORITY-TOUCHED regime -------------
    // (r11 verdict nit: the HOF's array_contains-inside-filter is
    // O(dropped × chunks) per touched doc — fine at minority density,
    // but a boilerplate-heavy corpus makes "touched" the majority.)
    // Synthetic worst case: ~40% of docs touched, HALF their lines
    // dropped; HOF vs the fused two-pointer ChunkRebuild kernel.
    {
      import graft.functions.TextOps
      // long documents (text ×8) + 2-token lines make the per-doc drop
      // lists LONG (~25 offsets over ~50 lines), so the HOF's
      // O(dropped × chunks) term is actually exercised — the bench
      // corpus's own docs are 1–2 lines of 10 tokens and would hide it
      val longDocs = docs.select(col("doc_id"),
        concat_ws(" ", array_repeat(col("text"), 8)).as("text")).persist()
      val segs = TextOps.lineSegments(longDocs, "doc_id", "text", 2)
      val dropped = segs
        .filter(col("doc_id") % 5 < 2 && col("__ld_idx") % 2 === 0)
        .select(col("doc_id"), col("__ld_idx"))
        .persist()
      println(s"lineRebuild probe: ${dropped.count()} dropped offsets, " +
        s"${dropped.select("doc_id").distinct().count()} touched docs " +
        s"of ${longDocs.count()}")
      time("lineRebuild HOF (majority-touched)") {
        noop(TextOps.lineRebuildHof(longDocs, dropped, "doc_id", "text", 2))
      }
      time("lineRebuild kernel (majority-touched)") {
        noop(TextOps.lineRebuild(longDocs, dropped, "doc_id", "text", 2))
      }
      dropped.unpersist(); longDocs.unpersist()
    }

    // ---- quality-classifier scoring: one-scan kernel vs composable --
    // The q130 scorer's claim: HashedNgramScore computes the document
    // log-odds scan-locally (zero exchanges), where the composable
    // q104-shape pays explode → (doc, bucket) partial-agg shuffle →
    // broadcast weights join → doc-keyed agg. Same arithmetic, same
    // hash; the delta is pure plan shape.
    {
      import graft.functions.QualityClassifier
      val model = QualityClassifier.train(docs, "text",
        col("source").isin("src0", "src1"))
      time("clf score kernel (one scan)") {
        noop(QualityClassifier.scoreDocs(docs, "doc_id", "text", model))
      }
      val wDf = spark.createDataFrame(
        model.weights.toIndexedSeq.zipWithIndex
          .map { case (v, b) => (b.toLong, v) }).toDF("b", "w")
      time("clf score composable (shuffle)") {
        noop(Seq(1, 2).map(n => docs.select(col("doc_id"),
            explode(graft.expressions.Shingles.shingles(col("text"), n))
              .as("g")))
          .reduce(_ unionAll _)
          .select(col("doc_id"),
            QualityClassifier.bucketCol(col("g"), model.buckets).as("b"))
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
          .join(broadcast(wDf), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(round(sum(col("c") * col("w")) + lit(model.prior), 4)
            .as("score")))
      }
    }

    // Aho-Corasick representation A/B (the r15 sparse fallback): the
    // dense fail-folded goto (one array read per byte) vs the
    // open-addressed raw-edge table + fail chasing a 100k-entry
    // blocklist forces. Same lexicon, same corpus scan; the delta is
    // the per-byte transition cost — the number that says what the
    // memory-driven crossover trades away.
    {
      val lex = (0 until 500).map { i =>
        var x = (i * 2654435761L) & 0xffffffffL
        (0 until 10).map { _ =>
          x = (x * 48271) % 2147483647L; ('a' + (x % 26)).toChar
        }.mkString
      }
      val dense = new graft.expressions.AhoCorasick(lex)
      val sparse = new graft.expressions.AhoCorasick(lex, denseBudgetInts = 0L)
      val texts = docs.select(col("text")).collect().map(
        r => org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getString(0)))
      def sweep(name: String, ac: graft.expressions.AhoCorasick): Unit =
        time(name) {
          var s = 0L
          texts.foreach(t => s += ac.countDistinct(t))
          if (s < 0) println(s) // keep the loop live
        }
      sweep("AC dense kernel", dense)
      sweep("AC sparse kernel", sparse)
    }
    spark.stop()
  }
}
