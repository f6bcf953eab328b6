package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are fully materialized through the `noop` sink (whole plan
  * executes, zero result-serialization overhead). An untimed warm-up
  * pass of EVERY query runs first so no query's codegen-compile/JIT
  * first-run cost lands in a timed iteration (single-query warmups
  * left per-query spikes in run 1 — q51 13.8 s in r14).
  * `micro_batch` times a full capture tick (raw append → treat/nest →
  * staging append → log append) — the reference's 1-minute-cadence
  * envelope (BASELINE.md: must clear well under 60 s).
  */
object Bench {

  /** Headline subset: one representative per operator family. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",   // scan+agg (TPC-H Q1 shape)
    "q8_sql_surface",       // 3-table SQL join-agg-topn (TPC-H Q3 shape)
    "q3_last_per_entity",   // window dedup
    "q10_state_join",       // broadcast state join
    "q12_capture_gaps",     // spine generate + anti join
    "q13_validity_range_join", // range join
    "q65_asof_join",        // native as-of join (custom SparkPlan)
    "q22_running_sum",      // running window
    "q26_tumbling_5min",    // streaming-shape tumbling agg
    "q47_json_extract",     // json parse + agg
    "q51_minhash_sig",      // explode + 8-way min agg
    "q52_lsh_pairs",        // LSH band bucketing
    "q59_neardup_dedup",    // full dedup pipeline (LSH→Jaccard→drop)
    "q55_quality",          // text scoring scan
    "q60_knn_bruteforce",   // vector top-k
    "q63_vector_neardup",   // bucketed vector pair join
    // Round-9 additions (r8 verdict: q113 "not benched") — the two
    // flagship 100 TB-shape paths. Totals are NOT comparable with
    // BENCH_r{1..8}; the comparable subset excludes these two names.
    "q113_substring_dedup", // ExactSubstr map-side collapse
    "q115_lm_quality_scaled", // broadcast-LM scan-local scoring
    // Round-11 addition — the C4 line-dedup rewrite (segment → min_by
    // keeper → reassemble). Excluded from the comparable subset like
    // the r9 pair.
    "q124_line_dedup",
    // Round-12 addition — the trained quality-classifier family's
    // flagship (NB train + one-scan codegen scoring). Excluded from
    // the comparable subset like the r9/r11 additions.
    "q130_quality_classifier",
    // Round-15 additions — the Gopher rule gate (one-byte-walk
    // counters + keep conjunction, pure scan) and the decontamination
    // span scrub (indexed explode → semi-join → per-row rebuild).
    // Excluded from the comparable subset like earlier additions.
    "q137_gopher_rules",
    "q138_decontam_scrub",
    // Round-16 additions — the per-domain curation rollup (one scan +
    // one partial-agg shuffle to a |domains×langs| frame) and the
    // Gopher repetition gate (thirteen fractions from one kernel pass
    // per row). Excluded from the comparable subset like the rest.
    "q139_domain_rollup",
    "q145_gopher_repetition",
    // Round-16 second-wave additions — the tokenizer-family triad
    // fertility (three codegen token counters in ONE scan: BPE,
    // unigram-LM Viterbi, WordPiece MaxMatch — the densest per-row
    // compute in the engine) and the ICP document ordering (per-cluster
    // greedy similarity chains + centroid chain). Excluded from the
    // comparable subset like the rest.
    "q150_family_fertility",
    "q151_icp_order"
  )

  /** Fixed CPU-bound calibration workload — constant size regardless of
    * SF, zero IO, pure codegen'd hash+agg. Its wall time moves with
    * ambient host load (CPU contention, thermal state) and with NOTHING
    * in this repo, so `calibration_s` is the denominator that separates
    * "the machine was slower this round" from "a query regressed":
    * cross-round comparisons divide total_median by calibration_s. */
  def calibration(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, 32)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(1024L)).as("b"))
      // sum a bounded residue, not the raw hash — 2e8 full-range longs
      // would overflow ANSI sum
      .agg(sum(pmod(col("h"), lit(1000000L))).as("s"), count(lit(1)).as("c"))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Noise-gate retry policy (pure — spec-driven): run `attempt` until
    * its reported jitter clears `maxJitter` or `maxAttempts` is
    * exhausted, and keep the QUIETEST attempt seen. The r15 lesson: the
    * calibration canary (stddev/median of the fixed CPU-bound workload)
    * was computed and printed but never acted on, so an ambient-load
    * spike recorded q51 at 48.2 s — 37× its idle-host time — as the
    * round's number of record, with the canary at 95% jitter right
    * beside it. Returns (bestJitter, bestPayload, attemptsRun); the
    * caller stamps `noisy_host` when even the best attempt is above the
    * gate — a wrong number may still be recorded, but never silently. */
  def retryUntilQuiet[A](maxAttempts: Int, maxJitter: Double)(
      attempt: () => (Double, A)): (Double, A, Int) = {
    require(maxAttempts >= 1, "need at least one attempt")
    var best = attempt()
    var n = 1
    while (best._1 > maxJitter && n < maxAttempts) {
      val next = attempt()
      if (next._1 < best._1) best = next
      n += 1
    }
    (best._1, best._2, n)
  }

  /** stddev/median of the interleaved calibration samples — the
    * host-noise canary [[retryUntilQuiet]] gates on. */
  def jitterOf(cals: Seq[Double]): Double = {
    val s = cals.sorted
    val med =
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    if (med <= 0 || cals.size < 2) 0.0
    else {
      val m = cals.sum / cals.size
      math.sqrt(cals.map(x => (x - m) * (x - m)).sum / (cals.size - 1)) / med
    }
  }

  /** The noise gate's bounds: an attempt whose calibration jitter is
    * above [[MaxJitter]] re-runs, at most [[MaxAttempts]] times in all. */
  val MaxJitter = 0.25
  val MaxAttempts = 3

  /** The maximal LLM-ingest tick behind the `llm_ingest` entry (r16
    * verdict #3: "the composed LLM-ingest tick is never timed"): one
    * DailyIngest.run at this SF with every WEB-corpus stage ON —
    * quality gate (trained NB model), Gopher repetition rules, benchmark
    * decontamination, exact + verified-near-dup + line + semantic
    * dedup, unigram token denomination, greedy pack, partitioned land.
    * Fresh lake/state and a fresh dataset name per tick (the dedup
    * seen-set catalogs are session-global, so a reused name would let
    * tick N's state gate tick N+1 and shrink its work). Setup (model
    * fit, benchmark-shingle registration, frame construction) is
    * untimed — the tick is the product path being measured, like
    * micro_batch's processBatch. Deliberately OFF: gopherRules (the
    * corpus carries <2 Gopher stopwords per doc, so the quality half
    * would reject 100% and starve every downstream stage — it is
    * benched standalone as q137) and codeRules/license (a CODE
    * corpus's gates; on prose they reject ~everything the same way —
    * benched as q148/q153-shape scans).
    *
    * Constructing one loads the corpus and fits the quality model; each
    * call runs one tick and returns its wall seconds. `IngestProbe`
    * (test sources) times the same tick job by job. */
  final class LlmTick(spark: SparkSession, sfDir: String) {
    import org.apache.spark.sql.functions._
    import graft.tools.DailyIngest.Stages
    private val docsRaw = Tables.load(spark, sfDir, "documents")
    private val emb = Tables.load(spark, sfDir, "embeddings")
    // real 64-dim embedding where present (vec_id ⊂ doc_id), a
    // deterministic synthetic one otherwise — the semantic gate must
    // see every row
    private val docs = docsRaw.join(emb, docsRaw("doc_id") === emb("vec_id"), "left")
      .select(col("doc_id"), col("text"), col("lang"),
        coalesce(col("embedding"),
          expr("transform(sequence(0, 63), j -> cos(doc_id * (j + 1)))"))
          .as("emb"))
    // quality model: curated = 4 of the 20 sources (the q130 label
    // recipe), fitted once — deterministic, reused by every tick
    private val model = graft.functions.QualityClassifier.train(
      docsRaw, "text",
      col("source").isin("src0", "src1", "src2", "src3"))
    // benchmark set for decontam: a fixed 1-in-251 doc slice
    private val bench = docsRaw.filter(col("doc_id") % 251 === 0).select(col("text"))
    private var ticks = 0

    /** One tick; `beforeTimed` runs after the untimed per-tick setup,
      * right before the timed region starts. */
    def apply(beforeTimed: () => Unit = () => ()): Double = {
      ticks += 1
      val tmp = java.nio.file.Files.createTempDirectory("bench_llm").toString
      val lake = new graft.lake.Lake(spark, s"$tmp/lake")
      val ds = s"bench_llm_$ticks"
      val dd = new graft.lake.CorpusDedup(spark, lake, ds, numBuckets = 8)
      val cp = new graft.lake.CorpusPack(spark,
        new graft.state.StateStore(spark, s"$tmp/state"), ds,
        budgetTokens = 8192L)
      val idx = new graft.lake.AnnIndex(spark, lake, ds, numBuckets = 8)
      val out = graft.lake.TableRef("bench", ds, "packed")
      try {
        dd.commitTestShingles(bench, "text",
          java.sql.Date.valueOf("2024-02-28"))
        // steady-state semantic gate: seed the index with a day of
        // synthetic history strictly before the ingest day (distinct id
        // space + vectors, so the batch itself is not wiped) — the tick
        // then exercises the dated IVF probe every day-N ingest runs,
        // not the day-one pairwise bootstrap
        idx.buildDated(spark.range(2000).select(
            (col("id") + 1000000L).as("doc_id"),
            expr("transform(sequence(0, 63), j -> sin((id + 7) * (j + 1)))")
              .as("emb")),
          "doc_id", "emb", k = 8, java.sql.Date.valueOf("2024-02-28"))
        beforeTimed()
        val t0 = System.nanoTime()
        graft.tools.DailyIngest.run(lake, dd, cp, out, docs,
          "doc_id", "text", "lang",
          java.sql.Date.valueOf("2024-03-01"), ttlDays = 30,
          Stages(repetitionRules = true, quality = Some(Stages.Quality(model)),
            nearDupVerify = Some(0.75),
            ann = Some(Stages.Ann(idx, "emb", Some(Stages.Semantic(0.95)))),
            decontam = true, lineScrub = true,
            vocab = graft.functions.UnigramVocab.default))
        (System.nanoTime() - t0) / 1e9
      } finally {
        // session hygiene, exception-safe (r18): the index probe pins
        // autoBucketedScan off for the session (AnnIndex.pinBucketedScan's
        // documented contract) — restore the default for whatever runs
        // next in this shared session even if the tick threw; and delete
        // the tick's temp lake/state dir so iterations+1 ticks don't
        // accumulate disk that could perturb later samples.
        idx.unpinBucketedScan()
        deleteRecursively(new java.io.File(tmp))
      }
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("graft-bench", SparkEntry.cpus(32))

    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val qs = SparkEntry.queries
    // A failing query ends the bench with a non-zero exit naming it:
    // timing it would record its time-to-failure as the sample, so a
    // query broken only at this SF would read as fast.
    def runHeadline(): Seq[(String, Double)] = headline.filter(qs.contains).map { name =>
      val t0 = System.nanoTime()
      try materialize(qs(name)(spark, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAILED: headline query $name: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }

    // Warmup: one untimed pass of EVERY headline query, not just q1.
    // Each query's first execution pays its own codegen compile + JIT
    // warm-up, and a single-query warmup left that cost inside run 1
    // of everything else — the recurring single-iteration spikes
    // (q51 13.8 s in r14, q47 in r13) that pollute the recorded
    // stddevs without moving medians.
    runHeadline()
    // THREE timed runs after the warmup: a single run1/run2 sample cannot
    // tell a real 10% regression from ambient machine-load variance
    // (±30% observed on identical code). The per-query MEDIAN is the
    // comparison number; the per-query stddev says how much to trust it.
    val itersStr = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").trim
    val iterations = try itersStr.toInt
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_ITERS must be an integer, got '$itersStr'")
    }
    require(iterations >= 2, "bench needs >=2 iterations (run2 field)")
    // Capture micro-batch: one tick of the streaming pipeline at this SF
    // (fresh lake each iteration, same median/stddev protocol; the
    // temp lake is deleted after the timed region, also when the tick
    // throws — disk hygiene).
    def microBatch(): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("bench_lake").toString
      try {
        val lake = new graft.lake.Lake(spark, tmp)
        val log = new graft.lake.CaptureLog(spark, lake)
        val cap = new graft.streaming.Capture(spark, lake, log,
          graft.streaming.CaptureConfig("bench", "events",
            pk = Seq("event_id"), tsCol = "ts"))
        val raw = Tables.load(spark, sfDir, "events")
        val t0 = System.nanoTime()
        cap.processBatch(raw, Timestamp.valueOf("2024-02-01 00:00:00"))
        (System.nanoTime() - t0) / 1e9
      } finally deleteRecursively(new java.io.File(tmp))
    }
    // One calibration sample per iteration, interleaved with the real
    // runs so it sees the same ambient-load window they do. A throwaway
    // first call absorbs its codegen compile; the micro-batch warm-up
    // tick follows the same protocol as the queries.
    calibration(spark)
    microBatch()
    // ONE timed attempt: `iterations` interleaved (calibration, queries)
    // pairs plus the micro-batch ticks. llm_ingest is measured AFTER the
    // noise-gated attempts, not inside them: a tick leaves session-wide
    // state behind (seen-set catalogs, checkpoint blocks, the index
    // probe's pinned scan conf, temp lakes), and interleaving measured
    // micro_batch at 2.9 s vs 1.6 s isolated — polluting exactly the
    // cross-round-comparable entries the noise gate protects.
    def sampleOnce(): (Seq[Double], Seq[Seq[(String, Double)]]) = {
      val calAndRuns: Seq[(Double, Seq[(String, Double)])] =
        Seq.fill(iterations)((calibration(spark), runHeadline()))
      val mbs = Seq.fill(iterations)(microBatch())
      (calAndRuns.map(_._1),
        calAndRuns.map(_._2).zip(mbs).map { case (r, mb) =>
          r :+ ("micro_batch" -> mb)
        })
    }
    // The noise gate (r15: BENCH_r15.json recorded an ambient-load
    // spike as the round's numbers while its own canary read 95%
    // jitter — the harness computed the canary but never acted on it).
    // A noisy attempt re-runs, bounded; the quietest attempt is the
    // one recorded, and `noisy_host` stamps the record either way.
    val (calJitter, (cals, allRuns), attempts) =
      retryUntilQuiet(MaxAttempts, MaxJitter) { () =>
        val s = sampleOnce()
        (jitterOf(s._1), s)
      }
    val noisyHost = calJitter > MaxJitter
    if (noisyHost)
      System.err.println(f"[bench] WARNING: calibration jitter " +
        f"$calJitter%.3f still above $MaxJitter%.2f after $attempts " +
        "attempt(s) - recording the quietest attempt with noisy_host=true")
    // llm_ingest runs LAST (see sampleOnce's note): same warm-up +
    // median-of-iterations protocol, isolated so its session footprint
    // cannot inflate the classic entries or a retried attempt
    val llmTick = new LlmTick(spark, sfDir)
    llmTick()
    val llmSamples = Seq.fill(iterations)(llmTick())
    val names = allRuns.head.map(_._1) :+ "llm_ingest"
    val samples: Map[String, Seq[Double]] =
      names.map(n => n -> (if (n == "llm_ingest") llmSamples
        else allRuns.map(_.toMap.apply(n)))).toMap
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // sample stddev (n-1): small n, honest spread estimate
    def stddev(xs: Seq[Double]): Double =
      if (xs.size < 2) 0.0
      else {
        val m = xs.sum / xs.size
        math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
      }
    val medians = names.map(n => n -> median(samples(n)))
    val stddevs = names.map(n => n -> stddev(samples(n)))

    def toJson(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
    val total = allRuns.head.map(_._2).sum
    val totalMedian = medians.map(_._2).sum
    // The r1–r8 headline set predates q113/q115 (r9) and q124 (r11);
    // this subtotal keeps cross-round comparisons one field-read
    // instead of hand arithmetic.
    val addedSinceR8 = Set("q113_substring_dedup", "q115_lm_quality_scaled",
      "q124_line_dedup", "q130_quality_classifier",
      "q137_gopher_rules", "q138_decontam_scrub",
      "q139_domain_rollup", "q145_gopher_repetition",
      "q150_family_fertility", "q151_icp_order",
      // r17: the composed LLM-ingest tick (verdict #3)
      "llm_ingest")
    val totalR8Comparable =
      medians.filterNot(p => addedSinceR8(p._1)).map(_._2).sum
    // calibration_s normalizes cross-round totals: a drifted host moves
    // calibration_s and total_median together, a real regression moves
    // only the latter. total_per_cal is the drift-corrected headline.
    //
    // The stdout line must stay UNDER the driver's 2000-char tail
    // capture or the artifact's `parsed` field comes back null (the
    // r11 lesson: the verbose run1/run2 maps pushed the line to ~2.2k
    // and truncated the JSON's head). So stdout carries ONE compact
    // line — "queries"/"value" are the MEDIANS, the decision numbers
    // (r11 and earlier put run1 there; cross-round comparison goes
    // through calibration_s/BenchAb, not raw run1 deltas) — and the
    // full per-run detail goes to stderr for humans.
    val calMedian = median(cals)
    // r18: per-query CALIBRATION-NORMALIZED values (sec / calibration_s)
    // in the stdout artifact, so cross-round comparisons have a
    // noise-immune column (r17's 1.82×-slower driver host turned every
    // raw median into a phantom regression; normalizing by the canary
    // made the geomean read 1.01 — flat — but the adjudication had to
    // be done by hand). "queries_per_cal" and "stddev" are ARRAYS
    // aligned with the "queries" map's key order: the duplicated
    // query-name keys were ~760 chars each and two full maps plus a
    // third would overflow the driver's 2000-char stdout tail capture
    // (the r11 truncation lesson). The full stddev MAP still goes to
    // stderr in [bench-detail] for humans. This is a measurement-
    // reporting change only — every timed query, the timing protocol,
    // and the "queries" medians map are unchanged.
    def toJsonArr(vals: Seq[Double]): String =
      vals.map(v => f"$v%.3f").mkString("[", ",", "]")
    val perCal = medians.map(_._2 / calMedian)
    System.err.println(f"""[bench-detail] {"queries_run1":${toJson(allRuns.head)},"total_run1":$total%.3f,"queries_run2":${toJson(allRuns(1))},"total_run2":${allRuns(1).map(_._2).sum}%.3f,"stddev_map":${toJson(stddevs)}}""")
    val line = f"""{"metric":"total","value":$totalMedian%.3f,"unit":"sec","value_semantics":"median_of_$iterations","queries":${toJson(medians)},"stddev":${toJsonArr(stddevs.map(_._2))},"queries_per_cal":${toJsonArr(perCal)},"total_median":$totalMedian%.3f,"total_r8_comparable":$totalR8Comparable%.3f,"calibration_s":$calMedian%.3f,"calibration_stddev":${stddev(cals)}%.3f,"calibration_jitter":$calJitter%.3f,"noisy_host":$noisyHost,"attempts":$attempts,"total_per_cal":${totalMedian / calMedian}%.3f,"iterations":$iterations,"sf":"$sfDir"}"""
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: stdout JSON is ${line.length} " +
        "chars - may exceed the driver's 2000-char tail capture")
    println(line)
    spark.stop()
  }
}
