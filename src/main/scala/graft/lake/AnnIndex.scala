package graft.lake

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-appendable IVF ANN index over an embedding
  * column (SURVEY §2 LLM-pipeline family: similarity search at scale).
  *
  * [[VectorOps.ivfTopK]] recomputes the coarse quantizer per query —
  * fine for a one-shot job, wrong for a served index over a growing
  * corpus. This is the lake-table version, `CorpusDedup`-style:
  *
  *  - `ivf_centroids(cluster, dim, centroid)` — the trained coarse
  *    quantizer (k×dims rows, config-sized), written once at [[build]];
  *  - `ivf_lists(cluster, id, vec)` — the inverted lists: every corpus
  *    vector tagged with its nearest centroid, hash-BUCKETED on
  *    `cluster` at write time.
  *
  * [[append]] assigns only the new batch against the persisted
  * centroids (k codegen'd dot products per row, zero shuffles of
  * history) and `insertInto`s the bucketed table — O(batch) per
  * ingest, the index never rebuilds. [[topK]] ranks lists by
  * query↔centroid cosine, then reads ONLY the probed clusters: the
  * `cluster IN (probes)` filter hits the bucket spec, so the scan
  * prunes to nprobe/numBuckets of the files (`SelectedBucketsCount`
  * in the plan) — at 100 TB the search touches the probed lists'
  * files and nothing else, with no Exchange on the state side.
  *
  * Centroid drift: appends reuse the trained quantizer (standard IVF
  * practice — FAISS's add-after-train contract). When the distribution
  * shifts, [[retrain]] re-fits the quantizer on a sample of the lists
  * and reassigns in place, under the dataset's RunLock.
  * Single-writer discipline as with [[CorpusDedup]].
  */
class AnnIndex(spark: SparkSession, lake: Lake, dataset: String,
               numBuckets: Int = 16) {

  val centroidsRef: TableRef = TableRef("state", dataset, "ivf_centroids")
  val listsRef: TableRef = TableRef("state", dataset, "ivf_lists")
  /** Optional IVF-PQ sidecars (see [[enablePq]]): per-subspace
    * codebooks (config-sized) and the m-byte code per stored vector,
    * bucketed and partitioned EXACTLY like the lists so every prune
    * the lists scan gets, the codes scan gets too. */
  val pqCodebooksRef: TableRef = TableRef("state", dataset, "ivf_pq_codebooks")
  val pqCodesRef: TableRef = TableRef("state", dataset, "ivf_pq_codes")

  private def qualified(ref: TableRef) =
    s"${ref.zone}_${ref.dataset}.${ref.table}"

  /** The previous [[topKJoin]] probe frame, released on the next call
    * (see the persist note there). The swap is synchronized so two
    * racing calls can never unpersist the SAME frame twice or leak one;
    * results stay correct under concurrency regardless (deterministic-
    * recompute contract), but a call whose probe frame was released by
    * a concurrent call silently loses the persist optimization — treat
    * topKJoin as single-threaded per index instance for predictable
    * caching. */
  private val probeSwapLock = new Object
  private var prevProbes: Option[DataFrame] = None

  private def swapProbes(next: Option[DataFrame]): Unit =
    probeSwapLock.synchronized {
      prevProbes.foreach(_.unpersist(blocking = false))
      prevProbes = next
    }

  /** Release the LAST [[topKJoin]] probe frame's cache entry — without
    * this the final call's frame stays in the CacheManager until the
    * next call or session end. Call after the last result frame has
    * been fully consumed (an unpersisted probe frame recomputes
    * deterministically if re-read, so a too-early release costs work,
    * never correctness). */
  def releaseProbes(): Unit = swapProbes(None)

  def exists: Boolean = spark.catalog.tableExists(qualified(listsRef))

  /** Train the quantizer on `corpus` and (re)write both tables. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int = 5): Unit = {
    val cents = VectorOps.kmeansLloyd(corpus, vecCol, k, iters)
      .withColumnRenamed("pos", "dim")
    lake.writeBucketed(cents, centroidsRef, "cluster", 1)
    val assigned = VectorOps
      .assignClusters(corpus, loadCentroidArrays(cents), vecCol)
      .select(col("cluster"), col(idCol).as("id"), col(vecCol).as("vec"))
    lake.writeBucketed(assigned, listsRef, "cluster", numBuckets)
  }

  /** Assign a new batch against the persisted centroids and append to
    * the bucketed lists — history never moves, only the batch shuffles
    * (into its bucket files). Idempotence is the caller's business (ids
    * are not deduplicated here; compose with [[CorpusDedup]] /
    * processed-file state for exactly-once ingest — or use the DATED
    * ingest below, which is replay-idempotent by construction). With
    * PQ enabled the batch's codes land FIRST (see [[appendDated]] for
    * why that order is the safe one). */
  def append(batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val cents = loadCentroidArrays(spark.table(qualified(centroidsRef)))
    val assigned = VectorOps.assignClusters(batch, cents, vecCol)
      .select(col("cluster"), col(idCol).as("id"), col(vecCol).as("vec"))
    if (pqEnabled) {
      val cols = spark.table(qualified(pqCodesRef)).columns
      codesOf(assigned, pqCodebooks, pqResidualMode, cents)
        .select(cols.map(col).toIndexedSeq: _*)
        .write.mode(SaveMode.Append).insertInto(qualified(pqCodesRef))
      spark.catalog.refreshTable(qualified(pqCodesRef))
    }
    // insertInto is positional — align to the stored column order
    val cols = spark.table(qualified(listsRef)).columns
    assigned.select(cols.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).insertInto(qualified(listsRef))
    spark.catalog.refreshTable(qualified(listsRef)) // cross-session reads
  }

  // ---- dated lists: idempotent daily ingest + recency window + TTL -----

  /** Whether the lists table carries the `seen_date` partition layer. */
  def isDated: Boolean =
    exists && spark.table(qualified(listsRef)).columns.contains("seen_date")

  /** [[build]] with `seen_date` as a partition column ABOVE the bucket
    * files — the same layout as [[CorpusDedup]]'s dated seen-sets, and
    * the index's operational shape for a rolling crawl:
    *
    *  - [[appendDated]] lands a day by DYNAMIC PARTITION OVERWRITE, so
    *    a crashed-and-retried ingest replaces its own partition instead
    *    of duplicating vectors (blind [[append]] is at-least-once);
    *  - searches can take a RECENCY WINDOW (`minDate` on
    *    [[topK]]/[[topKJoin]]) that prunes to PartitionFilters before
    *    the bucket prune — scan cost is bounded by the window, not by
    *    index age;
    *  - [[expire]] drops aged partitions (metastore and files) — the
    *    crawl-recency TTL the dedup seen-sets already have. */
  def buildDated(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                 day: java.sql.Date, iters: Int = 5): Unit = {
    val cents = VectorOps.kmeansLloyd(corpus, vecCol, k, iters)
      .withColumnRenamed("pos", "dim")
    lake.writeBucketed(cents, centroidsRef, "cluster", 1)
    val assigned = VectorOps
      .assignClusters(corpus, loadCentroidArrays(cents), vecCol)
      .select(col("cluster"), col(idCol).as("id"), col(vecCol).as("vec"),
        lit(day).as("seen_date"))
    lake.writeBucketed(assigned, listsRef, "cluster", numBuckets,
      partitionBy = Seq("seen_date"))
  }

  /** Dynamic-partition overwrite into a catalog table — the dated
    * land primitive shared by lists and PQ codes. */
  private def dynamicOverwrite(df: DataFrame, ref: TableRef): Unit = {
    val cols = spark.table(qualified(ref)).columns
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val was = spark.conf.get(modeKey, "static")
    spark.conf.set(modeKey, "dynamic")
    try df.select(cols.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Overwrite).insertInto(qualified(ref))
    finally spark.conf.set(modeKey, was)
    spark.catalog.refreshTable(qualified(ref))
  }

  /** Land one day's vectors idempotently: assign against the persisted
    * centroids, then dynamic-partition-OVERWRITE `seen_date=day` — a
    * replay recomputes the same rows and replaces exactly its own
    * partition; an empty batch touches no partition at all (the same
    * crash-window argument as the daily ingest's land step).
    *
    * With PQ enabled the day's CODES land before the lists: a crash
    * between the two leaves codes ⊇ lists for the day, which is the
    * harmless direction — [[topKJoinPq]]'s exact-rescore join drops
    * candidate ids the lists don't hold, and the replay's overwrite
    * converges both partitions. (Lists-first would leave vectors the
    * compressed candidate stage cannot see.) */
  def appendDated(batch: DataFrame, idCol: String, vecCol: String,
                  day: java.sql.Date): Unit = {
    require(isDated, "lists table has no seen_date layer — buildDated first")
    val cents = loadCentroidArrays(spark.table(qualified(centroidsRef)))
    val assigned = VectorOps.assignClusters(batch, cents, vecCol)
      .select(col("cluster"), col(idCol).as("id"), col(vecCol).as("vec"),
        lit(day).as("seen_date"))
    if (pqEnabled)
      dynamicOverwrite(codesOf(assigned, pqCodebooks, pqResidualMode, cents),
        pqCodesRef)
    dynamicOverwrite(assigned, listsRef)
  }

  /** Drop list partitions older than `minDate` — the index's TTL tick
    * (metastore and files; under the dataset's RunLock). PQ codes age
    * out on the same clock. */
  def expire(minDate: java.sql.Date): Unit = {
    lake.expireDatePartitions(listsRef, "seen_date", minDate)
    if (pqEnabled)
      lake.expireDatePartitions(pqCodesRef, "seen_date", minDate)
  }

  /** Spark 4.1's DisableUnnecessaryBucketedScan rule drops ANY bucketed
    * scan without an "interesting partition" (join/agg on the bucket
    * column) — it never checks `optionalBucketSet`, so a bucket-PRUNED
    * probe read (`cluster IN (...)`, exactly what [[topK]] issues)
    * degrades to a full-index file scan. For an index-serving session,
    * pruning nprobe/numBuckets of the files beats the rule's one-task-
    * per-bucket concern, so probe reads pin the scan form.
    *
    * This is a SESSION-level setting, pinned at each probe call and
    * deliberately not restored: the returned frame plans lazily, so a
    * save/restore around the call would un-pin before the caller
    * executes it. Mixed workloads that also run large non-pruned
    * bucketed aggregations in the same session can re-enable
    * autoBucketedScan between index queries ([[unpinBucketedScan]]). */
  private def pinBucketedScan(): Unit =
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

  /** Re-enable the planner's bucketed-scan auto-disable for non-index
    * workloads; call after the last probe frame has been EXECUTED. */
  def unpinBucketedScan(): Unit =
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")

  /** IVF search against the persisted index. Probe ids collect to the
    * driver (≤ nprobe ints) so the list scan is an `IN`-literal filter —
    * the form bucket pruning recognizes. `vecCol` names the query
    * frame's vector column. On a dated index, `minDate` restricts the
    * search to the recency window: the date filter reaches
    * PartitionFilters, so aged directories are pruned BEFORE the bucket
    * prune and scan cost is bounded by the window, not index age. */
  def topK(queryVec: DataFrame, vecCol: String, k: Int,
           nprobe: Int = 2,
           minDate: Option[java.sql.Date] = None): DataFrame = {
    pinBucketedScan()
    val q = queryVec.select(col(vecCol).as("vec"))
    val cents = spark.table(qualified(centroidsRef))
    val probes = VectorOps.ivfListScores(cents, q, "cluster", "vec")
      .orderBy(col("csim").desc, col("cluster"))
      .limit(nprobe).select(col("cluster"))
      .collect().map(_.getInt(0)).toSeq
    val pruned = windowed(minDate)
      .filter(col("cluster").isin(probes: _*))
      .select(col("cluster"), col("id"), col("vec"))
    VectorOps.bruteForceTopK(pruned, q, "id", "vec", k)
  }

  /** The lists scan, recency-windowed when requested. `beforeDate` is
    * EXCLUSIVE — its use case is a replaying ingest that must not see
    * its own day's partition (see [[graft.lake.CorpusDedup
    * .novelSemantic]]); both bounds prune as PartitionFilters. */
  private def windowed(minDate: Option[java.sql.Date],
                       beforeDate: Option[java.sql.Date] = None): DataFrame =
    windowedOf(listsRef, minDate, beforeDate)

  /** [[windowed]] generalized over the table — the PQ codes sidecar
    * shares the seen_date layout, so it windows identically. */
  private def windowedOf(ref: TableRef, minDate: Option[java.sql.Date],
                         beforeDate: Option[java.sql.Date]): DataFrame = {
    val t = spark.table(qualified(ref))
    require(minDate.isEmpty && beforeDate.isEmpty || isDated,
      "recency window on an undated index — buildDated first")
    val lower = minDate.map(d => t.filter(col("seen_date") >= lit(d)))
      .getOrElse(t)
    beforeDate.map(d => lower.filter(col("seen_date") < lit(d)))
      .getOrElse(lower)
  }

  // ---- IVF-PQ mode: compressed candidate scan + exact rescore ----------

  /** Whether the PQ sidecars exist ([[enablePq]] ran). */
  def pqEnabled: Boolean = spark.catalog.tableExists(qualified(pqCodesRef))

  /** Turn the index into IVF-PQ: train per-subspace codebooks on a
    * deterministic hash sample of the stored vectors
    * ([[graft.functions.VectorOps.pqTrainCodebooks]]; a sample that
    * cannot seed ksub clusters falls back to the full lists) and
    * materialize the m-byte code of EVERY stored vector as a sidecar
    * table, bucketed on cluster and seen_date-partitioned exactly like
    * the lists — so [[topKJoinPq]]'s candidate stage gets the same
    * PartitionFilters + bucket prune the lists scan gets, while
    * reading ~32× fewer bytes per row (the codes column vs the
    * vector column; measured ×47 on disk incl. parquet framing).
    * Runs under the dataset's RunLock like every rewrite, and is
    * IDEMPOTENT: both writes are full overwrites derived from the
    * current lists, so a crashed or repeated enable just re-runs —
    * re-running on an already-enabled index is also how the PQ
    * codebooks themselves retrain (including switching modes). A
    * crash BETWEEN the two writes (codebooks land first) leaves codes
    * from the previous codebook generation being ranked by the new
    * one — a candidate-ORDERING degradation only, never a wrong
    * result, because every emitted score comes from the exact rescore
    * of full vectors; the re-run restores ranking quality.
    *
    * `residual = true` is IVFADC proper (Jégou et al. 2011 §IV): codes
    * quantize v − c(cluster) instead of v, so the codebooks model the
    * tighter post-assignment distribution — measurably better recall
    * at the SAME code bytes (MicroBench A/B, nprobe = all lists so the
    * IVF term cancels: recall@10 at refine 2/4 — sf0.01 0.91→0.95 /
    * 0.99→0.99, sf0.1 0.61→0.68 / 0.78→0.84).
    * The costs: candidate ranking adds one k-row broadcast join (the
    * cell centroid feeds the reconstruction v̂ = c + r̂), and a
    * [[retrain]] must also retrain the codebooks and re-encode every
    * code (residuals are defined against the new centroids), where
    * raw-mode codes survive a quantizer swap byte-identical. Default
    * stays raw for the cheaper lifecycle; prefer residual when recall
    * per byte is the constraint. */
  def enablePq(m: Int = 8, ksub: Int = 256, iters: Int = 3,
               samplePct: Int = 10, salt: Long = 0L,
               residual: Boolean = false): Unit = {
    require(exists, "no lists to quantize — build the index first")
    require(samplePct > 0 && samplePct <= 100, s"samplePct $samplePct")
    val lists = spark.table(qualified(listsRef))
    val sampled = lists
      .filter(pmod(xxhash64(col("id"), lit(salt)), lit(100L)) < samplePct)
    val train = if (sampled.limit(ksub).count() < ksub) lists else sampled
    val cents = if (residual) quantizer else IndexedSeq.empty
    // residual mode (IVFADC): codebooks model v − c(cluster) — the
    // lists already carry each vector's cell, so training residuals
    // costs one k-row broadcast join over the sample
    val cbs =
      if (residual)
        VectorOps.pqTrainCodebooksResidual(
          train.select(col("cluster"), col("vec")), cents, "vec", "cluster",
          m, ksub, iters)
      else
        VectorOps.pqTrainCodebooks(train.select(col("vec")), "vec",
          m, ksub, iters)
    val codebooks = codebookFrame(cbs, residual)
    val codes = codesOf(lists, cbs, residual, cents)
    if (pqEnabled) { // a re-run rewrites both tables in their own layout
      lake.rewriteBucketed(codebooks, pqCodebooksRef)
      lake.rewriteBucketed(codes, pqCodesRef)
    } else {
      lake.writeBucketed(codebooks, pqCodebooksRef, "block", 1)
      lake.writeBucketed(codes, pqCodesRef, "cluster", numBuckets,
        partitionBy = if (isDated) Seq("seen_date") else Nil)
    }
  }

  /** The codebooks table's row shape (one row per (block, code, dim)
    * plus the constant `residual` mode flag every consumer reads back)
    * — ONE definition feeding both the live table writer and retrain's
    * snapshot writer, so a schema change cannot silently diverge
    * between them. */
  private def codebookFrame(cbs: Seq[Seq[Seq[Double]]],
                            residual: Boolean): DataFrame = {
    val cbRows = for {
      (blk, b) <- cbs.zipWithIndex
      (cent, c) <- blk.zipWithIndex
      (v, d) <- cent.zipWithIndex
    } yield (b, c, d, v, residual)
    spark.createDataFrame(cbRows)
      .toDF("block", "code", "dim", "centroid", "residual")
  }

  /** Whether the PQ sidecar encodes residuals ([[enablePq]]'s
    * `residual = true` — IVFADC) rather than raw vectors. */
  def pqResidualMode: Boolean = {
    val t = spark.table(qualified(pqCodebooksRef))
    t.columns.contains("residual") &&
      t.select(col("residual")).head().getBoolean(0)
  }

  /** The persisted PQ codebooks as nested arrays (m × ksub × dsub —
    * config-sized, the bounded collect every ADC consumer does). */
  def pqCodebooks: Seq[Seq[Seq[Double]]] = {
    val rows = spark.table(qualified(pqCodebooksRef))
      .select(col("block"), col("code"), col("dim"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, blk) =>
      blk.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, cent) =>
        cent.sortBy(_._3).map(_._4).toIndexedSeq
      }
    }
  }

  /** (cluster, id, pq_code[, seen_date]) for a lists-shaped frame. In
    * residual mode each row's cell centroid joins in broadcast (k
    * rows) and the fused kernel encodes v − c; `cents` must then be
    * the SAME quantizer generation the frame's cluster column was
    * assigned under. */
  private def codesOf(listsShaped: DataFrame, cbs: Seq[Seq[Seq[Double]]],
                      residual: Boolean,
                      cents: Seq[Array[Double]]): DataFrame = {
    val tail =
      if (listsShaped.columns.contains("seen_date")) Seq(col("seen_date"))
      else Nil
    if (residual) {
      val centsDf = VectorOps.centroidVecFrame(spark, cents)
      listsShaped.join(broadcast(centsDf), Seq("cluster"))
        .select(Seq(col("cluster"), col("id"),
          graft.expressions.PqCodec.pq_residual_encode(
            col("vec"), col("__cvec"), cbs).as("pq_code")) ++ tail: _*)
    } else
      listsShaped.select(Seq(col("cluster"), col("id"),
        graft.expressions.PqCodec.pq_encode(col("vec"), cbs).as("pq_code"))
        ++ tail: _*)
  }

  /** [[topKJoin]] in IVF-PQ mode: the probed clusters' CODES rank the
    * candidates (fused ADC kernel — the scan reads (cluster, id,
    * pq_code), never the vectors), each query keeps its k·`refine`
    * best, and only those rows are exactly rescored from the lists —
    * a second scan pruned by the same probed clusters plus the
    * candidate id join. Same probe selection, windowing and output
    * shape as [[topKJoin]]; `refine` is the recall dial the compressed
    * path adds on top of nprobe. */
  def topKJoinPq(queries: DataFrame, qidCol: String, vecCol: String, k: Int,
                 nprobe: Int = 2, refine: Int = 4,
                 minDate: Option[java.sql.Date] = None,
                 beforeDate: Option[java.sql.Date] = None): DataFrame = {
    require(pqEnabled, "PQ sidecars missing — enablePq() first")
    require(refine >= 1, s"refine $refine must be >= 1")
    require(!Seq("id", "vec", "cluster").contains(qidCol),
      s"query id column '$qidCol' collides with an index column; alias it")
    pinBucketedScan()
    val cents = loadCentroidArrays(spark.table(qualified(centroidsRef)))
    val cbs = pqCodebooks
    val (probes, probedClusters) = probeFrame(queries, qidCol, vecCol,
      nprobe, cents)
    val codes = windowedOf(pqCodesRef, minDate, beforeDate)
      .filter(col("cluster").isin(probedClusters: _*))
      .select(col("cluster"), col("id"), col("pq_code"))
    val Wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__adc").desc, col("id"))
    // residual mode reconstructs v̂ = c + r̂, so the ranking kernel
    // needs each candidate's cell centroid — one more k-row broadcast
    // join on the cluster key the candidate frame already carries
    val scored =
      if (pqResidualMode)
        codes.join(probes, Seq("cluster"))
          .join(broadcast(VectorOps.centroidVecFrame(spark, cents)),
            Seq("cluster"))
          .select(col("qid"), col("id"), graft.expressions.PqCodec
            .pq_residual_adc_cosine(col("__qv"), col("pq_code"),
              col("__cvec"), cbs).as("__adc"))
      else
        codes.join(probes, Seq("cluster"))
          .select(col("qid"), col("id"), graft.expressions.PqCodec
            .pq_adc_cosine(col("__qv"), col("pq_code"), cbs).as("__adc"))
    val cand = scored
      .withColumn("__rk", row_number().over(Wc))
      .filter(col("__rk") <= k * refine)
      .select(col("qid"), col("id"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("__qv"),
      VectorOps.norm(col(vecCol)).as("__qn"))
    val lists = windowed(minDate, beforeDate)
      .filter(col("cluster").isin(probedClusters: _*))
      .select(col("id"), col("vec"), VectorOps.norm(col("vec")).as("__n"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    cand.join(lists, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"), VectorOps.cosinePrenormed(
        col("vec"), col("__qv"), col("__n"), col("__qn")).as("score"))
      .withColumn("rk", row_number().over(W))
      .filter(col("rk") <= k)
      .select(col("qid").as(qidCol), col("id"), col("score"), col("rk"))
  }

  /** Whether the dated lists hold ANY entry in [minDate, before) — a
    * partition-pruned limit-1 probe. [[graft.tools.DailyIngest]]'s
    * branch predicate between the semantic GATE and the bootstrap
    * path: it must depend only on PRE-`before` state, because the
    * day's own index write lands inside a crash-replay window and
    * `exists` would flip across it (a replay that switches dedup
    * policy mid-day computes a different novel set than the attempt
    * it is replaying). */
  def hasEntriesBefore(before: java.sql.Date,
                       minDate: java.sql.Date): Boolean =
    exists && isDated && !windowed(Some(minDate), Some(before)).isEmpty

  /** The persisted coarse quantizer as dense centroid arrays (k×dim
    * doubles — the bounded collect every IVF consumer does). Exposed so
    * incremental pipelines can block WITH THE INDEX'S OWN CELLS
    * ([[graft.functions.DedupOps.semanticPairsWithCentroids]]) instead
    * of retraining a throwaway quantizer per batch. */
  def quantizer: IndexedSeq[Array[Double]] =
    loadCentroidArrays(spark.table(qualified(centroidsRef)))

  /** The persisted+swapped probe frame and its distinct cluster set —
    * shared by [[topKJoin]] and [[topKJoinPq]] (identical probe
    * selection, so the compressed and exact paths search the same
    * lists). */
  private def probeFrame(queries: DataFrame, qidCol: String, vecCol: String,
                         nprobe: Int, cents: IndexedSeq[Array[Double]])
      : (DataFrame, Seq[Int]) = {
    val probes = queries.select(
      col(qidCol).as("qid"), col(vecCol).as("__qv"),
      VectorOps.norm(col(vecCol)).as("__qn"),
      explode(graft.expressions.NearestCentroid.top_cosine_centroids(
        col(vecCol), cents, nprobe)).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    swapProbes(Some(probes))
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    (probes, probedClusters)
  }

  /** Batch ANN search: top-k neighbors for EVERY row of a query FRAME in
    * one plan — the set-at-a-time twin of [[topK]], and the documented
    * default for bulk use (SemDeDup, retrieval dedup, "neighbors of a
    * million documents"). [[topK]]'s per-query probe collect makes it a
    * point-lookup API; here NO driver round-trip scales with query count:
    *
    *  1. Probe selection is MAP-SIDE. The centroid table collects once
    *     (k×dim doubles — config-sized, the bounded collect every IVF
    *     search already does); each query row ranks every centroid by
    *     cosine inside ONE fused codegen'd kernel call
    *     ([[graft.expressions.TopCosineCentroids]]) and explodes its
    *     top nprobe. No window, no shuffle of the query frame. Ranking
    *     matches [[topK]] exactly — round(cos, 4) desc, cluster asc — so
    *     both paths probe the same lists.
    *  2. The list scan still bucket-prunes: the DISTINCT probed cluster
    *     set collects once (≤ nlists ints — bounded by index config, not
    *     by query count; with many diverse queries it saturates to "all
    *     clusters", exactly when pruning stops mattering) and becomes the
    *     IN-literal filter bucket pruning recognizes. The probe frame
    *     then equi-joins the pruned lists on cluster — broadcast when
    *     small, bucket-aligned shuffle join when not; the lists side
    *     never exchanges either way. Computing the probe frame twice
    *     (once for the distinct set, once for the join) re-scans the
    *     query frame, which is shuffle-free by construction.
    *  3. Per-query top-k is one rank window over qid carrying only
    *     (qid, id, score) — vectors are projected away before the
    *     shuffle, so the sort moves ids, not embeddings.
    */
  def topKJoin(queries: DataFrame, qidCol: String, vecCol: String, k: Int,
               nprobe: Int = 2,
               minDate: Option[java.sql.Date] = None,
               beforeDate: Option[java.sql.Date] = None): DataFrame = {
    require(!Seq("id", "vec", "cluster").contains(qidCol),
      s"query id column '$qidCol' collides with an index column; alias it")
    pinBucketedScan()
    val cents = loadCentroidArrays(spark.table(qualified(centroidsRef)))
    // probe ranking = cosine desc, cluster asc — ONE fused codegen'd
    // kernel node ([[graft.expressions.TopCosineCentroids]]: score =
    // −round(cos, 4) selected ascending, Spark-Round-parity), so plan
    // size never rides k — this join serves quantizers retrained with
    // k ∝ n/500 ([[graft.tools.DailyIngest.maintain]]), where an
    // unrolled per-centroid plan would blow past codegen limits with
    // the corpus and the earlier `transform`-lambda shape paid k
    // interpreted dot products per query row. The order matches
    // [[topK]]'s ivfListScores ranking: both round to 4 dp, which
    // absorbs their sub-ulp summation-order differences.
    // persisted: the frame is consumed TWICE — the distinct-cluster
    // collect below and the list join — and recomputing it would
    // re-evaluate the query frame (expensive when it is a subquery,
    // and k dot products per row regardless). The cache entry is
    // BOUNDED per index instance: each call releases the previous
    // call's probe frame, so a daily caller does not accumulate
    // CacheManager entries for the life of the session. A still-
    // pending earlier result frame then RECOMPUTES its probes at
    // execution — correct because query frames are DETERMINISTIC
    // (the engine convention: hash-based sampling, no rand()/limit-
    // without-order); a nondeterministic query frame could recompute
    // probes that disagree with its already-collected cluster IN-list
    // and silently lose neighbors, so that contract is load-bearing.
    val (probes, probedClusters) = probeFrame(queries, qidCol, vecCol,
      nprobe, cents)
    val lists = windowed(minDate, beforeDate)
      .filter(col("cluster").isin(probedClusters: _*))
      .select(col("cluster"), col("id"), col("vec"))
      .withColumn("__n", VectorOps.norm(col("vec")))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    lists.join(probes, Seq("cluster"))
      .select(col("qid"), col("id"),
        VectorOps.cosinePrenormed(col("vec"), col("__qv"),
          col("__n"), col("__qn")).as("score"))
      .withColumn("rk", row_number().over(W))
      .filter(col("rk") <= k)
      .select(col("qid").as(qidCol), col("id"), col("score"), col("rk"))
  }

  /** Fold per-append list files back down, preserving the bucket
    * layout (maintenance tick, under the dataset's RunLock — same
    * contract as [[CorpusDedup]]'s seen-set compaction). The PQ codes
    * sidecar accumulates files at the same per-append rate and folds
    * on the same tick. */
  def compact(): Unit = {
    lake.compactBucketed(listsRef)
    if (pqEnabled) lake.compactBucketed(pqCodesRef)
  }

  /** Rows currently stored in the lists (maintenance k-sizing). */
  def storedCount: Long = spark.table(qualified(listsRef)).count()

  /** MEASURED recall@k of the served index against brute-force truth
    * over its own lists — q95's check packaged as an index method, the
    * trigger for drift-driven [[retrain]]. Queries are a DETERMINISTIC
    * xxhash64 sample of `nQueries` stored vectors (no rand(), same
    * sample every tick ⇒ comparable across days); truth is the same
    * [[topKJoin]] plan probing EVERY list (nprobe = nlists is exact by
    * construction). Both sides run set-at-a-time; only the scalar
    * rollup collects, so the check costs two bounded joins regardless
    * of corpus size. */
  def measuredRecall(nQueries: Int = 16, k: Int = 10,
                     nprobe: Int = 2): Double = {
    pinBucketedScan()
    val queries = spark.table(qualified(listsRef))
      .select(col("id").as("qid"), col("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(nQueries)
    val nLists = spark.table(qualified(centroidsRef))
      .select(col("cluster")).distinct().count().toInt
    val got = topKJoin(queries, "qid", "vec", k, nprobe)
      .select(col("qid"), col("id"))
    val truth = topKJoin(queries, "qid", "vec", k, nprobe = nLists)
      .select(col("qid"), col("id"))
    val denom = truth.count()
    if (denom == 0L) 1.0
    else got.join(truth, Seq("qid", "id")).count().toDouble / denom
  }

  /** Retrain the coarse quantizer on the CURRENT corpus and reassign
    * every list entry — the maintenance tick that completes the index
    * lifecycle. [[append]] assigns against frozen centroids (FAISS's
    * add-after-train contract); months of distribution drift decay
    * recall silently, because new vectors crowd whichever old lists
    * happen to be nearest and queries from the drifted region split
    * their true neighbors across un-probed lists. Runs under the
    * dataset's RunLock like [[compact]] — single writer, no serving
    * reads mid-swap.
    *
    * Cost shape at 100 TB: training reads a DETERMINISTIC hash-sample
    * of the lists (`samplePct`; Lloyd is O(sample·k·iters) and past a
    * few million points more sample buys centroid precision the 4-dp
    * rounding discards anyway — falls back to the full corpus when the
    * sample cannot seed k clusters), and reassignment is one codegen'd
    * k-dot-products pass over the full lists feeding the same bucketed
    * writer as [[build]] — one corpus rewrite, the unavoidable floor
    * for a quantizer swap, and strictly cheaper than build-from-raw
    * because the vectors are already in list form.
    *
    * Crash safety: new centroids AND reassigned lists (and PQ codes)
    * land in a side snapshot first, committed by a marker written only
    * after every parquet dir completes; the live tables are rewritten
    * only from a committed snapshot, each by [[Lake.rewriteBucketed]]'s
    * write-aside-and-swap, which never drops a table's catalog entry
    * (heal-on-entry replays the whole snapshot after a crash between
    * rewrites, uncommitted debris is discarded), so the centroid and
    * list tables can never disagree about which quantizer generation
    * they belong to. */
  def retrain(k: Int, iters: Int = 5, samplePct: Int = 10,
              salt: Long = 0L): Unit = {
    import org.apache.hadoop.fs.Path
    require(samplePct > 0 && samplePct <= 100, s"samplePct $samplePct")
    val snapRoot = new Path(lake.path(listsRef) + ".retrain")
    val fs = snapRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(snapRoot, "_COMMIT")
    val centsSnap = new Path(snapRoot, "centroids").toString
    val listsSnap = new Path(snapRoot, "lists").toString
    val codesSnap = new Path(snapRoot, "codes").toString
    val cbSnap = new Path(snapRoot, "codebooks").toString

    // PQ sidecars: the reassignment moved cluster ids, so the codes
    // rewrite from their own snapshot under the same marker — lists and
    // codes can never disagree about the quantizer generation (pq_code
    // bytes themselves are cluster-independent); residual mode also
    // snapshots RETRAINED codebooks (residuals are defined against the
    // new centroids, so the old codebooks would model a stale
    // distribution)
    def rewriteFromSnapshot(): Unit = {
      Seq(centsSnap -> centroidsRef, listsSnap -> listsRef,
        codesSnap -> pqCodesRef, cbSnap -> pqCodebooksRef).foreach {
        case (snap, ref) => if (fs.exists(new Path(snap)))
          lake.rewriteBucketed(spark.read.parquet(snap), ref)
      }
      fs.delete(snapRoot, true)
    }

    if (fs.exists(marker)) { rewriteFromSnapshot(); return } // heal
    fs.delete(snapRoot, true)

    val carried =
      Seq(col("id"), col("vec")) ++
        (if (isDated) Seq(col("seen_date")) else Nil)
    val corpus = spark.table(qualified(listsRef)).select(carried: _*)
    val sampled = corpus
      .filter(pmod(xxhash64(col("id"), lit(salt)), lit(100L)) < samplePct)
    // the sample must be able to seed k distinct clusters
    val train = if (sampled.limit(k).count() < k) corpus else sampled
    val cents = VectorOps.kmeansLloyd(train, "vec", k, iters)
      .withColumnRenamed("pos", "dim")
    cents.write.mode(SaveMode.Overwrite).parquet(centsSnap)
    val newCents = loadCentroidArrays(spark.read.parquet(centsSnap))
    VectorOps.assignClusters(corpus, newCents, "vec")
      .select(col("cluster") +: carried: _*)
      .write.mode(SaveMode.Overwrite).parquet(listsSnap)
    if (pqEnabled) {
      val snap = spark.read.parquet(listsSnap)
      if (pqResidualMode) {
        // residuals changed with the quantizer: retrain the codebooks
        // on the reassigned sample, then re-encode everything — both
        // land in the snapshot, committed atomically with the lists
        val cbs0 = pqCodebooks
        val m = cbs0.size
        val ksub = cbs0.head.size
        val cbTrain = {
          val s = snap
            .filter(pmod(xxhash64(col("id"), lit(salt)), lit(100L)) < samplePct)
          if (s.limit(ksub).count() < ksub) snap else s
        }
        val newCbs = VectorOps.pqTrainCodebooksResidual(
          cbTrain.select(col("cluster"), col("vec")), newCents, "vec",
          "cluster", m, ksub)
        codebookFrame(newCbs, residual = true)
          .write.mode(SaveMode.Overwrite).parquet(cbSnap)
        codesOf(snap, newCbs, residual = true, newCents)
          .write.mode(SaveMode.Overwrite).parquet(codesSnap)
      } else
        // raw-vector codes are cluster-independent: same codebooks,
        // same bytes — only the cluster tags move with the lists
        codesOf(snap, pqCodebooks, residual = false, Nil)
          .write.mode(SaveMode.Overwrite).parquet(codesSnap)
    }
    fs.create(marker).close()
    rewriteFromSnapshot()
  }

  /** The probed-list scan [[topK]] runs, for plan inspection/tests. */
  def prunedScan(probes: Seq[Int]): DataFrame = {
    pinBucketedScan()
    spark.table(qualified(listsRef)).filter(col("cluster").isin(probes: _*))
  }

  /** (cluster, dim, centroid) rows → dense arrays indexed by cluster —
    * k×dims doubles, the bounded collect every IVF search/build does. */
  private def loadCentroidArrays(cents: DataFrame): IndexedSeq[Array[Double]] =
    VectorOps.centroidArrays(cents, posCol = "dim")
}

object AnnIndex {

  /** Build a THROWAWAY index over `corpus` in a temp lake, run `f`
    * against it, and tear everything down — the bucketed-scan pin is
    * unpinned, the catalog database dropped, and the temp dir deleted
    * even when `f` throws (a leaked pin would silently re-plan every
    * later query in the session). The scaffold for measurement
    * harnesses (recall sweeps, scale probes); a SERVED index wants the
    * durable constructor above instead. */
  def withScratchIndex[T](spark: SparkSession, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          numBuckets: Int, iters: Int = 3)
                         (f: AnnIndex => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("ann_scratch").toString
    val dataset = s"annscratch_${java.lang.Long.toHexString(System.nanoTime())}"
    val idx = new AnnIndex(spark, new Lake(spark, tmp), dataset, numBuckets)
    try {
      idx.build(corpus, idCol, vecCol, k, iters)
      f(idx)
    } finally {
      idx.releaseProbes()
      idx.unpinBucketedScan()
      spark.sql(s"DROP DATABASE IF EXISTS state_$dataset CASCADE")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
