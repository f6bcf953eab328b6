package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Designed for the 100 TB path:
  *
  *  - exact dedup is one hash-shuffle with map-side partial aggregation;
  *  - MinHash signatures are computed in a single explode→groupBy pass
  *    (partial min per mapper, tiny shuffle);
  *  - LSH candidates group docs by band key, with the keys computed in
  *    the scan projection — no O(n²) comparison ever materializes;
  *  - Jaccard verification runs only on LSH candidates, in one shuffle
  *    keyed by pair.
  *
  * Hashing is md5-based so results are portable across engines (the
  * DuckDB oracle computes the identical signatures): min over md5 hex
  * strings of seed-prefixed shingles is a valid MinHash family because
  * md5 is uniform and hex ordering is a total order.
  */
object DedupOps {

  /** Exact dedup: survivor (min id) per content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** One (doc, shingle) row per shingle occurrence, via the native
    * [[graft.expressions.Shingles]] expression: the n-gram array is
    * built inside the scan (codegen'd, one pass over the text), so
    * NOTHING shuffles before the signature's partial aggregation. The
    * earlier encoding (posexplode + lead window) had to shuffle+sort
    * every word occurrence just to line up neighbors; an
    * array-transform HOF would be interpreted (CodegenFallback). No
    * distinct: min-aggregation is duplicate-insensitive. */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.expressions.Shingles.shingles(col(textCol), n)).as("shingle"))

  /** LSH band keys computed entirely INSIDE one row: text → array of
    * numBands md5 band keys, ordered by band index. Value-identical to
    * `lshBands(minhashSignature(df, …), …)`— same seed-prefixed md5
    * lanes, same 15-hex-prefix longs, same band md5 — so keys from this
    * path join/dedup interchangeably with batch-built band tables
    * ([[graft.lake.CorpusDedup]]'s seen_bands). Band keys come out of the
    * scan projection itself, with no signature groupBy, so this is the
    * candidate path ([[lshCandidatePairs]]) as well as the STREAMING one
    * (where a groupBy signature would be a second stateful operator).
    * Measured on 4 cores over the 500-doc fixture, through a checksum
    * sink: q52's candidate pairs went 6 → 5 jobs and 0.39 → 0.24 s
    * median, and q59 went 15 → 10 jobs and 1.05 → 0.65 s with the
    * pair-keyed verify. The signature path stays for signature outputs
    * (q51, q135, CorpusDedup's band tables).
    * A document shorter than one shingle yields an EMPTY array (the
    * batch path has no signature row for it either). */
  def bandKeysPerRow(text: Column, numHashes: Int = 8, rowsPerBand: Int = 2,
                     shingleSize: Int = 3): Column =
    // one fused native pass ([[graft.expressions.BandKeys]]) — replaces
    // numHashes interpreted `transform` lanes over the shingle array.
    // The streaming↔batch band-key equality CorpusDedup interop depends
    // on is pinned by the randomized property test against
    // lshBands(minhashSignature(…)), which shares no code with the
    // kernel — byte-level parity is proven, not assumed. The coalesce
    // preserves this method's original contract for NULL text: an
    // empty array, like a shingle-less document (the raw SQL function
    // `band_keys` is null-in→null-out, standard expression semantics).
    coalesce(
      graft.expressions.BandKeys.band_keys(text, numHashes, rowsPerBand,
        shingleSize),
      array().cast("array<string>"))

  /** MinHash signature: numHashes seed-prefixed md5-min aggregations in a
    * single groupBy pass over scan-local shingles — the shuffle carries
    * only the partial mins (numHashes values per id per partition), not
    * the shingle stream. Returns idCol, h0..h{k-1}. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, shingleSize: Int = 3): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(h64(col("shingle"), i)).as(s"h$i"))
    explodedShingles(df, idCol, textCol, shingleSize)
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** One MinHash lane: the top 60 bits of md5(seed|shingle) as a LONG.
    * Still a valid MinHash family (uniform, totally ordered, and for
    * fixed-width hex the numeric order IS the lexicographic order), but
    * min(LONG) has a fixed-width mutable buffer → the signature agg runs
    * as HashAggregate (no per-partition sort), where min(STRING) would
    * fall back to SortAggregate. 15 hex chars keep it inside a signed
    * 64-bit so both engines agree (DuckDB: CAST('0x'||… AS BIGINT));
    * the hex→long step is the native [[graft.expressions.HexPrefixToLong]]
    * (conv() routes through generic radix conversion, measured 1.8×
    * slower over a signature scan). */
  private def h64(c: Column, seed: Int): Column =
    graft.expressions.HexPrefixToLong.hex_prefix_to_long(
      md5(concat_ws("|", lit(seed), c)), 15)

  /** Band key from a band's lane columns — the BATCH path's encoding
    * ([[lshBands]]). The per-row/streaming path computes the identical
    * key natively ([[graft.expressions.BandKeys]]); their equality is
    * pinned by the randomized property test against this path, which
    * shares no code with the kernel — change either side and the test
    * is the drift alarm. */
  private def bandKeyOf(lanes: Seq[Column]): Column =
    md5(concat_ws("|", lanes: _*))

  /** One (band_idx, band_key) struct per band — the ONE derivation the
    * plain, sig-carrying, and pair paths all explode, so the band-key
    * convention cannot drift between the candidate and verified gates. */
  private def bandStructs(numHashes: Int, rowsPerBand: Int): Seq[Column] =
    (0 until numHashes / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"), bandKeyOf(cols).as("band_key"))
    }

  /** LSH banding: band key = md5 of the concatenated hashes in the band.
    * Returns idCol, band_idx, band_key. Single pass over the signature
    * (explode of a band array) — a unionAll of per-band selects would
    * recompute the signature subtree once per band. */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int = 8,
               rowsPerBand: Int = 2): DataFrame = {
    sig.select(col(idCol),
        explode(array(bandStructs(numHashes, rowsPerBand): _*)).as("band"))
      .select(col(idCol), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
  }

  /** [[lshBands]] with the signature lanes RETAINED on every band row —
    * the layout of the VERIFIED cross-run near-dup gate
    * ([[graft.lake.CorpusDedup.novelNearDupVerifiedSince]]): the band
    * key prescreens candidates, the lanes riding the same row decide.
    * Returns idCol, band_idx, band_key, h0..h{k-1}. */
  def lshBandsWithSig(sig: DataFrame, idCol: String, numHashes: Int = 8,
                      rowsPerBand: Int = 2): DataFrame = {
    val lanes = (0 until numHashes).map(i => col(s"h$i"))
    sig.select(col(idCol) +:
        explode(array(bandStructs(numHashes, rowsPerBand): _*)).as("band") +:
        lanes: _*)
      .select(col(idCol) +: col("band.band_idx").as("band_idx") +:
        col("band.band_key").as("band_key") +: lanes: _*)
  }

  /** Candidate near-dup pairs: docs sharing any band bucket, with id_a <
    * id_b. The band keys come out of the scan projection
    * ([[bandKeysPerRow]]), so the corpus is read once and nothing
    * shuffles before the bucket groupBy; the keys are the ones
    * `lshBands(minhashSignature(…))` builds (property-tested), so the
    * pairs are too — for unique ids. A repeated id contributes each of
    * its rows' keys here, where the signature path would take one
    * signature over the union of its rows' shingles.
    *
    * `starBucketThreshold` is the viral-duplicate guard, see
    * [[bucketPairs]]. Default Int.MaxValue = exact behavior everywhere. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, rowsPerBand: Int = 2,
                        shingleSize: Int = 3,
                        starBucketThreshold: Int = Int.MaxValue): DataFrame =
    bucketPairs(docs.select(col(idCol),
        posexplode(bandKeysPerRow(col(textCol), numHashes, rowsPerBand,
          shingleSize)).as(Seq("band_idx", "band_key"))),
      idCol, starBucketThreshold)

  /** Distinct (id_a < id_b) pairs of ids sharing a (band_idx, band_key)
    * bucket — the tail of MinHash-LSH and SimHash banding.
    *
    * One groupBy on (band_idx, band_key) collects each bucket's members,
    * then pairs are generated inside the bucket, so the pair expansion is
    * bounded by bucket size, never corpus size. DISTINCT collapses pairs
    * found by several bands.
    *
    * `starBucketThreshold` is the viral-duplicate guard for 100 TB: a
    * boilerplate page repeated 1M times lands in ONE bucket and the
    * quadratic expansion would emit 5·10¹¹ pairs from a single group
    * task. Buckets above the threshold switch to a STAR expansion —
    * (min id, member) pairs only, linear in bucket size. For the
    * keep-min dedup policy this is lossless whenever the over-cap bucket
    * is a true duplicate cluster (every member verifies against the
    * min); member↔member pairs not involving the min are only dropped
    * for buckets past the cap, and other bands can still surface them.
    * It does not bound the bucket's COLLECTION: collect_set still
    * gathers the whole group in one task (see simhashPairs'
    * collapseIdentical). */
  private def bucketPairs(bands: DataFrame, idCol: String,
                          starBucketThreshold: Int): DataFrame = {
    require(starBucketThreshold >= 2, "starBucketThreshold must be >= 2")
    // ids are sorted ascending, so ids[0] is the bucket's min id. The
    // star branch is an interpreted HOF — fine, it runs only on the rare
    // over-cap buckets; the codegen SortedPairs handles the bulk.
    val star = expr(
      "transform(slice(ids, 2, size(ids) - 1), x -> struct(ids[0] AS id_a, x AS id_b))")
    val pairsCol =
      if (starBucketThreshold == Int.MaxValue)
        graft.expressions.SortedPairs.sorted_pairs(col("ids"))
      else
        when(size(col("ids")) <= starBucketThreshold,
          graft.expressions.SortedPairs.sorted_pairs(col("ids")))
          .otherwise(star)
    bands.groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      // native codegen pair expansion — the HOF encoding
      // (flatten∘transform∘slice) is interpreted and allocates a slice
      // per element; see expressions.SortedPairs
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** [[lshCandidatePairs]] with BOTH signatures carried on every pair —
    * the input of lane-agreement verification ([[q135]]'s shape and the
    * batch form of the verified cross-run gate) without re-deriving or
    * joining the signature frame back: the sig subtree is computed
    * ONCE and rides the bucket collect (a join-back re-scans the
    * corpus per side and needs the sig frame shuffled or broadcast —
    * neither survives 10^10 docs). Pair expansion is an interpreted
    * HOF here (members are structs, outside [[SortedPairs]]' long-array
    * kernel) — acceptable because it runs per over-1 bucket, bounded
    * by bucket size like the candidate path. Returns
    * (id_a, id_b, a0..a{k-1}, b0..b{k-1}). */
  def lshCandidatePairsWithSig(sig: DataFrame, idCol: String,
                               numHashes: Int = 8, rowsPerBand: Int = 2,
                               starBucketThreshold: Int = Int.MaxValue)
      : DataFrame = {
    require(starBucketThreshold >= 2, "starBucketThreshold must be >= 2")
    val bands = lshBandsWithSig(sig, idCol, numHashes, rowsPerBand)
    val member = struct(col(idCol).as("id") +:
      (0 until numHashes).map(i => col(s"h$i")): _*)
    val all = expr(
      """flatten(transform(ms, (a, i) ->
        |  transform(slice(ms, i + 2, size(ms) - i - 1),
        |    b -> struct(a AS a, b AS b))))""".stripMargin)
    val star = expr(
      "transform(slice(ms, 2, size(ms) - 1), x -> struct(ms[0] AS a, x AS b))")
    val pairsCol =
      if (starBucketThreshold == Int.MaxValue) all
      else when(size(col("ms")) <= starBucketThreshold, all).otherwise(star)
    bands.groupBy(col("band_idx"), col("band_key"))
      // struct ordering is field order and `id` leads, so the sorted
      // set pairs ascending ids, like the candidate path
      .agg(sort_array(collect_set(member)).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(pairsCol).as("p"))
      .select(col("p.a.id").as("id_a") +: col("p.b.id").as("id_b") +:
        ((0 until numHashes).map(i => col(s"p.a.h$i").as(s"a$i")) ++
          (0 until numHashes).map(i => col(s"p.b.h$i").as(s"b$i"))): _*)
      .distinct()
  }

  /** Truncate iterative/reused lineage. Default is `localCheckpoint`
    * (executor block storage — fast, but NON-reliable: losing an
    * executor mid-job forces a full job retry). For 1000-executor runs
    * where executor loss is routine, pass `reliableCheckpointDir` to
    * write checkpoints to shared storage (HDFS/object store) instead —
    * same results, executor-loss-tolerant.
    *
    * Checkpoint lifecycle is the CALLER's: files must outlive every
    * downstream consumption of the returned frame, so nothing here can
    * know when deletion is safe (Spark's own cleaner is off by default
    * for the same reason). Point reliableCheckpointDir at a run-scoped
    * directory and delete it after results are materialized. */
  // Checkpoint dirs THIS module pointed the context at (setCheckpointDir
  // appends a /<uuid>, so membership is a boundary-prefix test).
  private val ownCheckpointDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ownedCheckpointDir(d: String): Boolean = {
    val it = ownCheckpointDirs.iterator()
    var owned = false
    while (!owned && it.hasNext) {
      val o = it.next()
      owned = d == o || d.startsWith(o + "/")
    }
    owned
  }

  private def materialize(df: DataFrame, reliableCheckpointDir: Option[String]): DataFrame =
    materializeFrame(df, reliableCheckpointDir, eager = true)

  /** [[materialize]] with the eagerness exposed — the ingest tick
    * ([[graft.tools.DailyIngest]]) checkpoints its gate-chain frames
    * LAZILY (the first consumer materializes them under its own job
    * label) but needs the same reliable-vs-local dispatch and
    * checkpoint-dir ownership discipline as the eager path. */
  private[graft] def materializeFrame(df: DataFrame,
                                      reliableCheckpointDir: Option[String],
                                      eager: Boolean): DataFrame =
    reliableCheckpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir stores dir/<uuid> FS-QUALIFIED ("file:/x" for
        // a bare "/x"): qualify our side the same way or no compare ever
        // matches and every call re-points onto a fresh orphaned uuid
        // dir. Then compare by path-boundary prefix (bare startsWith
        // would accept sibling "/data/ckpt-old" for dir "/data/ckpt";
        // equality alone never holds past the uuid).
        val hp = new org.apache.hadoop.fs.Path(dir)
        val qualified = hp.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(hp).toString.stripSuffix("/")
        val boundary = qualified + "/"
        sc.getCheckpointDir match {
          case Some(d) if d == qualified || d.startsWith(boundary) => ()
          case Some(d) if !ownedCheckpointDir(d) =>
            // the checkpoint dir is SparkContext-GLOBAL: silently
            // re-pointing a dir the CALLER set would land their other
            // jobs' checkpoints in this run's directory — deleted with
            // it after the run. Moving between OUR OWN run-scoped dirs
            // (the documented lifecycle) stays legal.
            throw new IllegalStateException(
              s"SparkContext checkpoint dir already set to $d by the " +
                s"caller; refusing to re-point it to $dir — pass that " +
                "dir as reliableCheckpointDir or unset the context's value")
          case _ =>
            sc.setCheckpointDir(dir)
            ownCheckpointDirs.add(qualified)
        }
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** Shared verify-stage overlap frame: (id_a, id_b, n_inter, sz_a,
    * sz_b) — the DISTINCT space-split tokens of each pair member and
    * their intersection, counted in ONE shuffle keyed by pair.
    *
    * The pairs explode once into membership rows (pk, id, side); an
    * inner join to each doc's distinct-token array prunes the corpus to
    * pair members (AQE picks the join: a small membership side
    * broadcasts, a pair-dense one shuffles); the groupBy on pk unions
    * each side's arrays over the id's rows, so a repeated id's set is
    * the union over its rows. Pairs where either side has no token
    * (null text, a missing id) are dropped. Every shuffle carries a pair
    * member's token array, never a row per (pair, token). */
  private def pairOverlaps(docs: DataFrame, idCol: String, textCol: String,
                           pairs: DataFrame): DataFrame = {
    val membership = pairs.select(struct(col("id_a"), col("id_b")).as("pk"),
        explode(array(
          struct(col("id_a").as(idCol), lit(true).as("side")),
          struct(col("id_b").as(idCol), lit(false).as("side")))).as("m"))
      .select(col("pk"), col(s"m.$idCol").as(idCol), col("m.side").as("side"))
    val toks = docs.select(col(idCol),
      array_distinct(split(col(textCol), " ")).as("toks"))
    // collect_list skips the other side's nulls (and a null text's)
    def tokenSet(side: Column): Column =
      array_distinct(flatten(collect_list(when(side, col("toks")))))
    membership.join(toks, idCol)
      .groupBy(col("pk"))
      .agg(tokenSet(col("side")).as("a"), tokenSet(!col("side")).as("b"))
      .select(col("pk.id_a").as("id_a"), col("pk.id_b").as("id_b"),
        size(array_intersect(col("a"), col("b"))).as("n_inter"),
        size(col("a")).as("sz_a"), size(col("b")).as("sz_b"))
      .filter(col("sz_a") > 0 && col("sz_b") > 0)
  }

  /** Exact token-set Jaccard for a set of candidate (id_a, id_b) pairs
    * over `docs`' space-split `textCol` (the LSH verify stage, see
    * [[pairOverlaps]]). */
  def jaccardForPairs(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame): DataFrame =
    pairOverlaps(docs, idCol, textCol, pairs)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter"))).as("jaccard"))

  /** Exact token-set CONTAINMENT |A∩B| / min(|A|,|B|) for candidate
    * pairs — the asymmetric twin of Jaccard: a short document wholly
    * embedded in a long one scores ~1 here while its Jaccard stays low
    * (sub-document duplication, the case near-dup thresholds on Jaccard
    * systematically miss). Same joins/shuffles as [[jaccardForPairs]]. */
  def containmentForPairs(docs: DataFrame, idCol: String, textCol: String,
                          pairs: DataFrame): DataFrame =
    pairOverlaps(docs, idCol, textCol, pairs)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          least(col("sz_a"), col("sz_b"))).as("containment"))

  /** Survivor selection: drop every doc that appears as the GREATER id of
    * a verified near-dup pair (pairs are emitted id_a < id_b, so min-id
    * survives its cluster transitively for chains discovered by LSH).
    * One anti-join — no connected-components pass needed for the
    * keep-smallest policy. */
  def dropNearDuplicates(df: DataFrame, idCol: String, verifiedPairs: DataFrame,
                         jaccardThreshold: Double = 0.8): DataFrame = {
    val losers = verifiedPairs
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: Hamming-LSH banding over `bits`-wide
    * fingerprints (4 bands — two fingerprints within Hamming distance 3
    * MUST agree on at least one whole band by pigeonhole, so banding is
    * exact at maxHamming ≤ 3), then the exact Hamming distance filters
    * the candidates. Bucket math is why the width matters: a band has
    * 2^(bits/4) possible values, so 64-bit fingerprints (16-bit bands,
    * 65k values) keep buckets collision-bounded where a 16-bit
    * fingerprint's 4-bit bands (16 values) grow linearly with the
    * corpus and go quadratic. Same plan family as MinHash-LSH: a
    * groupBy per band bucket and in-bucket
    * [[graft.expressions.SortedPairs]] expansion. */
  def simhashPairs(sim: DataFrame, idCol: String, bits: Int = 64,
                   maxHamming: Int = 3,
                   starBucketThreshold: Int = Int.MaxValue,
                   collapseIdentical: Boolean = false): DataFrame = {
    if (collapseIdentical) {
      // DEGENERATE-FINGERPRINT COLLAPSE — the media-scale regime where
      // identical hashes are the NORM (solid frames dHash to 0, silence
      // audio-hashes to 0; 20%+ of a real frame corpus). The star cap
      // bounds the pair EXPANSION of such a bucket but not its
      // COLLECTION: sort_array(collect_set(ids)) still gathers the
      // whole viral group into ONE aggregation buffer — 0.2n ids in a
      // single task's memory at corpus scale. Collapsing first fixes
      // the buffer too: identical fingerprints fold to their min-id
      // representative through a map-side-partial hash agg (the q50
      // exact-dedup shape — no per-group buffer anywhere), members
      // emit (rep, member, hamming=0) star pairs via a JOIN (no
      // collect), and the band machinery runs over DISTINCT
      // fingerprints only. Lossless for keep-min survivor selection
      // and connected-components clustering (spec-pinned): stars link
      // every member to its rep, rep↔rep pairs link nearby groups.
      // NOT pair-complete — member↔member pairs across two nearby
      // groups are represented only through their reps — so
      // pair-complete consumers (video frame-overlap counting) must
      // keep the exact path.
      val reps = sim.groupBy(col("simhash")).agg(min(col(idCol)).as("__rep"))
      val stars = sim.join(reps, Seq("simhash"))
        .filter(col(idCol) =!= col("__rep"))
        .select(col("__rep").as("id_a"), col(idCol).as("id_b"),
          lit(0L).as("hamming"))
      val repPairs = simhashPairs(
        reps.select(col("__rep").as(idCol), col("simhash")),
        idCol, bits, maxHamming, starBucketThreshold)
      return stars.union(repPairs)
    }
    val w = bits / 4
    val bands = sim.select(col(idCol), explode(array((0 until 4).map(b =>
      struct(lit(b).as("band_idx"),
        substring(col("simhash"), b * w + 1, w).as("band_key"))): _*)).as("band"))
      .select(col(idCol), col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
    // VIRAL-BUCKET guard, [[bucketPairs]]' star expansion: 16-bit
    // bands keep RANDOM collisions bounded, but
    // IDENTICAL fingerprints share all four bands and pile into one
    // bucket — and identical hashes are the COMMON case off text
    // (solid/black frames all dHash to 0, silence audio-hashes to 0),
    // where the quadratic expansion would explode. Over-cap buckets
    // emit (min id, member) star pairs — lossless for keep-min dedup
    // when the over-cap bucket is a cluster of IDENTICAL fingerprints
    // (the degenerate case that causes the pile-up: every member
    // verifies against the min at Hamming 0); distinct fingerprints
    // merely sharing the band lose member↔member pairs past the cap,
    // and the other three bands can still surface those. Default
    // Int.MaxValue = exact everywhere. KNOW THE CAP'S LIMIT (probed,
    // PLANS.md r11): it linearizes a bucket only once it CROSSES the
    // threshold — a sub-cap identical group still expands
    // quadratically, and collect_set still buffers the whole group in
    // one task either way. Dedup/clustering consumers should prefer
    // collapseIdentical, which is linear and buffer-bounded at EVERY
    // group size — the media wrappers
    // ([[graft.multimodal.Multimodal.imageNearDupPairs]]/
    // audioNearDupPairs) default to it since round 12; this primitive
    // keeps the exact default because its oracle-checked text callers
    // (q71) and pair-complete consumers enumerate the full pair set.
    val cand = bucketPairs(bands, idCol, starBucketThreshold)
    val a = sim.select(col(idCol).as("id_a"), col("simhash").as("__sa"))
    val b = sim.select(col(idCol).as("id_b"), col("simhash").as("__sb"))
    val hamming = (1 to bits).map(i =>
      when(substring(col("__sa"), i, 1) =!= substring(col("__sb"), i, 1), 1)
        .otherwise(0)).reduce(_ + _)
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Distributed connected components over an undirected pair list:
    * (node, component = min node id reachable). Min-label propagation
    * with POINTER JUMPING each round (comp := comp's comp), so chains
    * collapse in O(log n) rounds rather than graph-diameter rounds; each
    * round is two shuffles on bounded frames and a checkpoint truncates
    * the iterative lineage (no exponential plan growth). Default
    * `localCheckpoint` (fast, executor-block storage); pass
    * `reliableCheckpointDir` for executor-loss-tolerant checkpoints on
    * shared storage — the 1000-executor posture.
    * Converges when no label moves — checked with a cheap limit-1 probe.
    * This is the transitive closure q59's min-id survivor policy skips:
    * use it when near-dup CLUSTERS (not just survivors) are the output. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 25,
                          reliableCheckpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Reliable checkpoints are FILES: every downstream action re-reads
    // them from storage, and this loop consumes edges once per round and
    // each round's propagated frame twice (the pointer-jump self-join).
    // A persist on top of the checkpoint caches the blocks so per-round
    // consumption is a cache read, not a file re-scan — the scan-amp
    // cut. localCheckpoint already lives in block storage, so the extra
    // Dataset-level cache entry is skipped there.
    val reliable = reliableCheckpointDir.isDefined
    def cached(df: DataFrame): DataFrame =
      if (reliable) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    def release(df: DataFrame): Unit =
      if (reliable) df.unpersist(blocking = false)
    // The symmetric-closure union reads the pair subtree twice, but a
    // pre-checkpoint of it is NOT worth the extra materialization:
    // every engine caller's pair frame ends in an exchange (distinct),
    // so ReusedExchange already computes the subtree once across both
    // branches — measured on the sfx1.0 decade, inserting the extra
    // checkpoint layer moved q114 scan-amp ×162→×185 for zero wall or
    // shuffle change. The single edges checkpoint below is the
    // lineage-truncation point.
    val edges = cached(materialize(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
        .distinct(), reliableCheckpointDir))
    var labels = cached(materialize(
      edges.select(col("src").as("node")).distinct()
        .withColumn("comp", col("node")), reliableCheckpointDir))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("dcomp")).as("ncomp"))
      // consumed twice by the self-join below — persist (in BOTH modes:
      // this frame is derived, not checkpointed) so the propagation
      // join+agg runs once per round, not twice
      val propagated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val jumped = cached(materialize(propagated
        .join(propagated.select(col("node").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left")
        .select(col("node"), coalesce(col("cc"), col("comp")).as("comp")),
        reliableCheckpointDir))
      propagated.unpersist(blocking = false) // materialize() is eager
      converged = jumped.join(labels.withColumnRenamed("comp", "old"), "node")
        .filter(col("comp") =!= col("old")).limit(1).isEmpty
      release(labels) // superseded checkpoint cache — jumped replaces it
      labels = jumped
      i += 1
    }
    release(edges)
    // the final labels frame stays checkpointed (the caller reads files
    // once); releasing its cache entry keeps repeated calls from
    // accumulating CacheManager state for the life of the session
    release(labels)
    labels
  }

  /** SemDeDup at corpus scale — embedding near-dup clustering with pair
    * generation blocked by a TRAINED coarse quantizer whose k grows with
    * the corpus (k = n/`perCellDivisor`, Abbas et al. 2023's recipe), so
    * expected cell size stays ~constant and Σ cell² — the candidate
    * bound — grows LINEARLY in n (the same argument as [[lshCandidatePairs]]'
    * bands). Fixed-cardinality blocking keys (a label column) make
    * within-block pairs quadratic in n and are only suitable as
    * validation fixtures (q97/q103, measured b≈1.8 on the r7 decade).
    *
    * Per vector, [[VectorOps.assignClustersMulti]] emits its `nAssign`
    * nearest cells — multi-probe blocking, so a semantic pair the
    * quantizer splits across two cells still collides in a shared
    * second-choice cell (a constant ×nAssign on blocked rows, not a
    * growth term). Pairs within a cell are exact-cosine-scored and
    * thresholded, components are collapsed by [[connectedComponents]],
    * and the `keepPerCluster` smallest ids per component are kept —
    * q103's keeper policy.
    *
    * Scale shape: one column-pruned count() to size k; seeding +
    * training per [[VectorOps.kmeansLloyd]] (driver cost O(k·dim), never
    * O(n)); assignment is scan-local (no join — see
    * [[VectorOps.scoredArr]] for the k > 128 plan bound); the only
    * corpus-sized shuffles are the cell equi-join and the component
    * propagation. Returns (idCol, sem_cluster, keep 1|0) for EVERY input
    * row — unclustered vectors are their own singleton cluster, keep=1.
    *
    * No DuckDB oracle can express the iterative quantizer, so callers
    * wanting an offline check compare keep decisions against exhaustive
    * truth at validation scale (the spec pins ≥90% agreement). */
  def semanticDedupBlocked(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, perCellDivisor: Int = 500,
                           nAssign: Int = 2, iters: Int = 3,
                           keepPerCluster: Int = 2,
                           reliableCheckpointDir: Option[String] = None,
                           trainSamplePct: Int = 100)
      : DataFrame = {
    // empty in, empty out — a replaying ingest can legitimately hand
    // this an already-dedup'd (empty) batch, which must not throw
    if (emb.isEmpty)
      return emb.select(col(idCol), col(idCol).as("sem_cluster"),
        lit(1).cast("int").as("keep"))
    val pairs = semanticPairsBlocked(emb, idCol, vecCol, threshold,
      perCellDivisor, nAssign, iters, trainSamplePct)
    semanticDedupFromPairs(emb, idCol, pairs, keepPerCluster,
      reliableCheckpointDir)
  }

  /** [[semanticDedupBlocked]]'s keeper policy alone, over a
    * caller-supplied duplicate-pair graph: collapse `pairs` with
    * [[connectedComponents]], then keep the `keepPerCluster` smallest
    * ids per component — every input row comes back (singletons are
    * their own cluster, keep=1). ONE definition shared by the blocked
    * path and validation callers that bring an exhaustive pair graph
    * (q120's agreement check), so the two can never drift onto
    * different keeper semantics. */
  def semanticDedupFromPairs(emb: DataFrame, idCol: String,
                             pairs: DataFrame, keepPerCluster: Int = 2,
                             reliableCheckpointDir: Option[String] = None)
      : DataFrame = {
    // local checkpoints die with an executor; bulk callers pass a
    // reliable dir so the component closure survives node loss
    val cc = connectedComponents(pairs,
      reliableCheckpointDir = reliableCheckpointDir)
    val W = org.apache.spark.sql.expressions.Window
    emb.select(col(idCol))
      .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("sem_cluster"))
      .withColumn("rk", row_number().over(
        W.partitionBy(col("sem_cluster")).orderBy(col(idCol))))
      .select(col(idCol), col("sem_cluster"),
        (col("rk") <= keepPerCluster).cast("int").as("keep"))
  }

  /** [[semanticDedupBlocked]]'s candidate stage alone: thresholded
    * (id_a, id_b) cosine pairs, blocked by the trained quantizer's
    * cells. The corpus self-join is an EQUI-join keyed on the trained
    * `cluster` — the property that keeps pair work linear in n (spec'd
    * against the physical plan). Exposed for callers that want the
    * duplicate-pair graph without the keeper policy.
    *
    * `trainSamplePct` < 100 trains the quantizer on a DETERMINISTIC
    * md5 sample of the corpus instead of all of it — standard IVF
    * practice (what [[graft.lake.AnnIndex.retrain]] already does):
    * Lloyd's per-iteration assignment pass is the expensive part, and
    * running it over a 10% sample cuts the pipeline's corpus scans
    * from ~iters+1 to ~1 while the full corpus is still assigned once
    * against the finished centroids. Cell-shape noise from sampling
    * only moves the blocking recall margin (multi-probe absorbs it);
    * the spec's keep-agreement bound is re-checked under the sampled
    * default. A sample that falls under k vectors falls back to
    * training on the full corpus (tiny inputs). */
  def semanticPairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, perCellDivisor: Int = 500,
                           nAssign: Int = 2, iters: Int = 3,
                           trainSamplePct: Int = 100): DataFrame = {
    require(trainSamplePct >= 1 && trainSamplePct <= 100,
      s"trainSamplePct must be in [1, 100], got $trainSamplePct")
    val n = emb.count()
    // an empty corpus has no pairs — and no quantizer to train
    // (kmeansLloyd requires a non-empty seed corpus, by design)
    if (n == 0L)
      return emb.select(col(idCol).as("id_a"), col(idCol).as("id_b"))
    val k = math.max(4, (n / perCellDivisor.toLong).toInt)
    val train =
      if (trainSamplePct >= 100) emb
      else {
        // same deterministic device as kmeansLloyd's seeding: md5 of
        // the rendered vector — stable across runs and partitionings
        val sampled = emb.filter(
          pmod(graft.expressions.HexPrefixToLong.hex_prefix_to_long(
            md5(concat_ws(",", col(vecCol))), 15), lit(100L))
            < trainSamplePct.toLong)
        // limit(k) bounds the sufficiency check — no full sample scan
        // (retrain's device); a sub-k sample falls back to full
        if (sampled.limit(k).count() >= k.toLong) sampled else emb
      }
    val cents = VectorOps.centroidArrays(
      VectorOps.kmeansLloyd(train, vecCol, k, iters))
    semanticPairsWithCentroids(emb, idCol, vecCol, threshold, cents, nAssign)
  }

  /** [[semanticPairsBlocked]] against a PREBUILT quantizer — the
    * incremental-ingest shape: a caller holding a persisted coarse
    * quantizer (e.g. [[graft.lake.AnnIndex]]'s centroid table) blocks a
    * new batch's pairs by the SAME cells its index search probes, with
    * no per-batch Lloyd training. The plan shape is identical to the
    * trained path (multi-probe assignment → cluster equi-join → exact
    * cosine), so the linearity argument — and the spec that pins it —
    * carries over unchanged. */
  def semanticPairsWithCentroids(emb: DataFrame, idCol: String,
                                 vecCol: String, threshold: Double,
                                 cents: Seq[Array[Double]],
                                 nAssign: Int = 2): DataFrame = {
    val assigned = VectorOps
      .assignClustersMulti(emb, cents, vecCol, nAssign)
      .withColumn("__n", VectorOps.norm(col(vecCol)))
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("__n").as("na"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("__n").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", VectorOps.cosinePrenormed(
        col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** 16-bit SimHash over unigram tokens: per hex digit of md5(token), the
    * high bit votes +1/−1; fingerprint bit j is the sign of the vote sum.
    * Portable across engines (pure string/integer ops). */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashBits(df, idCol, textCol, 16)

  /** Width-parameterized SimHash: bits ≤ 32 vote from one md5's hex
    * digits; wider fingerprints chain seed-prefixed md5s (32 bits each).
    * 64 bits is the banding width that keeps Hamming-LSH buckets
    * collision-bounded at corpus scale (16-bit bands ⇒ 65k values per
    * band, vs 16 values for a 4-bit band of a 16-bit fingerprint). */
  def simhashBits(df: DataFrame, idCol: String, textCol: String,
                  bits: Int): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
    // seed 0 is plain md5(w) — q58's 16-bit fingerprint semantics are a
    // strict prefix of every wider fingerprint
    val withHashes = (0 until (bits + 31) / 32).foldLeft(tok) { (acc, s) =>
      acc.withColumn(s"__h$s",
        if (s == 0) md5(col("w")) else md5(concat_ws("|", lit(s), col("w"))))
    }
    val votes = (0 until bits).map { j =>
      val digit = substring(col(s"__h${j / 32}"), j % 32 + 1, 1)
      sum(when(digit.isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$j")
    }
    withHashes.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), concat((0 until bits).map(j =>
        when(col(s"v$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }
}
