package graft.tools

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeVocab, Tokenizer, TokenizerSpec}
import graft.lake.{AnnIndex, CorpusDedup, CorpusPack, Lake, TableRef}
import graft.state.{RunLock, StateStore}

/** The rolling training-data ingest, composed end to end as a driver
  * entry point: each day's crawl batch is deduplicated against the TTL
  * recency window (exact hashes AND near-dup LSH bands), token-counted
  * with a real subword denomination (BPE by default), packed into
  * context windows CONTINUING the prior day's cursors, and landed
  * idempotently. Which gates, rewrites and commits a tick runs is one
  * value, [[Stages]]; the order they run in is fixed in [[run]].
  *
  * Crash-idempotence by construction — the step ORDER is the invariant:
  *
  *   land (overwritePartitions by ingest_day) → [ANN dated overwrite] →
  *   pack-commit → exact-dedup-commit → near-dup-commit →
  *   [line-seen-set commit]
  *
  * (the optional semantic gate READS the index strictly before the
  * day — `seen_date < day` — so the ANN overwrite never changes what a
  * replay of this day computes; see [[run]])
  *
  *  - crash after land, before pack-commit: the retry recomputes the
  *    same novel set (dedup state unchanged) and the same pack ids
  *    (cursors unchanged), and the dynamic partition overwrite replaces
  *    the day's partition with identical rows — no duplication (a blind
  *    append here would re-append: the round-6 advisor finding);
  *  - crash after pack-commit: the retry's `assign` sees the recorded
  *    batchId and uses the REPLAY cursors (CorpusPack's contract), so it
  *    re-derives the identical pack ids; its `commit` is a no-op;
  *  - crash between the dedup commits: the retry's novel set is empty
  *    (exact state already has the day), the empty overwrite touches no
  *    partition, `commitExactDated` is idempotent within the window, and
  *    the missing near-dup commit completes.
  *
  * Committing the PACK cursor before the dedup state matters: in the
  * reverse order a crash between them would make the retry's novel set
  * empty while the cursors still pointed before the landed rows — the
  * next day would then reuse the same pack ids for different documents.
  *
  * All state mutations assume the dataset's [[RunLock]]. Pass
  * `lock = Some((runLock, key))` to make that contract a RUNTIME CHECK
  * (the [[CrawlIngest.run]] discipline): [[run]], [[expire]] and
  * [[maintain]] then re-assert the lock before EVERY state mutation —
  * the land, the index writes, the pack-cursor advance, each seen-set
  * commit, the expiries and the compaction/retrain — catching both the
  * caller that never acquired and the holder whose TTL was taken over
  * mid-ingest. [[main]] passes its own lock through; library callers
  * that compose their own locking should too, because a
  * documentation-only contract drifts (r15 adjudication: the runtime
  * check stopped at CrawlIngest while these commits trusted
  * convention). [[maintain]] is the index-maintenance branch of the
  * same schedule — periodic list compaction plus recall-triggered
  * quantizer retrain — and runs under the same lock, after the day's
  * ingest and [[expire]].
  */
object DailyIngest {

  /** The optional runtime form of the single-writer contract: (lock,
    * key) asserted before every state mutation. */
  type LockRef = Option[(RunLock, String)]

  private def guard(lock: LockRef): Unit =
    lock.foreach { case (l, k) => l.assertHeld(k) }

  /** Which stages one ingest tick runs, with the defaults of a plain
    * tick. The ORDER is fixed in [[run]] (it is the crash-idempotence
    * invariant). A setting that only means something beside another
    * one is nested inside it, so no combination is ignored or rejected
    * at run time. */
  final case class Stages(
      /** `Some((minWords, maxWords))` applies the Gopher
        * document-quality rule set (q137,
        * [[graft.functions.TextOps.gopherKeep]]) as the EARLIEST gate —
        * before even the trained classifier: it is a single codegen
        * byte-walk predicate with zero exchanges, and the heuristic
        * rules are exactly the cheap junk screen the trained gate should
        * not have to spend its signal on. Deterministic, so it composes
        * with the replay invariants like any constant filter; like the
        * trained gate, rejected docs never reach the seen-sets (the
        * admitted-only commit contract). */
      gopherRules: Option[(Long, Long)] = None,
      /** Adds the OTHER half of the Gopher §A1.1 gate (q145,
        * [[graft.functions.TextOps.repetitionKeep]] — the thirteen
        * published repetition thresholds) right after the quality rules:
        * the same zero-exchange scan-local predicate class, and the same
        * admitted-only seen-set contract. */
      repetitionRules: Boolean = false,
      /** Applies The Stack's code-corpus preprocessing filter (q148,
        * [[graft.functions.TextOps.stackCodeKeep]] — Kocetkov et al.
        * 2022 §2.2: line-length bounds, alnum fraction, XML-declaration
        * screen) as the gate a CODE ingest runs where a web ingest runs
        * the gopher/repetition rules — same scan-local deterministic
        * predicate class, same admitted-only contract. */
      codeRules: Boolean = false,
      license: Option[Stages.License] = None,
      quality: Option[Stages.Quality] = None,
      /** `Some(minAgree)` swaps the candidate-level cross-run near-dup
        * gate for the signature-verified one
        * ([[graft.lake.CorpusDedup.novelNearDupVerifiedSince]]): a band
        * collision only drops a doc when MinHash lane agreement reaches
        * `minAgree`, so single-band flukes are admitted. Gate and commit
        * pair on the verified state table; choose the policy when the
        * dataset's seen-set is first created and keep it — the two
        * tables are separate state. */
      nearDupVerify: Option[Double] = None,
      ann: Option[Stages.Ann] = None,
      /** Adds benchmark DECONTAMINATION as a REWRITE stage after the
        * doc-level gates and before the line scrub: spans around
        * collisions with every test set registered strictly before `day`
        * ([[CorpusDedup.commitTestShingles]] — registration is
        * out-of-band, a benchmark release) are removed via the q138
        * operator ([[CorpusDedup.decontamScrubSince]]); docs scrubbed to
        * nothing (pure benchmark text) drop like the line scrub's
        * n_kept = 0 rule. Replay-exact by the same strictly-before-day
        * window as every `beforeDate` in this composition: a crash
        * replay sees the identical registered set even if a new
        * benchmark landed since. Ordered BEFORE the line scrub so
        * benchmark text can never survive as a "novel line" in the day's
        * line seen-set view. */
      decontam: Boolean = false,
      /** Adds the C4 LINE policy ([[CorpusDedup.scrubLinesSince]]) as a
        * REWRITE stage after the doc-level gates, and its dated line
        * seen-set commit after the near-dup commit. */
      lineScrub: Boolean = false,
      /** The n_tok denomination: any [[Tokenizer]] — BPE by default, or
        * a [[graft.functions.UnigramVocab]] /
        * [[graft.functions.WordPieceVocab]] to switch family. The
        * q141/q150 cross-family fertility comparison is the signal for
        * the switch. Pin the family per dataset — mixing denominations
        * across days makes pack budgets incomparable (the vocab-file
        * contract). */
      vocab: Tokenizer = BpeVocab.default,
      /** `Some(dir)` is the CLUSTER-durability posture: the tick's two
        * lineage-cut frames (`admitted`, `novel`) checkpoint RELIABLY to
        * `dir` (shared storage) instead of executor-local blocks, so an
          * executor loss re-reads files rather than failing the run. Each
        * frame is persisted before its lazy checkpoint, so the
        * checkpoint write reads the cache instead of recomputing the
        * gate chain. Default None keeps localCheckpoint — the right
        * trade in local mode and on preemption-free clusters; lineage
        * is cut to executor blocks, so an executor loss there aborts
        * the run and recovery is the day-level replay invariant (the
        * tick is idempotent). Results identical either way. The dir is
        * run-scoped: delete it after the day's commits. */
      checkpointDir: Option[String] = None)

  object Stages {

    /** The retrieval leg: the day's NOVEL embeddings (`embedCol`) land
      * in the dated IVF `index` via [[AnnIndex.appendDated]] — a
      * dynamic partition overwrite keyed by the same day, so every
      * crash window replays to the identical index state (the
      * pre-commit `novel` frame recomputes identically, and post-commit
      * replays overwrite nothing because novel is empty). The step sits
      * BEFORE the state commits for exactly that reason. The first day
      * bootstraps the index ([[AnnIndex.buildDated]], k sized from the
      * batch); [[expire]] ages it out on the same TTL as the dedup
      * seen-sets. */
    final case class Ann(index: AnnIndex, embedCol: String,
                         semantic: Option[Semantic] = None)

    /** SEMANTIC dedup as a third gate after exact and near-dup:
      * [[CorpusDedup.novelSemantic]] drops docs whose embedding is ≥
      * `threshold` cosine to the index window — gated on
      * `seen_date < day`, NEVER the day itself, so a crash between the
      * index append and the pack commit replays to the SAME novel set
      * (gating on the full index would self-collide on the replay, hand
      * [[CorpusPack.assign]] an empty frame, and leave the cursors
      * pointing before the landed rows — the exact hazard the step-order
      * invariant exists to prevent). When the pre-day window holds NO
      * vectors ([[AnnIndex.hasEntriesBefore]] — day one, or a fully
      * aged-out index; the predicate deliberately ignores the day's own
      * partition so crash replays branch identically), the batch
      * deduplicates in-batch with
      * [[graft.functions.DedupOps.semanticDedupBlocked]] (trained on the
      * batch, deterministic, so replays agree) and the index is built
      * from those survivors — afterwards the index holds only admitted
      * vectors, which is what keeps the gate's "≥ θ to anything stored"
      * reading correct.
      *
      * `pqRefine = Some(r)` routes the gate's history probe through the
      * COMPRESSED index path when the index has PQ sidecars
      * ([[AnnIndex.topKJoinPq]]; the candidate scan reads m-byte codes,
      * not vectors — the gate's dominant IO at corpus scale). On an
      * index without PQ it silently falls back to the exact path: the
      * fallback is strictly better recall and identical threshold
      * semantics, and a daily job must not wedge because `enablePq` has
      * not run yet (notably the bootstrap day, which has no index at
      * all). Recall cost mirrors nprobe: a PQ-misranked true neighbor
      * ADMITS a duplicate, never drops a novel doc. */
    final case class Semantic(threshold: Double, pqRefine: Option[Int] = None)

    /** Drops documents scoring ≤ `threshold` log-odds (default 0 —
      * P(curated) ≤ 0.5; pass a q142-calibrated per-dataset value to hit
      * a kept-token budget instead of the fixed cut) under a TRAINED
      * [[graft.functions.QualityClassifier]] `model` (the q130 gate)
      * BEFORE any dedup stage — the scale-right order: the gate is one
      * scan-local codegen'd predicate (zero shuffles), so junk never
      * reaches the hash/band/index machinery. Replay-exact by
      * construction: the model is a constant loaded from its weights
      * file, and the gate composes with the pre-commit recompute
      * invariant like any deterministic filter. Gating uses the 4-dp
      * ROUNDED score, the same comparison q130's oracle pins. */
    final case class Quality(model: graft.functions.QualityClassifier.Model,
                             threshold: Double = 0.0)

    /** The Stack's §2.3 license gate (q153,
      * [[graft.functions.TextOps.licenseDetect]]): keep only files whose
      * detected license is permissive. Pass `repo = Some((repoCol,
      * pathCol))` to run it at REPO level (q155,
      * [[graft.functions.TextOps.licenseInherit]]) — licenses detected
      * from LICENSE/COPYING blobs, files inherit, in-file evidence
      * overrides; the published pipeline's actual discipline, without
      * which a real code corpus (where most files carry no header)
      * mis-rejects nearly everything. */
    final case class License(repo: Option[(String, String)] = None)
  }

  /** One day's ingest. Returns the number of rows present in the day's
    * partition after the ingest — STABLE under replay (a clean rerun
    * returns the same count it landed the first time, having re-landed
    * nothing). `docs` must carry `idCol` (monotone across days — the
    * CorpusPack precondition), `textCol` and `langCol`, plus the
    * embedding column when `stages.ann` is set. `stages` picks which
    * gates, rewrites and commits the tick runs ([[Stages]]); `lock` is
    * the runtime single-writer guard (see the object Scaladoc). */
  def run(lake: Lake, dd: CorpusDedup, cp: CorpusPack, out: TableRef,
          docs: DataFrame, idCol: String, textCol: String, langCol: String,
          day: Date, ttlDays: Int, stages: Stages = Stages(),
          lock: LockRef = None): Long = {
    import stages._
    import graft.functions.{DedupOps, TextOps}
    import org.apache.spark.storage.StorageLevel
    // Label every stage's jobs (guide §1.5): the tick is ~10 sequential
    // state commits plus the gate-chain materialization, and an
    // unlabeled UI/listener view of ~80 jobs is unreadable. Labels are
    // thread-local and cleared on exit.
    val sc = docs.sparkSession.sparkContext
    def labeled[A](stage: String)(f: => A): A = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"ingest $day: $stage")
      try f finally sc.setJobDescription(prev)
    }
    val minDate = Date.valueOf(day.toLocalDate.minusDays(ttlDays.toLong))
    // every frame this call persists, released in the finally
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE)
        pinned += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
    // A lazy RELIABLE checkpoint writes its files in a second job after
    // the first action, and that job recomputes the frame's lineage
    // unless the frame is cached — so reliable mode pins first, and
    // checkpoints a fresh Dataset over the pinned plan (one that already
    // ran, like a caller's `docs`, keeps the physical plan it was
    // planned with, which predates the cache entry). localCheckpoint
    // caches by itself.
    def cut(df: DataFrame): DataFrame = DedupOps.materializeFrame(
      if (checkpointDir.nonEmpty) pin(df).select("*") else df,
      checkpointDir, eager = false)
    try {
      // Every stats-struct gate goes through TextOps.gateOnce (r17): a
      // direct filter(keep(stats(text))) carries one kernel COPY per
      // referenced field — 13 for the repetition gate — and FilterExec
      // re-evaluates each (no subexpression elimination in filters;
      // probe-measured 8.7 s vs 1.8 s at sf0.1). gateOnce binds the
      // struct as a lambda variable: one kernel pass per row, same value.
      // The rule gates apply in this order (Catalyst's CombineFilters
      // merges the adjacent filters into one scan-local predicate).
      val text = col(textCol)
      val ruled = Seq(
        gopherRules.map { case (minW, maxW) =>
          TextOps.gateOnce(TextOps.gopherStats(text),
            TextOps.gopherKeep(_, minW, maxW)) },
        Option.when(repetitionRules)(TextOps.gateOnce(
          TextOps.repetitionStats(text), TextOps.repetitionKeep)),
        Option.when(codeRules)(TextOps.gateOnce(
          TextOps.codeStats(text), TextOps.stackCodeKeep)),
        license.filter(_.repo.isEmpty).map(_ => TextOps.gateOnce(
          TextOps.licenseDetect(text), TextOps.licenseKeep))
      ).flatten.foldLeft(docs)((df, keep) => df.filter(keep === 1))
      // the repo-level license gate: repo licenses are detected over the
      // PRE-GATE corpus (a license blob must name the repo's license
      // even when it would itself be filtered), files inherit via the
      // broadcast join, in-file evidence overrides
      val licensed = license.flatMap(_.repo).fold(ruled) {
        case (repoCol, pathCol) =>
          TextOps.licenseInherit(ruled,
              TextOps.repoLicenseTable(docs, repoCol, pathCol, textCol),
              repoCol, textCol)
            // gateOnce here too: `license` is an alias (coalesce of the
            // in-file detect chain and the joined repo license) that
            // predicate pushdown inlines into the condition —
            // licenseKeep references it ~6 times
            .filter(TextOps.gateOnce(col("license"), TextOps.licenseKeep) === 1)
            .drop("license", "inherited")
      }
      // admitted is consumed FOUR times (the novel chain below plus the
      // three seen-set commits, each of which re-derived the whole gate
      // cascade — by design for replay, but the recompute is pure
      // waste). Checkpoint like `novel`: admitted's plan reads only the
      // corpus (never the ANN lists table), so the §-novel invalidation
      // hazard does not apply; lazy, so the first consumer materializes
      // it. Probe-measured before keeping (see OPTIMIZATION_r17.md).
      // The quality cut is > on the 4-dp ROUNDED score (the q130 oracle
      // convention). Labeled: under AQE the lazy checkpoint materializes
      // the exchanges of the caller's `docs` plan at this call.
      val admitted = labeled("admitted checkpoint")(cut(
        quality.fold(licensed)(q =>
          licensed.filter(round(q.model.scoreCol(text), 4) > q.threshold))))
      // Gate construction below is PURE PLAN BUILDING — no Spark jobs
      // run until a downstream action — so it carries no job labels
      // (ADVICE r17: labels on plan-construction-only calls never attach
      // to any job and made the IngestProbe breakdown misleading; the
      // gate chain's actual jobs land under "gate chain checkpoint" /
      // "gates+dedup+land"). The constructions that DO run jobs — the
      // semantic gate's window probe, its centroid and probe-cluster
      // collects, and the decontam kernel-entry sizing — keep labels of
      // their own.
      val exactNovel = dd.novelExactSince(admitted, idCol, textCol, minDate)
      // gate and commit must pair on the same state table, chosen here
      // once
      val textNovel = nearDupVerify match {
        case Some(minAgree) => dd.novelNearDupVerifiedSince(
          exactNovel, idCol, textCol, minDate, minAgree)
        case None => dd.novelNearDupSince(exactNovel, idCol, textCol, minDate)
      }
      val semNovel = ann match {
        // branch on "the PRE-day window holds vectors", NOT on
        // idx.exists: the bootstrap day WRITES the index before the
        // state commits, so a crash in between would flip exists on the
        // replay and switch it to the gate's pairwise drop policy — a
        // different novel set than the attempt being replayed (the same
        // hazard beforeDate guards, one level up). An index whose
        // window has fully aged out re-bootstraps the same way.
        case Some(Stages.Ann(idx, embedCol, Some(sem)))
            if labeled("semantic gate window probe")(
              idx.hasEntriesBefore(day, minDate)) =>
          // construction collects the centroids and the probed-cluster
          // set (the latter runs the gate chain up to here)
          labeled("semantic gate setup")(
            dd.novelSemantic(idx, textNovel, idCol, embedCol, sem.threshold,
              minDate = Some(minDate), beforeDate = Some(day),
              pqRefine = sem.pqRefine.filter(_ => idx.pqEnabled)))
        case Some(Stages.Ann(_, embedCol, Some(sem))) =>
          // the in-batch bootstrap DOES run jobs during construction
          // (quantizer sizing count + Lloyd training) — label them
          val keepers = labeled("semantic gate bootstrap")(
            DedupOps.semanticDedupBlocked(
              textNovel.select(col(idCol), col(embedCol)), idCol, embedCol,
              sem.threshold, keepPerCluster = 1))
            .filter(col("keep") === 1).select(col(idCol))
          textNovel.join(keepers, Seq(idCol), "left_semi")
        case _ => textNovel
      }
      // The rewrite stages run after the doc-level gates (cheapest
      // order — whole-doc dups drop before their lines are ever
      // segmented). The gated frame is pinned because the scrubs' segment
      // passes plus the join-back would otherwise re-derive the gate
      // chain several times.
      val rewriteIn = if (lineScrub || decontam) pin(semNovel) else semNovel
      // benchmark decontamination rewrites FIRST (strictly-before-day
      // registered sets): a span of benchmark text must not reach the
      // line segmenter, and a doc scrubbed to nothing is pure benchmark
      // text and drops (originally-empty docs have n_removed = 0 and
      // pass)
      val decontamed = if (!decontam) rewriteIn else {
        // this construction runs jobs (kernel-entry sizing count/collect
        // inside decontamScrubSince) — the label is real
        val scrubbed = labeled("decontam scrub setup")(
          dd.decontamScrubSince(rewriteIn, idCol, textCol, day))
          .filter(col("n_removed") === 0 || col("text_clean") =!= "")
          .drop("n_removed")
          .withColumnRenamed("text_clean", textCol)
        // with BOTH rewrite stages on, the intermediate is pinned too:
        // the line scrub's two segment passes plus its join-back would
        // re-run the span scrub three times otherwise
        if (lineScrub) pin(scrubbed) else scrubbed
      }
      // the C4 line scrub: lines already committed in [minDate, day)
      // strip out of surviving docs, docs scrubbed to NOTHING drop
      // entirely (an all-historical doc is a duplicate the exact gate
      // only catches when byte-identical). beforeDate = day keeps the
      // stage replay-exact — see scrubLinesSince. Pure plan
      // construction, no label.
      val gatedNovel = if (!lineScrub) decontamed else {
        val scrub = dd.scrubLinesSince(decontamed, idCol, textCol, minDate,
          beforeDate = Some(day))
        decontamed.drop(textCol).join(
          scrub.filter(col("n_kept") > 0)
            .select(col(idCol), col("text_dedup").as(textCol)),
          Seq(idCol))
      }
      // `novel` is the most expensive frame of the composition (three
      // dedup gates deep) and is consumed by the land, the ANN leg and
      // the pack commit — without a lineage cut each consumer re-derives
      // the whole gate chain. The n_tok DENOMINATION is whichever
      // tokenizer family `vocab` is — every downstream consumer (pack
      // budgets, cards, health ticks) is denomination-agnostic, it just
      // sums n_tok.
      // Checkpoint, NOT persist (r17, probe-measured): with the
      // steady-state semantic gate, novel's plan READS the ANN lists
      // table, and the ann-append step below refreshes that table —
      // which invalidates any persisted plan referencing it, so the
      // pack-commit (and every later consumer) silently re-derived the
      // ENTIRE gate chain (52 jobs, ~13.5 s of a 12 s tick at sf0.001;
      // the bootstrap path never hit this because its in-batch gate
      // reads no table). Checkpointing cuts the lineage to stored
      // blocks the refresh cannot invalidate. Lazy: the land below is
      // the first action and materializes it. An execution hint only:
      // a crash replay recomputes the identical frame from unchanged
      // state; local-checkpoint blocks are freed by the ContextCleaner
      // when the checkpointed RDD goes out of scope. Durability is
      // `checkpointDir`'s choice ([[Stages]]); the checkpoint-dir
      // ownership discipline is DedupOps.materialize's contract.
      // (labeled: under AQE, even the lazy checkpoint materializes every
      // intermediate exchange of the chain at this call — these are the
      // tick's heaviest jobs)
      val novel = labeled("gate chain checkpoint")(
        cut(gatedNovel.withColumn("n_tok", vocab.count(text))))
      val batchId = day.toString
      val packed = labeled("pack assign")(
        cp.assign(novel, langCol, idCol, "n_tok", batchId))
        .withColumn("ingest_day", lit(day))
      // The commit sequence. Its step ORDER is the crash-idempotence
      // invariant (see the object Scaladoc): land → ann index → pack →
      // exact → near-dup → lines. The loop below re-asserts the lock and
      // labels every entry.
      //  - The land MATERIALIZES the assigned frame (CorpusPack's
      //    materialize-then-commit contract) and is itself idempotent:
      //    the dynamic overwrite replaces exactly this day's partition,
      //    and an empty frame touches no partition at all.
      //  - Seen-set contract: the commits take the ADMITTED frame
      //    (post-quality-gate), not the raw batch. Committing pre-gate
      //    docs would mean a later, better gate model finds recurring
      //    text it now admits already exact-seen against junk history —
      //    silently starved forever. Gate-dropped docs re-arriving
      //    re-score the same (the model is a constant), so excluding
      //    them loses no dedup power; replay recomputes the identical
      //    admitted frame from unchanged state.
      //  - The seen-set commits stay SEQUENTIAL. They are mutually
      //    independent (each writes its own state table; every gate read
      //    is windowed strictly before `day`, so any committed subset
      //    replays clean), but overlapping them measured a REGRESSION on
      //    local[32] both times it was tried: 12.2 s sequential vs
      //    66.7 s with a 3-thread pool (r17), and at thread-cap 2 a tick
      //    wall of 9.76 s sequential vs 15.74 s overlapped, job-time sum
      //    8.96 → 17.69 s at sf0.1 (r18). Concurrent commits double the
      //    per-core load exactly when each job wants the cores, and the
      //    bucketed insertIntos contend on the catalog. The three commits
      //    total ~1.3 s of a ~9.8 s tick, so the overlap's ceiling is
      //    under 0.7 s. Re-evaluate only on a real cluster where commit
      //    tails idle hundreds of executors.
      def step(label: String, on: Boolean = true)(commit: => Any) =
        Option.when(on)(label -> (() => commit))
      Seq(
        step("gates+dedup+land")(lake.overwritePartitions(
          packed.select(col(idCol), col(langCol), col("n_tok"),
            col("pack_id"), col("ingest_day")),
          out, partitionBy = Seq("ingest_day"))),
        step("ann index", ann.nonEmpty)(ann.foreach { a =>
          val vecs = novel.select(col(idCol), col(a.embedCol))
          if (!a.index.exists) {
            val n = vecs.count()
            if (n > 0)
              a.index.buildDated(vecs, idCol, a.embedCol,
                k = math.max(4, (n / 500L).toInt), day)
          } else a.index.appendDated(vecs, idCol, a.embedCol, day)
        }),
        step("pack commit")(
          cp.commit(novel, langCol, idCol, "n_tok", batchId)),
        step("exact commit")(
          dd.commitExactDated(admitted, textCol, day, minDate)),
        step("neardup commit")(
          if (nearDupVerify.nonEmpty)
            dd.commitNearDupVerifiedDated(admitted, idCol, textCol, day, minDate)
          else dd.commitNearDupDated(admitted, idCol, textCol, day, minDate)),
        step("lines commit", lineScrub)(
          dd.commitLinesDated(admitted, textCol, day, minDate))
      ).flatten.foreach { case (label, commit) =>
        guard(lock)
        labeled(label)(commit())
      }
      // reads only `out`, which no commit after the land writes
      labeled("landed count")(lake.read(out)
        .filter(col("ingest_day") === lit(day)).count())
    } finally {
      // local-checkpoint blocks are released by the ContextCleaner once
      // the checkpointed RDD is unreachable; what this call pinned is
      // released here
      pinned.foreach(_.unpersist(blocking = false))
    }
  }

  /** Expire the dated seen-sets (and the dated index, when present) to
    * the window start — the maintenance tick a scheduler runs after
    * (not during) the day's ingest. */
  def expire(dd: CorpusDedup, day: Date, ttlDays: Int,
             ann: Option[AnnIndex] = None, lock: LockRef = None): Unit = {
    val minDate = Date.valueOf(day.toLocalDate.minusDays(ttlDays.toLong))
    guard(lock)
    dd.expireExact(minDate)
    dd.expireNearDup(minDate)
    dd.expireNearDupVerified(minDate) // no-op until a verified ingest
    dd.expireLines(minDate) // no-op until the first lineScrub=true day
    ann.foreach(_.expire(minDate))
  }

  /** What [[maintain]] did and what it saw — logged by orchestrators,
    * asserted by the e2e spec. */
  case class Maintenance(compacted: Boolean, recallBefore: Double,
                         retrained: Boolean, recallAfter: Double)

  /** ANN maintenance tick — the every-N-days branch a scheduler runs
    * AFTER the day's ingest (and [[expire]]), under the SAME RunLock:
    * compact and retrain rewrite the list files the ingest appends to,
    * so they need the single-writer guarantee the lock already gives
    * the ingest itself.
    *
    * Every `compactEveryDays`-th epoch day the per-append list files
    * fold back to the bucket layout ([[AnnIndex.compact]]) — without
    * it a daily [[AnnIndex.appendDated]] accumulates one file set per
    * day and probe scans degrade into small-file storms. Then recall
    * is MEASURED ([[AnnIndex.measuredRecall]], q95's check on a
    * deterministic stored-vector sample) and a dip below `minRecall`
    * triggers a quantizer retrain with k resized to the CURRENT corpus
    * (the build-time n/`perCellDivisor` rule) — drift-triggered, not
    * calendar-triggered, so a stable corpus never pays the
    * full-rewrite cost and a drifting one pays it exactly when served
    * recall says it must.
    *
    * Indexes under `minRetrainRows` never retrain: a measured "dip" on
    * a handful of vectors is sampling noise, and refitting k centroids
    * to fewer points than cells can make recall WORSE (observed
    * 0.89 → 0.56 retraining a 3-vector index) — a tiny index is served
    * nearly exhaustively by nprobe anyway. */
  def maintain(idx: AnnIndex, day: Date, compactEveryDays: Int = 7,
               minRecall: Double = 0.9, nQueries: Int = 16, k: Int = 10,
               nprobe: Int = 2, perCellDivisor: Int = 500,
               minRetrainRows: Long = 64L, lock: LockRef = None): Maintenance = {
    if (!idx.exists) return Maintenance(compacted = false, 1.0,
      retrained = false, 1.0)
    val compacted = day.toLocalDate.toEpochDay % compactEveryDays == 0
    if (compacted) { guard(lock); idx.compact() }
    val before = idx.measuredRecall(nQueries, k, nprobe)
    // storedCount (a lists-table scan) only when recall actually dips —
    // the healthy steady-state tick must not pay a daily full count
    lazy val n = idx.storedCount
    if (before < minRecall && n >= minRetrainRows) {
      // the training sample exists to bound Lloyd cost at corpus scale;
      // under ~10k vectors the full corpus IS the bounded sample (a 10%
      // draw of a small index can miss the drifted region entirely and
      // retrain into the same bad quantizer)
      val pct = if (n < 10000L) 100 else 10
      guard(lock)
      idx.retrain(k = math.max(4, (n / perCellDivisor.toLong).toInt),
        samplePct = pct)
      Maintenance(compacted, before, retrained = true,
        idx.measuredRecall(nQueries, k, nprobe))
    } else Maintenance(compacted, before, retrained = false, before)
  }

  /** Land the day's token histogram and report drift vs the previous
    * day. The histogram is vocab-sized ([[graft.functions.DriftOps
    * .tokenHistogram]]) and lands by dynamic partition overwrite on
    * `ingest_day` — replay-idempotent like every land in this
    * composition. It is taken over the RAW incoming docs, BEFORE any
    * dedup gate: a scraper regression must flag even when dedup would
    * mask it downstream. Returns the per-key drift report (JSD
    * yesterday→today, [[graft.functions.DriftOps
    * .categoricalDriftFromCounts]] — O(vocab), no text re-scan) when
    * yesterday's histogram exists; None on day one. A key that
    * VANISHED from either day reports NaN — treat as maximal drift. */
  def recordDrift(lake: Lake, histOut: TableRef, docs: DataFrame,
                  keyCol: String, textCol: String,
                  day: Date): Option[DataFrame] = {
    val hist = graft.functions.DriftOps.tokenHistogram(docs, keyCol, textCol)
      .withColumn("ingest_day", lit(day))
    lake.overwritePartitions(hist, histOut, partitionBy = Seq("ingest_day"))
    val prev = Date.valueOf(day.toLocalDate.minusDays(1L))
    val all = lake.read(histOut)
    val prevHist = all.filter(col("ingest_day") === lit(prev))
    if (prevHist.limit(1).isEmpty) None
    else Some(graft.functions.DriftOps.categoricalDriftFromCounts(
      prevHist, all.filter(col("ingest_day") === lit(day)),
      keyCol, "tok", "n"))
  }

  /** Route the day's health signals through the alert sink — the
    * reference's check → chunked-report pattern (perform_check →
    * Discord webhook), composed from [[recordDrift]] and
    * [[graft.quality.Quality.SchemaTests]]:
    *
    *  - DRIFT: per-key JSD rows at/above `jsdThreshold`, or NaN (a key
    *    vanished from either day — maximal drift), become ONE message
    *    (chunk-split at the transport's 2000-char limit by
    *    [[graft.ops.Alerts.sendChunked]]);
    *  - QUALITY: the landed day partition must have unique ids and
    *    non-null lang/n_tok — each failed check contributes its
    *    offending count and a bounded sample to ONE quality message.
    *
    * A healthy day sends NOTHING — an empty-report contract, so the
    * alert channel's base rate stays zero and a message always means
    * action. Returns the number of messages handed to the alerter
    * BEFORE chunking (0 healthy, ≤3 otherwise). Driver-side work is
    * bounded: the drift and shape reports are vocab-keyed (≤ keys
    * rows collected), quality samples are limit(5).
    *
    *  - SHAPE: per-key Zipf slope from the SAME stored histograms the
    *    JSD reads (zero extra state, no text re-scan) — a day-over-day
    *    slope move ≥ `slopeDelta` flags a key even when the token SET
    *    barely changed (a templating bug repeats the same head tokens:
    *    small JSD, big flattening). Keys with a null slope either day
    *    (< 2 distinct tokens) are the JSD's NaN territory, not
    *    re-flagged here.
    *
    *  - CURATION (q139,
    *    [[graft.functions.TextOps.domainRollup]]): per-key Gopher keep
    *    rate and exact-dup rate over the day's RAW feed — a key whose
    *    keep rate falls below `minKeepRate` or whose dup rate exceeds
    *    `maxDupRate` flags with its dominant violated rule, the signal
    *    a curation team triages by (FineWeb's per-domain loop). One
    *    extra scan of the day's batch, ≤ |keys| rows collected. */
  def healthTick(lake: Lake, histOut: TableRef, out: TableRef,
                 docs: DataFrame, keyCol: String, textCol: String,
                 idCol: String, langCol: String, day: Date,
                 alerter: graft.ops.Alerter,
                 jsdThreshold: Double = 0.05,
                 slopeDelta: Double = 0.3,
                 minKeepRate: Double = 0.0,
                 maxDupRate: Double = 1.0): Int = {
    import graft.ops.Alerts
    import graft.quality.Quality
    var sentMessages = 0
    recordDrift(lake, histOut, docs, keyCol, textCol, day).foreach { report =>
      val flagged = report
        .filter(isnan(col("jsd")) || col("jsd") >= jsdThreshold)
        .select(col(keyCol), col("jsd")).collect()
      if (flagged.nonEmpty) {
        val lines = flagged.map(r => s"$keyCol=${r.get(0)} jsd=${r.get(1)}")
        Alerts.sendChunked(alerter,
          s"[drift] day=$day ${lines.length} key(s) drifted vs previous day: " +
            lines.mkString("; "))
        sentMessages += 1
      }
      // shape watch on the stored histograms (prev day exists here —
      // recordDrift returned a report)
      val all = lake.read(histOut)
      def slopes(d: Date) = graft.functions.DriftOps.zipfSlopeFromCounts(
          all.filter(col("ingest_day") === lit(d)), keyCol, "tok", "n")
        .select(col(keyCol), col("zipf_slope"))
      val prev = Date.valueOf(day.toLocalDate.minusDays(1L))
      val shifted = slopes(prev).withColumnRenamed("zipf_slope", "__slope_prev")
        .join(slopes(day), Seq(keyCol))
        .filter(col("__slope_prev").isNotNull && col("zipf_slope").isNotNull &&
          abs(col("zipf_slope") - col("__slope_prev")) >= slopeDelta)
        .select(col(keyCol), col("__slope_prev"), col("zipf_slope")).collect()
      if (shifted.nonEmpty) {
        val lines = shifted.map(r =>
          s"$keyCol=${r.get(0)} slope ${r.get(1)} -> ${r.get(2)}")
        Alerts.sendChunked(alerter,
          s"[shape] day=$day ${lines.length} key(s) zipf-slope shifted: " +
            lines.mkString("; "))
        sentMessages += 1
      }
    }
    // curation watch (off at the defaults): the q139 rollup over the
    // day's raw feed, flagged keys carry their per-rule violation
    // counts so the alert names WHAT degraded, not just that something
    // did
    if (minKeepRate > 0.0 || maxDupRate < 1.0) {
      val roll = graft.functions.TextOps.domainRollup(docs, Seq(keyCol),
          col(textCol), col(textCol), length(col(textCol)))
        .filter(col("keep_rate") < minKeepRate ||
          col("dup_rate") > maxDupRate)
        .select(col(keyCol), col("keep_rate"), col("dup_rate"),
          col("n_docs"), col("n_v_words"), col("n_v_wordlen"),
          col("n_v_symbol"), col("n_v_lines"), col("n_v_alpha"),
          col("n_v_stop")).collect()
      if (roll.nonEmpty) {
        val lines = roll.map { r =>
          val rules = Seq("words" -> r.getLong(4), "wordlen" -> r.getLong(5),
            "symbol" -> r.getLong(6), "lines" -> r.getLong(7),
            "alpha" -> r.getLong(8), "stop" -> r.getLong(9))
            .filter(_._2 > 0).sortBy(-_._2)
            .map { case (n, c) => s"$n=$c" }.mkString(",")
          s"$keyCol=${r.get(0)} keep_rate=${r.get(1)} dup_rate=${r.get(2)} " +
            s"n=${r.get(3)}" + (if (rules.nonEmpty) s" rules[$rules]" else "")
        }
        Alerts.sendChunked(alerter,
          s"[curation] day=$day ${lines.length} key(s) below curation " +
            s"floor (keep<$minKeepRate or dup>$maxDupRate): " +
            lines.mkString("; "))
        sentMessages += 1
      }
    }
    val landed = lake.read(out).filter(col("ingest_day") === lit(day))
    val failed = Seq(
      Quality.offendingResult(s"unique_$idCol",
        Quality.SchemaTests.unique(landed, Seq(idCol))),
      Quality.offendingResult(s"not_null_$langCol",
        Quality.SchemaTests.notNull(landed, langCol)),
      Quality.offendingResult("not_null_n_tok",
        Quality.SchemaTests.notNull(landed, "n_tok"))
    ).filterNot(_.passed)
    if (failed.nonEmpty) {
      val lines = failed.map(r =>
        s"${r.name}: ${r.nOffending} offending, sample ${r.sample.mkString(" | ")}")
      Alerts.sendChunked(alerter,
        s"[quality] day=$day ${failed.length} check(s) failed on ${out.table}: " +
          lines.mkString("; "))
      sentMessages += 1
    }
    sentMessages
  }

  /** The production BPE vocabulary size: large enough that `n_tok`
    * denominations (pack budgets, dataset cards) behave like a real
    * tokenizer's, small enough to train in seconds from a day's word
    * counts ([[graft.functions.Bpe.trainFromWordCounts]]'s incremental
    * trainer: 32,768 merges from 64k words in ~5 s). */
  val DefaultVocabMerges: Int = 32768

  /** Load the ingest's tokenizer from `vocabFile`, TRAINING it from
    * `docs` with `spec` and persisting it there first if absent — so
    * day one pays one training pass and every later day (and every
    * crash replay) reads the identical file. Crash safety: the file
    * appears via write-to-temp + rename, and a crash before the rename
    * just retrains — deterministically, from the same word counts — on
    * the retry. The file is the family's public text format, so an
    * externally trained vocabulary dropped at the same path wins over
    * training. */
  def ensureVocab(spark: SparkSession, docs: DataFrame, textCol: String,
                  vocabFile: String, spec: TokenizerSpec): Tokenizer = {
    import org.apache.hadoop.fs.Path
    val p = new Path(vocabFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try spec.parse(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } else {
      val vocab = spec.train(docs, col(textCol))
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write((vocab.toText + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p) && !fs.exists(p))
        throw new java.io.IOException(
          s"could not persist ${vocab.family} vocab at $p")
      vocab
    }
  }

  /** Production training spec and managed file name per family — what
    * the CLI's `vocab` argument resolves through [[ensureVocab]]. */
  private val Managed: Map[String, (TokenizerSpec, String)] = Map(
    "bpe" -> ((TokenizerSpec.Bpe(DefaultVocabMerges), "merges.txt")),
    "unigram" -> ((TokenizerSpec.Unigram(8192, maxPieceLen = 8), "vocab.tsv")),
    "wordpiece" -> ((TokenizerSpec.WordPiece(8192), "vocab.txt")))

  val Usage: String = "usage: graft.tools.DailyIngest <lakeRoot> <stateRoot> " +
    "<inputParquet> <yyyy-mm-dd> [ttlDays=30] [budgetTokens=2048] [embedCol] " +
    "[semanticThreshold] [vocab] [pqRefine] [scrub-lines] [decontam]"

  /** [[main]]'s command line ([[Usage]]), positional.
    * Input schema: doc_id, text, lang (+ the embedding column when the
    * ANN leg is enabled). Passing `embedCol` turns on the retrieval
    * index and its maintenance tick; adding `semanticThreshold` (and
    * `pqRefine`) also gates the batch semantically against it. The
    * literal `scrub-lines` in position 7 adds the C4 line-level rewrite
    * stage after the doc gates ([[CorpusDedup.scrubLinesSince]],
    * TTL-dated, replay-exact via beforeDate = day); the literal
    * `decontam` in position 8 scrubs registered-benchmark spans
    * ([[CorpusDedup.commitTestShingles]] registers sets out-of-band).
    *
    * `vocab` selects the tokenizer behind every `n_tok` the ingest
    * writes (pack budgets, card counts):
    *   - omitted (the DEFAULT): a REALISTIC vocabulary managed under
    *     `<stateRoot>/bpe/merges.txt` — trained once from the first
    *     day's corpus ([[DefaultVocabMerges]] merges) and reused by
    *     every later day ([[ensureVocab]]);
    *   - a path: an externally trained merges.txt in the public
    *     one-merge-per-line format;
    *   - the literal `builtin`: the committed fixture vocabulary
    *     (90 merges — test-scale, NOT a production denomination);
    *   - `unigram` / `unigram:<path>`: the unigram-LM family (managed
    *     under `<stateRoot>/unigram`, or an external piece<TAB>logprob
    *     file);
    *   - `wordpiece` / `wordpiece:<path>`: the WordPiece family
    *     (managed under `<stateRoot>/wordpiece`, or an external BERT
    *     one-piece-per-line vocab.txt).
    *
    * The index and the tokenizer need the session (and the tokenizer
    * the run lock), so [[stages]] takes them once they exist. */
  final case class Cli(lakeRoot: String, stateRoot: String, input: String,
                       day: Date, ttlDays: Int = 30, budget: Long = 2048L,
                       embedCol: Option[String] = None,
                       semantic: Option[Stages.Semantic] = None,
                       vocab: Option[String] = None,
                       lineScrub: Boolean = false, decontam: Boolean = false) {
    def stages(index: => AnnIndex, tokenizer: Tokenizer): Stages =
      Stages(ann = embedCol.map(Stages.Ann(index, _, semantic)),
        vocab = tokenizer, lineScrub = lineScrub, decontam = decontam)
  }

  /** The command line as [[Cli]]; None when it is malformed: fewer than
    * four or more than twelve arguments, a day that is not yyyy-mm-dd,
    * or a number that does not parse. */
  def parse(args: Seq[String]): Option[Cli] = args match {
    case Seq(lakeRoot, stateRoot, input, dayStr, rest @ _*)
        if rest.length <= 8 =>
      // an absent position reads None; a malformed one fails the parse
      def num[A](i: Int, read: String => Option[A]): Option[Option[A]] =
        rest.lift(i).fold[Option[Option[A]]](Some(None))(read(_).map(Some(_)))
      for {
        day <- scala.util.Try(Date.valueOf(dayStr)).toOption
        ttlDays <- num(0, _.toIntOption)
        budget <- num(1, _.toLongOption)
        threshold <- num(3, _.toDoubleOption)
        pqRefine <- num(5, _.toIntOption)
      } yield Cli(lakeRoot, stateRoot, input, day, ttlDays.getOrElse(30),
        budget.getOrElse(2048L), embedCol = rest.lift(2),
        semantic = threshold.map(Stages.Semantic(_, pqRefine)),
        vocab = rest.lift(4),
        lineScrub = rest.lift(6).contains("scrub-lines"),
        decontam = rest.lift(7).contains("decontam"))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    import cli.{day, stateRoot, ttlDays}
    // The dedup seen-sets and ANN lists are CATALOG tables (bucket specs
    // live in the metastore); with Spark's default in-memory catalog a
    // new JVM forgets them and every day-2 run re-admits the whole
    // corpus. The entry point therefore pins a PERSISTENT metastore —
    // derby under stateRoot locally, swapped for the shared metastore in
    // a real deployment — so state survives across daily driver runs.
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$stateRoot/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$stateRoot/metastore_db;create=true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lake = new Lake(spark, cli.lakeRoot)
    val state = new StateStore(spark, stateRoot)
    val dd = new CorpusDedup(spark, lake, "crawl")
    val cp = new CorpusPack(spark, state, "crawl", budgetTokens = cli.budget)
    val runLock = new RunLock(spark, stateRoot)
    val lockRef: LockRef = Some((runLock, "crawl_daily_ingest"))
    val done = runLock.withLock("crawl_daily_ingest") {
      val docs = spark.read.parquet(cli.input)
      // vocab resolution runs INSIDE the lock: day-one training and the
      // vocab-file write are state mutations like any other
      def managed(family: String, path: Option[String]): Tokenizer = {
        val (spec, file) = Managed(family)
        ensureVocab(spark, docs, "text",
          path.getOrElse(s"$stateRoot/$family/$file"), spec)
      }
      val vocab = cli.vocab match {
        case Some("builtin") => BpeVocab.default
        case Some(f @ ("unigram" | "wordpiece")) => managed(f, None)
        case Some(v) if v.startsWith("unigram:") || v.startsWith("wordpiece:") =>
          val (f, path) = v.splitAt(v.indexOf(':'))
          managed(f, Some(path.tail))
        case path => managed("bpe", path)
      }
      println(s"[daily-ingest] n_tok denomination: ${vocab.family}")
      val stages = cli.stages(new AnnIndex(spark, lake, "crawl_ann"), vocab)
      val idx = stages.ann.map(_.index)
      val n = run(lake, dd, cp, TableRef("prod", "crawl", "packed"),
        docs, "doc_id", "text", "lang", day, ttlDays, stages, lock = lockRef)
      // health watch: drift on the RAW feed (pre-dedup, keyed by lang;
      // NaN = a language vanished = maximal drift) plus generic quality
      // checks on the landed partition, routed through the alert sink
      // (console here; a webhook Alerter in a real deployment)
      val nAlerts = healthTick(lake, TableRef("prod", "crawl", "token_hist"),
        TableRef("prod", "crawl", "packed"), docs, "lang", "text",
        "doc_id", "lang", day, new graft.ops.ConsoleAlerter)
      if (nAlerts == 0)
        println(s"[daily-ingest] health: drift + quality clean vs previous day")
      expire(dd, day, ttlDays, ann = idx, lock = lockRef)
      idx.foreach { i =>
        val m = maintain(i, day, lock = lockRef)
        println(s"[daily-ingest] ann maintenance: $m")
      }
      println(s"[daily-ingest] day=$day landed=$n")
    }
    if (done.isEmpty)
      System.err.println("[daily-ingest] skipped: another run holds the lock")
    spark.stop()
  }
}
