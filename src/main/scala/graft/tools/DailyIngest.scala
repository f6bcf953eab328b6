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
  * idempotently.
  *
  * Crash-idempotence by construction — the step ORDER is the invariant:
  *
  *   land (overwritePartitions by ingest_day) → [ANN dated overwrite] →
  *   pack-commit → exact-dedup-commit → near-dup-commit
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

  /** One day's ingest. Returns the number of rows present in the day's
    * partition after the ingest — STABLE under replay (a clean rerun
    * returns the same count it landed the first time, having re-landed
    * nothing). `docs` must carry `idCol` (monotone across days — the
    * CorpusPack precondition), `textCol` and `langCol`.
    *
    * `ann = Some((index, embedCol))` adds the retrieval leg: the day's
    * NOVEL embeddings land in the dated IVF index via
    * [[AnnIndex.appendDated]] — a dynamic partition overwrite keyed by
    * the same day, so every crash window replays to the identical index
    * state (the pre-commit `novel` frame recomputes identically, and
    * post-commit replays overwrite nothing because novel is empty). The
    * step sits BEFORE the state commits for exactly that reason. The
    * first day bootstraps the index ([[AnnIndex.buildDated]], k sized
    * from the batch); [[expire]] ages it out on the same TTL as the
    * dedup seen-sets.
    *
    * `semanticThreshold = Some(θ)` (requires `ann`) adds SEMANTIC dedup
    * as a third gate after exact and near-dup:
    * [[CorpusDedup.novelSemantic]] drops docs whose embedding is ≥ θ
    * cosine to the index window — gated on `seen_date < day`, NEVER the
    * day itself, so a crash between the index append and the pack
    * commit replays to the SAME novel set (gating on the full index
    * would self-collide on the replay, hand [[CorpusPack.assign]] an
    * empty frame, and leave the cursors pointing before the landed
    * rows — the exact hazard the step-order invariant above exists to
    * prevent). When the pre-day window holds NO vectors
    * ([[AnnIndex.hasEntriesBefore]] — day one, or a fully aged-out
    * index; the predicate deliberately ignores the day's own
    * partition so crash replays branch identically), the batch
    * deduplicates in-batch with
    * [[graft.functions.DedupOps.semanticDedupBlocked]] (trained on
    * the batch, deterministic, so replays agree) and the index is
    * built from those survivors — afterwards the index holds only
    * admitted vectors, which is what keeps the gate's "≥ θ to
    * anything stored" reading correct.
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
    * ADMITS a duplicate, never drops a novel doc.
    *
    * `qualityGate = Some(model)` drops documents scoring ≤
    * `qualityThreshold` log-odds (default 0 — P(curated) ≤ 0.5; pass
    * a q142-calibrated per-dataset value to hit a kept-token budget
    * instead of the fixed cut)
    * under a TRAINED [[graft.functions.QualityClassifier]] model (the
    * q130 gate) BEFORE any dedup stage — the scale-right order: the
    * gate is one scan-local codegen'd predicate (zero shuffles), so
    * junk never reaches the hash/band/index machinery. Replay-exact by
    * construction: the model is a constant loaded from its weights
    * file, and the gate composes with the pre-commit recompute
    * invariant like any deterministic filter. Gating uses the 4-dp
    * ROUNDED score, the same comparison q130's oracle pins.
    *
    * `nearDupVerify = Some(minAgree)` swaps the candidate-level
    * cross-run near-dup gate for the signature-verified one
    * ([[graft.lake.CorpusDedup.novelNearDupVerifiedSince]]): a band
    * collision only drops a doc when MinHash lane agreement reaches
    * `minAgree`, so single-band flukes are admitted. Gate and commit
    * pair on the verified state table; choose the policy when the
    * dataset's seen-set is first created and keep it — the two tables
    * are separate state.
    *
    * `vocab` is the n_tok denomination: any [[Tokenizer]] — BPE by
    * default, or a [[graft.functions.UnigramVocab]] /
    * [[graft.functions.WordPieceVocab]] to switch family. The
    * q141/q150 cross-family fertility comparison is the signal for the
    * switch. Pin the family per dataset — mixing denominations across
    * days makes pack budgets incomparable (the vocab-file contract).
    *
    * `decontam = true` adds benchmark DECONTAMINATION as a REWRITE
    * stage after the doc-level gates and before the line scrub: spans
    * around collisions with every test set registered strictly before
    * `day` ([[CorpusDedup.commitTestShingles]] — registration is
    * out-of-band, a benchmark release) are removed via the q138
    * operator ([[CorpusDedup.decontamScrubSince]]); docs scrubbed to
    * nothing (pure benchmark text) drop like the line scrub's
    * n_kept = 0 rule. Replay-exact by the same strictly-before-day
    * window as every `beforeDate` in this composition: a crash replay
    * sees the identical registered set even if a new benchmark landed
    * since. Ordered BEFORE the line scrub so benchmark text can never
    * survive as a "novel line" in the day's line seen-set view.
    *
    * `repetitionRules = true` adds the OTHER half of the Gopher §A1.1
    * gate (q145, [[graft.functions.TextOps.repetitionKeep]] — the
    * thirteen published repetition thresholds) right after the quality
    * rules: the same zero-exchange scan-local predicate class, and the
    * same admitted-only seen-set contract.
    *
    * `codeRules = true` applies The Stack's code-corpus preprocessing
    * filter (q148, [[graft.functions.TextOps.stackCodeKeep]] —
    * Kocetkov et al. 2022 §2.2: line-length bounds, alnum fraction,
    * XML-declaration screen) as the gate a CODE ingest runs where a
    * web ingest runs the gopher/repetition rules — same scan-local
    * deterministic predicate class, same admitted-only contract.
    * `permissiveOnly = true` adds The Stack's §2.3 license gate
    * (q153, [[graft.functions.TextOps.licenseDetect]]): keep only
    * files whose detected license is permissive. Pass `repoLicense =
    * Some((repoCol, pathCol))` to run it at REPO level (q155,
    * [[graft.functions.TextOps.licenseInherit]]) — licenses detected
    * from LICENSE/COPYING blobs, files inherit, in-file evidence
    * overrides; the published pipeline's actual discipline, without
    * which a real code corpus (where most files carry no header)
    * mis-rejects nearly everything.
    *
    * `checkpointDir = Some(dir)` is the CLUSTER-durability posture: the
    * tick's two lineage-cut frames (`admitted`, `novel`) checkpoint
    * RELIABLY to `dir` (shared storage) instead of executor-local
    * blocks, so an executor loss re-reads files rather than failing
    * the run. Default None keeps localCheckpoint — the right trade in
    * local mode and on preemption-free clusters; an executor loss
    * there aborts the run and recovery is the day-level replay
    * invariant (the tick is idempotent). Results identical either
    * way. The dir is run-scoped: delete it after the day's commits.
    *
    * `gopherRules = Some((minWords, maxWords))` applies the Gopher
    * document-quality rule set (q137,
    * [[graft.functions.TextOps.gopherKeep]]) as the EARLIEST gate —
    * before even the trained classifier: it is a single codegen
    * byte-walk predicate with zero exchanges, and the heuristic rules
    * are exactly the cheap junk screen the trained gate should not
    * have to spend its signal on. Deterministic, so it composes with
    * the replay invariants like any constant filter; like the trained
    * gate, rejected docs never reach the seen-sets (the admitted-only
    * commit contract). */
  def run(lake: Lake, dd: CorpusDedup, cp: CorpusPack, out: TableRef,
          docs: DataFrame, idCol: String, textCol: String, langCol: String,
          day: Date, ttlDays: Int,
          ann: Option[(AnnIndex, String)] = None,
          semanticThreshold: Option[Double] = None,
          vocab: Tokenizer = BpeVocab.default,
          pqRefine: Option[Int] = None,
          lineScrub: Boolean = false,
          qualityGate: Option[graft.functions.QualityClassifier.Model] = None,
          nearDupVerify: Option[Double] = None,
          gopherRules: Option[(Long, Long)] = None,
          decontam: Boolean = false,
          lock: LockRef = None,
          repetitionRules: Boolean = false,
          qualityThreshold: Double = 0.0,
          codeRules: Boolean = false,
          permissiveOnly: Boolean = false,
          repoLicense: Option[(String, String)] = None,
          checkpointDir: Option[String] = None)
      : Long = {
    require(semanticThreshold.isEmpty || ann.nonEmpty,
      "semanticThreshold needs the ann leg — the index is the seen-set")
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
    // Every stats-struct gate goes through TextOps.gateOnce (r17): a
    // direct filter(keep(stats(text))) carries one kernel COPY per
    // referenced field — 13 for the repetition gate — and FilterExec
    // re-evaluates each (no subexpression elimination in filters;
    // probe-measured 8.7 s vs 1.8 s at sf0.1). gateOnce binds the
    // struct as a lambda variable: one kernel pass per row, same value.
    import graft.functions.TextOps.gateOnce
    val ruled0 = gopherRules.map { case (minW, maxW) =>
      docs.filter(gateOnce(graft.functions.TextOps.gopherStats(col(textCol)),
        graft.functions.TextOps.gopherKeep(_, minW, maxW)) === 1)
    }.getOrElse(docs)
    // `repetitionRules = true` completes the Gopher gate: the §A1.1
    // REPETITION half (q145, TextOps.repetitionKeep) beside the
    // quality half — another scan-local codegen predicate with zero
    // exchanges, deterministic, so the replay invariants hold unchanged
    val ruled1 = if (repetitionRules)
      ruled0.filter(gateOnce(
        graft.functions.TextOps.repetitionStats(col(textCol)),
        graft.functions.TextOps.repetitionKeep) === 1)
    else ruled0
    // `codeRules = true` applies The Stack's code-corpus preprocessing
    // (q148, TextOps.stackCodeKeep): line-length bounds, the alnum
    // fraction and the XML-declaration screen — the gate a CODE ingest
    // runs where a web ingest runs gopher/repetition. Same class of
    // predicate (one codegen byte-walk, zero exchanges, deterministic),
    // same admitted-only seen-set contract.
    val ruled2 = if (codeRules)
      ruled1.filter(gateOnce(graft.functions.TextOps.codeStats(col(textCol)),
        graft.functions.TextOps.stackCodeKeep) === 1)
    else ruled1
    // `permissiveOnly = true` applies The Stack's OTHER gate (§2.3,
    // q153): keep only files whose detected license is permissive —
    // copyleft, unknown and unlicensed are all excluded from the
    // permissive release. With `repoLicense = Some((repoCol, pathCol))`
    // the gate runs the published pipeline's ACTUAL discipline (q155):
    // repo licenses detected from LICENSE/COPYING blobs over the
    // PRE-GATE corpus (a license blob must name the repo's license
    // even when it would itself be filtered), files inherit via the
    // broadcast join, in-file evidence overrides. Without repo info
    // the in-file-only scan-local predicate applies (zero exchanges).
    val ruled = if (permissiveOnly) repoLicense match {
      case Some((repoCol, pathCol)) =>
        val repoLic = graft.functions.TextOps
          .repoLicenseTable(docs, repoCol, pathCol, textCol)
        graft.functions.TextOps
          .licenseInherit(ruled2, repoLic, repoCol, textCol)
          // gateOnce here too: `license` is an alias (coalesce of the
          // in-file detect chain and the joined repo license) that
          // predicate pushdown inlines into the condition — licenseKeep
          // references it ~6 times
          .filter(gateOnce(col("license"),
            graft.functions.TextOps.licenseKeep) === 1)
          .drop("license", "inherited")
      case None =>
        ruled2.filter(gateOnce(
          graft.functions.TextOps.licenseDetect(col(textCol)),
          graft.functions.TextOps.licenseKeep) === 1)
    } else ruled2
    // the acceptance cut is a PARAMETER, not the hardcoded log-odds 0:
    // q142's calibration picks the threshold that hits a kept-token
    // budget, and this is where its number lands (> comparison on the
    // 4-dp ROUNDED score, the q130 oracle convention)
    // admitted is consumed FOUR times (the novel chain below plus the
    // three seen-set commits, each of which re-derived the whole gate
    // cascade — by design for replay, but the recompute is pure waste).
    // Checkpoint like `novel`: admitted's plan reads only the
    // corpus (never the ANN lists table), so the §-novel invalidation
    // hazard does not apply; lazy, so the first consumer materializes
    // it. Probe-measured before keeping (see OPTIMIZATION_r17.md).
    // `checkpointDir` picks the durability mode — see `novel` below.
    val admitted = graft.functions.DedupOps.materializeFrame(
      qualityGate.map(m =>
        ruled.filter(round(m.scoreCol(col(textCol)), 4) > qualityThreshold))
        .getOrElse(ruled),
      checkpointDir, eager = false)
    // Gate construction below is PURE PLAN BUILDING — no Spark jobs run
    // until a downstream action — so it carries no job labels (ADVICE
    // r17: labels on plan-construction-only calls never attach to any
    // job and made the IngestProbe breakdown misleading; the gate
    // chain's actual jobs land under "gate chain checkpoint" /
    // "gates+dedup+land"). The two constructions that DO run jobs —
    // the semantic gate's window probe and the decontam kernel-entry
    // sizing — keep labels of their own.
    val exactNovel = dd.novelExactSince(admitted, idCol, textCol, minDate)
    // `nearDupVerify = Some(minAgree)` swaps the candidate-level
    // cross-run gate for the signature-VERIFIED one (single-band
    // flukes admitted; drops need >= minAgree lane agreement) — gate
    // and commit must pair on the same state table, chosen here once
    val textNovel = nearDupVerify match {
      case Some(minAgree) => dd.novelNearDupVerifiedSince(
        exactNovel, idCol, textCol, minDate, minAgree)
      case None => dd.novelNearDupSince(exactNovel, idCol, textCol, minDate)
    }
    val semNovel = (ann, semanticThreshold) match {
      // branch on "the PRE-day window holds vectors", NOT on
      // idx.exists: the bootstrap day WRITES the index before the
      // state commits, so a crash in between would flip exists on the
      // replay and switch it to the gate's pairwise drop policy — a
      // different novel set than the attempt being replayed (the same
      // hazard beforeDate guards, one level up). An index whose
      // window has fully aged out re-bootstraps the same way.
      case (Some((idx, embedCol)), Some(th))
          if labeled("semantic gate window probe")(
            idx.hasEntriesBefore(day, minDate)) =>
        dd.novelSemantic(idx, textNovel, idCol, embedCol, th,
          minDate = Some(minDate), beforeDate = Some(day),
          pqRefine = pqRefine.filter(_ => idx.pqEnabled))
      case (Some((_, embedCol)), Some(th)) =>
        // the in-batch bootstrap DOES run jobs during construction
        // (quantizer sizing count + Lloyd training) — label them
        val keepers = labeled("semantic gate bootstrap")(
          graft.functions.DedupOps.semanticDedupBlocked(
            textNovel.select(col(idCol), col(embedCol)), idCol, embedCol, th,
            keepPerCluster = 1))
          .filter(col("keep") === 1).select(col(idCol))
        textNovel.join(keepers, Seq(idCol), "left_semi")
      case _ => textNovel
    }
    // `lineScrub` adds the C4 LINE policy as a REWRITE stage after the
    // three doc-level gates (cheapest order — whole-doc dups drop
    // before their lines are ever segmented): lines already committed
    // in [minDate, day) strip out of surviving docs, docs scrubbed to
    // NOTHING drop entirely (an all-historical doc is a duplicate the
    // exact gate only catches when byte-identical). beforeDate = day
    // keeps the stage replay-exact — see scrubLinesSince. The gated
    // frame persists because the scrub's two segment passes plus the
    // join-back would otherwise re-derive the 3-gate chain four times.
    val semPersisted = if (lineScrub || decontam)
      Some(semNovel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else None
    // benchmark decontamination rewrites FIRST (strictly-before-day
    // registered sets — see the Scaladoc): a span of benchmark text
    // must not reach the line segmenter, and a doc scrubbed to nothing
    // is pure benchmark text and drops (originally-empty docs have
    // n_removed = 0 and pass)
    val decontamed = semPersisted.filter(_ => decontam).map { sem =>
      // this construction runs jobs (kernel-entry sizing count/collect
      // inside decontamScrubSince) — the label is real
      labeled("decontam scrub setup")(
        dd.decontamScrubSince(sem, idCol, textCol, day))
        .filter(col("n_removed") === 0 || col("text_clean") =!= "")
        .drop("n_removed")
        .withColumnRenamed("text_clean", textCol)
    }.getOrElse(semPersisted.getOrElse(semNovel))
    // with BOTH rewrite stages on, the intermediate persists too: the
    // line scrub's two segment passes plus its join-back would re-run
    // the span scrub three times otherwise
    val decontamPersisted = if (decontam && lineScrub)
      Some(decontamed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else None
    val lineBase = decontamPersisted.getOrElse(decontamed)
    val gatedNovel = if (lineScrub) {
      // pure plan construction — no label (see the gate-chain note)
      val scrub = dd.scrubLinesSince(lineBase, idCol, textCol, minDate,
        beforeDate = Some(day))
      lineBase.drop(textCol).join(
        scrub.filter(col("n_kept") > 0)
          .select(col(idCol), col("text_dedup").as(textCol)),
        Seq(idCol))
    } else lineBase
    // persisted: `novel` is the most expensive frame of the composition
    // (three dedup gates deep) and is consumed by the land, the ANN leg
    // and the pack commit — without the cache each consumer re-derives
    // the whole gate chain. Persistence is an execution hint, not a
    // semantic change, so the replay invariant is untouched (a crash
    // replay recomputes the identical frame from unchanged state).
    // the n_tok DENOMINATION: whichever tokenizer family `vocab` is —
    // every downstream consumer (pack budgets, cards, health ticks) is
    // denomination-agnostic, it just sums n_tok
    val tokenCount = vocab.count(col(textCol))
    // Checkpoint, NOT persist (r17, probe-measured): with the
    // steady-state semantic gate, novel's plan READS the ANN lists
    // table, and the ann-append step below refreshes that table —
    // which invalidates any persisted plan referencing it, so the
    // pack-commit (and every later consumer) silently re-derived the
    // ENTIRE gate chain (52 jobs, ~13.5 s of a 12 s tick at sf0.001;
    // the bootstrap path never hit this because its in-batch gate
    // reads no table). Checkpointing cuts the lineage to stored
    // blocks the refresh cannot invalidate. Lazy: the land below is
    // the first action and materializes it. Same execution-hint
    // semantics as the persist it replaces (replay invariant
    // untouched); local-checkpoint blocks are freed by the
    // ContextCleaner when the checkpointed RDD goes out of scope.
    //
    // DURABILITY is `checkpointDir`'s choice (r18, VERDICT r17 #2/#4):
    //  - None (default, local mode): localCheckpoint — executor block
    //    storage, fast, but lineage is CUT, so on a real cluster an
    //    executor loss makes the blocks unrecomputable and the RUN
    //    FAILS OUTRIGHT (not a task retry — there is no lineage to
    //    retry from). Recovery is the day-level replay invariant: the
    //    tick is idempotent, rerun it.
    //  - Some(dir) (clustered posture): reliable checkpoint to shared
    //    storage via DedupOps.materializeFrame — same results, an
    //    executor loss re-reads the files and the run survives. The
    //    checkpoint-dir ownership discipline (and its lifecycle: the
    //    caller deletes the run-scoped dir after the tick's results
    //    are committed) is DedupOps.materialize's documented contract.
    // (labeled: under AQE, even the lazy checkpoint materializes every
    // intermediate exchange of the chain at this call — these are the
    // tick's heaviest jobs)
    val novel = labeled("gate chain checkpoint")(
      graft.functions.DedupOps.materializeFrame(
        gatedNovel.withColumn("n_tok", tokenCount),
        checkpointDir, eager = false))
    try {
      val batchId = day.toString
      val packed = labeled("pack assign")(
        cp.assign(novel, langCol, idCol, "n_tok", batchId))
        .withColumn("ingest_day", lit(day))
      // the land MATERIALIZES the assigned frame (CorpusPack's
      // materialize-then-commit contract) and is itself idempotent: the
      // dynamic overwrite replaces exactly this day's partition, and an
      // empty frame touches no partition at all
      guard(lock)
      labeled("gates+dedup+land")(lake.overwritePartitions(
        packed.select(col(idCol), col(langCol), col("n_tok"),
          col("pack_id"), col("ingest_day")),
        out, partitionBy = Seq("ingest_day")))
      val landed = labeled("landed count")(lake.read(out)
        .filter(col("ingest_day") === lit(day)).count())
      ann.foreach { case (idx, embedCol) =>
        guard(lock)
        labeled("ann index") {
          val vecs = novel.select(col(idCol), col(embedCol))
          if (!idx.exists) {
            val n = vecs.count()
            if (n > 0)
              idx.buildDated(vecs, idCol, embedCol,
                k = math.max(4, (n / 500L).toInt), day)
          } else idx.appendDated(vecs, idCol, embedCol, day)
        }
      }
      guard(lock)
      labeled("pack commit")(
        cp.commit(novel, langCol, idCol, "n_tok", batchId))
      // seen-set contract: the ADMITTED frame (post-quality-gate), not
      // the raw batch. Committing pre-gate docs would mean a later,
      // better gate model finds recurring text it now admits already
      // exact-seen against junk history — silently starved forever.
      // Gate-dropped docs re-arriving re-score the same (the model is
      // a constant), so excluding them loses no dedup power; replay
      // recomputes the identical admitted frame from unchanged state.
      // The three seen-set commits stay SEQUENTIAL. They are mutually
      // independent (each writes its own state table; every gate read
      // is windowed strictly before `day`, so any committed subset
      // replays clean), and guide §2.6 suggests overlapping them — but
      // the measured result on local[32] was a 5× REGRESSION (probe:
      // 12.2 s sequential vs 66.7 s with a 3-thread pool; the three
      // bucketed insertInto writes contend on the catalog and the
      // concurrent gate-chain scans triple the per-core load exactly
      // when each job needs the cores). Re-evaluate on a real cluster
      // where the anti-join tails leave executors idle; here the
      // overlap costs more than the tails it fills.
      // The three seen-set commits stay SEQUENTIAL — re-measured at
      // thread-cap 2 this round (r18, VERDICT r17 #8): tick wall
      // 9.76 s sequential vs 15.74 s overlapped, job-time SUM 8.96 →
      // 17.69 s at sf0.1 — even two concurrent commits double the
      // per-core load exactly when each job wants the cores, and the
      // bucketed insertIntos contend on the catalog (same shape as
      // r17's 3-thread 5× regression). Post-r17-checkpoint the three
      // commits total ~1.3 s of a ~9.8 s tick anyway — the overlap's
      // theoretical ceiling is under 0.7 s. Re-evaluate only on a
      // real cluster where commit tails idle hundreds of executors.
      guard(lock)
      labeled("exact commit")(
        dd.commitExactDated(admitted, textCol, day, minDate))
      guard(lock)
      labeled("neardup commit")(nearDupVerify match {
        case Some(_) =>
          dd.commitNearDupVerifiedDated(admitted, idCol, textCol, day, minDate)
        case None =>
          dd.commitNearDupDated(admitted, idCol, textCol, day, minDate)
      })
      if (lineScrub) {
        guard(lock)
        labeled("lines commit")(
          dd.commitLinesDated(admitted, textCol, day, minDate))
      }
      landed
    } finally {
      // novel is checkpointed (not persisted): its blocks are
      // released by the ContextCleaner once the checkpointed RDD is
      // unreachable — there is no cache entry to unpersist
      decontamPersisted.foreach(_.unpersist(blocking = false))
      semPersisted.foreach(_.unpersist(blocking = false))
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

  /** CLI: DailyIngest <lakeRoot> <stateRoot> <inputParquet> <yyyy-mm-dd>
    * [ttlDays=30] [budgetTokens=2048] [embedCol] [semanticThreshold]
    * [vocab] [pqRefine] [scrub-lines].
    * The literal `scrub-lines` in position 7 adds the C4 line-level
    * rewrite stage after the doc gates ([[CorpusDedup.scrubLinesSince]],
    * TTL-dated, replay-exact via beforeDate = day).
    * Input schema: doc_id, text, lang (+ the embedding column when the
    * ANN leg is enabled). Passing `embedCol` turns on the retrieval
    * index and its maintenance tick; adding `semanticThreshold` also
    * gates the batch semantically against it.
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
    *     one-piece-per-line vocab.txt). */
  def main(args: Array[String]): Unit = {
    val Array(lakeRoot, stateRoot, input, dayStr, rest @ _*) = args
    val ttlDays = rest.headOption.map(_.toInt).getOrElse(30)
    val budget = rest.lift(1).map(_.toLong).getOrElse(2048L)
    val embedCol = rest.lift(2)
    val semTh = rest.lift(3).map(_.toDouble)
    val vocabArg = rest.lift(4)
    val pqRefine = rest.lift(5).map(_.toInt)
    val lineScrub = rest.lift(6).contains("scrub-lines")
    // literal `decontam` in position 8: scrub registered-benchmark
    // spans (CorpusDedup.commitTestShingles registers sets out-of-band)
    val decontam = rest.lift(7).contains("decontam")
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
    val lake = new Lake(spark, lakeRoot)
    val state = new StateStore(spark, stateRoot)
    val dd = new CorpusDedup(spark, lake, "crawl")
    val cp = new CorpusPack(spark, state, "crawl", budgetTokens = budget)
    val day = Date.valueOf(dayStr)
    val ann = embedCol.map(c =>
      (new AnnIndex(spark, lake, "crawl_ann"), c))
    val runLock = new RunLock(spark, stateRoot)
    val lockRef: LockRef = Some((runLock, "crawl_daily_ingest"))
    val done = runLock.withLock("crawl_daily_ingest") {
      val docs = spark.read.parquet(input)
      // vocab resolution runs INSIDE the lock: day-one training and the
      // vocab-file write are state mutations like any other
      def managed(family: String, path: Option[String]): Tokenizer = {
        val (spec, file) = Managed(family)
        ensureVocab(spark, docs, "text",
          path.getOrElse(s"$stateRoot/$family/$file"), spec)
      }
      val vocab = vocabArg match {
        case Some("builtin") => BpeVocab.default
        case Some(f @ ("unigram" | "wordpiece")) => managed(f, None)
        case Some(v) if v.startsWith("unigram:") || v.startsWith("wordpiece:") =>
          val (f, path) = v.splitAt(v.indexOf(':'))
          managed(f, Some(path.tail))
        case path => managed("bpe", path)
      }
      println(s"[daily-ingest] n_tok denomination: ${vocab.family}")
      val n = run(lake, dd, cp, TableRef("prod", "crawl", "packed"),
        docs, "doc_id", "text", "lang", day, ttlDays,
        ann = ann, semanticThreshold = semTh, vocab = vocab,
        pqRefine = pqRefine, lineScrub = lineScrub, decontam = decontam,
        lock = lockRef)
      // health watch: drift on the RAW feed (pre-dedup, keyed by lang;
      // NaN = a language vanished = maximal drift) plus generic quality
      // checks on the landed partition, routed through the alert sink
      // (console here; a webhook Alerter in a real deployment)
      val nAlerts = healthTick(lake, TableRef("prod", "crawl", "token_hist"),
        TableRef("prod", "crawl", "packed"), docs, "lang", "text",
        "doc_id", "lang", day, new graft.ops.ConsoleAlerter)
      if (nAlerts == 0)
        println(s"[daily-ingest] health: drift + quality clean vs previous day")
      expire(dd, day, ttlDays, ann = ann.map(_._1), lock = lockRef)
      ann.foreach { case (idx, _) =>
        val m = maintain(idx, day, lock = lockRef)
        println(s"[daily-ingest] ann maintenance: $m")
      }
      println(s"[daily-ingest] day=$day landed=$n")
    }
    if (done.isEmpty)
      System.err.println("[daily-ingest] skipped: another run holds the lock")
    spark.stop()
  }
}
