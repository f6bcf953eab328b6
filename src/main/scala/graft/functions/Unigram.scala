package graft.functions

import org.apache.spark.sql.Column

/** SentencePiece-style unigram-LM subword tokenizer (Kudo 2018,
  * "Subword Regularization", §3) — the second tokenizer FAMILY beside
  * [[Bpe]], pure JVM, zero dependencies.
  *
  * Why a second family: the fertility watch (q129) exists to trigger
  * tokenizer retraining, and with one family the only remedy is "train
  * more BPE merges". The unigram LM is the other production-standard
  * answer (T5, ALBERT, XLNet, mBART all ship it via SentencePiece),
  * with a different failure surface: BPE's greedy merge path can
  * strand rare words in single characters, while the unigram model
  * segments by GLOBAL likelihood over a probabilistic piece vocabulary
  * and degrades smoothly.
  *
  * Same engine architecture as [[Bpe]], deliberately:
  *
  *   - TRAIN as aggregations: the corpus collapses to a
  *     vocabulary-sized word→count frame (one partial-agg shuffle);
  *     seeding, EM and pruning run driver-side over that bounded
  *     table — the corpus itself never reaches the driver;
  *   - ENCODE through the shared [[Tokenizer]] interface and its
  *     native codegen expression ([[graft.expressions.TokenEncode]])
  *     with a per-task word cache — Viterbi per word is a pure
  *     function and corpora are Zipfian;
  *   - a `piece<TAB>logprob` serialization (the public SentencePiece
  *     .vocab text shape), so an externally trained vocabulary drops
  *     in, and logprobs round-trip EXACTLY (shortest-repr decimal).
  *
  * Training follows Kudo §3.2: seed a large candidate set (all
  * codepoint-aligned substrings up to `maxPieceLen`, scored by
  * occurrence mass), run EM where the E-step computes expected piece
  * counts by forward–backward over each word's segmentation lattice,
  * then PRUNE the lowest-expected-count pieces (single codepoints are
  * never pruned — they guarantee coverage) and repeat until the target
  * vocabulary size. Pruning by expected count is the standard
  * simplification of Kudo's leave-one-out loss (the loss ranking and
  * the expected-count ranking agree except near ties — both drop the
  * pieces the model barely uses); determinism everywhere: words
  * iterate in sorted order, ties break lexicographically, no RNG.
  *
  * Reference behavior: prefeitura-rio/pipelines has no tokenizer
  * (beyond-reference LLM-pipeline mandate, like [[Bpe]]).
  */
final case class UnigramVocab(pieces: Vector[(String, Double)])
    extends Tokenizer {
  require(pieces.nonEmpty, "empty unigram vocabulary")

  def family: String = "unigram"

  /** piece → log p(piece). */
  @transient lazy val logProb: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  @transient lazy val maxPieceLen: Int = pieces.map(_._1.length).max

  /** Unknown-codepoint penalty: below every stored logprob by a fixed
    * margin, so an unk piece is only ever chosen when NO vocabulary
    * segmentation covers a character (SentencePiece's <unk> role). */
  @transient lazy val unkLogProb: Double = pieces.map(_._2).min - 10.0

  /** Viterbi segmentation: the piece sequence maximizing Σ log p,
    * ties preferring FEWER pieces then the longer final piece —
    * deterministic, and the (ll, count) part of the rule is what the
    * oracle pins (equal-ll equal-count ties cannot change the count).
    * DP over char positions, O(len × maxPieceLen) lookups; codepoint
    * safety: no vocabulary piece starts/ends mid-surrogate (pieces are
    * codepoint substrings), and the unk fallback advances whole
    * codepoints, so split points never land inside a pair. */
  def encodeWord(word: String): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val NEG = Double.NegativeInfinity
    val ll = new Array[Double](n + 1)
    val nt = new Array[Int](n + 1)
    val back = new Array[Int](n + 1) // best start position for pos i
    java.util.Arrays.fill(ll, NEG)
    ll(0) = 0.0
    var i = 1
    while (i <= n) {
      back(i) = -1
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (ll(j) != NEG) {
          val lp = logProb.get(word.substring(j, i))
          if (lp != null) {
            val cand = ll(j) + lp.doubleValue()
            val candNt = nt(j) + 1
            if (back(i) == -1 || cand > ll(i) ||
              (cand == ll(i) && (candNt < nt(i) ||
                (candNt == nt(i) && j < back(i))))) {
              ll(i) = cand; nt(i) = candNt; back(i) = j
            }
          }
        }
        j += 1
      }
      if (back(i) == -1) {
        // no vocabulary piece ends here: unk over the single codepoint
        // ending at i, when i sits on a codepoint boundary
        val lo = if (i >= 2 && Character.isSurrogatePair(word.charAt(i - 2),
          word.charAt(i - 1))) i - 2 else i - 1
        if (ll(lo) != NEG) {
          ll(i) = ll(lo) + unkLogProb; nt(i) = nt(lo) + 1; back(i) = lo
        }
      }
      i += 1
    }
    // walk back (positions with back = -1 are unreachable mid-surrogate
    // slots; the end position is always reachable via unk chaining)
    val out = new scala.collection.mutable.ArrayBuffer[String](nt(n))
    var pos = n
    while (pos > 0) {
      val j = back(pos)
      out += word.substring(j, pos)
      pos = j
    }
    out.reverseIterator.toArray
  }

  /** SUBWORD REGULARIZATION sampling (Kudo 2018 §3.1 — the paper's
    * actual point): draw a segmentation with probability ∝ P(seg)^α
    * via forward-filtering backward-sampling over the same lattice the
    * Viterbi walks. α→∞ degenerates to Viterbi (argmax); small α
    * flattens toward uniform over segmentations — the data-augmentation
    * dial NMT/LLM training uses (one text yields different token
    * sequences per epoch, regularizing the model).
    *
    * DETERMINISTIC by construction, like every sampling op in this
    * engine ([[TextOps.hashFrac]]'s rule): the randomness is a SplitMix
    * walk of `seed` — same (word, α, seed) ⇒ same segmentation on any
    * JVM, executor count, or run. Callers derive the seed from
    * (doc id, epoch) so replays reproduce an epoch's exact token stream
    * while epochs differ. Unknown codepoints follow the Viterbi rule:
    * an unk step is FORCED (only exists where no vocabulary piece ends),
    * so it contributes no branching probability. */
  def sampleWord(word: String, alpha: Double, seed: Long): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val NEG = Double.NegativeInfinity
    // forward log-mass with temperature α; unkFrom(i) >= 0 marks the
    // forced unk predecessor at positions no vocab piece reaches
    val fw = new Array[Double](n + 1)
    val unkFrom = new Array[Int](n + 1)
    java.util.Arrays.fill(fw, NEG)
    java.util.Arrays.fill(unkFrom, -1)
    fw(0) = 0.0
    import graft.core.Mix.lse
    var i = 1
    while (i <= n) {
      var any = false
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (fw(j) != NEG) {
          val lp = logProb.get(word.substring(j, i))
          if (lp != null) {
            fw(i) = lse(fw(i), fw(j) + alpha * lp.doubleValue()); any = true
          }
        }
        j += 1
      }
      if (!any) {
        val lo = if (i >= 2 && Character.isSurrogatePair(word.charAt(i - 2),
          word.charAt(i - 1))) i - 2 else i - 1
        if (fw(lo) != NEG) { fw(i) = fw(lo); unkFrom(i) = lo }
      }
      i += 1
    }
    // backward sampling: at position i, predecessor j drawn with
    // probability exp(fw(j) + α·lp − fw(i)); the uniform comes from a
    // SplitMix step keyed by (seed, i) — one draw per emitted piece
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var pos = n
    while (pos > 0) {
      if (unkFrom(pos) >= 0) {
        out += word.substring(unkFrom(pos), pos)
        pos = unkFrom(pos)
      } else {
        val x = graft.core.Mix.mix(seed ^ (pos.toLong * 0x9e3779b9L))
        val u = (x >>> 11).toDouble / (1L << 53).toDouble // [0, 1)
        var acc = 0.0
        var chosen = -1
        var j = math.max(0, pos - maxPieceLen)
        while (j < pos && chosen < 0) {
          if (fw(j) != NEG) {
            val lp = logProb.get(word.substring(j, pos))
            if (lp != null) {
              acc += math.exp(fw(j) + alpha * lp.doubleValue() - fw(pos))
              if (u < acc) chosen = j
            }
          }
          j += 1
        }
        // float round-off can leave acc a hair under 1: fall back to
        // the LAST valid predecessor (ascending walk ⇒ deterministic)
        if (chosen < 0) {
          j = pos - 1
          while (chosen < 0 && j >= math.max(0, pos - maxPieceLen)) {
            if (fw(j) != NEG && logProb.get(word.substring(j, pos)) != null)
              chosen = j
            j -= 1
          }
        }
        out += word.substring(chosen, pos)
        pos = chosen
      }
    }
    out.reverseIterator.toArray
  }

  /** EXACT expected piece count of `word` under the subword-
    * regularization distribution P(seg) ∝ P(seg)^α — the closed-form
    * companion of [[sampleWord]]: E[|seg|] = Σ_seg w(seg)·|seg| / Z
    * by one linear DP (Z and the count-weighted mass W advance
    * together; log-space so long words cannot underflow; forced unk
    * steps multiply both sides by 1 and add one piece, leaving the
    * ratio exact). What it is for: the fertility impact of a chosen α
    * is a DETERMINISTIC number two engines can agree on — q146 pins
    * it against an independent path-enumeration oracle — where any
    * finite set of samples is only an estimate. */
  def expectedPieces(word: String, alpha: Double): Double = {
    val n = word.length
    if (n == 0) return 0.0
    val NEG = Double.NegativeInfinity
    import graft.core.Mix.lse
    val lz = Array.fill(n + 1)(NEG) // log Σ_seg w(seg)
    val lw = Array.fill(n + 1)(NEG) // log Σ_seg w(seg)·|seg|
    lz(0) = 0.0
    var i = 1
    while (i <= n) {
      var any = false
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (lz(j) != NEG) {
          val lp = logProb.get(word.substring(j, i))
          if (lp != null) {
            val step = alpha * lp.doubleValue()
            lz(i) = lse(lz(i), lz(j) + step)
            lw(i) = lse(lw(i), lse(lw(j), lz(j)) + step)
            any = true
          }
        }
        j += 1
      }
      if (!any) {
        val lo = if (i >= 2 && Character.isSurrogatePair(word.charAt(i - 2),
          word.charAt(i - 1))) i - 2 else i - 1
        if (lz(lo) != NEG) {
          lz(i) = lz(lo)
          lw(i) = lse(lw(lo), lz(lo)) // +1 piece, weight unchanged
        }
      }
      i += 1
    }
    if (lz(n) == NEG) 0.0 else math.exp(lw(n) - lz(n))
  }

  /** `piece<TAB>logprob` lines — logprobs in shortest-repr decimal, so
    * text → [[UnigramVocab]] → text round-trips byte-identically and
    * two engines parsing the same file get bit-identical doubles. */
  def toText: String =
    pieces.map { case (p, lp) => s"$p\t$lp" }.mkString("\n")
}

object UnigramVocab {

  def fromText(text: String): UnigramVocab = UnigramVocab(
    // No comment syntax: '#' is a legitimate single-codepoint piece
    // (PretokenPattern emits it and the trainer always keeps singles),
    // so a leading-'#' filter would silently drop it on reload and
    // break toText's byte-identical round-trip. Every non-empty
    // line must be a piece<TAB>logprob pair.
    text.linesIterator
      .filter(_.nonEmpty)
      .map { l =>
        val tab = l.indexOf('\t')
        require(tab > 0, s"malformed vocab line: '$l'")
        (l.substring(0, tab), java.lang.Double.parseDouble(l.substring(tab + 1)))
      }
      .toVector)

  /** The engine's committed default unigram vocabulary (trained by
    * [[graft.tools.TokenizerTrain]] `unigram` on the documents fixture,
    * deterministic — rerunning the tool reproduces it byte-identically). */
  lazy val default: UnigramVocab =
    fromText(Tokenizer.resourceText("/graft/unigram/vocab.tsv"))
}

object Unigram {

  /** Unigram token array of a text column — native codegen expression
    * over [[Bpe.PretokenPattern]] pieces (SAME pretokenization as BPE,
    * so the two families share a denominator and every q110-style
    * metric is comparable across tokenizers). */
  def unigramTokens(c: Column, vocab: UnigramVocab = UnigramVocab.default): Column =
    vocab.tokens(c)

  /** Unigram token COUNT — count-only kernel, no array materializes. */
  def unigramTokenCount(c: Column, vocab: UnigramVocab = UnigramVocab.default): Column =
    vocab.count(c)

  /** Subword-regularization SAMPLE of a text column — segmentations
    * drawn ∝ P^α ([[UnigramVocab.sampleWord]] per pretoken), seeded by
    * `seed` (derive it from (doc id, epoch): replays reproduce an
    * epoch's exact token stream, epochs differ — the Kudo 2018 §3.1
    * augmentation as a deterministic engine op). */
  def sampleTokens(c: Column, seed: Column, alpha: Double = 0.2,
                   vocab: UnigramVocab = UnigramVocab.default): Column =
    graft.expressions.UnigramSample.tokens(c, seed, vocab, alpha)

  /** Count-only twin of [[sampleTokens]]. */
  def sampleTokenCount(c: Column, seed: Column, alpha: Double = 0.2,
                       vocab: UnigramVocab = UnigramVocab.default): Column =
    graft.expressions.UnigramSample.count(c, seed, vocab, alpha)

  /** EXACT expected token count under the P^α sampling distribution
    * ([[UnigramVocab.expectedPieces]] per pretoken, cached) — the
    * deterministic closed form of what [[sampleTokenCount]] estimates:
    * the fertility cost of a regularization α, decidable without
    * drawing a single sample (q146's oracle-checked number). */
  def expectedTokenCount(c: Column, alpha: Double = 0.2,
                         vocab: UnigramVocab = UnigramVocab.default): Column =
    graft.expressions.UnigramExpected.count(c, vocab, alpha)

  /** Deterministic unigram-LM training from a word→count table (Kudo
    * §3.2 over the bounded vocabulary frame — driver-side by design,
    * the [[Bpe.trainFromWordCounts]] contract).
    *
    * @param vocabSize   target piece count (single codepoints are kept
    *                    even if that exceeds the target)
    * @param maxPieceLen candidate piece length cap, in CODEPOINTS —
    *                    also the segmentation non-triviality dial: a
    *                    cap below the longest word forces multi-piece
    *                    segmentations (a whole-word piece would make
    *                    token counting degenerate to word counting)
    * @param seedFactor  seed candidate pool = seedFactor × vocabSize
    * @param emIters     EM sweeps between prunes
    * @param shrink      fraction of the vocabulary KEPT per prune round */
  def trainFromWordCounts(counts: Iterable[(String, Long)], vocabSize: Int,
                          maxPieceLen: Int = 8, seedFactor: Int = 4,
                          emIters: Int = 2, shrink: Double = 0.75)
      : UnigramVocab = {
    require(vocabSize > 0 && maxPieceLen >= 1)
    require(shrink > 0.0 && shrink < 1.0, s"shrink must be in (0,1): $shrink")
    // sorted word order: every accumulation below iterates words in one
    // fixed order, so double sums are bit-deterministic across JVMs
    val words: Array[(String, Long)] = counts.toArray.sortBy(_._1)

    // ---- seed: codepoint-aligned substrings scored by occurrence mass
    val seedScore = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      val cps = BpeVocab.codepoints(w)
      var i = 0
      while (i < cps.length) {
        val sb = new StringBuilder
        var j = i
        while (j < cps.length && j - i < maxPieceLen) {
          sb.append(cps(j))
          val key = sb.toString
          seedScore.update(key, seedScore.getOrElse(key, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    val singles: Set[String] =
      words.flatMap(w => BpeVocab.codepoints(w._1)).toSet
    val multi = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    seedScore.foreach { case (p, c) =>
      if (!singles.contains(p)) multi += ((p, c * p.length))
    }
    // top (seedFactor × vocabSize) multi-codepoint candidates by
    // length-weighted mass (Kudo's seed heuristic), ties lexicographic
    val seedMulti = multi.sortBy { case (p, s) => (-s, p) }
      .take(math.max(0, seedFactor * vocabSize - singles.size))
      .map(_._1)
    var vocab: Vector[String] = (singles.toVector ++ seedMulti).sorted

    // ---- EM: expected piece counts by forward–backward per word
    def emRound(pieces: Vector[String], probs: Map[String, Double])
        : Map[String, Double] = {
      val maxLen = pieces.map(_.length).max
      val lp = probs
      val expected = scala.collection.mutable.HashMap.empty[String, Double]
      words.foreach { case (w, c) =>
        val n = w.length
        val NEG = Double.NegativeInfinity
        // forward log-mass of prefixes / backward of suffixes
        val fw = Array.fill(n + 1)(NEG); fw(0) = 0.0
        val bw = Array.fill(n + 1)(NEG); bw(n) = 0.0
        import graft.core.Mix.lse
        var i = 1
        while (i <= n) {
          var j = math.max(0, i - maxLen)
          while (j < i) {
            val piece = w.substring(j, i)
            lp.get(piece).foreach { l =>
              if (fw(j) != NEG) fw(i) = lse(fw(i), fw(j) + l)
            }
            j += 1
          }
          i += 1
        }
        i = n - 1
        while (i >= 0) {
          var k = math.min(n, i + maxLen)
          while (k > i) {
            val piece = w.substring(i, k)
            lp.get(piece).foreach { l =>
              if (bw(k) != NEG) bw(i) = lse(bw(i), l + bw(k))
            }
            k -= 1
          }
          i -= 1
        }
        val total = fw(n)
        if (total != NEG) {
          // occurrence (j, k) contributes c · exp(fw(j)+lp+bw(k)−total)
          var j = 0
          while (j < n) {
            var k = j + 1
            while (k <= n && k - j <= maxLen) {
              val piece = w.substring(j, k)
              lp.get(piece).foreach { l =>
                if (fw(j) != NEG && bw(k) != NEG) {
                  val e = math.exp(fw(j) + l + bw(k) - total) * c
                  expected.update(piece, expected.getOrElse(piece, 0.0) + e)
                }
              }
              k += 1
            }
            j += 1
          }
        }
      }
      // M-step over the FIXED piece order (sorted vector): deterministic
      var totalE = 0.0
      pieces.foreach(p => totalE += expected.getOrElse(p, 0.0))
      val logTotal = math.log(totalE)
      pieces.iterator.map { p =>
        val e = expected.getOrElse(p, 0.0)
        // pieces with zero expectation get a floor far below real mass
        // (they are prune fodder, but the lattice must stay connected)
        p -> (if (e > 0.0) math.log(e) - logTotal else -1e9)
      }.toMap
    }

    // init: seed-mass-proportional probabilities
    var probs: Map[String, Double] = {
      val totalMass = vocab.iterator
        .map(p => seedScore.getOrElse(p, 1L).toDouble).sum
      vocab.iterator.map(p =>
        p -> math.log(seedScore.getOrElse(p, 1L).toDouble / totalMass)).toMap
    }
    var done = false
    while (!done) {
      var it = 0
      while (it < emIters) { probs = emRound(vocab, probs); it += 1 }
      if (vocab.size <= math.max(vocabSize, singles.size)) done = true
      else {
        // prune lowest-expected-mass multi-codepoint pieces: rank by
        // the fitted logprob (ties lexicographic), keep `shrink` of the
        // current size but never cross the target or drop singles
        val keepN = math.max(math.max(vocabSize, singles.size),
          (vocab.size * shrink).toInt)
        val ranked = vocab.sortBy(p => (singles.contains(p), probs(p), p))(
          Ordering.Tuple3(Ordering.Boolean.reverse,
            Ordering.Double.TotalOrdering.reverse, Ordering.String))
        val kept = ranked.take(keepN).toSet
        vocab = vocab.filter(kept.contains)
        probs = probs.filter { case (p, _) => kept.contains(p) }
      }
    }
    UnigramVocab(vocab.map(p => (p, probs(p))))
  }
}
