package graft.functions

import org.apache.spark.sql.Column

/** WordPiece subword tokenizer (Schuster & Nakajima 2012; the BERT /
  * DistilBERT / Electra family) — the THIRD production tokenizer family
  * beside [[Bpe]] and [[Unigram]], pure JVM, zero dependencies.
  *
  * Why a third family: the three families fail differently, and the
  * fertility watch (q129/q141) exists to compare them. BPE merges by
  * raw pair FREQUENCY; WordPiece merges by LIKELIHOOD GAIN — score =
  * count(xy) / (count(x)·count(y)), the increase in a unigram LM's
  * corpus likelihood from fusing the pair — which prefers pairs that
  * co-occur more than their parts predict (morpheme-shaped pieces)
  * over pairs that are merely common; the unigram LM segments by
  * global likelihood over a probabilistic vocabulary. Encoding is
  * greedy LONGEST-MATCH-FIRST (MaxMatch) with BERT's conventions:
  * word-internal continuation pieces carry the literal "##" prefix,
  * and a word with ANY un-matchable position collapses to one
  * `[UNK]` token (not a partial segmentation — the published
  * behavior, and the property the oracle pins).
  *
  * Same engine architecture as the other two families, deliberately:
  * TRAIN as aggregations (corpus → word→count frame, one partial-agg
  * shuffle; the merge loop runs driver-side over that bounded table);
  * ENCODE through the shared [[Tokenizer]] interface and its native
  * codegen expression ([[graft.expressions.TokenEncode]]) with the
  * per-task Zipf-absorbing word cache; one-piece-per-line
  * serialization (the public BERT vocab.txt shape) so an externally
  * trained vocabulary drops in. Pretokenization is [[Bpe.PretokenPattern]] — the SAME
  * denominator as the other families, which is what makes fertility
  * comparable across them.
  *
  * Reference behavior: prefeitura-rio/pipelines has no tokenizer
  * (beyond-reference LLM-pipeline mandate, like [[Bpe]]/[[Unigram]]).
  */
final case class WordPieceVocab(pieces: Vector[String]) extends Tokenizer {
  require(pieces.nonEmpty, "empty wordpiece vocabulary")

  def family: String = "wordpiece"

  /** Piece membership (head pieces raw, continuations with "##"). */
  @transient lazy val set: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String](pieces.size * 2)
    pieces.foreach(h.add)
    h
  }

  /** Longest RAW (prefix-stripped) lengths per role — the greedy
    * scan's upper bound at each position. */
  @transient lazy val maxHeadRaw: Int =
    pieces.iterator.filterNot(_.startsWith("##")).map(_.length)
      .foldLeft(1)(math.max)
  @transient lazy val maxContRaw: Int =
    pieces.iterator.filter(_.startsWith("##")).map(_.length - 2)
      .foldLeft(1)(math.max)

  /** Greedy longest-match-first segmentation (BERT's MaxMatch): at
    * each position take the LONGEST vocabulary piece ("##"-prefixed
    * when not word-initial); if no piece matches at some position the
    * WHOLE word becomes one [UNK] token. Deterministic — no ties are
    * possible (one piece per (position, length, role)). Positions are
    * UTF-16 units; vocabulary pieces are well-formed codepoint
    * strings, so a candidate that splits a surrogate pair simply
    * never matches and the word falls to [UNK] — the oracle corpus is
    * ASCII-sanitized (the q110/q140 convention), where units =
    * codepoints and the two engines agree position by position. */
  def encodeWord(word: String): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val out = new scala.collection.mutable.ArrayBuffer[String](4)
    var pos = 0
    while (pos < n) {
      val head = pos == 0
      var l = math.min(if (head) maxHeadRaw else maxContRaw, n - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val cand =
          if (head) word.substring(pos, pos + l)
          else "##" + word.substring(pos, pos + l)
        if (set.contains(cand)) hit = cand
        l -= 1
      }
      if (hit == null) return Array(WordPieceVocab.Unk)
      out += hit
      pos += hit.length - (if (head) 0 else 2)
    }
    out.toArray
  }

  /** One piece per line — the public BERT vocab.txt shape; pieces may
    * legitimately start with '#', so there is no comment syntax. */
  def toText: String = pieces.mkString("\n")
}

object WordPieceVocab {

  /** BERT's unknown-word token — a whole un-matchable word collapses
    * to exactly one of these. */
  val Unk = "[UNK]"

  def fromText(text: String): WordPieceVocab =
    WordPieceVocab(text.linesIterator.filter(_.nonEmpty).toVector)

  /** The engine's committed default WordPiece vocabulary (trained by
    * [[graft.tools.TokenizerTrain]] `wordpiece` on the documents
    * fixture, deterministic — rerunning the tool reproduces it
    * byte-identically). */
  lazy val default: WordPieceVocab =
    fromText(Tokenizer.resourceText("/graft/wordpiece/vocab.txt"))
}

object WordPiece {

  /** WordPiece token array of a text column — native codegen
    * expression over [[Bpe.PretokenPattern]] pieces. */
  def wordpieceTokens(c: Column,
                      vocab: WordPieceVocab = WordPieceVocab.default): Column =
    vocab.tokens(c)

  /** WordPiece token COUNT — count-only kernel, no array materializes.
    * An [UNK]'d word counts 1 (it IS one token). */
  def wordpieceTokenCount(c: Column,
                          vocab: WordPieceVocab = WordPieceVocab.default): Column =
    vocab.count(c)

  /** Deterministic WordPiece training from a word→count table
    * (Schuster & Nakajima 2012 §3 over the bounded vocabulary frame —
    * driver-side by design, the [[Bpe.trainFromWordCounts]] contract).
    *
    * Initial alphabet: every word-initial codepoint raw, every
    * word-internal codepoint as "##c" — BERT's convention, and the
    * reason coverage never needs a fallback within the training
    * corpus. Then, until `vocabSize` is reached, fuse the adjacent
    * pair maximizing the LIKELIHOOD score count(xy)/(count(x)·count(y))
    * over the corpus's current segmentation. Argmax semantics are
    * exact-rational (no float rounding can reorder two pairs), ties
    * break lexicographically, words iterate in sorted order:
    * byte-reproducible on any JVM. Pairs are required to repeat
    * (count ≥ 2) — a singleton pair is noise, the [[Bpe]] rule.
    *
    * INCREMENTAL (r17): the r16 trainer re-counted every symbol and
    * pair from scratch per merge — O(merges × corpus symbols) with a
    * BigInt argmax over every pair, 94 s for the 16k-word/8k-piece
    * MicroBench shape and projected tens of minutes at the production
    * 64k/32k shape. A WordPiece merge changes the DENOMINATOR of every
    * pair sharing a symbol, so a BPE-style best-first TreeSet does not
    * transfer — but the COUNTS themselves change only in words that
    * contain the merged pair. This trainer therefore maintains
    * `symCount`/`pairCount` incrementally (subtract-reapply-add on just
    * the affected words, found through a pair→word-index occurrence
    * set). The r17 version still scanned EVERY pair per merge for the
    * argmax; r18 replaces that with a score-ordered set plus dirty-set
    * rescoring (a merge of (a,b)→name can only move the scores of
    * count-changed pairs and of pairs sharing a symbol with a, b or
    * name — the pairsBySym index finds the latter), so per-merge work
    * is O(dirty·log P) instead of O(P). The argmax semantics are
    * unchanged: stored double scores equal fresh recomputation by
    * induction, and an exact BigInt cross-multiplication re-compares
    * the ≥ (1−1e-9)·max near-tie band walked in score order (double
    * relative error is ~1e-15 for c/(cx·cy), five orders inside the
    * margin, so the exact pass always sees the true argmax). Result is
    * BIT-IDENTICAL to the full-rescan reference — pinned by the
    * fast-vs-naive property test (the r16 trainer, kept verbatim as
    * the oracle in the test sources).
    *
    * @param vocabSize target TOTAL piece count incl. the alphabet and
    *                  [UNK]; training stops early when no pair repeats. */
  def trainFromWordCounts(counts: Iterable[(String, Long)],
                          vocabSize: Int): WordPieceVocab = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val words = counts.toArray.sortBy(_._1)
    val wc = words.map(_._2)
    val segs: Array[Array[String]] = words.map { case (w, _) =>
      val cps = BpeVocab.codepoints(w)
      val out = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) {
        out(i) = if (i == 0) cps(i) else "##" + cps(i)
        i += 1
      }
      out
    }
    val alphabet: Vector[String] =
      segs.iterator.flatten.toSet.toVector.sorted
    val have = scala.collection.mutable.HashSet[String](alphabet: _*)
    val merges = Vector.newBuilder[String]

    type Pair = (String, String)
    val symCount = new java.util.HashMap[String, Long]()
    val pairCount = new java.util.HashMap[Pair, Long]()
    // words (indices) where a pair occurred at registration time — a
    // SUPERSET of its current occurrences (entries go stale as later
    // merges rewrite a word; consumers re-check adjacency)
    val occ = new java.util.HashMap[Pair, java.util.HashSet[Integer]]()
    // r18 ARGMAX HEAP: pairs currently containing a symbol (both
    // positions) + a score-ordered set + the score each pair is stored
    // under. A merge of (a,b)→name changes pair COUNTS only in
    // rewritten words (bump marks those dirty) and symbol counts only
    // for a, b and name — so the pairs needing a rescore are exactly
    // the count-dirty ones plus pairsBySym(a|b|name) (name may
    // pre-exist: two merges can spell the same piece). Everything else
    // keeps its stored score, which equals the freshly-computed double
    // by induction — so the heap head is the same maxD the r17 full
    // scan found, and the ≥(1−1e-9)·maxD near-tie band (walked in
    // score order off the head) is the same exact-BigInt candidate
    // set. Bit-identical vocabularies, O(dirty·log P) per merge
    // instead of O(P).
    val pairsBySym = new java.util.HashMap[String, java.util.HashSet[Pair]]()
    val dirty = new java.util.HashSet[Pair]()
    val ord = implicitly[Ordering[Pair]]
    val entryOrd: Ordering[(Double, Pair)] = new Ordering[(Double, Pair)] {
      def compare(x: (Double, Pair), y: (Double, Pair)): Int = {
        val c = java.lang.Double.compare(y._1, x._1) // score DESC
        if (c != 0) c else ord.compare(x._2, y._2)   // then pair ASC
      }
    }
    val scores = scala.collection.mutable.TreeSet.empty[(Double, Pair)](entryOrd)
    val entryScore = new java.util.HashMap[Pair, java.lang.Double]()

    def bump(s: Array[String], c: Long): Unit = {
      var j = 0
      while (j < s.length) {
        if (symCount.merge(s(j), c, (x, y) => x + y) == 0L)
          symCount.remove(s(j))
        if (j < s.length - 1) {
          val p = (s(j), s(j + 1))
          dirty.add(p)
          if (pairCount.merge(p, c, (x, y) => x + y) == 0L) {
            pairCount.remove(p)
            val l = pairsBySym.get(p._1); if (l != null) l.remove(p)
            val r = pairsBySym.get(p._2); if (r != null) r.remove(p)
          } else {
            pairsBySym.computeIfAbsent(p._1, _ => new java.util.HashSet())
              .add(p)
            pairsBySym.computeIfAbsent(p._2, _ => new java.util.HashSet())
              .add(p)
          }
        }
        j += 1
      }
    }
    def register(s: Array[String], wi: Int): Unit = {
      var j = 0
      while (j < s.length - 1) {
        occ.computeIfAbsent((s(j), s(j + 1)), _ => new java.util.HashSet())
          .add(wi)
        j += 1
      }
    }
    // rescore every dirty pair: drop the stored entry, re-insert under
    // the current counts when the pair still repeats
    def refresh(): Unit = {
      val it = dirty.iterator()
      while (it.hasNext) {
        val p = it.next()
        val old = entryScore.remove(p)
        if (old != null) scores.remove((old.doubleValue(), p))
        val c = pairCount.getOrDefault(p, 0L)
        if (c >= 2L) {
          val d = c.toDouble /
            (symCount.get(p._1).toDouble * symCount.get(p._2).toDouble)
          scores.add((d, p))
          entryScore.put(p, d)
        }
      }
      dirty.clear()
    }
    def markSymDirty(sym: String): Unit = {
      val set = pairsBySym.get(sym)
      if (set != null) dirty.addAll(set)
    }
    var wi0 = 0
    while (wi0 < segs.length) {
      bump(segs(wi0), wc(wi0))
      register(segs(wi0), wi0)
      wi0 += 1
    }
    refresh()

    var done = false
    while (!done && have.size + 1 < vocabSize) {
      if (scores.isEmpty) done = true
      else {
        // exact-rational argmax over the ≥(1−1e-9)·max near-tie band,
        // walked in stored-score order (the stored doubles ARE the
        // fresh doubles — refresh() invariant), so the candidate set
        // matches the r17 full double scan's
        val maxD = scores.head._1
        val floor = maxD * (1 - 1e-9)
        var best: Pair = null
        var bestNum = BigInt(0)
        var bestDen = BigInt(1)
        val sit = scores.iterator
        var walking = true
        while (walking && sit.hasNext) {
          val (d, p) = sit.next()
          if (d < floor) walking = false
          else {
            val num = BigInt(pairCount.get(p))
            val den = BigInt(symCount.get(p._1)) * BigInt(symCount.get(p._2))
            val cmp = (num * bestDen).compare(bestNum * den)
            if (best == null || cmp > 0 || (cmp == 0 && ord.lt(p, best))) {
              best = p; bestNum = num; bestDen = den
            }
          }
        }
        val (a, b) = best
        val name = a + b.stripPrefix("##")
        if (have.add(name)) merges += name
        // every CURRENT occurrence of (a,b) lives in a word occ has seen
        // (registration precedes use); consume the set, re-check
        // adjacency per word to skip stale entries
        val hits = occ.remove(best)
        if (hits != null) {
          val it = hits.iterator()
          while (it.hasNext) {
            val t = it.next().intValue()
            val s = segs(t)
            var has = false
            var j = 0
            while (j < s.length - 1 && !has) {
              has = s(j) == a && s(j + 1) == b; j += 1
            }
            if (has) {
              bump(s, -wc(t))
              val out = new Array[String](s.length)
              var n = 0
              j = 0
              while (j < s.length) {
                if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
                  out(n) = name; n += 1; j += 2
                } else { out(n) = s(j); n += 1; j += 1 }
              }
              segs(t) = java.util.Arrays.copyOf(out, n)
              bump(segs(t), wc(t))
              register(segs(t), t)
            }
          }
        }
        // denominator dirt: symCount net-changed for a, b and name only
        // (other symbols in rewritten words subtract and re-add to the
        // same value), so every surviving pair touching one of the
        // three rescores; count-dirty pairs were marked inside bump
        markSymDirty(a)
        markSymDirty(b)
        markSymDirty(name)
        refresh()
      }
    }
    WordPieceVocab((WordPieceVocab.Unk +: alphabet) ++ merges.result())
  }
}
