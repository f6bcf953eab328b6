package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer — pure JVM, zero dependencies.
  *
  * Every token-DENOMINATED operator in the engine (sequence packing
  * budgets, token quantiles, entropy, per-doc counts) previously counted
  * whitespace tokens, which under-counts code/CJK by 2–5× and mis-sizes
  * context windows. This module supplies the real denomination:
  *
  *   - a deterministic BPE TRAINER (Sennrich-style: repeatedly merge the
  *     most frequent adjacent symbol pair) over a distributed word-count
  *     aggregation — only the vocabulary-sized word→count frame ever
  *     reaches the driver, never the corpus;
  *   - a greedy ENCODER (lowest-rank merge first, all leftmost
  *     non-overlapping occurrences per step — the reference BPE encode
  *     loop) behind the shared [[Tokenizer]] interface, encoded by the
  *     native expression [[graft.expressions.TokenEncode]] that stays
  *     inside whole-stage codegen, with a per-task word cache (word→tokens
  *     is a pure function, and corpora are Zipfian, so the cache absorbs
  *     almost every row);
  *   - a merges-file round-trip in the public one-merge-per-line format
  *     ("#version" comment + "left right" lines), so any externally
  *     trained vocabulary in that format drops in.
  *
  * Pretokenization is the same three-class split the engine's BPE-ish
  * proxy used (letter runs / digit runs / single other char), so merges
  * never cross word boundaries and the encoder is embarrassingly
  * parallel over pieces. Reference behavior: prefeitura-rio/pipelines
  * has no tokenizer (beyond-reference LLM-pipeline mandate).
  */
final case class BpeVocab(merges: Vector[(String, String)]) extends Tokenizer {

  def family: String = "bpe"

  /** pair → merge priority (lower = earlier-learned = applied first). */
  val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap

  /** Truncated vocabulary — a merge-list PREFIX is itself a valid BPE
    * vocabulary (training is strictly sequential), the standard way to
    * trade vocabulary size against sequence length. */
  def take(n: Int): BpeVocab = BpeVocab(merges.take(n))

  /** Greedy BPE encode of one pretokenized piece: per step, find the
    * LOWEST-RANK adjacent pair present, then merge all its leftmost
    * non-overlapping occurrences. Codepoint-level initial symbols. */
  def encodeWord(word: String): Array[String] = {
    var toks = BpeVocab.codepoints(word)
    var done = toks.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val merged = a + b
        val out = new Array[String](toks.length)
        var n = 0
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            out(n) = merged; n += 1; j += 2
          } else { out(n) = toks(j); n += 1; j += 1 }
        }
        toks = java.util.Arrays.copyOf(out, n)
        done = toks.length < 2
      }
    }
    toks
  }

  /** BPE-DROPOUT encode (Provilkov et al. 2020) — the BPE family's
    * subword-regularization twin of
    * [[graft.functions.UnigramVocab.sampleWord]]: at each merge step,
    * every candidate pair present in the word is DROPPED from
    * consideration with probability `p` before the lowest-rank
    * survivor applies; when every candidate drops, segmentation stops
    * early — the finer segmentation IS the augmentation. p = 0 is
    * byte-identical to [[encodeWord]] (spec-pinned); p = 1 degenerates
    * to pure codepoints.
    *
    * DETERMINISTIC like every sampling op in this engine: draws are a
    * SplitMix walk keyed (seed, step, pair rank) — same (word, p,
    * seed) ⇒ same tokens on any JVM or executor count; callers derive
    * `seed` from (doc id, epoch) so replays reproduce an epoch's
    * stream while epochs differ. */
  def encodeWordDropout(word: String, p: Double, seed: Long): Array[String] = {
    require(p >= 0.0 && p <= 1.0, s"dropout must be in [0,1]: $p")
    if (p == 0.0) return encodeWord(word)
    import graft.core.Mix.mix
    var toks = BpeVocab.codepoints(word)
    var step = 0L
    var done = toks.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < bestRank) {
          // drop THIS candidate pair with probability p (one draw per
          // distinct pair per step: keyed by its rank, not position,
          // matching the reference implementation's pair-level filter)
          val u = (mix(seed ^ (step << 20) ^ r.toLong) >>> 11).toDouble /
            (1L << 53).toDouble
          if (u >= p) bestRank = r
        }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true // all dropped or none left
      else {
        val (a, b) = merges(bestRank)
        val merged = a + b
        val out = new Array[String](toks.length)
        var n = 0
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            out(n) = merged; n += 1; j += 2
          } else { out(n) = toks(j); n += 1; j += 1 }
        }
        toks = java.util.Arrays.copyOf(out, n)
        done = toks.length < 2
      }
      step += 1
    }
    toks
  }

  /** One-merge-per-line serialization (public merges.txt format). */
  def toText: String =
    ("#version: 0.2" +: merges.map { case (a, b) => s"$a $b" }).mkString("\n")
}

object BpeVocab {

  def fromText(text: String): BpeVocab = BpeVocab(
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0 && sp < l.length - 1, s"malformed merge line: '$l'")
        (l.substring(0, sp), l.substring(sp + 1))
      }
      .toVector)

  /** The engine's committed default vocabulary (trained by
    * [[graft.tools.TokenizerTrain]] `bpe` on the documents fixture,
    * deterministic). */
  lazy val default: BpeVocab =
    fromText(Tokenizer.resourceText("/graft/bpe/merges.txt"))

  /** Codepoint-level split (surrogate-pair safe). */
  private[functions] def codepoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }
}

object Bpe {

  /** Pretokenizer classes: letter runs, digit runs, single other
    * non-space char — identical to [[TextOps.bpeishCount]]'s segmentation
    * so piece counts and BPE counts share a denominator, and expressible
    * verbatim in the DuckDB oracle. */
  val PretokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  private[graft] val compiledPretoken = Pattern.compile(PretokenPattern)

  /** Strip non-printable-ASCII. Oracle-parity helper: Spark and DuckDB
    * index strings differently for exotic codepoints, so oracle-anchored
    * token queries tokenize the ASCII projection of the text (the
    * fixture corpus IS ASCII; this is a no-op there). */
  def sanitizeAscii(c: Column): Column = regexp_replace(c, "[^ -~]", "")

  /** Pretokenized pieces of a text column (engine-portable regex). */
  def pieces(c: Column): Column =
    regexp_extract_all(c, lit(PretokenPattern), lit(0))

  def pretokenize(text: String): Array[String] = {
    val m = compiledPretoken.matcher(text)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toArray
  }

  /** BPE token array of a text column — native expression, codegen'd. */
  def bpeTokens(c: Column, vocab: BpeVocab = BpeVocab.default): Column =
    vocab.tokens(c)

  /** BPE token COUNT of a text column — count-only, no array. */
  def bpeTokenCount(c: Column, vocab: BpeVocab = BpeVocab.default): Column =
    vocab.count(c)

  /** BPE-dropout token array ([[BpeVocab.encodeWordDropout]] per
    * pretoken) — seed from (doc id, epoch), like
    * [[graft.functions.Unigram.sampleTokens]]. */
  def dropoutTokens(c: Column, seed: Column, p: Double,
                    vocab: BpeVocab = BpeVocab.default): Column =
    graft.expressions.BpeDropout.tokens(c, seed, vocab, p)

  /** Count-only twin of [[dropoutTokens]]. */
  def dropoutTokenCount(c: Column, seed: Column, p: Double,
                        vocab: BpeVocab = BpeVocab.default): Column =
    graft.expressions.BpeDropout.count(c, seed, vocab, p)

  /** Deterministic BPE training from a word→count table. Classic
    * Sennrich selection — per iteration the highest-count adjacent
    * symbol pair, ties broken lexicographically so training is
    * order-free; stop early when no pair repeats — but maintained
    * INCREMENTALLY: pair counts live in a sorted structure and each
    * merge recounts only the words that contain the merged pair, so a
    * realistic 32k-merge vocabulary trains in seconds where the
    * full-rescan loop (kept in the test sources as the parity
    * reference) is O(numMerges × corpus symbols) and takes minutes.
    * Byte-identical output to the naive loop (property-spec'd): counts
    * after every step are equal by construction and the selection rule
    * is the same. Driver-side by design — the input is the
    * vocabulary-sized word→count table, never the corpus. */
  def trainFromWordCounts(counts: Iterable[(String, Long)],
                          numMerges: Int): BpeVocab = {
    val words: Array[(Array[String], Long)] =
      counts.iterator.map { case (w, c) => (BpeVocab.codepoints(w), c) }.toArray
    val syms: Array[Array[String]] = words.map(_._1)
    val wc: Array[Long] = words.map(_._2)

    val pairCount = new java.util.HashMap[(String, String), Long]()
    val occur = new java.util.HashMap[(String, String),
      java.util.HashSet[Integer]]()
    // (count, pair) ordered: count DESC, then pair ASC — first() is the
    // naive loop's arg-max with its lexicographic tie-break
    val ord = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) c
          else {
            val a = x._2.compareTo(y._2)
            if (a != 0) a else x._3.compareTo(y._3)
          }
        }
      })

    def bump(p: (String, String), delta: Long): Unit = {
      val old = pairCount.getOrDefault(p, 0L)
      val now = old + delta
      if (old != 0L) ord.remove((old, p._1, p._2))
      if (now != 0L) { pairCount.put(p, now); ord.add((now, p._1, p._2)) }
      else pairCount.remove(p)
    }
    def addWord(wi: Int, delta: Long): Unit = {
      val s = syms(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        bump(p, delta)
        if (delta > 0)
          occur.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
            .add(wi)
        i += 1
      }
      if (delta < 0) {
        // membership is per-distinct-pair; drop after the counts pass
        i = 0
        while (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          val set = occur.get(p)
          if (set != null) { set.remove(Integer.valueOf(wi));
            if (set.isEmpty) occur.remove(p) }
          i += 1
        }
      }
    }
    var wi = 0
    while (wi < syms.length) { addWord(wi, wc(wi)); wi += 1 }

    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      if (ord.isEmpty || ord.first()._1 < 2L) exhausted = true
      else {
        val top = ord.first()
        val best = (top._2, top._3)
        merges += best
        val (a, b) = best
        val merged = a + b
        val touched = occur.get(best)
        val idxs = new Array[Integer](if (touched == null) 0 else touched.size)
        if (touched != null) touched.toArray(idxs)
        var t = 0
        while (t < idxs.length) {
          val w = idxs(t).intValue()
          addWord(w, -wc(w)) // retract the old word's pair contributions
          val s = syms(w)
          val out = new Array[String](s.length)
          var n = 0
          var j = 0
          while (j < s.length) {
            if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
              out(n) = merged; n += 1; j += 2
            } else { out(n) = s(j); n += 1; j += 1 }
          }
          syms(w) = java.util.Arrays.copyOf(out, n)
          addWord(w, wc(w)) // re-add with the merge applied
          t += 1
        }
        step += 1
      }
    }
    BpeVocab(merges.result())
  }
}
