package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bpe, Unigram, UnigramVocab}

/** Unigram-LM tokenizer: Viterbi semantics against hand-computed
  * likelihoods, byte-parity with a naive reference segmenter, trainer
  * determinism and coverage, vocab-file round-trip, expression/codegen
  * behavior, and the committed default vocabulary. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  // log probs chosen so "ab|c" beats "a|b|c" and "abc" (absent) is moot
  private val tiny = UnigramVocab(Vector(
    ("a", -2.0), ("b", -2.5), ("c", -1.5), ("ab", -2.2), ("bc", -5.0)))

  /** Naive Viterbi over PREFIXES — an independent implementation of the
    * same spec (recursive + memoized, immutable lists, NO maxPieceLen
    * pruning — so it also checks the production DP's length-window
    * bound): maximize Σ log p; ties prefer fewer pieces, then the
    * longer final piece (smaller last split point); unknown codepoints
    * only when no vocabulary piece ends at a position. */
  private def naiveViterbi(word: String, v: UnigramVocab): Option[(Double, Int, List[String])] = {
    val memo = scala.collection.mutable.Map.empty[Int, Option[(Double, Int, List[String])]]
    def best(i: Int): Option[(Double, Int, List[String])] =
      if (i == 0) Some((0.0, 0, Nil))
      else memo.getOrElseUpdate(i, {
        var cur: Option[(Double, Int, List[String])] = None
        var j = 0
        while (j < i) {
          val piece = word.substring(j, i)
          val lp = v.logProb.get(piece)
          if (lp != null) best(j).foreach { case (ll, nt, toks) =>
            val cand = (ll + lp.doubleValue(), nt + 1, (piece :: toks.reverse).reverse)
            val better = cur match {
              case None => true
              case Some((cll, cnt, _)) =>
                cand._1 > cll || (cand._1 == cll && cand._2 < cnt)
              // j ascends, so an equal (ll, nt) at larger j never
              // replaces — the production DP's smaller-j preference
            }
            if (better) cur = Some(cand)
          }
          j += 1
        }
        if (cur.isEmpty) {
          // unk fallback over the single codepoint ending at i
          val lo = if (i >= 2 && Character.isSurrogatePair(word.charAt(i - 2),
            word.charAt(i - 1))) i - 2 else i - 1
          best(lo).foreach { case (ll, nt, toks) =>
            cur = Some((ll + v.unkLogProb, nt + 1,
              ((word.substring(lo, i)) :: toks.reverse).reverse))
          }
        }
        cur
      })
    best(word.length)
  }

  test("encodeWord: hand-computed likelihood argmax with tie rules") {
    // "abc": a|b|c = -6.0, ab|c = -3.7, a|bc = -7.0 → ab|c
    assert(tiny.encodeWord("abc").toSeq === Seq("ab", "c"))
    // tie on ll: "ab" as piece (-2.2) vs a|b (-4.5) → fewer pieces wins
    assert(tiny.encodeWord("ab").toSeq === Seq("ab"))
    assert(tiny.encodeWord("").toSeq === Seq())
    // unknown codepoint: unk penalty keeps the rest optimal
    assert(tiny.encodeWord("axc").toSeq === Seq("a", "x", "c"))
  }

  test("prop: production Viterbi == naive reference on random words (byte parity)") {
    val rnd = new scala.util.Random(20260816)
    // alphabet includes a char NOT in the random vocab pieces ('z') so
    // the unk path is exercised; piece sets vary per round
    (1 to 6).foreach { round =>
      val chars = Seq("a", "b", "c", "d")
      val singles = chars.map(c => (c, -1.0 - rnd.nextDouble() * 4))
      val multis = (1 to 8).map { _ =>
        val len = 2 + rnd.nextInt(3)
        ((0 until len).map(_ => chars(rnd.nextInt(chars.length))).mkString,
          -0.5 - rnd.nextDouble() * 6)
      }.distinct.filterNot(p => chars.contains(p._1))
      val v = UnigramVocab((singles ++ multis).distinct.toVector)
      (1 to 50).foreach { _ =>
        val n = rnd.nextInt(12)
        val w = (0 until n).map(_ =>
          if (rnd.nextInt(10) == 0) "z" else chars(rnd.nextInt(chars.length)))
          .mkString
        val got = v.encodeWord(w).toList
        val want = naiveViterbi(w, v).map(_._3).getOrElse(Nil)
        assert(got === want, s"round=$round word='$w' vocab=${v.pieces}")
        assert(got.mkString("") === w, "pieces must reassemble the word")
      }
    }
  }

  test("trainer: deterministic, single-codepoint coverage, piece-length cap") {
    val counts = Seq(("table", 50L), ("tablet", 20L), ("tab", 30L),
      ("let", 40L), ("able", 10L))
    val v1 = Unigram.trainFromWordCounts(counts, vocabSize = 12, maxPieceLen = 3)
    val v2 = Unigram.trainFromWordCounts(counts, vocabSize = 12, maxPieceLen = 3)
    assert(v1 === v2, "training must be deterministic")
    val pieces = v1.pieces.map(_._1).toSet
    // every codepoint survives pruning (coverage guarantee)
    assert(Set("t", "a", "b", "l", "e").subsetOf(pieces))
    assert(v1.pieces.forall(_._1.length <= 3), "maxPieceLen cap violated")
    // probabilities are a (log) distribution over genuinely-used pieces
    val used = v1.pieces.filter(_._2 > -1e8)
    assert(math.abs(used.map(p => math.exp(p._2)).sum - 1.0) < 1e-6)
    // the trained model segments its own training words economically:
    // frequent trigrams become pieces, so "table" is at most 2 pieces
    assert(v1.encodeWord("table").length <= 2, v1.encodeWord("table").toSeq)
  }

  test("vocab text round-trip is byte-identical (logprob shortest-repr)") {
    val v = Unigram.trainFromWordCounts(
      Seq(("abc", 5L), ("abd", 3L), ("cd", 7L)), vocabSize = 8, maxPieceLen = 2)
    val txt = v.toText
    val back = UnigramVocab.fromText(txt)
    assert(back === v)
    assert(back.toText === txt)
    // '#' is a legitimate single-codepoint piece (PretokenPattern emits
    // it, singles are never pruned) — the parser must NOT treat a
    // leading '#' as a comment and drop the entry on reload
    val withHash = UnigramVocab(Vector(("#", -2.0), ("a", -1.0), ("#a", -3.0)))
    assert(UnigramVocab.fromText(withHash.toText) === withHash)
  }

  test("subword-regularization sampling: deterministic, lattice-faithful, Viterbi at high alpha") {
    // vocab with a genuine two-way lattice for "ab": {ab} vs {a,b}
    // P(ab) = e^-1, P(a)·P(b) = e^-3 → at α=1, P({ab}) = e^-1/(e^-1+e^-3)
    val v = UnigramVocab(Vector(("a", -1.5), ("b", -1.5), ("ab", -1.0)))
    // deterministic: same (word, α, seed) ⇒ same segmentation, always
    (0L until 20L).foreach { s =>
      assert(v.sampleWord("ab", 1.0, s).toSeq === v.sampleWord("ab", 1.0, s).toSeq)
    }
    // every sample reassembles the word
    (0L until 200L).foreach { s =>
      val toks = v.sampleWord("abab", 0.5, s)
      assert(toks.mkString("") === "abab", toks.toSeq)
    }
    // empirical share of the {ab} segmentation across seeds tracks the
    // exact lattice probability (α=1): e^-1/(e^-1+e^-3) ≈ 0.8808
    val nOne = (0L until 4000L).count(s => v.sampleWord("ab", 1.0, s).length == 1)
    val want = math.exp(-1.0) / (math.exp(-1.0) + math.exp(-3.0))
    assert(math.abs(nOne / 4000.0 - want) < 0.03,
      s"empirical ${nOne / 4000.0} vs lattice $want")
    // α→∞ collapses to the Viterbi argmax on every seed
    (0L until 50L).foreach { s =>
      assert(v.sampleWord("ab", 50.0, s).toSeq === v.encodeWord("ab").toSeq)
    }
    // small α flattens: the dispreferred {a,b} split shows up far more
    // often than at α=1
    val nSplitLow = (0L until 4000L).count(s => v.sampleWord("ab", 0.1, s).length == 2)
    assert(nSplitLow > 1200, s"α=0.1 split share $nSplitLow/4000")
    // unk codepoints stay forced (never sampled around)
    (0L until 20L).foreach { s =>
      assert(v.sampleWord("axb", 1.0, s).toSeq === Seq("a", "x", "b"))
    }
    // the EXACT expectation (closed-form DP, q146's number): hand value
    // E = 1·P({ab}) + 2·P({a,b}), the sampler's empirical mean tracks
    // it, and α→∞ collapses it to the Viterbi length
    val eAb = v.expectedPieces("ab", 1.0)
    assert(math.abs(eAb - (1 * want + 2 * (1 - want))) < 1e-12, eAb)
    val meanAb = (0L until 4000L)
      .map(s => v.sampleWord("ab", 1.0, s).length).sum / 4000.0
    assert(math.abs(meanAb - eAb) < 0.05, s"empirical $meanAb vs exact $eAb")
    assert(math.abs(v.expectedPieces("ab", 50.0) - 1.0) < 1e-9)
    // forced unk steps count as pieces in the expectation too
    assert(math.abs(v.expectedPieces("axb", 50.0) - 3.0) < 1e-9)

    // the expression form: per-doc seeds decorrelate repeated words in
    // one document, replays are exact, count == size(tokens)
    val df = Seq((1L, "ab ab ab ab ab ab ab ab"), (2L, "ab"))
      .toDF("doc_id", "text")
    def run() = df.select($"doc_id",
        graft.functions.Unigram.sampleTokens($"text", $"doc_id", 0.2, v).as("toks"),
        graft.functions.Unigram.sampleTokenCount($"text", $"doc_id", 0.2, v).as("n"))
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1)
    val a = run(); val b = run()
    assert(a.map(r => (r._1, r._2)).toSeq === b.map(r => (r._1, r._2)).toSeq,
      "replay must reproduce the epoch's exact token stream")
    a.foreach { case (_, toks, cnt) => assert(toks.length.toLong === cnt) }
    // the sampled stream still reassembles the document's text
    val firstDoc = a.find(_._1 == 1L).get._2
    assert(firstDoc.mkString("") === "abababababababab")
    // 8 repeats of "ab" in one doc at α=0.2 (≈60/40 whole-vs-split per
    // repeat): per-piece seed mixing must DECORRELATE them — both
    // outcomes appear within the one document. Deterministic: this
    // pins the committed seed walk's actual mix.
    assert(firstDoc.length > 8 && firstDoc.length < 16, firstDoc.toString)
  }

  test("bpe-dropout: p=0 parity, determinism, monotone fragmentation, p=1 codepoints") {
    import graft.functions.BpeVocab
    val v = BpeVocab(Vector(("l", "o"), ("lo", "w"), ("e", "r")))
    // p = 0 is byte-identical to the plain encoder on every seed
    (0L until 30L).foreach { s =>
      assert(v.encodeWordDropout("lower", 0.0, s).toSeq ===
        v.encodeWord("lower").toSeq)
    }
    // deterministic per (word, p, seed); always reassembles
    (0L until 100L).foreach { s =>
      val a = v.encodeWordDropout("lower", 0.3, s)
      assert(a.toSeq === v.encodeWordDropout("lower", 0.3, s).toSeq)
      assert(a.mkString("") === "lower")
    }
    // p = 1: every merge drops — pure codepoints
    (0L until 10L).foreach { s =>
      assert(v.encodeWordDropout("lower", 1.0, s).toSeq ===
        Seq("l", "o", "w", "e", "r"))
    }
    // fragmentation grows with p (averaged over seeds): the
    // augmentation dial actually dials
    def meanLen(p: Double): Double =
      (0L until 400L).map(s => v.encodeWordDropout("lower", p, s).length)
        .sum / 400.0
    val (m0, m3, m7) = (meanLen(0.0), meanLen(0.3), meanLen(0.7))
    assert(m0 < m3 && m3 < m7, s"$m0 / $m3 / $m7")
    // expression form: replay-exact, count == size, differs from the
    // plain encoding somewhere (the dropout is observable)
    val df = Seq((1L, "lower lower lower lower"), (2L, "lower"))
      .toDF("doc_id", "text")
    def run() = df.select($"doc_id",
        Bpe.dropoutTokens($"text", $"doc_id", 0.5, v).as("toks"),
        Bpe.dropoutTokenCount($"text", $"doc_id", 0.5, v).as("n"))
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1)
    val a = run(); val b = run()
    assert(a.map(r => (r._1, r._2)).toSeq === b.map(r => (r._1, r._2)).toSeq)
    a.foreach { case (_, toks, cnt) => assert(toks.length.toLong === cnt) }
    val plain = df.select(size(Bpe.bpeTokens($"text", v)).cast("long"))
      .as[Long].collect().sum
    assert(a.map(_._3).sum > plain, "dropout must fragment beyond plain BPE")
  }

  test("expression: tokens/count agree and stay inside whole-stage codegen") {
    val v = UnigramVocab.default
    val df = Tables.load(spark, sf001, "documents")
      .select(Bpe.sanitizeAscii($"text").as("t"))
    val both = df.select(
      size(Unigram.unigramTokens($"t", v)).cast("long").as("n_arr"),
      Unigram.unigramTokenCount($"t", v).as("n_cnt"))
    assert(both.filter($"n_arr" =!= $"n_cnt").count() === 0)
    // the Project carrying the kernels must sit under a codegen star —
    // a fallback/udf would break the fused scan stage (BpeSpec's check)
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen stage:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(1) Project") &&
      l.contains("unigram_tokens(") && l.contains("unigram_count(")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // the committed default is non-trivial: multi-char pieces exist and
    // counts sit strictly between piece count and char count
    assert(v.pieces.exists(_._1.length > 1))
    val row = df.limit(50)
      .select(sum(size(Bpe.pieces($"t"))).cast("long"),
        sum(Unigram.unigramTokenCount($"t", v)),
        sum(length(regexp_replace($"t", " ", "")))).head()
    val (nPieces, nUni, nChars) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nUni >= nPieces && nUni < nChars,
      s"pieces=$nPieces uni=$nUni chars=$nChars")
  }
}
