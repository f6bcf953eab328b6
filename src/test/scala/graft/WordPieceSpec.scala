package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bpe, WordPiece, WordPieceVocab}

/** WordPiece tokenizer: greedy MaxMatch semantics against hand-computed
  * segmentations (incl. the whole-word [UNK] rule), parity with a naive
  * reference segmenter, the LIKELIHOOD (not frequency) merge selection,
  * trainer determinism and coverage, vocab-file round-trip, and
  * expression/codegen behavior. */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private val tiny = WordPieceVocab(Vector(
    WordPieceVocab.Unk, "a", "b", "c", "ab", "abc", "##b", "##c", "##bc"))

  /** Naive greedy MaxMatch — an independent implementation of the same
    * spec: enumerate EVERY vocabulary match at the current position and
    * take the longest, with the role ("##" after position 0) decided by
    * position; any dead end collapses the whole word to [UNK]. */
  private def naiveGreedy(word: String, v: WordPieceVocab): List[String] = {
    if (word.isEmpty) return Nil
    var pos = 0
    val out = scala.collection.mutable.ListBuffer.empty[String]
    while (pos < word.length) {
      val cands = v.pieces.filter { p =>
        if (p == WordPieceVocab.Unk) false
        else if (pos == 0) !p.startsWith("##") && word.startsWith(p)
        else p.startsWith("##") &&
          word.startsWith(p.stripPrefix("##"), pos)
      }
      if (cands.isEmpty) return List(WordPieceVocab.Unk)
      val best = cands.maxBy(p =>
        (if (pos == 0) p.length else p.length - 2, p))
      out += best
      pos += (if (pos == 0) best.length else best.length - 2)
    }
    out.toList
  }

  test("encodeWord: greedy longest match, ## continuations, whole-word UNK") {
    // longest head piece wins: "abc" whole beats "ab"+"##c" and "a"+...
    assert(tiny.encodeWord("abc").toSeq === Seq("abc"))
    // after the head, only ## pieces apply: "abcb" = abc + ##b
    assert(tiny.encodeWord("abcb").toSeq === Seq("abc", "##b"))
    // greedy (not optimal-count): head "ab" then ##c ##b — no backtrack
    assert(tiny.encodeWord("abcbc").toSeq === Seq("abc", "##bc"))
    // dead end mid-word → the WHOLE word is one [UNK], not a partial
    assert(tiny.encodeWord("abx").toSeq === Seq(WordPieceVocab.Unk))
    // 'a' exists as head but NOT as continuation → UNK via role
    assert(tiny.encodeWord("ba").toSeq === Seq(WordPieceVocab.Unk))
    assert(tiny.encodeWord("").toSeq === Seq())
  }

  test("prop: production greedy == naive reference on random words") {
    val rnd = new scala.util.Random(20260815)
    (1 to 6).foreach { round =>
      val chars = Seq("a", "b", "c", "d")
      val heads = chars ++ (1 to 6).map(_ =>
        (0 until 2 + rnd.nextInt(3))
          .map(_ => chars(rnd.nextInt(chars.length))).mkString)
      // continuation coverage is deliberately PARTIAL (no ##d) so the
      // role-asymmetric UNK path is exercised
      val conts = Seq("##a", "##b", "##c") ++ (1 to 6).map(_ =>
        "##" + (0 until 2 + rnd.nextInt(3))
          .map(_ => chars(rnd.nextInt(chars.length))).mkString)
      val v = WordPieceVocab(
        (WordPieceVocab.Unk +: (heads ++ conts).distinct).toVector)
      (1 to 60).foreach { _ =>
        val n = rnd.nextInt(12)
        val w = (0 until n).map(_ =>
          if (rnd.nextInt(12) == 0) "z" else chars(rnd.nextInt(chars.length)))
          .mkString
        val got = v.encodeWord(w).toList
        assert(got === naiveGreedy(w, v),
          s"round=$round word='$w' vocab=${v.pieces}")
        if (got != List(WordPieceVocab.Unk))
          assert(got.map(_.stripPrefix("##")).mkString("") === w,
            "pieces must reassemble the word")
      }
    }
  }

  test("trainer: likelihood (not frequency) selection, determinism, coverage") {
    // count(xy)/(count(x)·count(y)) must pick the RARE-BUT-EXCLUSIVE
    // pair over the most frequent one: ("q","##z") occurs 4 times and
    // its symbols occur nowhere else (score 4/(4·4) = 0.25) while
    // ("a","##b") occurs 40 times amid 100 a's and 80 b's (score
    // 40/8000 = 0.005). A frequency trainer (BPE) merges ab first.
    val counts = Seq(("ab", 40L), ("ax", 60L), ("zb", 40L), ("qz", 4L))
    val v = WordPiece.trainFromWordCounts(counts, vocabSize = 20)
    // merges land after the alphabet in creation order: qz (0.25) must
    // come first, and the frequency winner ax (60/(100·60) = 0.01)
    // must NOT — the BPE control confirms frequency picks ax
    assert(v.pieces.contains("qz") && v.pieces.contains("ax"), v.pieces)
    assert(v.pieces.indexOf("qz") < v.pieces.indexOf("ax"),
      s"likelihood must rank qz before ax: ${v.pieces}")
    assert(Bpe.trainFromWordCounts(counts, numMerges = 1).merges.head
      === (("a", "x")), "BPE control: raw frequency picks ax")
    // deterministic and input-order-free
    assert(WordPiece.trainFromWordCounts(counts.reverse, 20) === v)
    // coverage: every head/continuation codepoint of the corpus is a piece
    assert(Seq("a", "q", "z", "##b", "##x", "##z").forall(v.pieces.contains),
      v.pieces)
    // vocabSize is respected
    assert(WordPiece.trainFromWordCounts(counts, 9).pieces.length <= 9)
  }

  test("prop: incremental trainer == full-rescan reference (r17)") {
    // The r17 incremental trainer (dirty-word count maintenance +
    // double-prescan/BigInt-exact argmax) must be BIT-IDENTICAL to the
    // r16 full-rescan trainer on every input shape: random words
    // (exercises stale occurrence entries as merges rewrite words),
    // uniform counts (every pair ties — the exact lexicographic
    // tiebreak carries the whole ordering), and the Zipf table the
    // production vocab trains on.
    val rnd = new scala.util.Random(20260817)
    (1 to 4).foreach { round =>
      val chars = "abcd"
      val words = (1 to 120).map { _ =>
        (0 until 1 + rnd.nextInt(9))
          .map(_ => chars(rnd.nextInt(chars.length))).mkString
      }.distinct
      val counts = words.map(w => w ->
        (if (round % 2 == 0) 7L else 1L + rnd.nextInt(50).toLong))
      val fast = WordPiece.trainFromWordCounts(counts, vocabSize = 90)
      val slow = graft.functions.NaiveTrainers.wordPiece(counts, vocabSize = 90)
      assert(fast === slow, s"round=$round diverged")
    }
    val zipf = graft.tools.TokenizerTrain.zipfWordCounts(1 << 10)
    assert(WordPiece.trainFromWordCounts(zipf, 700) ===
      graft.functions.NaiveTrainers.wordPiece(zipf, 700))
  }

  test("vocab text round-trip; '#'-headed pieces survive (no comment syntax)") {
    val v = WordPieceVocab(Vector(WordPieceVocab.Unk, "#", "a", "##a", "###"))
    val back = WordPieceVocab.fromText(v.toText)
    assert(back === v)
    assert(back.toText === v.toText)
    // "#" is a head piece, "###" is the continuation '#': both resolve
    assert(back.encodeWord("##").toSeq === Seq("#", "###"))
  }

  test("expression: tokens/count agree, codegen, committed default non-trivial") {
    val v = WordPieceVocab.default
    val df = Tables.load(spark, sf001, "documents")
      .select(Bpe.sanitizeAscii($"text").as("t"))
    val both = df.select(
      size(WordPiece.wordpieceTokens($"t", v)).cast("long").as("n_arr"),
      WordPiece.wordpieceTokenCount($"t", v).as("n_cnt"))
    assert(both.filter($"n_arr" =!= $"n_cnt").count() === 0)
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen stage:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(1) Project") &&
      l.contains("wordpiece_tokens(") && l.contains("wordpiece_count(")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // the committed default is non-trivial: likelihood merges exist and
    // corpus counts sit strictly between piece count and char count
    assert(v.pieces.exists(p => p.length > 1 && !p.startsWith("##") &&
      p != WordPieceVocab.Unk))
    val row = df.limit(50)
      .select(sum(size(Bpe.pieces($"t"))).cast("long"),
        sum(WordPiece.wordpieceTokenCount($"t", v)),
        sum(length(regexp_replace($"t", " ", "")))).head()
    val (nPieces, nWp, nChars) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nWp >= nPieces && nWp < nChars, s"pieces=$nPieces wp=$nWp chars=$nChars")
  }
}
