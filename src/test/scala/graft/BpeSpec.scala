package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bpe, BpeVocab}

/** BPE tokenizer: encoder semantics against hand-computed merges,
  * trainer determinism, merges-file round-trip, expression/codegen
  * behavior, and the committed default vocabulary. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val tiny = BpeVocab(Vector(("l", "o"), ("lo", "w"), ("e", "r")))

  test("encodeWord: greedy lowest-rank merges, hand-computed") {
    // "lower": l o w e r → lo w e r → low e r → low e r, then (e,r): low er
    assert(tiny.encodeWord("lower").toSeq === Seq("low", "er"))
    // rank order matters: (l,o) fires before (e,r) but the RESULT here is
    // rank-insensitive; what is rank-sensitive is (lo,w) needing (l,o) first
    assert(tiny.encodeWord("low").toSeq === Seq("low"))
    assert(tiny.encodeWord("wol").toSeq === Seq("w", "o", "l"))
    // out-of-vocab symbols pass through untouched
    assert(tiny.encodeWord("xyz").toSeq === Seq("x", "y", "z"))
    // single char / empty
    assert(tiny.encodeWord("l").toSeq === Seq("l"))
    assert(tiny.encodeWord("").toSeq === Seq())
  }

  test("encodeWord: one merge step takes ALL leftmost non-overlapping occurrences") {
    val aa = BpeVocab(Vector(("a", "a")))
    assert(aa.encodeWord("aaaa").toSeq === Seq("aa", "aa"))
    // odd run: leftmost-first, trailing singleton survives
    assert(aa.encodeWord("aaa").toSeq === Seq("aa", "a"))
    val ab = BpeVocab(Vector(("a", "b")))
    assert(ab.encodeWord("ababab").toSeq === Seq("ab", "ab", "ab"))
  }

  test("merges text round-trip (public format)") {
    val rt = BpeVocab.fromText(tiny.toText)
    assert(rt === tiny)
    // comments and blank lines skipped
    assert(BpeVocab.fromText("#version: 0.2\n\nl o\n") ===
      BpeVocab(Vector(("l", "o"))))
  }

  test("trainer: Sennrich example, deterministic, stops when exhausted") {
    val counts = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val v = Bpe.trainFromWordCounts(counts, 10)
    // (e,s) and (s,t) both appear 9× (newest+widest); lexicographic
    // tie-break picks (e,s); after it, (es,t) is 9 — the classic opening
    assert(v.merges.take(2) === Vector(("e", "s"), ("es", "t")))
    // deterministic: same input, same vocab
    assert(Bpe.trainFromWordCounts(counts, 10) === v)
    // exhaustion: a corpus of unique single chars learns nothing
    assert(Bpe.trainFromWordCounts(Seq("a" -> 1L, "b" -> 1L), 10).merges.isEmpty)
    // encoding the training words with the trained vocab reduces them
    assert(v.encodeWord("newest").length < "newest".length)
  }

  test("incremental trainer is byte-identical to the full-rescan reference") {
    // dense tie-break / overlap / exhaustion coverage: tiny alphabet,
    // short words, many equal counts — every selection edge the
    // incremental bookkeeping could get wrong shows up here
    import graft.core.Mix.mix
    for (seed <- 1L to 8L) {
      val counts = (0 until 40).map { i =>
        val x = mix(seed * 1000 + i)
        val len = 1 + Math.floorMod(x, 6L).toInt
        val w = (0 until len).map(k =>
          "abc".charAt(Math.floorMod(mix(x ^ k.toLong), 3L).toInt)).mkString
        (w, 1L + Math.floorMod(x >>> 13, 9L))
      }.groupBy(_._1).map { case (w, rs) => (w, rs.map(_._2).sum) }.toSeq
      val fast = graft.functions.Bpe.trainFromWordCounts(counts, 60).merges
      val slow = graft.functions.NaiveTrainers.bpe(counts, 60).merges
      assert(fast === slow, s"seed $seed")
    }
    // and on the realistic synthetic Zipf distribution
    val z = graft.tools.TokenizerTrain.zipfWordCounts(400)
    assert(graft.functions.Bpe.trainFromWordCounts(z, 300).merges ===
      graft.functions.NaiveTrainers.bpe(z, 300).merges)
  }

  test("expression: tokens/count agree, pretokenization splits classes") {
    val df = Seq(
      (1L, "low lower e42 low-er"),
      (2L, ""),
      (3L, "xyz")
    ).toDF("id", "t")
    val got = df.select($"id",
        Bpe.bpeTokens($"t", tiny).as("toks"),
        Bpe.bpeTokenCount($"t", tiny).as("n"))
      .orderBy($"id").collect()
    // "low lower e42 low-er" → pieces [low][lower][e][42][low][-][er];
    // the digit piece has no merges in the tiny vocab, so it stays
    // char-level — symbols start as codepoints, not whole pieces
    assert(got(0).getSeq[String](1) ===
      Seq("low", "low", "er", "e", "4", "2", "low", "-", "er"))
    assert(got(0).getLong(2) === 9L)
    assert(got(1).getSeq[String](1) === Seq())
    assert(got(1).getLong(2) === 0L)
    assert(got(2).getLong(2) === 3L)
    // count == size(tokens) on the fixture corpus (both code paths)
    val docs = Tables.load(spark, sf001, "documents")
    val mismatch = docs.select(
        (size(Bpe.bpeTokens(col("text"))) =!=
          Bpe.bpeTokenCount(col("text"))).as("m"))
      .filter($"m").count()
    assert(mismatch === 0)
  }

  test("expression stays inside whole-stage codegen") {
    val docs = Tables.load(spark, sf001, "documents")
    val df = docs.select(Bpe.bpeTokenCount(col("text")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the Project carrying bpe_count must sit under a WholeStageCodegen
    // star — a fallback/udf would break the fused scan stage
    assert(plan.contains("*(1)"), s"no codegen stage:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("*(1) Project") && l.contains("bpe_count(")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    df.collect() // and the generated code actually compiles and runs
  }

  test("default vocabulary loads and is non-trivial") {
    val v = BpeVocab.default
    assert(v.merges.length >= 48)
    // the fixture corpus words tokenize to fewer tokens than chars
    assert(v.encodeWord("batch").length < 5)
    // prefix vocab is valid: earlier merges unchanged
    assert(v.take(10).merges === v.merges.take(10))
  }
}
