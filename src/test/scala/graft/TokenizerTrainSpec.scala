package graft

import graft.functions.TokenizerSpec
import graft.tools.TokenizerTrain

/** The one trainer tool: its command line, and the committed default
  * vocabularies as its deterministic output. */
class TokenizerTrainSpec extends SparkSpec {

  test("each committed vocab reproduces byte-for-byte from the one trainer path") {
    // the committed resources are the trainer's output on sf0.01 with
    // each family's defaults (sf001 is the SMALLER sf0.001 fixture and
    // trains different vocabularies)
    Seq(
      "bpe" -> "/graft/bpe/merges.txt",
      "unigram" -> "/graft/unigram/vocab.tsv",
      "wordpiece" -> "/graft/wordpiece/vocab.txt"
    ).foreach { case (family, resource) =>
      val args = TokenizerTrain.parse(Seq(family, sf01, "unused")).get
      val trained = TokenizerTrain.train(args.spec, args.source, spark)
      val in = getClass.getResourceAsStream(resource)
      val committed = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(trained.family === family)
      assert(trained.toText + "\n" === committed,
        s"$resource must be the deterministic trainer's output")
    }
  }

  test("trainer command line: per-family defaults; malformed input is refused") {
    import TokenizerTrain.{Args, parse}
    assert(parse(Seq("bpe", "sf", "out")) ===
      Some(Args(TokenizerSpec.Bpe(256), "sf", "out")))
    assert(parse(Seq("unigram", "synth:100", "out")) ===
      Some(Args(TokenizerSpec.Unigram(80, 4), "synth:100", "out")))
    assert(parse(Seq("wordpiece", "sf", "out")) ===
      Some(Args(TokenizerSpec.WordPiece(128), "sf", "out")))
    assert(parse(Seq("bpe", "sf", "out", "512")).map(_.spec) ===
      Some(TokenizerSpec.Bpe(512)))
    assert(parse(Seq("unigram", "sf", "out", "64", "6")).map(_.spec) ===
      Some(TokenizerSpec.Unigram(64, 6)))
    // each of these prints the usage and exits 2 from main
    Seq(
      Seq(),                                  // no arguments at all
      Seq("bpe", "sf"),                       // missing outFile
      Seq("gpt2", "sf", "out"),               // unknown family
      Seq("bpe", "sf", "out", "many"),        // size not a number
      Seq("bpe", "sf", "out", "256", "4"),    // maxPieceLen is unigram-only
      Seq("unigram", "sf", "out", "8", "4", "1"), // too many arguments
      Seq("wordpiece", "synth:lots", "out")   // synth word count not a number
    ).foreach(a => assert(parse(a).isEmpty, a))
  }
}
