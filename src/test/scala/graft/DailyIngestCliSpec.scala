package graft

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.DailyIngest
import graft.tools.DailyIngest.{Cli, Stages}

/** `DailyIngest.parse`: the positional command line
  * `lakeRoot stateRoot input day [ttlDays budget embedCol
  * semanticThreshold vocab pqRefine scrub-lines decontam]`, one row per
  * argument, and the malformed lines that print the usage instead. */
class DailyIngestCliSpec extends AnyFunSuite {

  private val head = Seq("/lake", "/state", "/in.parquet", "2024-03-01")
  private val base = Cli("/lake", "/state", "/in.parquet",
    Date.valueOf("2024-03-01"))

  test("each positional argument sets its own setting") {
    val rows = Seq(
      Seq.empty[String] -> base,
      Seq("7") -> base.copy(ttlDays = 7),
      Seq("7", "4096") -> base.copy(ttlDays = 7, budget = 4096L),
      Seq("7", "4096", "emb") ->
        base.copy(ttlDays = 7, budget = 4096L, embedCol = Some("emb")),
      Seq("7", "4096", "emb", "0.9") -> base.copy(ttlDays = 7,
        budget = 4096L, embedCol = Some("emb"),
        semantic = Some(Stages.Semantic(0.9))),
      Seq("7", "4096", "emb", "0.9", "unigram") -> base.copy(ttlDays = 7,
        budget = 4096L, embedCol = Some("emb"),
        semantic = Some(Stages.Semantic(0.9)), vocab = Some("unigram")),
      Seq("7", "4096", "emb", "0.9", "builtin", "50") -> base.copy(
        ttlDays = 7, budget = 4096L, embedCol = Some("emb"),
        semantic = Some(Stages.Semantic(0.9, pqRefine = Some(50))),
        vocab = Some("builtin")),
      Seq("7", "4096", "emb", "0.9", "builtin", "50", "scrub-lines") ->
        base.copy(ttlDays = 7, budget = 4096L, embedCol = Some("emb"),
          semantic = Some(Stages.Semantic(0.9, pqRefine = Some(50))),
          vocab = Some("builtin"), lineScrub = true),
      Seq("7", "4096", "emb", "0.9", "builtin", "50", "-", "decontam") ->
        base.copy(ttlDays = 7, budget = 4096L, embedCol = Some("emb"),
          semantic = Some(Stages.Semantic(0.9, pqRefine = Some(50))),
          vocab = Some("builtin"), decontam = true))
    for ((rest, want) <- rows)
      assert(DailyIngest.parse(head ++ rest) === Some(want), rest)
  }

  test("the parsed line builds the tick's stages") {
    val cli = DailyIngest.parse(head ++ Seq("30", "2048", "emb", "0.9",
      "builtin", "50", "scrub-lines", "decontam")).get
    val vocab = graft.functions.BpeVocab.default
    var built = 0
    val st = cli.stages({ built += 1; null }, vocab)
    assert(built === 1)
    assert(st.ann.map(a => (a.embedCol, a.semantic)) ===
      Some(("emb", Some(Stages.Semantic(0.9, pqRefine = Some(50))))))
    assert(st === Stages(ann = st.ann, vocab = vocab, lineScrub = true,
      decontam = true))
    // no embedCol: no index is built and no ANN leg runs
    assert(base.stages({ built += 1; null }, vocab) === Stages(vocab = vocab))
    assert(built === 1)
  }

  test("a short or malformed command line parses to None") {
    val bad = Seq(
      Seq.empty[String],
      head.take(3),
      Seq("/lake", "/state", "/in.parquet", "2024-13-45"),
      Seq("/lake", "/state", "/in.parquet", "yesterday"),
      head :+ "thirty",
      head ++ Seq("30", "2k"),
      head ++ Seq("30", "2048", "emb", "high"),
      head ++ Seq("30", "2048", "emb", "0.9", "builtin", "5.5"),
      head ++ Seq("30", "2048", "emb", "0.9", "builtin", "50",
        "scrub-lines", "decontam", "extra"))
    for (args <- bad) assert(DailyIngest.parse(args) === None, args)
  }
}
