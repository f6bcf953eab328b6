package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.core.Mix.mix
import graft.functions.{Tokenizer, TokenizerSpec}

/** The one trainer for every tokenizer family.
  *
  * Usage:
  *   runMain graft.tools.TokenizerTrain <family> <sfDir> <outFile> [size] [maxPieceLen]
  *   runMain graft.tools.TokenizerTrain <family> synth:<nWords> <outFile> [size] [maxPieceLen]
  *
  * `family` is `bpe`, `unigram` or `wordpiece`. `size` is the merge
  * count for bpe and the total piece count otherwise; `maxPieceLen`
  * (codepoints) exists for unigram only. The output is the family's
  * public text format ([[Tokenizer.toText]]) plus a newline. A missing
  * argument, an unknown family or a malformed number prints the usage
  * and exits 2.
  *
  * The defaults are the settings of the committed resources under
  * src/main/resources/graft/, each this main's output on the sf0.01
  * documents fixture; every trainer is RNG-free and breaks ties
  * lexicographically, so rerunning reproduces them byte-identically:
  *   - bpe: 256 merges (merges.txt);
  *   - unigram: 80 pieces of at most 4 codepoints (vocab.tsv) — 4 sits
  *     below the fixture's longest words on purpose: a whole-word piece
  *     would degenerate token counting to word counting (the reason
  *     q110 uses a 48-merge BPE prefix);
  *   - wordpiece: 128 pieces (vocab.txt) — ~60 likelihood merges over
  *     the fixture's alphabet, enough that common morphemes fuse while
  *     segmentation stays non-trivial.
  * The synth mode trains on [[zipfWordCounts]], for vocabularies the
  * 31-distinct-piece fixture corpus cannot produce (e.g. 32768). */
object TokenizerTrain {

  val Usage: String = "usage: graft.tools.TokenizerTrain " +
    "<bpe|unigram|wordpiece> <sfDir|synth:nWords> <outFile> [size] [maxPieceLen]"

  final case class Args(spec: TokenizerSpec, source: String, outFile: String)

  /** The command line as [[Args]], None when it is malformed. */
  def parse(args: Seq[String]): Option[Args] = args match {
    case Seq(family, source, outFile, rest @ _*) =>
      val n = rest.flatMap(_.toIntOption)
      val sourceOk = !source.startsWith("synth:") ||
        source.stripPrefix("synth:").toIntOption.nonEmpty
      val spec = family match {
        case _ if n.length < rest.length || !sourceOk => None
        case "bpe" if n.length <= 1 =>
          Some(TokenizerSpec.Bpe(n.headOption.getOrElse(256)))
        case "unigram" if n.length <= 2 =>
          Some(TokenizerSpec.Unigram(n.headOption.getOrElse(80),
            n.lift(1).getOrElse(4)))
        case "wordpiece" if n.length <= 1 =>
          Some(TokenizerSpec.WordPiece(n.headOption.getOrElse(128)))
        case _ => None
      }
      spec.map(Args(_, source, outFile))
    case _ => None
  }

  /** Train `spec` on `source`: the documents table under an sf
    * directory (read through `spark`), or `synth:<nWords>`, the
    * [[zipfWordCounts]] table, trained on the driver without Spark. */
  def train(spec: TokenizerSpec, source: String,
            spark: => SparkSession): Tokenizer =
    if (source.startsWith("synth:"))
      spec.trainFromWordCounts(zipfWordCounts(source.stripPrefix("synth:").toInt))
    else spec.train(Tables.load(spark, source, "documents"), col("text"))

  /** Deterministic Zipf word→count table for REALISTIC-VOCAB training.
    * The fixture corpus holds 31 distinct pieces — no 32k-merge
    * vocabulary can be trained from it — so large-vocab measurements
    * use this synthetic distribution: words are composed from a shared
    * 512-syllable inventory (giving the natural prefix/suffix reuse
    * that makes BPE merges productive, the way real morphology does)
    * and the rank-r word carries count N/(r+1) (Zipf's law). Same
    * (nWords, seed) ⇒ byte-identical table on every JVM. */
  def zipfWordCounts(nWords: Int, seed: Long = 42L,
                     totalScale: Long = 10_000_000L): Seq[(String, Long)] = {
    val consonants = "bcdfghjklmnprstvz"
    val vowels = "aeiou"
    val syls = (0 until 512).map { i =>
      val x = mix(seed ^ (i.toLong << 17))
      val c1 = consonants((Math.floorMod(x >>> 8, consonants.length.toLong)).toInt)
      val v = vowels((Math.floorMod(x >>> 21, vowels.length.toLong)).toInt)
      if ((x & 3) == 0)
        s"$c1$v${consonants(Math.floorMod(x >>> 34, consonants.length.toLong).toInt)}"
      else s"$c1$v"
    }
    (0 until nWords).map { r =>
      val x = mix(seed + r.toLong * 0x9e3779b9L)
      val nSyl = 2 + Math.floorMod(x, 4L).toInt
      val w = (0 until nSyl).map { k =>
        syls(Math.floorMod(mix(x ^ (k.toLong << 7)), 512L).toInt)
      }.mkString
      (w, math.max(1L, totalScale / (r + 1L)))
    }.groupBy(_._1).map { case (w, rs) => (w, rs.map(_._2).sum) }.toSeq
      .sortBy { case (w, c) => (-c, w) }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val synth = a.source.startsWith("synth:")
    lazy val spark = graft.SparkEntry.localSession("graft-tokenizer-train", 8)
    val t0 = System.nanoTime()
    val vocab = try train(a.spec, a.source, spark)
      finally if (!synth) spark.stop()
    val text = vocab.toText + "\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.outFile), text)
    println(f"[tokenizer-train] ${vocab.family}: ${a.source} -> ${a.outFile} " +
      f"(${text.count(_ == '\n')} lines) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
