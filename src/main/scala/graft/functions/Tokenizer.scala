package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One subword tokenizer: what the BPE ([[BpeVocab]]), unigram-LM
  * ([[UnigramVocab]]) and WordPiece ([[WordPieceVocab]]) families
  * share, the way SentencePiece puts BPE and unigram behind one
  * encoder/trainer API (Kudo & Richardson 2018).
  *
  * Every family splits text with [[Bpe.PretokenPattern]] and encodes
  * each piece on its own, so one codegen expression
  * ([[graft.expressions.TokenEncode]]) serves all three, and token
  * counts share a denominator across families (q141/q150). Training
  * and parsing live on [[TokenizerSpec]]. */
trait Tokenizer {

  /** "bpe" | "unigram" | "wordpiece" — the prefix of the expression's
    * column names (`bpe_count`, `unigram_tokens`, ...). */
  def family: String

  /** Tokens of one pretokenized piece. */
  def encodeWord(word: String): Array[String]

  /** The family's public text format (merges.txt, SentencePiece-style
    * piece<TAB>logprob, BERT vocab.txt), read back by
    * [[TokenizerSpec.parse]]. */
  def toText: String

  /** Per-task word→tokens cache. Word-level encode is a pure function
    * and word frequencies are Zipfian, so nearly every piece is a cache
    * hit. Bounded (no eviction: past the cap new words just re-encode —
    * the hot head is already resident by then); transient so a
    * serialized tokenizer lands on executors with an empty cache. */
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  final def encodeCached(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) hit
    else {
      val toks = encodeWord(word)
      if (cache.size < Tokenizer.CacheCap) cache.put(word, toks)
      toks
    }
  }

  /** Token array of a text column — native expression, codegen'd. */
  def tokens(c: Column): Column =
    graft.expressions.TokenEncode.tokens(c, this)

  /** Token COUNT of a text column — cheaper than size(tokens): only
    * per-piece counts are cached and summed, no array materializes. */
  def count(c: Column): Column =
    graft.expressions.TokenEncode.count(c, this)
}

object Tokenizer {

  private[functions] val CacheCap = 1 << 16

  /** UTF-8 text of a committed vocabulary resource. */
  private[functions] def resourceText(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"tokenizer resource not found: $path")
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }
}

/** How one family trains and reads back a [[Tokenizer]]: the settings
  * [[graft.tools.DailyIngest.ensureVocab]] and
  * [[graft.tools.TokenizerTrain]] take. */
sealed trait TokenizerSpec {

  /** Deterministic driver-side training from a word→count table. */
  def trainFromWordCounts(counts: Iterable[(String, Long)]): Tokenizer

  /** Parse the family's public text format ([[Tokenizer.toText]]). */
  def parse(text: String): Tokenizer

  /** Distributed trainer: pretokenize + word-count the corpus (one
    * partial-agg shuffle), keep the top `maxWords` words by count —
    * the ONLY driver-side materialization, vocabulary-sized by
    * construction — then train from that table. At 100 TB callers
    * additionally hash-sample the input ([[TextOps.hashFrac]]); subword
    * statistics converge long before corpus scale, so the sample is
    * about cost, not quality. */
  def train(df: DataFrame, text: Column, maxWords: Int = 1 << 16): Tokenizer = {
    val top = df
      .select(explode(Bpe.pieces(Bpe.sanitizeAscii(text))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainFromWordCounts(top)
  }
}

object TokenizerSpec {

  /** [[graft.functions.Bpe.trainFromWordCounts]] with `numMerges`. */
  final case class Bpe(numMerges: Int) extends TokenizerSpec {
    def trainFromWordCounts(counts: Iterable[(String, Long)]): BpeVocab =
      graft.functions.Bpe.trainFromWordCounts(counts, numMerges)
    def parse(text: String): BpeVocab = BpeVocab.fromText(text)
  }

  /** [[graft.functions.Unigram.trainFromWordCounts]] with `vocabSize`
    * pieces of at most `maxPieceLen` codepoints. */
  final case class Unigram(vocabSize: Int, maxPieceLen: Int)
      extends TokenizerSpec {
    def trainFromWordCounts(counts: Iterable[(String, Long)]): UnigramVocab =
      graft.functions.Unigram.trainFromWordCounts(counts, vocabSize,
        maxPieceLen = maxPieceLen)
    def parse(text: String): UnigramVocab = UnigramVocab.fromText(text)
  }

  /** [[graft.functions.WordPiece.trainFromWordCounts]] with `vocabSize`. */
  final case class WordPiece(vocabSize: Int) extends TokenizerSpec {
    def trainFromWordCounts(counts: Iterable[(String, Long)]): WordPieceVocab =
      graft.functions.WordPiece.trainFromWordCounts(counts, vocabSize)
    def parse(text: String): WordPieceVocab = WordPieceVocab.fromText(text)
  }
}
