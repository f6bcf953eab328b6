package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bpe, UnigramVocab}

/** Subword-regularization sampling as a native expression — the
  * stochastic sibling of [[TokenEncode]] ([[UnigramVocab.sampleWord]]
  * per pretoken, segmentations drawn ∝ P^α). Binary: (text, seed) —
  * the seed column is the caller's (doc id, epoch) derivation, so one
  * text yields a DIFFERENT deterministic token sequence per epoch (the
  * augmentation Kudo 2018 §3.1 trains with) while any replay of an
  * epoch reproduces its exact stream. Per-piece seeds decorrelate via
  * a SplitMix step over the piece index, so a word repeated within one
  * document samples independently. No word cache: the sample depends
  * on (word, seed), which defeats the Zipf cache by design. */
case class UnigramSample(left: Expression, right: Expression,
                         vocab: UnigramVocab, alpha: Double,
                         countOnly: Boolean)
    extends BinaryExpression {
  require(alpha > 0.0, s"alpha must be positive: $alpha")

  override def dataType: DataType =
    if (countOnly) LongType else ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (countOnly) "unigram_sample_count" else "unigram_sample"

  override protected def nullSafeEval(text: Any, seed: Any): Any = {
    val t = text.asInstanceOf[UTF8String]
    val s = seed.asInstanceOf[Long]
    if (countOnly) UnigramSample.computeCount(t, s, vocab, alpha)
    else UnigramSample.computeTokens(t, s, vocab, alpha)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef =
      ctx.addReferenceObj("uniVocab", vocab, classOf[UnigramVocab].getName)
    val kernel = if (countOnly) "computeCount" else "computeTokens"
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = graft.expressions.UnigramSample.$kernel($t, $s, $vocabRef, $alpha);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): UnigramSample =
    copy(left = newLeft, right = newRight)
}

/** The (vocab, α)-bound kernel behind [[UnigramExpected]] — a
  * plan-shippable holder so the per-task word→expectation cache (the
  * DP is a pure function of the word once α is fixed) rides the
  * codegen reference array like every vocabulary in this family. */
final class UnigramExpectedKernel(vocab: UnigramVocab, alpha: Double)
    extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private def cached(word: String): Double = {
    val hit = cache.get(word)
    if (hit != null) hit.doubleValue()
    else {
      val e = vocab.expectedPieces(word, alpha)
      if (cache.size < (1 << 16)) cache.put(word, java.lang.Double.valueOf(e))
      e
    }
  }

  def compute(text: UTF8String): Double = {
    val pieces = Bpe.pretokenize(text.toString)
    var e = 0.0
    var i = 0
    while (i < pieces.length) { e += cached(pieces(i)); i += 1 }
    e
  }
}

/** Exact expected token count under the P^α regularization
  * distribution ([[graft.functions.UnigramVocab.expectedPieces]] per
  * pretoken) — unary and DETERMINISTIC (no seed), so it caches per
  * word like the argmax encoder and gets an exact oracle (q146). */
case class UnigramExpected(child: Expression, kernel: UnigramExpectedKernel)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "unigram_expected_count"

  override protected def nullSafeEval(input: Any): Any =
    kernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uniExpKernel", kernel,
      classOf[UnigramExpectedKernel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramExpected =
    copy(child = newChild)
}

object UnigramExpected {
  def count(text: Column, vocab: UnigramVocab, alpha: Double): Column = {
    require(alpha > 0.0, s"alpha must be positive: $alpha")
    Bridge.column(UnigramExpected(Bridge.expression(text),
      new UnigramExpectedKernel(vocab, alpha)))
  }
}

object UnigramSample {

  import graft.core.Mix.mix

  def computeTokens(text: UTF8String, seed: Long, vocab: UnigramVocab,
                    alpha: Double): ArrayData = {
    val pieces = Bpe.pretokenize(text.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < pieces.length) {
      val toks = vocab.sampleWord(pieces(i), alpha, mix(seed ^ i.toLong))
      var j = 0
      while (j < toks.length) {
        out += UTF8String.fromString(toks(j)); j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def computeCount(text: UTF8String, seed: Long, vocab: UnigramVocab,
                   alpha: Double): Long = {
    val pieces = Bpe.pretokenize(text.toString)
    var n = 0L
    var i = 0
    while (i < pieces.length) {
      n += vocab.sampleWord(pieces(i), alpha, mix(seed ^ i.toLong)).length
      i += 1
    }
    n
  }

  def tokens(text: Column, seed: Column, vocab: UnigramVocab,
             alpha: Double): Column =
    Bridge.column(UnigramSample(Bridge.expression(text),
      Bridge.expression(seed), vocab, alpha, countOnly = false))

  def count(text: Column, seed: Column, vocab: UnigramVocab,
            alpha: Double): Column =
    Bridge.column(UnigramSample(Bridge.expression(text),
      Bridge.expression(seed), vocab, alpha, countOnly = true))
}
