package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bpe, Tokenizer}

/** Subword tokenization as a native expression (tokens or count-only),
  * one class for every [[Tokenizer]] family.
  *
  * Plan-shape rationale: tokenization is the densest per-row kernel a
  * pretraining pipeline runs — it must stay inside whole-stage codegen
  * (a Scala UDF would break the stage and pay conversion per row). The
  * generated code calls a static kernel with the tokenizer threaded
  * through the codegen reference array (same pattern as Shingles), so
  * the scan stays one fused stage. The tokenizer carries a per-task
  * word→tokens cache ([[Tokenizer.encodeCached]]): word-level encode
  * is a pure function and corpora are Zipfian, so the cache absorbs
  * almost every piece. Pretokenization is [[Bpe.PretokenPattern]] for
  * every family — the SAME denominator, which is what makes fertility
  * comparisons across families (q129/q141/q150) meaningful.
  *
  * Count-only mode exists because every DENOMINATION use (packing
  * budgets, quantiles) needs only the number: no token array is
  * materialized per row, just a cached length sum.
  */
case class TokenEncode(child: Expression, tok: Tokenizer, countOnly: Boolean)
    extends UnaryExpression {

  override def dataType: DataType =
    if (countOnly) LongType else ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    s"${tok.family}_${if (countOnly) "count" else "tokens"}"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    if (countOnly) TokenEncode.computeCount(t, tok)
    else TokenEncode.computeTokens(t, tok)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokRef = ctx.addReferenceObj("tokenizer", tok, classOf[Tokenizer].getName)
    val kernel = if (countOnly) "computeCount" else "computeTokens"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TokenEncode.$kernel($c, $tokRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEncode =
    copy(child = newChild)
}

object TokenEncode {

  /** Static kernel shared by interpreted eval and generated code. */
  def computeTokens(text: UTF8String, tok: Tokenizer): ArrayData = {
    val pieces = Bpe.pretokenize(text.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < pieces.length) {
      val toks = tok.encodeCached(pieces(i))
      var j = 0
      while (j < toks.length) {
        out += UTF8String.fromString(toks(j)); j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def computeCount(text: UTF8String, tok: Tokenizer): Long = {
    val pieces = Bpe.pretokenize(text.toString)
    var n = 0L
    var i = 0
    while (i < pieces.length) {
      n += tok.encodeCached(pieces(i)).length; i += 1
    }
    n
  }

  def tokens(c: Column, tok: Tokenizer): Column =
    Bridge.column(TokenEncode(Bridge.expression(c), tok, countOnly = false))

  def count(c: Column, tok: Tokenizer): Column =
    Bridge.column(TokenEncode(Bridge.expression(c), tok, countOnly = true))
}
