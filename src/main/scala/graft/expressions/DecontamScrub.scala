package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The registered test-set shingles as a plan-shippable reference (the
  * [[MultiPatternCount]]/[[TokenEncode]] pattern): serialized as the flat
  * entry array, membership hash rebuilt lazily per executor. Benchmark
  * suites are MBs against a 100 TB corpus — the q91 framing — so the
  * plan-reference footprint is the broadcast a join would have paid
  * anyway, minus the join. */
final class DecontamSet(val entries: Array[String]) extends Serializable {
  @transient lazy val set: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String](math.max(16, entries.length * 2))
    var i = 0
    while (i < entries.length) { h.add(entries(i)); i += 1 }
    h
  }
  def size: Int = entries.length
}

/** GPT-3 appendix-C span scrub as ONE per-row kernel — the zero-shuffle
  * form of [[graft.functions.TextOps.decontamScrub]] for test sets that
  * fit a plan reference: word n-grams probe the shipped set, covered
  * word indices accumulate in a ±1 difference array (O(words + hits),
  * overlap-free by construction), and the kept words rebuild in a
  * single forward pass. Value-identical to the distributed join path
  * (property-pinned): the diff-array mask IS the union of the merged
  * intervals. Returns struct(n_removed BIGINT, text_clean STRING).
  *
  * This is also what makes the STREAMING decontamination stage a pure
  * stateless projection ([[graft.streaming.StreamDedup.decontamScrub]])
  * — no watermark, no state store, no stream-side shuffle. */
case class DecontamScrub(child: Expression, set: DecontamSet,
                         n: Int, margin: Int)
    extends UnaryExpression {
  require(n >= 1 && margin >= 0, s"bad shingle/margin: n=$n margin=$margin")

  override def dataType: DataType = DecontamScrub.Schema
  override def prettyName: String = "decontam_scrub"

  override protected def nullSafeEval(input: Any): Any =
    DecontamScrub.compute(input.asInstanceOf[UTF8String], set, n, margin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("dcSet", set, classOf[DecontamSet].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.DecontamScrub.compute($c, $setRef, $n, $margin);")
  }

  override protected def withNewChildInternal(newChild: Expression): DecontamScrub =
    copy(child = newChild)
}

object DecontamScrub {

  val Schema: StructType = StructType(Seq(
    StructField("n_removed", LongType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String, set: DecontamSet, n: Int,
              margin: Int): InternalRow = {
    val s = text.toString
    val words = s.split(" ", -1)
    val len = words.length
    if (len < n || set.size == 0)
      return InternalRow(0L, text)
    // ±1 difference array over covered indices: span [j-margin,
    // j+n-1+margin] clamped to [0, len-1]; overlaps cost nothing extra
    val diff = new Array[Int](len + 1)
    val sb = new java.lang.StringBuilder(64)
    var hits = 0
    var j = 0
    while (j <= len - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(j + k))
        k += 1
      }
      if (set.set.contains(sb.toString)) {
        hits += 1
        val lo = math.max(j - margin, 0)
        val hi = math.min(j + n - 1 + margin, len - 1)
        diff(lo) += 1
        diff(hi + 1) -= 1
      }
      j += 1
    }
    if (hits == 0) return InternalRow(0L, text)
    val out = new java.lang.StringBuilder(s.length)
    var removed = 0L
    var cover = 0
    var first = true
    var i = 0
    while (i < len) {
      cover += diff(i)
      if (cover > 0) removed += 1
      else {
        if (!first) out.append(' ')
        out.append(words(i))
        first = false
      }
      i += 1
    }
    InternalRow(removed, UTF8String.fromString(out.toString))
  }

  def scrub(c: Column, set: DecontamSet, n: Int, margin: Int): Column =
    Bridge.column(DecontamScrub(Bridge.expression(c), set, n, margin))
}
