package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session extension wiring (SURVEY §4, §7.9).
  *
  * Registers the engine's native expressions in the function registry so
  * they are usable from `spark.sql` text as well as the Column API:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)  // or
  *   spark.sql.extensions=graft.expressions.GraftExtensions      // or
  *   GraftExtensions.install(spark)        // on a live session
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => CollapseUnaccent)
  }
}

/** Optimizer rule: unaccent is idempotent, so nested applications
  * collapse to one — the (small) custom-rule surface SURVEY §4 calls
  * for, wired through injectOptimizerRule. */
object CollapseUnaccent
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Unaccent(inner @ Unaccent(_)) => inner
    }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

  /** Constant-fold a plan-time argument: any foldable expression is
    * accepted (4+4, CAST('8' AS INT), 8L within Int range), not just a
    * bare literal — the same surface builtins give their constant
    * arguments. UnresolvedFunction only resolves once its children are
    * resolved, so eval() on a foldable child is safe here. */
  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other if other.resolved && other.foldable => other.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case v => throw new IllegalArgumentException(
        s"$name must fold to an integer, got $v from $other")
    }
    case other => throw new IllegalArgumentException(
      s"$name must be a constant (foldable) integer expression, got $other")
  }

  /** Constant-fold a string argument (see [[intArg]]). */
  private def strArg(e: Expression, name: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) if s != null =>
      s.toString
    case other if other.resolved && other.foldable => other.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case v => throw new IllegalArgumentException(
        s"$name must fold to a string, got $v from $other")
    }
    case other => throw new IllegalArgumentException(
      s"$name must be a constant (foldable) string expression, got $other")
  }

  /** Constant-fold a boolean argument (see [[intArg]]). */
  private def boolArg(e: Expression, name: String): Boolean = e match {
    case Literal(b: Boolean, _) => b
    case other if other.resolved && other.foldable => other.eval() match {
      case b: Boolean => b
      case v => throw new IllegalArgumentException(
        s"$name must fold to a boolean, got $v from $other")
    }
    case other => throw new IllegalArgumentException(
      s"$name must be a constant (foldable) boolean expression, got $other")
  }

  /** Every native expression of the engine, SQL-addressable. Aggregates
    * (hll_sketch / hll_merge) register the raw AggregateFunction — the
    * analyzer wraps it, same as the built-in sum/min builders. The one
    * deliberate omission is point_in_polygon, whose polygon is a
    * plan-time-constant double array (a geometry object, not a SQL
    * literal shape) — SQL callers go through the WKT layer instead. */
  private[expressions] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("unaccent"),
      new ExpressionInfo(classOf[Unaccent].getName, "unaccent"),
      (cs: Seq[Expression]) => Unaccent(cs.head)),
    (FunctionIdentifier("audio_hash64"),
      new ExpressionInfo(classOf[AudioHash64Expr].getName, "audio_hash64"),
      (cs: Seq[Expression]) => AudioHash64Expr(cs.head)),
    (FunctionIdentifier("dhash64"),
      new ExpressionInfo(classOf[DHash64Expr].getName, "dhash64"),
      (cs: Seq[Expression]) => {
        require(cs.size == 3,
          s"dhash64 takes (pixels, width, height), got ${cs.size} args")
        DHash64Expr(cs(0), cs(1), cs(2))
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (cs: Seq[Expression]) => VecDot(cs(0), cs(1))),
    (FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (cs: Seq[Expression]) => Shingles(cs.head,
        if (cs.size > 1) intArg(cs(1), "shingle size") else 3)),
    (FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[TokenEncode].getName, "bpe_tokens"),
      (cs: Seq[Expression]) =>
        TokenEncode(cs.head, graft.functions.BpeVocab.default, countOnly = false)),
    (FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[TokenEncode].getName, "bpe_count"),
      (cs: Seq[Expression]) =>
        TokenEncode(cs.head, graft.functions.BpeVocab.default, countOnly = true)),
    (FunctionIdentifier("hex_prefix_to_long"),
      new ExpressionInfo(classOf[HexPrefixToLong].getName, "hex_prefix_to_long"),
      (cs: Seq[Expression]) => HexPrefixToLong(cs.head,
        if (cs.size > 1) intArg(cs(1), "prefix length") else 15)),
    (FunctionIdentifier("html_text"),
      new ExpressionInfo(classOf[HtmlText].getName, "html_text"),
      (cs: Seq[Expression]) => HtmlText(cs.head,
        if (cs.size > 1) intArg(cs(1), "minWords") else 0,
        // a bare SQL literal like 0.5 parses as DecimalType — accept
        // every numeric fold, not just Double
        if (cs.size > 2) cs(2).eval() match {
          case d: Double => d
          case f: Float => f.toDouble
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case i: Int => i.toDouble
          case l: Long => l.toDouble
          case v => throw new IllegalArgumentException(
            s"maxLinkDensity must fold to a number, got $v")
        } else 1.0)),
    // The text kernels hard-code their input physical layout
    // (UTF8String text, int-element starts) rather than declaring
    // inputTypes, so the SQL builders CAST — an array<bigint> starts
    // read through ArrayData.getInt would silently misparse, and a
    // non-string first arg would CCE mid-job instead of analyzing.
    (FunctionIdentifier("substr_mask"),
      new ExpressionInfo(classOf[SubstrMask].getName, "substr_mask"),
      (cs: Seq[Expression]) => SubstrMask(str(cs(0)),
        org.apache.spark.sql.catalyst.expressions.Cast(cs(1),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)),
        if (cs.size > 2) intArg(cs(2), "window size") else 8)),
    (FunctionIdentifier("chunk_texts"),
      new ExpressionInfo(classOf[ChunkTexts].getName, "chunk_texts"),
      (cs: Seq[Expression]) => ChunkTexts(str(cs.head),
        if (cs.size > 1) intArg(cs(1), "chunk tokens") else 50,
        if (cs.size > 2) intArg(cs(2), "overlap") else 10)),
    (FunctionIdentifier("top_ngram_frac"),
      new ExpressionInfo(classOf[TopNgramFrac].getName, "top_ngram_frac"),
      (cs: Seq[Expression]) => TopNgramFrac(str(cs.head),
        if (cs.size > 1) intArg(cs(1), "ngram size") else 2)),
    (FunctionIdentifier("sorted_pairs"),
      new ExpressionInfo(classOf[SortedPairs].getName, "sorted_pairs"),
      (cs: Seq[Expression]) => SortedPairs(cs.head)),
    (FunctionIdentifier("band_keys"),
      new ExpressionInfo(classOf[BandKeys].getName, "band_keys"),
      (cs: Seq[Expression]) => BandKeys(str(cs.head),
        if (cs.size > 1) intArg(cs(1), "num hashes") else 8,
        if (cs.size > 2) intArg(cs(2), "rows per band") else 2,
        if (cs.size > 3) intArg(cs(3), "shingle size") else 3)),
    (FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (cs: Seq[Expression]) => TextStats(str(cs.head),
        if (cs.size > 1) cs.tail.map(strArg(_, "stopword"))
        else graft.functions.TextOps.DefaultStops)),
    (FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "hll_sketch"),
      (cs: Seq[Expression]) => HllSketchAgg(cs.head,
        if (cs.size > 1) intArg(cs(1), "precision") else Hll.DefaultP)),
    (FunctionIdentifier("hll_merge"),
      new ExpressionInfo(classOf[HllMergeAgg].getName, "hll_merge"),
      (cs: Seq[Expression]) => HllMergeAgg(cs.head)),
    (FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[HllEstimate].getName, "hll_estimate"),
      (cs: Seq[Expression]) => HllEstimate(cs.head)),
    (FunctionIdentifier("qsk_sketch"),
      new ExpressionInfo(classOf[QskSketchAgg].getName, "qsk_sketch"),
      (cs: Seq[Expression]) => QskSketchAgg(cs.head,
        if (cs.size > 1) intArg(cs(1), "compactor capacity") else Qsk.DefaultK)),
    (FunctionIdentifier("qsk_merge"),
      new ExpressionInfo(classOf[QskMergeAgg].getName, "qsk_merge"),
      (cs: Seq[Expression]) => QskMergeAgg(cs.head)),
    (FunctionIdentifier("qsk_quantile"),
      new ExpressionInfo(classOf[QskQuantile].getName, "qsk_quantile"),
      (cs: Seq[Expression]) => QskQuantile(cs(0), cs(1))),
    (FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[MgSketchAgg].getName, "mg_sketch"),
      (cs: Seq[Expression]) => MgSketchAgg(cs.head,
        if (cs.size > 1) intArg(cs(1), "counter capacity") else Mg.DefaultK)),
    (FunctionIdentifier("mg_merge"),
      new ExpressionInfo(classOf[MgMergeAgg].getName, "mg_merge"),
      (cs: Seq[Expression]) => MgMergeAgg(cs.head)),
    (FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MgTopK].getName, "mg_topk"),
      (cs: Seq[Expression]) => MgTopK(cs(0), cs(1))),
    (FunctionIdentifier("utm_to_wgs84"),
      new ExpressionInfo(classOf[UtmToWgs84].getName, "utm_to_wgs84"),
      (cs: Seq[Expression]) => {
        // same validation surface as the Column API: zone range checked,
        // hemisphere selectable (4th arg, default southern — Rio's grid).
        // Extra args REJECTED, not ignored: a caller passing projection
        // constants must hear about it, not silently get the defaults
        require(cs.size >= 2 && cs.size <= 4,
          s"utm_to_wgs84 takes (easting, northing[, zone[, southern]]), got ${cs.size} args")
        val zone = if (cs.size > 2) intArg(cs(2), "utm zone") else 23
        require(zone >= 1 && zone <= 60, s"UTM zone out of range: $zone")
        val southern = cs.size <= 3 || boolArg(cs(3), "southern flag")
        // SQL callers pass whatever numeric type they have (int literals,
        // DECIMAL columns) — coerce like the Column API does, or
        // nullSafeEval's Double cast throws at fold/eval time
        UtmToWgs84(dbl(cs(0)), dbl(cs(1)),
          UtmToWgs84.Grs80A, UtmToWgs84.Grs80InvF, UtmToWgs84.UtmK0,
          UtmToWgs84.UtmFalseEasting,
          if (southern) UtmToWgs84.UtmFalseNorthingSouth else 0.0,
          -183.0 + 6.0 * zone)
      }),
    (FunctionIdentifier("geos_to_wgs84"),
      new ExpressionInfo(classOf[GeosToWgs84].getName, "geos_to_wgs84"),
      (cs: Seq[Expression]) => {
        // exactly (x, y): the projection constants are GOES-16's; a
        // caller trying to pass lon0/h for another satellite must get an
        // error, not silently-wrong GOES-16 coordinates
        require(cs.size == 2,
          s"geos_to_wgs84 takes exactly (x, y) — GOES-16 constants are fixed; got ${cs.size} args")
        GeosToWgs84(dbl(cs(0)), dbl(cs(1)),
          -75.0, 35786023.0, 6378137.0, 6356752.31414)
      }))

  private def dbl(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.DoubleType)

  private def str(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.StringType)

  /** Register on an already-built session (tests, driver-owned builders). */
  def install(spark: SparkSession): Unit =
    descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
}
