package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The "survives 100×" claim (PLANS.md exponent table): the dedup
  * headliners' shuffle grows about linearly in corpus rows, far from the
  * quadratic blow-up of an unblocked pair join. Measured on the
  * sf0.01 → sf0.1 decade, because that is the one where `documents`
  * grows (sf0.001 and sf0.01 both hold 500 rows). Shuffle volume is a
  * property of the plan and the data, not of the host, so the exponent
  * is checked on every run rather than printed once.
  *
  * Two measures are bounded. The compressed shuffle-write bytes must grow
  * below rows^1.5. They miss a quadratic payload that compresses well and
  * rides few records (per-doc lists of sorted ids grew at b = 1.14–1.22
  * and passed), so each exchange's uncompressed row width, its
  * `dataSize` SQL metric over its records written, must also stay flat:
  * a shuffle that grows with the corpus in rows keeps its rows' width,
  * one whose per-record payload grows with the corpus widens them. */
class ScaleExponentSpec extends SparkSpec {
  private val sf0_1 = sf001.stripSuffix("sf0.001") + "sf0.1"

  private val dedupHeadliners = Seq("q52_lsh_pairs", "q59_neardup_dedup",
    "q113_substring_dedup", "q124_line_dedup")

  /** b = ln(hi / lo) / ln(docs_hi / docs_lo). */
  private def exponent(lo: Double, hi: Double, docsLo: Long, docsHi: Long): Double =
    math.log(hi / lo) / math.log(docsHi.toDouble / docsLo)

  test("dedup headliners' shuffle bytes grow below rows^1.5 over sf0.01 -> sf0.1") {
    def docs(dir: String) = Tables.load(spark, dir, "documents").count()
    val (docsLo, docsHi) = (docs(sf01), docs(sf0_1))
    assert(docsHi >= 5 * docsLo,
      s"the decade must scale the corpus: $docsLo -> $docsHi documents")
    /** Compressed shuffle-write bytes of one run of the query, and each
      * exchange's uncompressed bytes and records, in plan order. */
    def shuffled(query: String, dir: String): (Long, Seq[(Long, Long)]) = {
      val df = SparkEntry.queries(query)(spark, dir)
      val written = metered(df.queryExecution.toRdd.foreach(_ => ())).shuffleWriteBytes
      (written, new AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec =>
            (e.metrics("dataSize").value, e.metrics("shuffleRecordsWritten").value)
        })
    }
    val exponents = dedupHeadliners.flatMap { q =>
      val ((lo, exLo), (hi, exHi)) = (shuffled(q, sf01), shuffled(q, sf0_1))
      assert(lo > 0, s"$q wrote no shuffle bytes at sf0.01")
      assert(exLo.size === exHi.size, s"$q plans a different shuffle at each scale")
      val b = exponent(lo, hi, docsLo, docsHi)
      val widths = exLo.zip(exHi).zipWithIndex.collect {
        case (((bLo, rLo), (bHi, rHi)), i) if rLo > 0 && rHi > 0 =>
          s"$q exchange $i row width" ->
            exponent(bLo.toDouble / rLo, bHi.toDouble / rHi, docsLo, docsHi)
      }
      info(f"$q: $lo -> $hi shuffle bytes, b = $b%.2f; row width b = " +
        widths.map(w => f"${w._2}%.2f").mkString(", "))
      (s"$q shuffle bytes" -> (b, 1.5)) +: widths.map(w => w._1 -> (w._2, 0.5))
    }
    exponents.foreach { case (what, (b, bound)) =>
      assert(b < bound, f"$what grows as rows^$b%.2f over $docsLo -> $docsHi docs")
    }
  }
}
