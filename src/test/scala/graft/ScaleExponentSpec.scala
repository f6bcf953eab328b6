package graft

/** The "survives 100×" claim (PLANS.md exponent table): the dedup
  * headliners' shuffle grows about linearly in corpus rows, far from the
  * quadratic blow-up of an unblocked pair join. Measured on the
  * sf0.01 → sf0.1 decade, because that is the one where `documents`
  * grows (sf0.001 and sf0.01 both hold 500 rows). Shuffle-write bytes
  * are a property of the plan and the data, not of the host, so the
  * exponent is checked on every run rather than printed once. */
class ScaleExponentSpec extends SparkSpec {
  private val sf0_1 = sf001.stripSuffix("sf0.001") + "sf0.1"

  private val dedupHeadliners = Seq("q52_lsh_pairs", "q59_neardup_dedup",
    "q113_substring_dedup", "q124_line_dedup")

  /** b = ln(bytes_hi / bytes_lo) / ln(docs_hi / docs_lo). */
  private def exponent(bytesLo: Long, bytesHi: Long,
                       docsLo: Long, docsHi: Long): Double =
    math.log(bytesHi.toDouble / bytesLo) / math.log(docsHi.toDouble / docsLo)

  test("dedup headliners' shuffle bytes grow below rows^1.5 over sf0.01 -> sf0.1") {
    def docs(dir: String) = Tables.load(spark, dir, "documents").count()
    val (docsLo, docsHi) = (docs(sf01), docs(sf0_1))
    assert(docsHi >= 5 * docsLo,
      s"the decade must scale the corpus: $docsLo -> $docsHi documents")
    def shuffled(query: String, dir: String): Long =
      metered(SparkEntry.queries(query)(spark, dir)
        .write.mode("overwrite").format("noop").save()).shuffleWriteBytes
    val exponents = dedupHeadliners.map { q =>
      val (lo, hi) = (shuffled(q, sf01), shuffled(q, sf0_1))
      assert(lo > 0, s"$q wrote no shuffle bytes at sf0.01")
      val b = exponent(lo, hi, docsLo, docsHi)
      info(f"$q: $lo -> $hi shuffle bytes, b = $b%.2f")
      q -> b
    }
    exponents.foreach { case (q, b) =>
      assert(b < 1.5, f"$q shuffle grows as rows^$b%.2f over $docsLo -> $docsHi docs")
    }
  }
}
