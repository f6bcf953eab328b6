package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout JSON line must survive the driver's 2000-char
  * tail capture INTACT (the r11 lesson: a ~2.2k line got its head
  * truncated and the artifact's parsed field came back null). The
  * check at runtime only WARNS on stderr — this spec is the budget
  * gate that fails in CI before a future query addition silently
  * nulls the artifact (ADVICE r17). It reconstructs the line exactly
  * as Bench.main formats it, with worst-case numeric widths
  * (999.999 s per query — far above any observed value), so the
  * assertion is conservative. Keep the budget at 1850: the capture is
  * 2000 chars of stdout+stderr tail and sbt's trailing "[success]
  * Total time: ..." line eats ~75 of them.
  */
class BenchLineSpec extends AnyFunSuite {

  test("bench stdout JSON stays under the driver tail-capture budget") {
    val names = Bench.headline ++ Seq("micro_batch", "llm_ingest")
    val worst = 999.999
    def toJson(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
    def toJsonArr(vals: Seq[Double]): String =
      vals.map(v => f"$v%.3f").mkString("[", ",", "]")
    val medians = names.map(_ -> worst)
    val line =
      f"""{"metric":"total","value":${worst * names.size}%.3f,"unit":"sec","value_semantics":"median_of_3","queries":${toJson(medians)},"stddev":${toJsonArr(names.map(_ => worst))},"queries_per_cal":${toJsonArr(names.map(_ => worst))},"total_median":${worst * names.size}%.3f,"total_r8_comparable":${worst * names.size}%.3f,"calibration_s":$worst%.3f,"calibration_stddev":$worst%.3f,"calibration_jitter":$worst%.3f,"noisy_host":false,"attempts":3,"total_per_cal":$worst%.3f,"iterations":3,"sf":"/root/testdata/sf0.1"}"""
    assert(line.length < 1850,
      s"bench stdout JSON worst-case is ${line.length} chars - over the " +
        "1850 budget; shorten fields or move detail to stderr before " +
        "adding more queries")
  }

  test("BenchAb's query filter keeps exact names only") {
    import graft.tools.BenchAb.queryFilter
    def kept(arg: Option[String]) = Bench.headline.filter(queryFilter(arg))
    assert(kept(Some("q1_pricing_summary")) === Seq("q1_pricing_summary"))
    assert(kept(Some("q1")).isEmpty, "a name prefix must not match")
    assert(kept(Some("q10_state_join, q1_pricing_summary")) ===
      Seq("q1_pricing_summary", "q10_state_join"))
    assert(kept(None) === Bench.headline)
  }

  test("SPARK_GRAFT_CPUS: default when unset, a positive integer, else a named error") {
    assert(SparkEntry.cpus(32, Map.empty) === 32)
    assert(SparkEntry.cpus(32, Map("SPARK_GRAFT_CPUS" -> " 4 ")) === 4)
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](
        SparkEntry.cpus(32, Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
