package perfbench

/** Writes the DuckDB oracle SQL of the lake_queries mix as a JSON object
  * {query: sql}. The SQL is a function of the source alone, so the build
  * writes it once and each run's oracle reads it before the JVM starts.
  *
  * Usage: perfbench.OracleSql <out.json> */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = Harness.Json.obj(LakeQueries.mix.map(n =>
      n -> sql.get(n).map(Harness.Json.str).getOrElse("null")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
