package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus replication for bench/probe points ABOVE the
  * largest driver-provided scale factor (TESTDATA.md tops out at
  * sf0.1; the exponent fits in PLANS.md want a 100× row spread, not
  * 10×).
  *
  * Replica 0 is the source verbatim; replica i shifts every
  * primary/foreign key by i·(max+1) — CONSISTENTLY on both sides of
  * each join edge, so join fan-outs scale linearly like a real bigger
  * SF. The two corpus tables are additionally PERTURBED, because naive
  * replication would change the workload's shape, not just its size:
  *
  *  - `documents.text`: ~half the tokens per replica get a
  *    replica-specific suffix (deterministic in (token, position,
  *    replica)). Identical copies would make every doc a 10-member
  *    exact/near-dup cluster — Σ bucket² pair work ×100, a different
  *    (adversarial) workload. Half-token mutation drops cross-replica
  *    Jaccard to ~⅓, below the LSH candidate band, so dedup scales the
  *    way a larger crawl does: more docs, same dup density.
  *  - `embeddings.embedding`: per-(id, dim, replica) jitter of ±0.15,
  *    preserving the label-cluster structure (labels kept) without
  *    creating 10 exact twins of every vector (which would blow up the
  *    q63/q67 near-dup pair counts quadratically).
  *
  * Dimension tables (region, nation) stay fixed, as in TPC-H.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir outDir factor]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sfx1.0"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def load(name: String) = Tables.load(spark, src, name)
    def save(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    // key step = max+1 of the SOURCE key, shared by every table that
    // references it — the join edges stay consistent across replicas
    def step(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1L

    save("region", load("region"))
    save("nation", load("nation"))

    val customer = load("customer"); val cStep = step(customer, "c_custkey")
    val supplier = load("supplier"); val sStep = step(supplier, "s_suppkey")
    val part = load("part");         val pStep = step(part, "p_partkey")
    val orders = load("orders");     val oStep = step(orders, "o_orderkey")
    val events = load("events")
    val eStep = step(events, "event_id"); val uStep = step(events, "user_id")
    val documents = load("documents"); val dStep = step(documents, "doc_id")
    val embeddings = load("embeddings"); val vStep = step(embeddings, "vec_id")

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val cols = df.columns
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, st)) =>
          d.withColumn(c, col(c) + lit(st * i))
        }
        (if (i == 0) df else perturb(shifted, i)).select(cols.map(col).toIndexedSeq: _*)
      }.reduce(_ unionByName _)
    }

    save("customer", replicate(customer, Map("c_custkey" -> cStep)))
    save("supplier", replicate(supplier, Map("s_suppkey" -> sStep)))
    save("part", replicate(part, Map("p_partkey" -> pStep)))
    save("orders", replicate(orders,
      Map("o_orderkey" -> oStep, "o_custkey" -> cStep)))
    save("lineitem", replicate(load("lineitem"),
      Map("l_orderkey" -> oStep, "l_partkey" -> pStep, "l_suppkey" -> sStep)))
    save("events", replicate(events,
      Map("event_id" -> eStep, "user_id" -> uStep)))

    save("documents", replicate(documents, Map("doc_id" -> dStep),
      perturb = (d, i) => d
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), (t, p) =>
            when(pmod(hash(t, p, lit(i)), lit(2)) === 0, t)
              .otherwise(concat(t, lit(s"~$i"))))))
        .withColumn("n_chars", length(col("text")).cast("long"))))

    save("embeddings", replicate(embeddings, Map("vec_id" -> vStep),
      perturb = (d, i) => d
        .withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x + (pmod(hash(col("vec_id"), j, lit(i)), lit(1000))
              .cast("float") / lit(1000f) - lit(0.5f)) * lit(0.3f))
              .cast("float")))))

    println(s"[scaleup] wrote ${factor}x $src -> $out")
    spark.stop()
  }
}
