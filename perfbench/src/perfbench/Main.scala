package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Harness._

/** One benchmark run of one workload in this JVM: set-up, a closed loop
  * of ops with one client for `--seconds`, untimed output checks, and a
  * JSON record of raw op samples (plus per-layer metrics with
  * `--trace 1`) written to `--out`. `perfbench/run.py` turns the record
  * into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = new File(opt("work"))
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)
    val modules = moduleMap(new File("src/main/scala"))
    try {
      val w: Workload = workload match {
        case "lake_queries" => new LakeQueries(spark, data, work, seed, tracer)
        case "capture_ticks" => new CaptureTicks(spark, data, work, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // a --trace 1 run measures at least three rounds and traces the middle
      // one (every odd round); the untraced rounds around it measure the
      // tracing overhead with the JIT drift of the run cancelling out
      val s0 = System.nanoTime()
      w.setup()
      val setupS = (System.nanoTime() - s0) / 1e9
      canary()
      val canaryS = mutable.ArrayBuffer.fill(2)(canary())
      tracer.reset()
      val errors = mutable.ArrayBuffer.empty[String]
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val gc0 = gcMillis()
      val m0 = System.nanoTime()
      var i = 0
      def more = i % w.unit != 0 || (System.nanoTime() - m0) / 1e9 < seconds ||
        (trace && i < 3 * w.unit)
      while (more && w.hasOp(i)) {
        val traced = trace && (i / w.unit) % 2 == 1
        tracer.enabled = traced
        val a = System.nanoTime()
        val (name, ok, rows) =
          try tracer.span(s"op $i", "bench")(w.op(i))
          catch {
            case e: Exception =>
              errors += s"op $i: $e"
              ("error", false, 0L)
          }
        ops += OpRec(name, a, System.nanoTime(), ok, rows, traced)
        i += 1
      }
      tracer.enabled = false
      val wallS = (System.nanoTime() - m0) / 1e9
      val gcS = (gcMillis() - gc0) / 1e3
      // the first canary after the ops shares the host with their cleanup
      canary()
      canaryS ++= Seq.fill(2)(canary())
      // the ContextCleaner frees broadcast and shuffle blocks only after a
      // GC has collected their handles, so collect until the heap settles
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val (bad, msgs) = w.check(ops.toSeq)
      val (bytes, rows) = w.stored()
      val layers = if (!trace) Map.empty[String, Double] else {
        val traced = ops.filter(_.traced)
        val rowsOut = traced.map(_.rows).sum
        commonLayers(ops.toSeq, tracer, modules, rowsOut) ++ w.layerMetrics(ops.toSeq, tracer) ++ Map(
          "jvm.gc_s" -> gcS / math.max(1, ops.size),
          "bench.trace_overhead_frac" -> overhead(ops.toSeq),
          "bench.span_coverage" -> ops.map(_.seconds).sum / wallS)
      }
      val opJson = ops.zipWithIndex.map { case (o, k) =>
        Json.arr(Seq(Json.str(o.name), Json.num(o.seconds), (o.ok && !bad(k)).toString,
          o.rows.toString, o.traced.toString))
      }
      val record = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "setup" -> Json.obj(Seq("jvm_boot_s" -> Json.num(bootS),
          "session_s" -> Json.num(sessionS), "workload_s" -> Json.num(setupS))),
        "measured_wall_s" -> Json.num(wallS),
        "canary_s" -> Json.arr(canaryS.map(Json.num)),
        "ops" -> Json.arr(opJson),
        "live_heap_mb" -> Json.num(heapMb),
        "stored_bytes" -> bytes.toString,
        "stored_rows" -> rows.toString,
        "messages" -> Json.arr((errors ++ msgs).map(Json.str)),
        "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      java.nio.file.Files.writeString(new File(opt("out")).toPath, record)
    } finally spark.stop()
  }

  /** Seconds of five small Spark jobs that run no graft code:
    * the host-speed yardstick `run.py` scales the timed metrics by. Like
    * the ops, each job is mostly driver-side planning and scheduling plus
    * a shuffle of a few tasks, so host contention slows both alike. */
  private def canary(): Double = {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.active
    val t0 = System.nanoTime()
    (0 until 5).foreach { k =>
      spark.range(0L, 200000L, 1L, Runtime.getRuntime.availableProcessors)
        .groupBy(pmod(xxhash64(col("id") + k), lit(50L))).count().collect()
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Traced over untraced op latency, minus one: the geometric mean over
    * op kinds of the ratio of their traced and untraced medians. */
  private def overhead(ops: Seq[OpRec]): Double = {
    val ratios = ops.filter(_.ok).groupBy(_.name).values.toSeq.flatMap { xs =>
      val (tr, un) = xs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(medianOf(tr.map(_.seconds)) / medianOf(un.map(_.seconds)))
    }
    if (ratios.isEmpty) Double.NaN
    else math.exp(ratios.map(math.log).sum / ratios.size) - 1
  }
}
