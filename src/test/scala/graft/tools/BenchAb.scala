package graft.tools

import java.io.File
import java.net.{URL, URLClassLoader}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved old-vs-new-tree A/B benchmark — the controlled
  * instrument for "did THIS round's commits change performance", which
  * a cross-round comparison of BENCH_r{N}.json files cannot answer
  * (rounds run hours apart under different ambient host load; r9 and
  * r10 both saw double-digit total swings on untouched queries).
  *
  * `sbt "Test/runMain graft.tools.BenchAb <gitref> [q1,q52,...]"`:
  *   1. exports the ref (`git archive`) into a cached directory
  *      `graft_ab/<sha>` under `java.io.tmpdir` and `sbt compile`s it
  *      once;
  *   2. loads the old tree's `graft.SparkEntry` through a CHILD-FIRST
  *      classloader (graft.* classes from the old tree, Spark/Scala
  *      from the shared parent), so both trees run in ONE Spark
  *      session and see the same JVM warmth and ambient-load window;
  *   3. alternates old/new per query per iteration (order flipped
  *      each iteration to cancel ordering bias), with a
  *      [[graft.Bench.calibration]] sample per iteration;
  *   4. prints one JSON line of per-query medians and old/new ratios.
  *
  * SCOPE — what this instrument can and cannot A/B. The child-first
  * loader governs the DRIVER: plan construction, analysis, and codegen
  * SOURCE generation all run old-tree code, so plan-shape changes and
  * generated-source changes A/B faithfully. But tasks deserialize on
  * executor threads whose classloader is the application one — even in
  * local mode — so a `graft.*` class referenced FROM task-side code by
  * name (a static kernel helper like CentroidKernel/PqKernel called
  * out of generated source, or an addReferenceObj'd object) resolves
  * to the NEW tree on BOTH legs. A change living purely inside such a
  * static helper therefore A/Bs to ratio ≈ 1.0 — silently. Kernel-
  * internal changes need an in-tree A/B of the kernel itself (how the
  * round4 and VecSub changes were measured); this tool is for
  * plan/query-level regressions. Generated code that is
  * byte-identical across trees additionally shares one Janino cache
  * entry (the cache keys on source text). micro_batch is out of scope
  * (lake state machinery across loaders).
  */
object BenchAb {

  /** graft.* resolves child-first (the old tree); everything else —
    * Spark, Scala stdlib, Hadoop — parent-first, so both trees share
    * one SparkSession and one set of framework classes. */
  private final class ChildFirst(urls: Array[URL], parent: ClassLoader)
      extends URLClassLoader(urls, parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      getClassLoadingLock(name).synchronized {
        if (name.startsWith("graft.")) {
          val c = Option(findLoadedClass(name)).getOrElse {
            try findClass(name)
            catch { case _: ClassNotFoundException =>
              super.loadClass(name, resolve) }
          }
          if (resolve) resolveClass(c)
          c
        } else super.loadClass(name, resolve)
      }
  }

  private def sh(cmd: Seq[String], cwd: File): Int =
    new ProcessBuilder(cmd: _*).directory(cwd).inheritIO().start().waitFor()

  /** Export + compile the ref once; cached by sha with a marker file
    * written only after a successful compile. */
  private def compiledClassesDir(repo: File, ref: String): File = {
    val shaProc = new ProcessBuilder("git", "rev-parse", ref).directory(repo).start()
    val sha = scala.io.Source.fromInputStream(shaProc.getInputStream).mkString.trim
    require(shaProc.waitFor() == 0 && sha.nonEmpty, s"cannot resolve git ref '$ref'")
    val wt = new File(System.getProperty("java.io.tmpdir"), s"graft_ab/$sha")
    val marker = new File(wt, ".ab_compiled")
    if (!marker.exists()) {
      if (wt.exists()) sh(Seq("rm", "-rf", wt.getPath), repo)
      require(wt.mkdirs(), s"cannot create $wt")
      // a plain export, not a worktree: nothing is registered in the
      // checkout's .git, so a cleared tmp dir leaves nothing stale
      require(sh(Seq("sh", "-c", s"git archive $sha | tar -x -C '${wt.getPath}'"),
        repo) == 0, s"git archive failed for $sha")
      require(sh(Seq("sbt", "-batch", "compile"), wt) == 0,
        s"sbt compile failed in ${wt.getPath}")
      marker.createNewFile()
    }
    val classes = new File(wt, "target/scala-2.13/classes")
    require(classes.isDirectory, s"no compiled classes at $classes")
    classes
  }

  /** The query filter of the optional second argument: comma-separated
    * exact names (`q1_pricing_summary` keeps that query alone; a bare
    * `q1` names none); no argument keeps every query. */
  def queryFilter(arg: Option[String]): String => Boolean =
    arg.fold((_: String) => true)(_.split(",").map(_.trim).toSet)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchAb <gitref> [comma,separated,query,names]")
    val ref = args(0)
    val filter = queryFilter(args.lift(1))

    // the repo root is wherever the JVM was launched from (sbt runs in
    // the project dir) — walk up to the .git marker rather than
    // hardcoding a checkout path
    val repoRoot = Iterator.iterate(new File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, ".git").exists())
      .getOrElse(sys.error("BenchAb must run from inside the git checkout"))
    val classes = compiledClassesDir(repoRoot, ref)
    val loader = new ChildFirst(Array(classes.toURI.toURL), getClass.getClassLoader)
    val oldEntry = loader.loadClass("graft.SparkEntry$").getField("MODULE$").get(null)
    val oldQueries = oldEntry.getClass.getMethod("queries").invoke(oldEntry)
      .asInstanceOf[Map[String, (SparkSession, String) => DataFrame]]

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession("graft-bench-ab", graft.SparkEntry.cpus(32))

    val newQueries = graft.SparkEntry.queries
    val names = graft.Bench.headline
      .filter(n => newQueries.contains(n) && oldQueries.contains(n) && filter(n))
    require(names.nonEmpty, "no headline query exists in BOTH trees after the filter")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def runOld(name: String): Double = {
      val prev = Thread.currentThread().getContextClassLoader
      Thread.currentThread().setContextClassLoader(loader)
      try timed(materialize(oldQueries(name)(spark, sfDir)))
      finally Thread.currentThread().setContextClassLoader(prev)
    }
    def runNew(name: String): Double =
      timed(materialize(newQueries(name)(spark, sfDir)))

    // A query whose physical plan SHIPS an old-tree graft class that
    // evolved incompatibly (serialVersionUID mismatch on task-side
    // deserialization — e.g. an Expression the round changed) cannot
    // be cross-tree-measured in one JVM. It fails LOUDLY here; we
    // exclude it from both legs and report it, instead of letting one
    // crash kill the whole instrument. Kernel-internal changes need an
    // in-tree A/B (see the scaladoc SCOPE note).
    val incompatible = collection.mutable.LinkedHashSet[String]()
    def tryOld(name: String): Option[Double] =
      try Some(runOld(name))
      catch {
        case e: Throwable
            if Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
              .takeWhile(_ != null).take(8)
              .exists(c => c.isInstanceOf[java.io.InvalidClassException] ||
                Option(c.getMessage).exists(_.contains("InvalidClassException"))) =>
          incompatible += name; None
      }

    // warm both trees + the calibration plan before any measurement
    runNew(names.head); tryOld(names.head); graft.Bench.calibration(spark)

    // EVEN iteration count only: order alternates per iteration, and
    // the first leg of a pair pays that query's cold costs (JIT, GC
    // credit, shuffle-file cache) — an odd count hands one side the
    // cold slot more often and the medians inherit a systematic bias
    // (measured: untouched queries read 15–40% "slower" at 3 iters,
    // new-first 2-of-3)
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "4").toInt
    require(iterations % 2 == 0,
      s"BenchAb needs an even iteration count for order balance, got $iterations")
    val samples = collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    val cals = (1 to iterations).map { it =>
      val cal = graft.Bench.calibration(spark)
      names.filterNot(incompatible).foreach { n =>
        // alternate which tree goes first to cancel ordering bias
        val legs: Seq[(String, () => Option[Double])] =
          if (it % 2 == 1) Seq("new" -> (() => Some(runNew(n))), "old" -> (() => tryOld(n)))
          else Seq("old" -> (() => tryOld(n)), "new" -> (() => Some(runNew(n))))
        legs.foreach { case (side, run) =>
          run().foreach(t => samples((n, side)) = t :: samples((n, side))) }
      }
      cal
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val measured = names.filterNot(incompatible)
      .filter(n => samples((n, "old")).nonEmpty && samples((n, "new")).nonEmpty)
    require(measured.nonEmpty,
      s"every query was cross-tree-incompatible with $ref: " +
        incompatible.mkString(", "))
    // Two estimators per query: the median (what Bench reports) and
    // the MIN of k — the classic noise-floor estimator: ambient load
    // only ever ADDS time, so min-vs-min compares the two trees'
    // undisturbed runs. On sub-second queries the median scatters
    // ±20–30% between whole sessions (measured; the same width
    // BENCH_r{N} stddevs show), so treat median ratios inside that
    // band as noise and read min ratios for the signal.
    val rows = measured.map { n =>
      val nw = median(samples((n, "new"))); val od = median(samples((n, "old")))
      val mnN = samples((n, "new")).min; val mnO = samples((n, "old")).min
      f""""$n":{"new":$nw%.3f,"old":$od%.3f,"ratio":${nw / od}%.3f,"min_new":$mnN%.3f,"min_old":$mnO%.3f,"min_ratio":${mnN / mnO}%.3f}"""
    }
    val tNew = measured.map(n => median(samples((n, "new")))).sum
    val tOld = measured.map(n => median(samples((n, "old")))).sum
    val tMinNew = measured.map(n => samples((n, "new")).min).sum
    val tMinOld = measured.map(n => samples((n, "old")).min).sum
    val incompat = incompatible.map(n => s""""$n"""").mkString("[", ",", "]")
    println(f"""{"metric":"ab","ref":"$ref","queries":${rows.mkString("{", ",", "}")},"incompatible":$incompat,"total_new":$tNew%.3f,"total_old":$tOld%.3f,"total_ratio":${tNew / tOld}%.3f,"total_min_ratio":${tMinNew / tMinOld}%.3f,"calibration_s":${median(cals)}%.3f,"iterations":$iterations,"sf":"$sfDir"}""")
    spark.stop()
  }
}
