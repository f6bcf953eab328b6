package graft.materialize

import java.sql.Timestamp

import graft.lake.{Lake, TableRef}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental SQL materialization (SURVEY §3.3, §7.7) — the dbt+BigQuery
  * replacement, with Spark SQL as the execution engine.
  *
  * A model is a parameterized SQL SELECT with `{{date_range_start}}` /
  * `{{date_range_end}}` vars (the reference's dbt `--vars date_range`,
  * rj_smtr/tasks.py:143-252). Runs compute the window from the state
  * store's last-run watermark, INSERT-OVERWRITE exactly the window's
  * partitions (dynamic overwrite), then advance the watermark —
  * mirroring set_last_run_timestamp (rj_smtr/tasks.py:1279-1309).
  */
final case class Model(name: String, sql: String,
                       partitionBy: Seq[String] = Seq("data"),
                       deps: Seq[String] = Nil)

/** One capture-log source feeding a model, for the recapture gate
  * (the reference's `source_dataset_ids`/`source_table_ids`/
  * `capture_intervals_minutes` materialization parameters,
  * rj_smtr/flows.py:204-208). */
final case class GateSource(dataset: String, table: String,
                            intervalMinutes: Int = 1, lookbackDays: Int = 1)

class ModelRunner(spark: SparkSession, lake: Lake, state: StateStore,
                  dataset: String) {

  def render(sql: String, vars: Map[String, String]): String =
    vars.foldLeft(sql) { case (acc, (k, v)) => acc.replace(s"{{$k}}", v) }

  private def fmt(ts: Timestamp): String = ts.toString.takeWhile(_ != '.')

  /** One incremental run: window = (last_run, now]. Returns the frame
    * written (for tests) — writes via dynamic partition overwrite so
    * re-running a window is idempotent (T5). */
  def run(model: Model, now: Timestamp): DataFrame = {
    val start = state.lastRunOrMax(s"$dataset.${model.name}",
      lake.read(TableRef("prod", dataset, model.name)), "ts")
    val vars = Map(
      "date_range_start" -> fmt(start),
      "date_range_end" -> fmt(now))
    val out = spark.sql(render(model.sql, vars))
    lake.overwritePartitions(out, TableRef("prod", dataset, model.name),
      model.partitionBy)
    state.setLastRun(s"$dataset.${model.name}", now)
    out
  }

  /** The recapture→materialization gate (rj_smtr/flows.py:225-236):
    * before a tick runs, every source table's capture log is checked
    * for minutes that are still missing in its lookback window; ANY
    * pending recapture skips the whole tick — WITHOUT advancing the
    * watermark — so the window re-runs intact once the backfill lands.
    * Without this, a recapture that delivers late data into an
    * already-materialized window would leave prod silently stale: the
    * watermark has moved past the window, so nothing ever re-reads it.
    * Returns None on a skipped tick (the caller's alert/retry signal),
    * Some(written frame) on a materialized one. */
  def runGated(model: Model, now: Timestamp, log: graft.lake.CaptureLog,
               sources: Seq[GateSource]): Option[DataFrame] = {
    val blocked = sources.exists { s =>
      val p = new org.apache.hadoop.fs.Path(lake.path(log.ref(s.dataset, s.table)))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a log table that does not exist yet gates as pending (skip, hold
      // the watermark, retry): the source's first capture hasn't landed,
      // which is exactly an all-minutes-missing window — crashing the
      // tick (the read would throw on the missing path) takes down the
      // scheduler loop instead of waiting the source out
      !fs.exists(p) ||
        graft.streaming.Recapture.pending(spark, log.read(s.dataset, s.table),
          now, s.intervalMinutes, s.lookbackDays)
    }
    if (blocked) None else Some(run(model, now))
  }

  /** Model-DAG run in dependency order; returns the execution order
    * (deps within the given set only — a selection runs standalone,
    * like `dbt run --select`). */
  def runDag(models: Seq[Model], now: Timestamp): Seq[String] = {
    val byName = models.map(m => m.name -> m).toMap
    val done = scala.collection.mutable.LinkedHashSet[String]()
    def visit(m: Model, stack: Set[String]): Unit = {
      if (done.contains(m.name)) return
      require(!stack(m.name), s"model dependency cycle at ${m.name}")
      m.deps.flatMap(byName.get).foreach(visit(_, stack + m.name))
      done += m.name
    }
    models.foreach(visit(_, Set.empty))
    done.foreach(n => run(byName(n), now))
    done.toSeq
  }

  /** dbt-style graph selector (the reference's materialization flow
    * passes `dbt run --select <selector>` through,
    * rj_smtr/tasks.py:143-252): `"m"` = just m, `"+m"` = m plus its
    * transitive upstream deps, `"m+"` = m plus its transitive downstream
    * dependents, `"+m+"` = both. Returns the selection; feed it to
    * [[runDag]], which orders by the intra-selection dependencies. */
  def select(models: Seq[Model], selector: String): Seq[Model] = {
    val upstream = selector.startsWith("+")
    val downstream = selector.endsWith("+")
    val name = selector.stripPrefix("+").stripSuffix("+")
    val byName = models.map(m => m.name -> m).toMap
    require(byName.contains(name), s"unknown model '$name' in selector '$selector'")
    val chosen = scala.collection.mutable.Set(name)
    if (upstream) {
      def ancestors(n: String): Unit =
        byName.get(n).toSeq.flatMap(_.deps).foreach { d =>
          if (chosen.add(d)) ancestors(d)
        }
      ancestors(name)
    }
    if (downstream) {
      val dependents = models.flatMap(m => m.deps.map(_ -> m.name))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def descend(n: String): Unit =
        dependents.getOrElse(n, Nil).foreach { d =>
          if (chosen.add(d)) descend(d)
        }
      descend(name)
    }
    models.filter(m => chosen(m.name)) // keep declaration order; runDag sorts
  }

  /** Select + run in one call; returns the executed model names in
    * dependency order (for logs/assertions). */
  def runSelected(models: Seq[Model], selector: String,
                  now: Timestamp): Seq[String] =
    runDag(select(models, selector), now)

  /** Backfill stepper (build_incremental_model analog,
    * rj_smtr/tasks.py:71-140): advance the window in fixed steps until
    * caught up to `until`. */
  def backfill(model: Model, until: Timestamp, stepHours: Int): Int = {
    require(stepHours > 0, s"stepHours must be positive, got $stepHours")
    var steps = 0
    var cur = state.lastRunOrMax(s"$dataset.${model.name}",
      lake.read(TableRef("prod", dataset, model.name)), "ts")
    while (cur.before(until)) {
      val next = new Timestamp(
        math.min(cur.getTime + stepHours * 3600L * 1000, until.getTime))
      run(model, next)
      cur = next
      steps += 1
    }
    steps
  }
}
