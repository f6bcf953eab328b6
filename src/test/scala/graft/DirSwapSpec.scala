package graft

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import graft.lake.{Lake, TableRef}
import graft.state.StateStore
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The crash states of the one directory swap ([[graft.lake.DirSwap]]),
  * run against each kind of dir it replaces: a path table, a bucketed
  * catalog table and two state keys. Each state is built on disk around
  * the dir, as a crash inside the target's second write leaves it, and
  * the session then forgets its cached table listings, as a restarted one
  * would. Replaying the write must give the rows of a run that was never
  * cut and leave no side or `.old` dir behind; the state with the live
  * dir, `.old` and a side dir all present must throw and delete nothing. */
class DirSwapSpec extends SparkSpec {
  import spark.implicits._

  /** One dir the swap replaces: `first` writes its state, `second` is the
    * write a crash cuts, `rows` reads the dir's rows; `readHeals` when its
    * reads heal a cut swap themselves (the state store's do). */
  private case class Target(dir: String, first: () => Unit, second: () => Unit,
                            rows: () => Seq[String], readHeals: Boolean)

  /** What a crash state holds at the live dir, at `.old` and in a side
    * dir: the dir's contents before the cut write, or after it. */
  private sealed trait Copy
  private case object Before extends Copy
  private case object After extends Copy
  private case class Crash(name: String, live: Option[Copy], old: Option[Copy],
                           side: Option[Copy]) {
    def threeWay: Boolean = live.nonEmpty && old.nonEmpty && side.nonEmpty
  }

  private val crashes = Seq(
    Crash("side staged, no swap", Some(Before), None, Some(After)),
    Crash("live renamed to .old, side not renamed in", None, Some(Before), Some(After)),
    Crash("side renamed in, .old left", Some(After), Some(Before), None),
    Crash("live, .old and side all present", Some(After), Some(Before), Some(After)))

  private def run(target: String => Target): Unit = crashes.foreach { crash =>
    val t = target(tmpDir("dirswap"))
    val conf = spark.sparkContext.hadoopConfiguration
    val (p, old, side) = (new Path(t.dir), new Path(t.dir + ".old"),
      new Path(t.dir + ".tmp-crashed"))
    val fs = p.getFileSystem(conf)
    val snaps = new Path(tmpDir("dirswap_copies"))
    def copy(from: Path, to: Path): Unit = assert(FileUtil.copy(fs, from, fs, to, false, conf))
    t.first()
    val before = t.rows()
    copy(p, new Path(snaps, "before"))
    t.second() // the run that is never cut
    val after = t.rows()
    copy(p, new Path(snaps, "after"))
    def build(): Unit = {
      (Seq(p, old) ++ fs.globStatus(new Path(t.dir + ".tmp-*")).map(_.getPath))
        .foreach(fs.delete(_, true))
      Seq(crash.live -> p, crash.old -> old, crash.side -> side).foreach {
        case (c, dir) => c.foreach(c => copy(new Path(snaps, c.toString.toLowerCase), dir))
      }
      spark.sessionState.catalog.invalidateAllCachedTables()
    }
    def listing(): Seq[(String, Long)] = Seq(p, old, side).flatMap { d =>
      val walk = Files.walk(Paths.get(d.toString))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toSeq.sorted
      finally walk.close()
    }
    build()
    if (crash.threeWay) {
      val was = listing()
      val e = intercept[IllegalStateException](t.second())
      Seq(p, old, side).foreach(d => assert(e.getMessage.contains(d.toString), e.getMessage))
      assert(listing() === was, crash.name)
    } else {
      if (t.readHeals) { // a plain read sees the live or the healed copy
        assert(t.rows() === (if (crash.live.orElse(crash.old).contains(After)) after
          else before), crash.name)
        build() // and the write's own read heals too
      }
      t.second()
      assert(t.rows() === after, crash.name)
      assert(!fs.exists(old) && fs.globStatus(new Path(t.dir + ".tmp-*")).isEmpty, crash.name)
    }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("swap crash states: a path table's compaction (Lake.compact)") {
    run { root =>
      val lake = new Lake(spark, root)
      val ref = TableRef("staging", "ds", "ticks")
      Target(lake.path(ref),
        () => (1 to 3).foreach(i => lake.append(Seq((i, s"d${i % 2}")).toDF("id", "data"),
          ref, partitionBy = Seq("data"))),
        () => lake.compact(ref, partitionBy = Seq("data")),
        () => rowsOf(lake.read(ref)), readHeals = false)
    }
  }

  test("swap crash states: a bucketed table's compaction (Lake.compactBucketed)") {
    val dbs = Seq.newBuilder[String]
    run { root =>
      val lake = new Lake(spark, root)
      val ref = TableRef("state", "dsw" + (root.hashCode & Int.MaxValue), "t")
      val name = s"${ref.zone}_${ref.dataset}.${ref.table}"
      dbs += s"${ref.zone}_${ref.dataset}"
      def batch(lo: Long, n: Long, d: String) =
        spark.range(lo, lo + n).select($"id", ($"id" % 7).cast("int").as("k"),
          lit(Date.valueOf(d)).as("seen_date"))
      Target(lake.path(ref),
        () => {
          lake.writeBucketed(batch(0, 40, "2026-01-01"), ref, "k", 4,
            partitionBy = Seq("seen_date"))
          (1 to 3).foreach(i => batch(100L * i, 20, "2026-01-02")
            .write.mode(SaveMode.Append).insertInto(name))
        },
        () => lake.compactBucketed(ref),
        () => rowsOf(spark.table(name)), readHeals = false)
    }
    dbs.result().foreach(db => spark.sql(s"DROP DATABASE $db CASCADE"))
  }

  test("swap crash states: a last-run key (StateStore.setLastRun)") {
    run { root =>
      val st = new StateStore(spark, root)
      Target(s"$root/last_run/k",
        () => st.setLastRun("k", Timestamp.valueOf("2024-01-01 00:00:00")),
        () => st.setLastRun("k", Timestamp.valueOf("2024-02-01 00:00:00")),
        () => st.lastRun("k").map(_.toString).toSeq, readHeals = true)
    }
  }

  test("swap crash states: entity watermarks (StateStore.advanceEntityWatermarks)") {
    // the cut write only touches s1, so a merge that read the state as
    // empty instead of healing it first would lose s2's watermark
    run { root =>
      val st = new StateStore(spark, root)
      def advance(rows: (String, String)*): Unit = st.advanceEntityWatermarks("k",
        rows.map { case (e, ts) => (e, Timestamp.valueOf(ts)) }.toDF("entity", "ts"),
        "entity", "ts")
      Target(s"$root/entity_watermarks/k",
        () => advance("s1" -> "2024-01-01 10:00:00", "s2" -> "2024-01-02 11:00:00"),
        () => advance("s1" -> "2024-02-01 00:00:00"),
        () => rowsOf(st.entityWatermarks("k")), readHeals = true)
    }
  }
}
