package graft

import java.sql.Timestamp

import graft.state.{RunLock, StateStore}
import org.apache.spark.sql.functions._

/** A local filesystem whose setTimes is a SILENT NO-OP — the S3A shape
  * (object stores expose immutable mtimes) the RunLock.refresh rewrite
  * fallback exists for. Registered under the `nomtime` scheme by the
  * refresh-fallback test. */
class NoMtimeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nomtime:///")
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long,
                        atime: Long): Unit = () // silently ignored
}

class StateSpec extends SparkSpec {
  import spark.implicits._

  test("last-run watermark: unset → fallback to MAX(ts) → set → read (T6)") {
    val st = new StateStore(spark, tmpDir("state"))
    assert(st.lastRun("ds.t").isEmpty)
    val target = Seq(
      ("a", Timestamp.valueOf("2024-01-01 10:00:00")),
      ("b", Timestamp.valueOf("2024-01-02 11:00:00"))).toDF("id", "ts")
    assert(st.lastRunOrMax("ds.t", target, "ts") ===
      Timestamp.valueOf("2024-01-02 11:00:00"))
    val now = Timestamp.valueOf("2024-02-01 00:00:00")
    st.setLastRun("ds.t", now)
    assert(st.lastRun("ds.t") === Some(now))
    // updating one key leaves others intact
    st.setLastRun("ds.u", Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(st.lastRun("ds.t") === Some(now))
  }

  test("lastRun and sketch reads and writes of a stored key run no Spark job") {
    val root = tmpDir("state")
    // the layout check on open (first and repeat) is filesystem calls only
    var st: StateStore = null
    assert(jobsDuring { st = new StateStore(spark, root) }.isEmpty)
    val now = Timestamp.valueOf("2024-02-01 00:00:00")
    // one-row frames write on the driver; the store reads its one-row
    // tables on the driver, with the declared schema (no inference)
    assert(jobsDuring {
      st.setLastRun("ds.t", now)
      st.mergeSketch("ds.t", Array[Byte](1, 2, 3)) // first merge stores as-is
    }.isEmpty)
    var got: Option[Timestamp] = None
    assert(jobsDuring { got = st.lastRun("ds.t") }.isEmpty)
    assert(got === Some(now))
    var sk: Option[Array[Byte]] = None
    assert(jobsDuring { sk = st.sketch("ds.t") }.isEmpty)
    assert(sk.map(_.toSeq) === Some(Seq[Byte](1, 2, 3)))
    // an absent key reads as first-run without a job either
    assert(jobsDuring { got = st.lastRun("ds.absent") }.isEmpty)
    assert(got.isEmpty)
    assert(jobsDuring { st = new StateStore(spark, root) }.isEmpty)
  }

  test("driver-written state swaps: crash states read as before and replay once") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("state")
    val st = new StateStore(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (t1, t2) = (Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-02-01 00:00:00"))
    val hll = graft.expressions.Hll
    def sk(xs: Long*): Array[Byte] = {
      val s = hll.empty(); xs.foreach(x => hll.update(s, x * 0x9E3779B97F4A7C15L)); s
    }
    val (a, b) = (sk(1, 2, 3), sk(3, 4))
    assert(jobsDuring { st.setLastRun("k", t1); st.mergeSketch("k", a) }.isEmpty)
    val live = Seq(new Path(s"$dir/last_run/k"), new Path(s"$dir/sketches/k"))
    // what a driver write leaves: one part file and _SUCCESS
    live.foreach { p =>
      val names = fs.listStatus(p).map(_.getPath.getName).filterNot(_.startsWith("."))
      assert(names.count(_.matches("part-00000-.*-c000\\.snappy\\.parquet")) === 1 &&
        names.contains("_SUCCESS") && names.length === 2, names.toSeq)
    }
    def crashBetweenRenames(): Unit =
      live.foreach(p => assert(fs.rename(p, new Path(p.toString + ".old"))))

    // (1) a writer died between `path -> path.old` and `tmp -> path`:
    // a read heals the prior state, and so does the merge read of the
    // next update, which then lands exactly once
    crashBetweenRenames()
    assert(st.lastRun("k") === Some(t1))
    assert(st.sketch("k").map(_.toSeq) === Some(a.toSeq))
    crashBetweenRenames()
    st.setLastRun("k", t2)
    st.mergeSketch("k", b)
    assert(st.lastRun("k") === Some(t2))
    assert(st.sketch("k").map(_.toSeq) === Some(hll.merge(a.clone(), b).toSeq))
    assert(live.forall(p => !fs.exists(new Path(p.toString + ".old"))))

    // (2) a writer died after staging its tmp dir, before _SUCCESS and
    // before any swap: the tmp dir is invisible, the next write sweeps it
    val merged = st.sketch("k").get
    live.zip(Seq[org.apache.spark.sql.DataFrame](
      Seq(("k", t1)).toDF("key", "last_run"), Seq(sk(9)).toDF("sketch"))).foreach {
      case (p, df) =>
        val tmp = new Path(p.toString + ".tmp-crashed")
        df.write.parquet(tmp.toString)
        assert(fs.delete(new Path(tmp, "_SUCCESS"), false))
    }
    assert(st.lastRun("k") === Some(t2))
    assert(st.sketch("k").map(_.toSeq) === Some(merged.toSeq))
    st.setLastRun("k", t1)
    st.mergeSketch("k", b)
    assert(st.lastRun("k") === Some(t1))
    assert(st.sketch("k").map(_.toSeq) === Some(hll.merge(merged.clone(), b).toSeq))
    assert(live.forall(p => fs.globStatus(new Path(p.toString + ".tmp-*")).isEmpty))
  }

  test("state keys with glob metacharacters round-trip (orphan sweep escapes)") {
    val root = tmpDir("state")
    val st = new StateStore(spark, root)
    // a key like a dbt selector or bracketed tag must not turn the
    // orphan-tmp glob into a pattern that matches (and deletes) siblings
    val odd = "ds.sel[*].t{1}"
    st.setLastRun(odd, Timestamp.valueOf("2024-04-01 00:00:00"))
    st.setLastRun("ds.sel1.t1", Timestamp.valueOf("2024-05-01 00:00:00"))
    st.setLastRun(odd, Timestamp.valueOf("2024-04-02 00:00:00")) // second write sweeps
    assert(st.lastRun(odd) === Some(Timestamp.valueOf("2024-04-02 00:00:00")))
    assert(st.lastRun("ds.sel1.t1") === Some(Timestamp.valueOf("2024-05-01 00:00:00")))

    // injectivity across the BMP: "‹" (U+2039) must not collide with
    // " 39" (a code-point-wide %X encoding maps both to "%2039")
    st.setLastRun("ds.‹", Timestamp.valueOf("2024-06-01 00:00:00"))
    st.setLastRun("ds. 39", Timestamp.valueOf("2024-07-01 00:00:00"))
    assert(st.lastRun("ds.‹") === Some(Timestamp.valueOf("2024-06-01 00:00:00")))
    assert(st.lastRun("ds. 39") === Some(Timestamp.valueOf("2024-07-01 00:00:00")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/last_run"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet ===
      Set("ds.sel%5B%2A%5D.t%7B1%7D", "ds.sel1.t1", "ds.%E2%80%B9", "ds.%2039"))
  }

  test("state key encoding is injective; raw-named dirs are never read or renamed") {
    // No probe renames state between paths any more, and the encoding is
    // injective, so keys whose encodings an older scheme could confuse
    // each keep their own live state.
    val root = tmpDir("state")
    val st = new StateStore(spark, root)
    // a code-point-wide %X encoding maps both '‹' (U+2039) and " 39" to "%2039"
    st.setLastRun(" 39", Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(st.lastRun("‹").isEmpty)
    st.setLastRun("‹", Timestamp.valueOf("2024-04-01 00:00:00"))
    assert(st.lastRun("‹") === Some(Timestamp.valueOf("2024-04-01 00:00:00")))
    assert(st.lastRun(" 39") === Some(Timestamp.valueOf("2024-03-01 00:00:00")))
    // '%' is encoded too: raw "a%20b" is not safeKey("a b")
    st.setLastRun("a b", Timestamp.valueOf("2024-05-01 00:00:00"))
    assert(st.lastRun("a%20b").isEmpty)
    st.setLastRun("a%20b", Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(st.lastRun("a b") === Some(Timestamp.valueOf("2024-05-01 00:00:00")))
    assert(st.lastRun("a%20b") === Some(Timestamp.valueOf("2024-06-01 00:00:00")))

    // a raw-named dir inside a root of this layout is neither read nor
    // renamed onto the key's encoded path
    import org.apache.hadoop.fs.Path
    Seq(graft.expressions.Hll.empty()).toDF("sketch").write.parquet(s"$root/sketches/tok count")
    val st2 = new StateStore(spark, root)
    assert(st2.sketch("tok count").isEmpty)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$root/sketches/tok count")))
    assert(!fs.exists(new Path(s"$root/sketches/tok%20count")))
  }

  /** `body` must refuse to open `root`, naming it and what it found. */
  private def assertOldLayout(root: String, found: String)(body: => Unit): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(root) && e.getMessage.contains(found) &&
      e.getMessage.contains("older or unknown layout"), e.getMessage)
  }

  test("old layout: a raw-key state dir fails loudly at open") {
    // before percent-encoding, a key's state lived at its raw name
    val root = tmpDir("state")
    Seq(("my pipeline", Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("key", "last_run").write.parquet(s"$root/last_run/my pipeline")
    assertOldLayout(root, "last_run")(new StateStore(spark, root))
  }

  test("old layout: a single-table last_run fails loudly at open") {
    // before per-key storage, every key's row sat in one table at last_run
    val root = tmpDir("state")
    Seq(("old.pipeline", Timestamp.valueOf("2024-05-01 00:00:00")))
      .toDF("key", "last_run").coalesce(1).write.parquet(s"$root/last_run")
    assertOldLayout(root, "last_run")(new StateStore(spark, root))
  }

  test("old layout: kind dirs without the marker fail loudly; other entries do not count") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("state")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a DailyIngest state root's own entries are not state kinds
    Seq("_locks", "warehouse", "metastore_db", "bpe").foreach(d => fs.mkdirs(new Path(root, d)))
    new StateStore(spark, root).setLastRun("k", Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(fs.exists(new Path(root, "_graft_state_v1")))
    // the same encoded layout, marker gone: never read as first-run
    Seq(("k", Array[Byte](1))).toDF("key", "sketch").write.parquet(s"$root/sketches/k")
    assert(fs.delete(new Path(root, "_graft_state_v1"), false))
    assertOldLayout(root, "last_run, sketches")(new StateStore(spark, root))
  }

  test("state layout is pinned: the marker and one encoded key dir per kind") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("state")
    val st = new StateStore(spark, root)
    val key = "my pipeline"
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    st.setLastRun(key, t)
    st.advanceEntityWatermarks(key, Seq(("e", t)).toDF("entity", "ts"), "entity", "ts")
    st.markProcessed(key, Seq("f"))
    st.writeTable(key, Seq(1).toDF("x"))
    st.mergeSketch(key, Array[Byte](1))
    st.mergeQuantiles(key, Array[Byte](1))
    st.mergeTopK(key, Array[Byte](1))
    // a path change must update this tree and bump the marker together
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).filterNot(_.startsWith("."))
    val tree = names(new Path(root)).flatMap { n =>
      val p = new Path(root, n)
      if (fs.getFileStatus(p).isDirectory) names(p).map(c => s"$n/$c").toSeq else Seq(n)
    }.sorted.toSeq
    assert(tree === Seq(
      "_graft_state_v1",
      "entity_watermarks/my%20pipeline",
      "last_run/my%20pipeline",
      "processed_files/my%20pipeline",
      "quantile_sketches/my%20pipeline",
      "sketches/my%20pipeline",
      "tables/my%20pipeline",
      "topk_sketches/my%20pipeline"))
  }

  test("concurrent first open of one fresh root: all succeed, one marker") {
    import org.apache.hadoop.fs.Path
    import java.util.concurrent.{CyclicBarrier, Executors}
    val pool = Executors.newFixedThreadPool(4)
    try (1 to 5).foreach { round =>
      val root = s"${tmpDir("state")}/fresh"
      val start = new CyclicBarrier(4)
      // each opener writes at once, so a slower opener may list a kind
      // dir another one wrote after creating the marker
      val futs = (1 to 4).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            new StateStore(spark, root)
              .setLastRun(s"k$i", Timestamp.valueOf("2024-01-01 00:00:00"))
          }
        })
      }
      futs.foreach(_.get())
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).sorted.toSeq === Seq("_graft_state_v1", "last_run"),
        s"round $round")
      assert((1 to 4).forall(i => new StateStore(spark, root).lastRun(s"k$i").isDefined))
    } finally pool.shutdown()
  }

  test("concurrent setLastRun on different keys: no lost update (per-key storage)") {
    val st = new StateStore(spark, tmpDir("state"))
    val keys = (1 to 8).map(i => s"pipe.$i")
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(8)
    val futs = keys.zipWithIndex.map { case (k, i) =>
      pool.submit(new Runnable {
        def run(): Unit =
          st.setLastRun(k, Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"))
      })
    }
    pool.shutdown()
    futs.foreach(_.get())
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(st.lastRun(k) === Some(Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")),
        s"update for $k lost")
    }
  }

  test("per-entity watermarks: filter newer + advance keeps max (T7/J1/A3)") {
    val st = new StateStore(spark, tmpDir("state"))
    val batch1 = Seq(
      ("s1", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("s2", Timestamp.valueOf("2024-01-01 10:00:00"), 2.0)).toDF("entity", "ts", "v")
    // empty state: everything passes (seed semantics)
    assert(st.newerThanWatermark("k", batch1, "entity", "ts").count() === 2)
    st.advanceEntityWatermarks("k", batch1, "entity", "ts")

    val batch2 = Seq(
      ("s1", Timestamp.valueOf("2024-01-01 09:59:00"), 9.0), // stale
      ("s1", Timestamp.valueOf("2024-01-01 10:05:00"), 3.0), // fresh
      ("s3", Timestamp.valueOf("2024-01-01 08:00:00"), 4.0)  // new entity
    ).toDF("entity", "ts", "v")
    val fresh = st.newerThanWatermark("k", batch2, "entity", "ts")
      .select($"entity", $"v").as[(String, Double)].collect().toSet
    assert(fresh === Set(("s1", 3.0), ("s3", 4.0)))

    // advancing with an OLDER batch must not regress the watermark
    st.advanceEntityWatermarks("k",
      Seq(("s1", Timestamp.valueOf("2023-12-31 00:00:00"), 0.0))
        .toDF("entity", "ts", "v"), "entity", "ts")
    val wm = st.entityWatermarks("k").filter($"entity" === "s1")
      .head().getTimestamp(1)
    assert(wm === Timestamp.valueOf("2024-01-01 10:00:00"))
  }

  test("processed-file set: anti-join + mark (T8/J5)") {
    val st = new StateStore(spark, tmpDir("state"))
    val files = Seq("f1", "f2", "f3").toDF("file")
    assert(st.unprocessed("k", files, "file").count() === 3)
    st.markProcessed("k", Seq("f1", "f3"))
    assert(st.unprocessed("k", files, "file").as[String].collect().toSet === Set("f2"))
    // marking is idempotent
    st.markProcessed("k", Seq("f1"))
    assert(st.processedFiles("k").count() === 2)
  }

  test("run lock: skip-if-running, release, crash takeover by TTL (§4 guard)") {
    val dir = tmpDir("locks")
    def age(key: String): Unit = { // make a held lock look TTL-expired
      val p = new org.apache.hadoop.fs.Path(s"$dir/_locks/$key.lock")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .setTimes(p, System.currentTimeMillis() - 10 * 60000L, -1)
    }
    val lock = new RunLock(spark, dir)
    assert(lock.tryAcquire("smtr.gps", owner = "run-1"))
    assert(!lock.tryAcquire("smtr.gps", owner = "run-2")) // second run skips
    assert(lock.tryAcquire("other.flow"))                 // unrelated key fine
    lock.release("smtr.gps")
    assert(lock.tryAcquire("smtr.gps", owner = "run-3"))  // released → free
    lock.release("smtr.gps")

    // withLock: body runs under the lock; concurrent body is skipped;
    // a throwing body still releases
    var ran = 0
    val r = lock.withLock("w") { ran += 1; lock.withLock("w") { ran += 1 } }
    assert(r === Some(None) && ran === 1) // inner skipped, outer ran
    intercept[RuntimeException](lock.withLock("w") { throw new RuntimeException("x") })
    assert(lock.withLock("w") { 42 } === Some(42)) // released despite throw

    // crash takeover: an expired lock is replaced, a fresh one is not
    assert(lock.tryAcquire("dead", ttlMinutes = 60))
    assert(!lock.tryAcquire("dead", ttlMinutes = 60))
    age("dead")
    assert(lock.tryAcquire("dead", ttlMinutes = 5)) // expired → taken over

    // an overrun holder must not delete its successor's lock: holder A's
    // lock expires and is taken over; A's late release is a no-op
    val lockA = new RunLock(spark, dir)
    val lockB = new RunLock(spark, dir)
    assert(lockA.tryAcquire("k", owner = "A"))
    age("k")
    assert(lockB.tryAcquire("k", owner = "B", ttlMinutes = 5)) // takeover
    lockA.release("k") // late release: token mismatch, no-op
    val lockC = new RunLock(spark, dir)
    assert(!lockC.tryAcquire("k", owner = "C")) // B's lock survived
  }

  test("run lock: isHeldByMe/assertHeld turn the single-writer contract " +
    "into a runtime check") {
    val dir = tmpDir("locks_held")
    val lock = new RunLock(spark, dir)
    // never acquired → violation
    intercept[IllegalStateException](lock.assertHeld("crawl_ds"))
    assert(!lock.isHeldByMe("crawl_ds"))
    // held → passes
    assert(lock.tryAcquire("crawl_ds", owner = "tick"))
    assert(lock.isHeldByMe("crawl_ds"))
    lock.assertHeld("crawl_ds") // no throw
    // released → violation again
    lock.release("crawl_ds")
    intercept[IllegalStateException](lock.assertHeld("crawl_ds"))
    // TTL takeover: the original holder's guard must FAIL — the
    // successor owns the state now, and the overrun holder's next
    // commit is exactly the write the guard exists to stop
    val holder = new RunLock(spark, dir)
    val taker = new RunLock(spark, dir)
    assert(holder.tryAcquire("k2", owner = "old"))
    val p = new org.apache.hadoop.fs.Path(s"$dir/_locks/k2.lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .setTimes(p, System.currentTimeMillis() - 10 * 60000L, -1)
    assert(taker.tryAcquire("k2", owner = "new", ttlMinutes = 5))
    intercept[IllegalStateException](holder.assertHeld("k2"))
    assert(taker.isHeldByMe("k2")) // the successor's guard passes

    // refresh: a long-running holder re-stamps its mtime so the TTL
    // measures idle time — an aged-then-refreshed lock resists takeover
    val worker = new RunLock(spark, dir)
    assert(worker.tryAcquire("k3", owner = "long-run"))
    val p3 = new org.apache.hadoop.fs.Path(s"$dir/_locks/k3.lock")
    p3.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .setTimes(p3, System.currentTimeMillis() - 10 * 60000L, -1)
    assert(worker.refresh("k3")) // between units of work
    // refresh VERIFIES the stamp (advisor-found, r15: setTimes is a
    // silent no-op on some stores): the mtime must actually have moved
    // off the aged value, or refresh must have said false
    val agedBy10Min = System.currentTimeMillis() - 9 * 60000L
    assert(p3.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p3).getModificationTime > agedBy10Min,
      "refresh returned true without advancing the mtime")
    val contender = new RunLock(spark, dir)
    assert(!contender.tryAcquire("k3", owner = "c", ttlMinutes = 5),
      "a refreshed lock must not read as stale")
    assert(worker.isHeldByMe("k3"))
    worker.release("k3")
    assert(!worker.refresh("k3")) // cannot resurrect a released lock
    // refresh after a TTL takeover: the old holder must learn it lost
    // the lock (the check→stamp TOCTOU re-verifies ownership at the end)
    assert(!holder.refresh("k2"),
      "refresh must report a lock lost to takeover")
  }

  test("run lock refresh: rewrite fallback when setTimes is a silent no-op") {
    // the advisor-found failure (r15): on stores that ignore setTimes
    // (S3A-shaped), refresh returned true WITHOUT extending the TTL —
    // a long backfill believed itself protected while contenders saw
    // an ever-staler lock. The fix verifies the stamp and falls back
    // to rewriting the token file; this drives that exact path.
    spark.sparkContext.hadoopConfiguration
      .set("fs.nomtime.impl", classOf[NoMtimeFs].getName)
    val dir = tmpDir("locks_nomtime")
    val lock = new RunLock(spark, s"nomtime://$dir")
    assert(lock.tryAcquire("k", owner = "long-run"))
    val local = new java.io.File(s"$dir/_locks/k.lock")
    assert(local.isFile)
    // age the lock OUTSIDE the no-op fs (plain java.io)
    assert(local.setLastModified(System.currentTimeMillis() - 10 * 60000L))
    val before = local.lastModified()
    assert(lock.refresh("k"),
      "refresh must succeed via the token-rewrite fallback")
    assert(local.lastModified() > before,
      "the fallback must actually advance the mtime")
    // and the refreshed lock resists a TTL takeover
    val contender = new RunLock(spark, s"nomtime://$dir")
    assert(!contender.tryAcquire("k", owner = "c", ttlMinutes = 5))
    assert(lock.isHeldByMe("k"))
    lock.release("k")
  }

  test("run lock: stale takeover under 8-way contention admits exactly one") {
    val dir = tmpDir("locks3")
    val stale = new RunLock(spark, dir)
    assert(stale.tryAcquire("hot", owner = "dead-holder"))
    // age the lock past the contenders' TTL (the winner's fresh lock
    // stays young, so it cannot be taken over in the same race)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_locks/hot.lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .setTimes(p, System.currentTimeMillis() - 10 * 60000L, -1)
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(8)
    val wins = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          new RunLock(spark, dir).tryAcquire("hot", owner = s"c$i", ttlMinutes = 1)
      })
    }
    pool.shutdown()
    assert(wins.count(_.get()) === 1) // rename-then-claim admits one winner
  }

  test("hll sketch: merge(sk(A), sk(B)) == sk(A∪B), estimate in bound, cross-run (A4)") {
    import graft.expressions.{Hll, HllSketch}
    import HllSketch._

    // pure-kernel property: register-wise max commutes with stream union
    def sk(xs: Range): Array[Byte] = {
      val s = Hll.empty()
      xs.foreach(x => Hll.update(s,
        org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(x.toLong, org.apache.spark.sql.types.LongType, 42L)))
      s
    }
    val a = sk(0 until 6000)
    val b = sk(4000 until 10000) // overlaps A on [4000, 6000)
    val union = sk(0 until 10000)
    assert(Hll.merge(a.clone(), b).toSeq === union.toSeq) // EXACT, not approx
    // zero sketches are merge-identity even across precisions (an empty
    // batch's hll_merge output carries the default p)
    assert(Hll.merge(Hll.empty(10), a.clone()).toSeq === a.toSeq)
    assert(Hll.merge(a.clone(), Hll.empty(10)).toSeq === a.toSeq)
    val est = Hll.estimate(union)
    assert(math.abs(est - 10000) < 500, s"estimate $est off >5%")

    // aggregate path: distributed sketch == same registers as serial one
    val df = spark.range(10000).select(($"id" % 7919).as("v")) // 7919 distinct
    val distSketch = df.repartition(8)
      .agg(hll_sketch($"v").as("sk")).head().getAs[Array[Byte]]("sk")
    val est2 = Hll.estimate(distSketch)
    assert(math.abs(est2 - 7919) < 400, s"agg estimate $est2 off >5%")

    // hll_merge of per-group sketches == one global sketch
    val merged = spark.range(10000).select(($"id" % 7919).as("v"), ($"id" % 4).as("g"))
      .groupBy($"g").agg(hll_sketch($"v").as("sk"))
      .agg(hll_merge($"sk").as("m"), hll_estimate(hll_merge($"sk")).as("est"))
      .head()
    assert(merged.getAs[Array[Byte]]("m").toSeq === distSketch.toSeq)
    assert(merged.getAs[Long]("est") === est2)

    // cross-run accumulation through _state: two runs, no history re-scan
    val st = new StateStore(spark, tmpDir("state"))
    st.mergeSketch("orders.custkey", a)
    st.mergeSketch("orders.custkey", b)
    assert(st.sketch("orders.custkey").get.toSeq === union.toSeq)
    assert(Hll.estimate(st.sketch("orders.custkey").get) === est)
  }

  test("quantile sketch: rank bound, merge ≈ serial, SQL, cross-run (A4 quantiles)") {
    import graft.expressions.{GraftExtensions, Qsk}
    import graft.expressions.QuantileSketch._

    // kernel over a deterministic permutation of 0..99999: lower-quantile
    // estimates stay within 3% rank error (k=200 ⇒ typically well under 1%)
    val vals = (0 until 100000).map(i => ((i * 2654435761L) % 100000).toDouble)
    val s = Qsk.empty()
    vals.foreach(s.update)
    for (q <- Seq(0.1, 0.25, 0.5, 0.9, 0.99)) {
      val est = s.quantile(q)
      assert(math.abs(est - q * 100000) < 3000, s"q=$q est=$est")
    }

    // merge of disjoint halves obeys the same bound; serde round-trips
    val a = Qsk.empty(); vals.take(50000).foreach(a.update)
    val b = Qsk.empty(); vals.drop(50000).foreach(b.update)
    val halfA = a.serialize() // keep pre-merge copy for the state test
    val m = a.merge(b)
    for (q <- Seq(0.25, 0.5, 0.9))
      assert(math.abs(m.quantile(q) - q * 100000) < 3000)
    assert(Qsk.deserialize(m.serialize()).quantile(0.5) === m.quantile(0.5))

    // aggregate path: distributed sketch, per-group merge, SQL surface
    val df = spark.range(100000).select(($"id" % 1000).as("v"))
    val med = df.repartition(8).agg(qsk_quantile(qsk_sketch($"v"), lit(0.5)))
      .head().getDouble(0)
    assert(math.abs(med - 500) < 40, s"agg median $med")
    val grouped = spark.range(100000)
      .select(($"id" % 1000).as("v"), ($"id" % 4).as("g"))
      .groupBy($"g").agg(qsk_sketch($"v").as("sk"))
      .agg(qsk_quantile(qsk_merge($"sk"), lit(0.5))).head().getDouble(0)
    assert(math.abs(grouped - 500) < 40, s"merged median $grouped")
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("qsk_v")
    // no explicit casts: BIGINT column and DECIMAL literal implicit-cast
    val sqlMed = spark.sql(
      "SELECT qsk_quantile(qsk_sketch(v), 0.5) FROM qsk_v")
      .head().getDouble(0)
    assert(math.abs(sqlMed - 500) < 40, s"sql median $sqlMed")

    // non-default k survives partial-agg serde: empty partials must stay
    // None (a default-k empty sketch would merge-crash against k=400)
    val k400 = spark.range(10000).select(($"id" % 100).as("v"), ($"id" % 4).as("g"))
      .groupBy($"g").agg(qsk_sketch($"v", 400).as("sk"))
      .repartition(8) // most partials hold no sketch rows
      .agg(qsk_quantile(qsk_merge($"sk"), lit(0.5))).head().getDouble(0)
    assert(math.abs(k400 - 50) < 10, s"k=400 merged median $k400")

    // empty aggregation → NULL estimate, not a crash
    val empty = spark.range(10).filter($"id" < 0)
      .agg(qsk_quantile(qsk_sketch($"id"), lit(0.5))).head()
    assert(empty.isNullAt(0))

    // cross-run accumulation through _state: two runs, no history re-scan
    val st = new StateStore(spark, tmpDir("state"))
    st.mergeQuantiles("tok", halfA)
    st.mergeQuantiles("tok", b.serialize())
    val got = Qsk.deserialize(st.quantileSketch("tok").get)
    assert(math.abs(got.quantile(0.5) - 50000) < 3000)

    // an EMPTY sketch (e.g. an empty batch's qsk_merge output, default k)
    // is merge-identity regardless of k — never a k-mismatch crash
    val k400sk = Qsk.empty(400); (1 to 100).foreach(i => k400sk.update(i))
    assert(Qsk.empty(200).merge(k400sk).quantile(0.5) === 50.0)
    assert(k400sk.merge(Qsk.empty(200)).quantile(0.5) === 50.0)
    st.mergeQuantiles("tok400", k400sk.serialize())
    st.mergeQuantiles("tok400", Qsk.empty(200).serialize()) // empty-batch run
    assert(Qsk.deserialize(st.quantileSketch("tok400").get).quantile(0.5) === 50.0)
  }

  test("state upserts stay distributed at 1e5 entities (no driver collect)") {
    val st = new StateStore(spark, tmpDir("state"))
    val n = 100000
    val batch1 = spark.range(n)
      .select(concat(lit("e"), $"id").as("entity"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    st.advanceEntityWatermarks("big", batch1, "entity", "ts")
    assert(st.entityWatermarks("big").count() === n)

    // second upsert: half advance, half stale, plus 1000 new entities
    val batch2 = spark.range(n + 1000)
      .select(concat(lit("e"), $"id").as("entity"),
        when($"id" % 2 === 0, Timestamp.valueOf("2024-02-01 00:00:00"))
          .otherwise(Timestamp.valueOf("2023-06-01 00:00:00")).as("ts"))
    st.advanceEntityWatermarks("big", batch2, "entity", "ts")
    val wm = st.entityWatermarks("big")
    assert(wm.count() === n + 1000)
    // stale rows did not regress their watermark
    assert(wm.filter($"last_update" < Timestamp.valueOf("2024-01-01 00:00:00"))
      .filter(regexp_extract($"entity", "e(\\d+)", 1).cast("long") < n).count() === 0)
    // even ids advanced
    assert(wm.filter($"last_update" === Timestamp.valueOf("2024-02-01 00:00:00"))
      .count() === (n + 1000) / 2)

    // distributed file-set mark at 1e5 files
    val files = spark.range(n).select(concat(lit("f"), $"id").as("file"))
    st.markProcessedDf("bigfiles", files)
    assert(st.processedFiles("bigfiles").count() === n)
    st.markProcessedDf("bigfiles",
      spark.range(n + 500).select(concat(lit("f"), $"id").as("file")))
    assert(st.processedFiles("bigfiles").count() === n + 500)
  }

  test("MG heavy hitters: undercount bound, merge, SQL, cross-run (top-k)") {
    import graft.expressions.{GraftExtensions, Mg}
    import graft.expressions.TopKSketch._

    // Zipf-flavored stream: token t_i appears 2000/i times, i = 1..100,
    // shuffled deterministically. n ≈ 10398; k=16 ⇒ error ≤ n/17 ≈ 612:
    // every token with true count above that must survive with an
    // estimate inside [true − 612, true].
    val stream = (1 to 100).flatMap(i => Seq.fill(2000 / i)(f"t$i%03d"))
    val shuffled = new scala.util.Random(42).shuffle(stream)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val s = Mg.empty(16)
    shuffled.foreach(s.update)
    val bound = n / 17 + 1
    truth.foreach { case (t, c) =>
      val est = s.estimate(t)
      assert(est <= c && (c <= bound || est >= c - bound),
        s"$t true=$c est=$est bound=$bound")
    }
    assert(s.topK(1).head._1 === "t001")

    // merge of disjoint halves keeps the bound; serde round-trips
    val (h1, h2) = shuffled.splitAt(shuffled.size / 2)
    val a = Mg.empty(16); h1.foreach(a.update)
    val b = Mg.empty(16); h2.foreach(b.update)
    val halfA = a.serialize()
    val m = Mg.deserialize(a.serialize()).merge(b)
    truth.foreach { case (t, c) =>
      val est = m.estimate(t)
      assert(est <= c && (c <= bound || est >= c - bound),
        s"merged $t true=$c est=$est")
    }
    assert(Mg.deserialize(m.serialize()).topK(3) === m.topK(3))

    // aggregate path: distributed sketch, per-group merge, SQL surface
    val df = shuffled.toDF("token").repartition(8)
    val top = df.agg(mg_topk(mg_sketch($"token", 32), lit(1)))
      .head().getMap[String, Long](0)
    assert(top.keys.head === "t001")
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("mg_toks")
    val viaSql = spark.sql(
      "SELECT mg_topk(mg_merge(sk), 2) FROM " +
        "(SELECT mg_sketch(token, 32) AS sk FROM mg_toks GROUP BY length(token))")
      .head().getMap[String, Long](0)
    assert(viaSql.keys.toSeq.head === "t001")

    // empty sketch is merge-identity across k; None partials stay None
    val k8 = Mg.empty(8); (1 to 50).foreach(i => k8.update(s"x$i"))
    assert(Mg.empty(16).merge(k8).n === 50L)
    assert(k8.merge(Mg.empty(16)).n === 50L)
    val empty = spark.range(10).filter($"id" < 0)
      .agg(mg_topk(mg_sketch($"id".cast("string")), lit(5))).head()
    assert(empty.getMap[String, Long](0).isEmpty)

    // NULL sketch input propagates as NULL (nullable must be declared,
    // or NullPropagation folds the IS NOT NULL filter away)
    val withNull = Seq((1, halfA), (2, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "sk")
      .select($"id", mg_topk($"sk", lit(1)).as("m"))
    assert(withNull.filter($"m".isNotNull).select($"id").as[Int]
      .collect().toSeq === Seq(1))

    // cross-run accumulation through _state: two runs, no history re-scan
    val st = new StateStore(spark, tmpDir("state"))
    st.mergeTopK("tok", halfA)
    st.mergeTopK("tok", b.serialize())
    val got = Mg.deserialize(st.topKSketch("tok").get)
    assert(got.n === n && got.topK(1).head._1 === "t001")
  }
}
