package graft

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.core.Partitions
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned append + read round-trip, partition cols derived") {
    val lake = new Lake(spark, tmpDir("lake"))
    val df = Tables.load(spark, sf001, "events").limit(100)
    val withParts = Partitions.dateHour(df, "ts")
    val ref = TableRef("staging", "test_ds", "events")
    lake.append(withParts, ref, partitionBy = Seq("data", "hora"))
    val back = lake.read(ref)
    assert(back.count() === 100)
    // partition columns survive as columns on read
    assert(back.columns.toSet.contains("data") && back.columns.toSet.contains("hora"))
  }

  test("append twice = union semantics (reference K2 contract)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("raw", "ds", "t")
    lake.append(Seq((1, "a")).toDF("id", "v"), ref)
    lake.append(Seq((2, "b")).toDF("id", "v"), ref)
    assert(lake.read(ref).count() === 2)

    // schema evolution: a later capture adds a column; merged read sees
    // the union schema with nulls for the older files
    lake.append(Seq((3, "c", 9.5)).toDF("id", "v", "score"), ref)
    val merged = lake.read(ref, mergeSchema = true)
    assert(merged.columns.toSet === Set("id", "v", "score"))
    assert(merged.filter($"score".isNull).count() === 2)
  }

  test("dynamic partition overwrite touches only present partitions (K6)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("staging", "ds", "t")
    lake.append(Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "data"),
      ref, partitionBy = Seq("data"))
    // overwrite ONLY the 01-02 partition with a single new row
    lake.overwritePartitions(Seq((99, "2024-01-02")).toDF("id", "data"),
      ref, partitionBy = Seq("data"))
    val back = lake.read(ref).select($"id", $"data".cast("string"))
      .as[(Int, String)].collect().toSet
    assert(back === Set((1, "2024-01-01"), (99, "2024-01-02")))
  }

  test("idempotent replay: same partition overwritten twice = once (T5)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("staging", "ds", "t")
    val batch = Seq((1, "2024-01-01"), (2, "2024-01-01")).toDF("id", "data")
    lake.overwritePartitions(batch, ref, Seq("data"))
    lake.overwritePartitions(batch, ref, Seq("data"))
    assert(lake.read(ref).count() === 2)
  }

  /** Command lines of the `chmod` processes forked while `body` ran that
    * name a path under `root` (forks by other suites stay out). */
  private def chmodForksUnder(root: String)(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val canonical = new java.io.File(root).getCanonicalPath
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") &&
          (c.contains(canonical) || c.contains(root)))
    } finally { rec.close(); java.nio.file.Files.delete(dump) }
  }

  test("lake and state writes set permissions without forking chmod") {
    val root = tmpDir("nofork")
    val lake = new Lake(spark, root)
    val ref = TableRef("staging", "ds", "t")
    val batch = Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "data")
    val forks = chmodForksUnder(root) {
      lake.append(batch, ref, Seq("data"))
      lake.overwritePartitions(batch, ref, Seq("data"))
      lake.overwriteAll(batch, TableRef("prod", "ds", "t"), Seq("data"))
      new graft.state.StateStore(spark, s"$root/state")
        .setLastRun("ds.t", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    }
    assert(forks.isEmpty)
    assert(lake.read(ref).count() === 2)
  }

  test("lake writes leave the same permissions as a stock write") {
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val root = tmpDir("perms")
    val lake = new Lake(spark, s"$root/lake")
    val ref = TableRef("staging", "ds", "t")
    val df = Seq((1, "2024-01-01", 0), (2, "2024-01-02", 5), (3, "2024-01-02", 6))
      .toDF("id", "data", "hora")
    lake.overwritePartitions(df, ref, Seq("data", "hora"))
    val stock = s"$root/stock"
    lake.aligned(df, Seq("data", "hora")).write.format("parquet")
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("data", "hora").save(stock)
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    def perms(dir: String): Map[String, String] = {
      val base = Paths.get(dir)
      Files.walk(base).iterator().asScala.toSeq.map { (p: Path) =>
        base.relativize(p).toString.replaceAll(uuid, "UUID") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    val mine = perms(lake.path(ref))
    assert(mine.keys.exists(_.endsWith(".parquet.crc")), mine.keys)
    assert(mine === perms(stock))
  }

  test("NioRawLocalFileSystem.setPermission: rwx modes via java.nio, others fall back") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val root = tmpDir("chmod")
    val fs = new graft.lake.NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val modes = Seq("644", "755", "700", "600", "1777")
      .map(m => m -> Integer.parseInt(m, 8))
    val forks = chmodForksUnder(root) {
      modes.foreach { case (name, mode) =>
        val dir = java.nio.file.Files.createDirectory(
          java.nio.file.Paths.get(root, name))
        fs.setPermission(new Path(dir.toUri), new FsPermission(mode.toShort))
        val back = java.nio.file.Files.getAttribute(dir, "unix:mode")
          .asInstanceOf[Int] & 0xfff
        assert(back === mode, name)
      }
    }
    // only the sticky-bit mode takes the forking fallback
    assert(forks.size === 1 && forks.head.startsWith("chmod 1777 "), forks)
  }

  test("aligned: driver-held frames write shuffle-free, scans keep the hash exchange") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val lake = new Lake(spark, tmpDir("lake"))
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(lake.aligned(df, Seq("data")).queryExecution.executedPlan)
    }
    def shuffles(df: DataFrame) = nodes(df).collect { case s: ShuffleExchangeExec => s }
    // a fetched payload: 40 rows over 4 day partitions, built fresh per
    // use so the persisted copy re-plans against the cache
    def local = (1 to 40).map(i => (i, s"2024-01-0${i % 4 + 1}")).toDF("id", "data")
    val cached = local.persist()
    val scanned = Partitions.dateHour(Tables.load(spark, sf001, "events"), "ts")
      .repartition(4)
    try {
      // a file scan plans exactly the hash exchange on the partition
      // columns (the round-robin repartition(4) collapses into it)
      val ex = shuffles(scanned)
      assert(ex.size === 1, ex)
      assert(ex.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map(_.sql) == Seq("data")
        case _ => false
      }, ex.head.outputPartitioning)

      // driver-held frames, fresh or persisted, are written on the
      // driver: no job, so no shuffle; all three write exactly one
      // parquet file per partition dir
      Seq("local" -> local, "cached" -> cached, "scan" -> scanned).foreach { case (name, df) =>
        val ref = TableRef("staging", "ds", name)
        val m = metered(lake.overwritePartitions(df, ref, partitionBy = Seq("data")))
        if (name != "scan") assert(m.jobs.isEmpty && m.shuffleWriteBytes === 0, name)
        val dirs = new java.io.File(lake.path(ref)).listFiles()
          .filter(_.getName.startsWith("data="))
        assert(dirs.length === df.select("data").distinct().count(), name)
        dirs.foreach { d =>
          val files = d.listFiles().map(_.getName)
            .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
          assert(files.length === 1, s"$name ${d.getName}: ${files.toSeq}")
        }
        assert(lake.read(ref).count() === df.count(), name)
      }
    } finally cached.unpersist()
  }

  test("driver-held writes match a stock Spark write: rows, footers, layout") {
    import java.sql.{Date, Timestamp}
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    val root = tmpDir("driverwrite")
    val lake = new Lake(spark, s"$root/lake")
    val ts = Timestamp.valueOf("2024-01-05 10:00:01.123456")
    // string, int and date partition values, each with a null
    val base = Seq(
      (1L, ts, BigDecimal("1.25"), "a ", "x", Some(3), Date.valueOf("2024-01-05")),
      (2L, ts, BigDecimal("-7.10"), null, "x/y=z", Some(3), null),
      (3L, null, null, "c", null, None, Date.valueOf("2024-01-06")),
      (4L, ts, BigDecimal("0.00"), "d", "", Some(7), Date.valueOf("2024-01-05"))
    ).toDF("id", "ts", "amount", "v", "p_str", "p_int", "p_date")
      .withColumn("amount", $"amount".cast("decimal(10,2)"))
    val more = Seq((5L, ts, BigDecimal("9.99"), "e", "x", Some(7), Date.valueOf("2024-01-07")))
      .toDF(base.columns: _*).withColumn("amount", $"amount".cast("decimal(10,2)"))
    val persisted = base.withColumn("w", $"id" * 2).persist()
    val frames: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("plain", base, Seq("p_str", "p_int")),
      ("nested", graft.transforms.Nest.toContent(base, pk = Seq("id", "p_date")),
        Seq("p_date")),
      ("union", base.unionByName(more), Seq("p_date", "p_int")),
      ("persisted", persisted, Seq("p_int")),
      ("empty", base.filter($"id" < 0), Seq("p_str")))
    val conf = spark.sparkContext.hadoopConfiguration
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    // relative listing, UUIDs normalised (two appends give two entries)
    def files(dir: String): Seq[(String, java.io.File)] = {
      val base = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.toSeq.filter(_ != base).map { p =>
        base.relativize(p).toString.replaceAll(uuid, "UUID") -> p.toFile
      }.sortBy(_._1) finally walk.close()
    }
    def footers(listing: Seq[(String, java.io.File)]) = listing.collect {
      case (rel, f) if rel.endsWith(".parquet") => rel -> footer(f)
    }.sortBy(_.toString)
    def footer(f: java.io.File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getKeyValueMetaData.asScala.toMap, m.getSchema.toString, m.getCreatedBy)
      } finally r.close()
    }
    def rows(dir: String) = {
      val back = spark.read.parquet(dir)
      (back.schema, back.collect().map(_.toString).sorted.toSeq)
    }
    try for ((name, df, parts) <- frames; overwrite <- Seq(false, true)) {
      val label = s"$name ${if (overwrite) "overwrite" else "append"}"
      val ref = TableRef("staging", "ds", s"${name}_$overwrite")
      val stock = s"$root/stock/${name}_$overwrite"
      // twice: the second write appends to, or overwrites, the first
      val jobs = jobsDuring((1 to 2).foreach { _ =>
        if (overwrite) lake.overwritePartitions(df, ref, parts)
        else lake.append(df, ref, parts)
        val w = df.coalesce(1).write.format("parquet").partitionBy(parts: _*)
        if (overwrite) w.mode("overwrite").option("partitionOverwriteMode", "dynamic").save(stock)
        else w.mode("append").save(stock)
      })
      // only the stock writes ran jobs, except for the empty frame
      if (name != "empty") assert(jobs.size === 2, label)
      val (mine, theirs) = (files(lake.path(ref)), files(stock))
      assert(mine.map(_._1) === theirs.map(_._1), label)
      // an empty frame leaves no parquet file to read back
      if (name != "empty") {
        assert(rows(lake.path(ref)) === rows(stock), label)
        assert(footers(mine) === footers(theirs), label)
        assert(mine.count(_._1.endsWith(".parquet")) === (if (overwrite) 1 else 2) *
          df.select(parts.map(col): _*).distinct().count(), label)
      }
    } finally persisted.unpersist()
  }

  test("unpartitioned driver writes match a stock coalesce(4) write: rows, footers, listing") {
    import java.sql.{Date, Timestamp}
    import graft.lake.{DriverWrite, NioLocalFileSystem}
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    val root = tmpDir("driverwrite1")
    val ts = Timestamp.valueOf("2024-01-05 10:00:01.123456")
    val frames: Seq[(String, DataFrame)] = Seq(
      ("last run", Seq(("ds.t", ts)).toDF("key", "last_run")),
      ("sketch", Seq(Array[Byte](1, 2, 3)).toDF("sketch")),
      ("table", Seq(
        (1L, ts, BigDecimal("1.25"), "a", Date.valueOf("2024-01-05")),
        (2L, null, null, null, null),
        (3L, ts, BigDecimal("-7.10"), "c", Date.valueOf("2024-01-06"))
      ).toDF("id", "ts", "amount", "v", "d").withColumn("amount", $"amount".cast("decimal(10,2)"))))
    val conf = spark.sparkContext.hadoopConfiguration
    // relative names, UUIDs and part numbers normalised: a stock write of
    // n rows writes up to min(n, 4) part files, the driver one
    def files(dir: String): Seq[(String, java.io.File)] =
      new java.io.File(dir).listFiles().toSeq.map { f =>
        f.getName.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID")
          .replaceAll("part-[0-9]{5}", "part-N") -> f
      }.sortBy(_._1)
    def footer(f: java.io.File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getKeyValueMetaData.asScala.toMap, m.getSchema.toString, m.getCreatedBy)
      } finally r.close()
    }
    def rows(dir: String) = {
      val back = spark.read.parquet(dir)
      (back.schema, back.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.toString).sorted.toSeq)
    }
    for ((name, df) <- frames) {
      val (mine, stock) = (s"$root/mine/$name", s"$root/stock/$name")
      var wrote = false
      assert(jobsDuring { wrote = DriverWrite.intoNewDir(spark, df, mine) }.isEmpty, name)
      assert(wrote, name)
      df.coalesce(4).write.options(NioLocalFileSystem.writerOptions).mode("overwrite")
        .parquet(stock)
      val (m, s) = (files(mine), files(stock))
      assert(m.map(_._1).distinct === s.map(_._1).distinct, name)
      assert(m.map(_._1).filter(_.endsWith(".parquet")) ===
        Seq("part-N-UUID-c000.snappy.parquet"), name)
      assert(m.map(_._1).contains("_SUCCESS"), name)
      def footers(l: Seq[(String, java.io.File)]) =
        l.filter(_._1.endsWith(".parquet")).map(f => footer(f._2)).distinct
      assert(footers(m) === footers(s), name)
      assert(rows(mine) === rows(stock), name)
    }
    // a frame that is not driver-held is left to Spark, nothing written
    val dir = s"$root/mine/range"
    assert(!DriverWrite.intoNewDir(spark, spark.range(3).toDF(), dir))
    assert(!new java.io.File(dir).exists())
  }

  test("driver reads match a stock collect: partitions, zones, nulls, drift, empty, corrupt") {
    import java.sql.Timestamp
    import graft.lake.DriverRead
    import org.apache.spark.sql.DataFrame
    val zoneKey = "spark.sql.session.timeZone"
    val zoneWas = spark.conf.get(zoneKey)
    val root = tmpDir("driverread")
    val lake = new Lake(spark, s"$root/lake")
    val log = new CaptureLog(spark, lake)
    // the capture log: DATE `data` partitions either side of midnight,
    // null `erro`s
    val t0 = Timestamp.valueOf("2024-01-04 23:58:00").getTime
    log.appendAll("ds", "gps", (0 until 5).map(m => new Timestamp(t0 + m * 60000L)),
      success = true)
    log.append("ds", "gps", new Timestamp(t0 + 5 * 60000L), success = false,
      error = Some("err"))
    // schema drift: the older file lacks `c`; a row of nulls
    val schema = "a BIGINT, b STRING, c DOUBLE"
    val drift = s"$root/drift"
    Seq((1L, "x")).toDF("a", "b").write.parquet(drift)
    Seq[(Long, String, Option[Double])]((2L, null, None), (3L, "z", Some(0.5)))
      .toDF("a", "b", "c").write.mode("append").parquet(drift)
    val empty = s"$root/empty"
    Seq.empty[(Long, String, Double)].toDF("a", "b", "c").write.parquet(empty)
    def frames(): Seq[(String, DataFrame)] = Seq(
      "log" -> log.read("ds", "gps"),
      "log minutes" -> log.read("ds", "gps")
        .filter($"sucesso" && $"data" === "2024-01-05" && $"erro".isNull)
        .select(date_format($"timestamp_captura", "yyyy-MM-dd HH:mm").as("m"), $"data"),
      "drift" -> spark.read.schema(schema).parquet(drift),
      "drift nulls" -> spark.read.schema(schema).parquet(drift).filter($"c".isNull),
      "empty" -> spark.read.schema(schema).parquet(empty))
    def sorted(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.toString).sorted.toSeq
    try for (zone <- Seq("UTC", "America/Sao_Paulo", "Asia/Kolkata")) {
      spark.conf.set(zoneKey, zone)
      for ((name, df) <- frames()) {
        val label = s"$name in $zone"
        assert(DriverRead.listing(df).isDefined, label)
        var rows: Array[org.apache.spark.sql.Row] = null
        assert(jobsDuring { rows = DriverRead.collect(df) }.isEmpty, label)
        assert(sorted(rows) === sorted(df.collect()), label)
        if (name == "empty") assert(rows.isEmpty)
      }
    } finally spark.conf.set(zoneKey, zoneWas)

    // a corrupt file fails as Spark's read does, or is skipped by both
    val corrupt = s"$root/corrupt"
    Seq((1L, "x", 1.0)).toDF("a", "b", "c").write.parquet(corrupt)
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupt, "part-99999-bad.parquet"),
      "not parquet".getBytes)
    val bad = spark.read.schema(schema).parquet(corrupt)
    val (theirs, mine) = (intercept[Exception](bad.collect()),
      intercept[Exception](DriverRead.collect(bad)))
    assert(mine.getClass === theirs.getClass)
    def causes(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getClass.getName).toSeq
    assert(causes(mine) === causes(theirs))
    val skipping = spark.read.option("ignoreCorruptFiles", "true").schema(schema).parquet(corrupt)
    assert(DriverRead.listing(skipping).isEmpty)
    assert(sorted(DriverRead.collect(skipping)) === Seq("[1,x,1.0]"))
  }

  test("a listing over the driver-read bound takes Spark's path with the same rows") {
    import java.nio.file.{Files, Paths}
    import graft.lake.DriverRead
    val dir = tmpDir("bound")
    // MaxFiles + 1 one-row files, one per partition dir p=<i>
    val one = s"$dir/one"
    Seq(7L).toDF("id").coalesce(1).write.parquet(one)
    val file = Files.list(Paths.get(one)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    val n = DriverRead.MaxFiles + 1
    val table = Paths.get(dir, "table")
    (0 until n).foreach { i =>
      val part = Files.createDirectories(table.resolve(s"p=$i"))
      Files.copy(file, part.resolve("part-00000.parquet"))
    }
    def rows(df: org.apache.spark.sql.DataFrame, driver: Boolean) = {
      var got: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsDuring { got = DriverRead.collect(df) }
      assert(jobs.isEmpty === driver)
      got.map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    }
    val over = spark.read.parquet(table.toString)
    assert(DriverRead.listing(over).isEmpty)
    assert(rows(over, driver = false) === (0 until n).map(7L -> _))
    // at the bound the driver reads it
    Files.delete(table.resolve("p=0/part-00000.parquet"))
    Files.delete(table.resolve("p=0"))
    val at = spark.read.parquet(table.toString)
    assert(DriverRead.listing(at).map(_.flatMap(_.files).size) === Some(n - 1))
    assert(rows(at, driver = true) === (1 until n).map(7L -> _))
  }

  test("createOrAppend registers a queryable catalog table (K5)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("staging", "cat", "t1")
    lake.createOrAppend(Seq((1, "x")).toDF("id", "v"), ref)
    lake.createOrAppend(Seq((2, "y")).toDF("id", "v"), ref)
    assert(spark.sql("SELECT count(*) FROM staging_cat.t1").head().getLong(0) === 2)
    spark.sql("DROP TABLE staging_cat.t1")
  }

  test("corpus dedup: incremental exact + near-dup across runs (T6-T8 × dedup)") {
    import graft.lake.CorpusDedup
    val lake = new Lake(spark, tmpDir("lake"))
    val dd = new CorpusDedup(spark, lake, "cd_test", numBuckets = 4)

    // run 1: batch with an internal exact dup (1 vs 3)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine ten"
    val b1 = Seq((1L, t1), (2L, t2), (3L, t1)).toDF("doc_id", "text")
    val n1 = dd.novelExact(b1, "doc_id", "text")
    assert(n1.select($"doc_id").as[Long].collect().toSet === Set(1L, 2L))
    dd.commitExact(n1, "text")
    dd.commitNearDup(n1, "doc_id", "text")

    // run 2: exact dup of history (t1), near-dup of history (t2 with one
    // word changed — shares shingles ⇒ shares a band), and a novel doc
    val t2near = "one two three four five six seven eight nine TEN"
    val t3 = "red orange yellow green blue indigo violet ultraviolet"
    val b2 = Seq((10L, t1), (11L, t2near), (12L, t3)).toDF("doc_id", "text")
    val e2 = dd.novelExact(b2, "doc_id", "text")
    assert(e2.select($"doc_id").as[Long].collect().toSet === Set(11L, 12L))
    val nd2 = dd.novelNearDup(e2, "doc_id", "text")
    assert(nd2.select($"doc_id").as[Long].collect().toSet === Set(12L))
    dd.commitExact(nd2, "text")
    dd.commitNearDup(nd2, "doc_id", "text")

    // state grew by exactly the novel docs; re-commit is a no-op
    val hashes = spark.table("state_cd_test.seen_hashes")
    assert(hashes.count() === 3) // t1, t2, t3
    dd.commitExact(nd2, "text")
    assert(hashes.count() === 3)

    // the anti-join must never reshuffle the (bucketed) state side: with
    // broadcast off, the only exchange in the plan is on the batch side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigBatch = spark.range(1000)
        .select($"id".as("doc_id"), concat(lit("novel text nr "), $"id").as("text"))
      val plan = dd.novelExact(bigBatch, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val stateSide = plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("seen_hashes")).toSeq
      // the seen_hashes scan appears, and no Exchange sits below it
      // (exchanges precede it in the tree printout only for the batch)
      assert(stateSide.exists(_.contains("seen_hashes")), plan)
      assert(!stateSide.last.contains("Exchange"),
        s"state side of the anti-join reshuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cross-run line scrub: history lines drop, docs reassemble, replay idempotent") {
    import graft.lake.CorpusDedup
    val lake = new Lake(spark, tmpDir("lake"))
    val dd = new CorpusDedup(spark, lake, "cl_test", numBuckets = 4)

    // day 1, empty history: behaves exactly as in-batch lineDedup
    val day1 = Seq((1L, "a b c x y z")).toDF("doc_id", "text")
    val s1 = dd.scrubLines(day1, "doc_id", "text", lineTokens = 3)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(s1 === Seq((1L, "a b c x y z", 2L, 2L)))
    dd.commitLines(day1, "text", lineTokens = 3)

    // day 2: doc 10 repeats a day-1 line + brings a new one; doc 11 is
    // ENTIRELY historical — it reassembles to empty, not a dropped row
    val day2 = Seq((10L, "a b c q r s"), (11L, "x y z")).toDF("doc_id", "text")
    val s2 = dd.scrubLines(day2, "doc_id", "text", lineTokens = 3)
      .orderBy($"doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(s2 === Seq((10L, "q r s", 2L, 1L), (11L, "", 1L, 0L)))
    dd.commitLines(day2, "text", lineTokens = 3)

    // state holds exactly the distinct lines ever seen; replay is a no-op
    val lines = spark.table("state_cl_test.seen_lines")
    assert(lines.count() === 3) // "a b c", "x y z", "q r s"
    dd.commitLines(day2, "text", lineTokens = 3)
    assert(lines.count() === 3)

    // in-batch keep-first composes with the history gate in one pass:
    // an intra-doc repeat drops AND a historical line drops
    val day3 = Seq((20L, "n n n n n n a b c")).toDF("doc_id", "text")
    val s3 = dd.scrubLines(day3, "doc_id", "text", lineTokens = 3)
      .as[(Long, String, Long, Long)].head()
    assert(s3 === ((20L, "n n n", 3L, 1L)))

    // the anti-join must never reshuffle the bucketed seen-lines side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigBatch = spark.range(1000)
        .select($"id".as("doc_id"),
          concat(lit("fresh line number "), $"id").as("text"))
      val plan = dd.scrubLines(bigBatch, "doc_id", "text", lineTokens = 3)
        .queryExecution.executedPlan.toString
      val stateSide = plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("seen_lines")).toSeq
      assert(stateSide.exists(_.contains("seen_lines")), plan)
      assert(!stateSide.last.contains("Exchange"),
        s"state side of the line-scrub anti-join reshuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q95: measured ANN recall sweeps nprobe against brute-force truth") {
    // the driver-visible frame is SELF-CHECKING since round 10: floors
    // + ok flags the DuckDB oracle pins (raw recall moved out of the
    // hashed columns). Every floor must be met on the fixture
    val df = graft.queries.TrainingData.defs("q95_ann_recall")(spark, sf001)
    val rows = df.as[(Int, Int, Int, Double, Int)].collect().toSeq
    assert(rows.map(_._1) === Seq(1, 2, 4, 8))
    assert(rows.map(_._4) === Seq(0.15, 0.25, 0.45, 0.70))
    assert(rows.forall { case (_, k, nq, _, ok) =>
      k === 10 && nq === 8 && ok === 1
    }, rows.toString)
    // the measured-number properties the frame no longer carries are
    // asserted directly on the same index shape via measuredRecall:
    // widening the probe set only ADDS candidates, and any candidate
    // displacing a true neighbor from the pooled top-k outranks it and
    // is a true neighbor itself — recall is monotone in nprobe; and
    // probing half the lists must recover most true neighbors
    val emb = Tables.load(spark, sf001, "embeddings")
    val recalls = graft.lake.AnnIndex.withScratchIndex(
        spark, emb, "vec_id", "embedding", k = 16, numBuckets = 8) { idx =>
      Seq(1, 2, 4, 8).map(np => idx.measuredRecall(nQueries = 8, k = 10, np))
    }
    assert(recalls.sliding(2).forall(w => w.last >= w.head), recalls.toString)
    assert(recalls.last >= 0.75, recalls.toString)
  }

  test("persisted IVF index: build + append, bucket-pruned probe scan") {
    import graft.lake.AnnIndex
    val lake = new Lake(spark, tmpDir("lake"))
    val idx = new AnnIndex(spark, lake, "ann_test", numBuckets = 8)
    val emb = Tables.load(spark, sf001, "embeddings")
      .select($"vec_id", $"embedding")

    // two ingest runs: build on evens, append odds — history never rebuilt
    idx.build(emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      k = 4, iters = 3)
    idx.append(emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding")
    val lists = spark.table("state_ann_test.ivf_lists")
    assert(lists.count() === emb.count())
    assert(lists.select($"id").as[Long].collect().toSet ===
      emb.select($"vec_id").as[Long].collect().toSet)

    // index search == recompute path with the same persisted quantizer
    val query = emb.filter($"vec_id" === 0)
    val got = idx.topK(query, "embedding", k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val cents = spark.table("state_ann_test.ivf_centroids")
    val recompute = graft.functions.VectorOps.ivfTopKPrebuilt(
        lists.select($"cluster", $"id", $"vec"), cents,
        query.select($"embedding".as("vec")), "id", "cluster", "vec",
        k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(got === recompute)
    assert(got.nonEmpty && got.head._1 === 0L) // the query vector itself

    // the probe scan bucket-prunes: only the probed clusters' buckets are
    // read (no full-index scan, no Exchange on the state side)
    val probes = Seq(0, 1)
    val scanPlan = idx.prunedScan(probes).queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(scanPlan)
    assert(m.isDefined, s"no bucket pruning in:\n$scanPlan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt, scanPlan)
    val topPlan = idx.topK(query, "embedding", 10, 2)
      .queryExecution.executedPlan.toString
    assert(!topPlan.contains("Exchange hashpartitioning(cluster"),
      s"index side reshuffles:\n$topPlan")

    // append is O(batch): inserting again only adds the batch's files
    val before = lists.inputFiles.length
    idx.append(emb.filter($"vec_id" === 1), "vec_id", "embedding")
    val after = spark.table("state_ann_test.ivf_lists").inputFiles.length
    assert(after > before && after <= before + 8)

    // maintenance compaction folds the append files, search unchanged
    val preCompact = idx.topK(query, "embedding", k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    idx.compact()
    val folded = spark.table("state_ann_test.ivf_lists")
    assert(folded.inputFiles.length <= 8 && folded.inputFiles.length < after)
    assert(idx.topK(query, "embedding", k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toSeq === preCompact)
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("batch ANN join: one plan per sweep point, matches per-query topK") {
    import graft.lake.AnnIndex
    val emb = Tables.load(spark, sf001, "embeddings")
      .select($"vec_id", $"embedding")
    AnnIndex.withScratchIndex(spark, emb, "vec_id", "embedding",
        k = 8, numBuckets = 8) { idx =>
      val nQ = 6
      val queries = emb.filter($"vec_id" < nQ)
        .select($"vec_id".as("qid"), $"embedding")
      val joined = idx.topKJoin(queries, "qid", "embedding", k = 5, nprobe = 2)
      assert(joined.columns.toSeq === Seq("qid", "id", "score", "rk"))
      val got = joined.select($"qid", $"id", $"score", $"rk")
        .as[(Long, Long, Double, Int)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
      assert(got.keySet === (0L until nQ).toSet)
      // the batch result is row-identical to the per-query serving path
      // (same probe ranking, same tie-breaks) — the join is a faster
      // shape for the same answer, not a different approximation
      (0L until nQ).foreach { qid =>
        val single = idx.topK(
            emb.filter($"vec_id" === qid).select($"embedding"),
            "embedding", k = 5, nprobe = 2)
          .as[(Long, Double)].collect().toSeq
        assert(got(qid) === single, s"qid $qid diverged from topK")
      }
      // scale shape: the lists side never exchanges on cluster (bucket
      // join/broadcast), and a narrow probe set still bucket-prunes
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(cluster"),
        s"index side reshuffles:\n$plan")
      // the probe frame is persisted: its second consumer (the list
      // join) reads the cache, so the QUERY frame is scanned once —
      // the join side of the plan shows a cached scan, not a re-derived
      // probe subtree
      assert(plan.contains("InMemoryTableScan"),
        s"probe frame recomputed instead of reused:\n$plan")
      val narrow = idx.topKJoin(queries.limit(1), "qid", "embedding",
        k = 5, nprobe = 1)
      val narrowPlan = narrow.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(narrowPlan)
      assert(m.isDefined, s"no bucket pruning in:\n$narrowPlan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt, narrowPlan)
    }
  }

  test("ANN retrain: recall degrades under drift, recovers after reassign") {
    import graft.lake.AnnIndex
    val lake = new Lake(spark, tmpDir("ann_retrain"))
    val idx = new AnnIndex(spark, lake, "ann_drift", numBuckets = 4)
    def jit(i: Int, m: Int) = ((i * 7919) % m - m / 2) * 0.02
    def pt(i: Int, x: Double, y: Double) =
      Array(x + jit(i, 11), y + jit(i, 13), jit(i, 17), jit(i, 19))
    val oldCorpus = (0 until 30).map(i => (i.toLong, pt(i, 10.0, 0.0))) ++
      (0 until 30).map(i => (100L + i, pt(i, -10.0, 0.0)))
    // the DRIFTED region: a new +y direction the trained quantizer has
    // no centroid for — appends split its members across BOTH old lists
    // (the ±x nudge decides Euclidean assignment but is symmetric to an
    // x=0 query's cosine), so nprobe=1 sees only half the true neighbors
    val drift = (0 until 30).map { i =>
      (200L + i, pt(i, if (i % 2 == 0) 0.5 else -0.5, 10.0))
    }
    idx.build(oldCorpus.toDF("id", "vec"), "id", "vec", k = 2, iters = 5)
    idx.append(drift.toDF("id", "vec"), "id", "vec")

    val queries = (0 until 4).map(i => (500L + i, pt(i + 7, 0.0, 10.0)))
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val c = d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val all = oldCorpus ++ drift
    def truth(q: Array[Double]): Set[Long] = all
      .map { case (id, v) => (id, cosR(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    def recallAt10(): Double = {
      val got = idx
        .topKJoin(queries.toDF("qid", "vec"), "qid", "vec", k = 10, nprobe = 1)
        .select($"qid", $"id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      queries.map { case (qid, qv) =>
        (got.getOrElse(qid, Set.empty[Long]) & truth(qv)).size / 10.0
      }.sum / queries.size
    }

    val pre = recallAt10()
    idx.retrain(k = 3, iters = 5, samplePct = 100)
    val post = recallAt10()
    assert(pre <= 0.8, s"drift did not hurt recall: pre=$pre")
    assert(post >= 0.9 && post > pre, s"retrain did not recover: pre=$pre post=$post")

    // the swap preserved the corpus, the serving layout, and left no
    // snapshot debris; the centroid table reflects the new k
    val lists = spark.table("state_ann_drift.ivf_lists")
    assert(lists.count() === 90)
    assert(spark.table("state_ann_drift.ivf_centroids")
      .select($"cluster").distinct().count() === 3)
    assert(!new java.io.File(lake.path(idx.listsRef) + ".retrain").exists())
    val plan = idx.prunedScan(Seq(0)).queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt, plan)
    // all drifted vectors now share one list — the recovery mechanism,
    // not just the recovered number
    val driftClusters = lists.filter($"id" >= 200L && $"id" < 300L)
      .select($"cluster").distinct().count()
    assert(driftClusters === 1, s"drift region spans $driftClusters lists")
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("dated IVF index: idempotent day overwrite, windowed search, TTL") {
    import graft.lake.AnnIndex
    val lake = new Lake(spark, tmpDir("ann_dated"))
    val idx = new AnnIndex(spark, lake, "ann_dated", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    def vec(id: Long) = Array((id % 7).toDouble, (id % 5).toDouble,
      (id % 3).toDouble, 1.0)
    val d1 = (0L until 40L).map(i => (i, vec(i))).toDF("id", "vec")
    val d2 = (100L until 120L).map(i => (i, vec(i))).toDF("id", "vec")
    idx.buildDated(d1, "id", "vec", k = 3, day("2024-05-01"))
    assert(idx.isDated)
    idx.appendDated(d2, "id", "vec", day("2024-05-02"))
    assert(spark.table("state_ann_dated.ivf_lists").count() === 60)

    // crash-retry replay of the day: the dynamic partition overwrite
    // replaces seen_date=2024-05-02, never duplicates (blind append is
    // at-least-once — the reason appendDated exists)
    idx.appendDated(d2, "id", "vec", day("2024-05-02"))
    assert(spark.table("state_ann_dated.ivf_lists").count() === 60)

    // recency-windowed search: the date filter reaches PartitionFilters
    // (aged dirs pruned BEFORE the bucket prune), and only in-window
    // ids come back
    val q = Seq((100L, vec(100L))).toDF("id", "vec").select($"vec")
    val win = idx.topK(q, "vec", 5, nprobe = 3,
      minDate = Some(day("2024-05-02")))
    val winPlan = win.queryExecution.executedPlan.toString
    assert(winPlan.contains("PartitionFilters: [isnotnull(seen_date"), winPlan)
    val got = win.select($"id").as[Long].collect()
    assert(got.nonEmpty && got.forall(_ >= 100L), got.mkString(","))
    // the batch join honors the same window
    val gotJoin = idx.topKJoin(
        Seq((0L, vec(100L))).toDF("qid", "v"), "qid", "v", k = 5,
        nprobe = 3, minDate = Some(day("2024-05-02")))
      .select($"id").as[Long].collect()
    assert(gotJoin.nonEmpty && gotJoin.forall(_ >= 100L), gotJoin.mkString(","))

    // retrain keeps the dated layout, the rows, and the partitions
    idx.retrain(k = 3, iters = 2, samplePct = 100)
    assert(idx.isDated)
    assert(spark.table("state_ann_dated.ivf_lists").count() === 60)

    // COMPACT + APPEND must keep the dated layout and ALL history —
    // the review-found data-loss path: a compaction that rewrote the
    // table without its seen_date partition layer made the next day's
    // dynamic-partition overwrite TRUNCATE the index to one batch
    idx.compact()
    assert(idx.isDated, "compaction dropped the seen_date layer")
    assert(spark.table("state_ann_dated.ivf_lists").count() === 60)
    val d3 = (200L until 210L).map(i => (i, vec(i))).toDF("id", "vec")
    idx.appendDated(d3, "id", "vec", day("2024-05-03"))
    assert(spark.table("state_ann_dated.ivf_lists").count() === 70,
      "post-compaction append truncated the dated index")
    idx.expire(day("2024-05-01")) // nothing older than day 1: keeps all,
    // and proves SHOW PARTITIONS still works on the compacted table
    assert(spark.table("state_ann_dated.ivf_lists").count() === 70)

    // TTL expiry drops the aged day — metastore and files
    idx.expire(day("2024-05-02"))
    val left = spark.table("state_ann_dated.ivf_lists")
    assert(left.count() === 30) // day 2 (20 rows) + day 3 (10 rows)
    assert(left.select($"id").as[Long].collect().forall(_ >= 100L))
    val dirs = new java.io.File(lake.path(idx.listsRef)).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("seen_date")).toSet
    assert(dirs === Set("seen_date=2024-05-02", "seen_date=2024-05-03"),
      dirs.toString)
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("topKJoin at k > LiteralCentroidMaxK: fused-kernel plan, matches topK") {
    import graft.lake.AnnIndex
    // a retrained quantizer sizes k as n/500, so the probe scoring must
    // not unroll one codegen struct per centroid — the ranking runs as
    // ONE fused TopCosineCentroids kernel node, so the plan stops
    // growing with k. Parity: the kernel must probe the same lists and
    // return the same neighbors as the per-query topK (whose probe
    // ranking comes from the INDEPENDENT ivfListScores aggregation).
    assert(graft.functions.VectorOps.LiteralCentroidMaxK === 128)
    val n = 600
    val emb = (0L until n.toLong).map { i =>
      val m = graft.core.Mix.mix(i)
      Tuple2(i, Seq((m & 0xff).toDouble, ((m >> 8) & 0xff).toDouble,
        ((m >> 16) & 0xff).toDouble, 1.0))
    }.toDF("vec_id", "vec")
    AnnIndex.withScratchIndex(spark, emb, "vec_id", "vec", k = 140,
        numBuckets = 4, iters = 1) { idx =>
      val queries = emb.filter($"vec_id".isin(3L, 77L, 501L))
        .select($"vec_id".as("qid"), $"vec")
      val joined = idx.topKJoin(queries, "qid", "vec", k = 5, nprobe = 3)
      // the scoring expression is O(1) nodes in k: one fused
      // top_cosine_centroids kernel, not 140 unrolled structs (the
      // remaining vec_dots are the query/list norms, k-independent)
      val plan = joined.queryExecution.analyzed.toString
      assert("top_cosine_centroids".r.findAllIn(plan).size === 1,
        s"expected one fused probe-ranking node: $plan")
      assert("vec_dot".r.findAllIn(plan).size <= 4,
        s"probe scoring unrolled with k: ${"vec_dot".r.findAllIn(plan).size}")
      val got = joined.select($"qid", $"rk", $"id").as[(Long, Int, Long)]
        .collect().groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      for (q <- Seq(3L, 77L, 501L)) {
        val single = idx.topK(
            emb.filter($"vec_id" === q).select($"vec"), "vec", 5, nprobe = 3)
          .select($"id").as[Long].collect().toSeq
        assert(got(q) === single, s"query $q diverged from topK")
      }
    }
  }

  test("IVF-PQ mode: enable, compressed search, dated append order, expiry, retrain sync") {
    import graft.lake.AnnIndex
    val lake = new Lake(spark, tmpDir("pq_lake"))
    val idx = new AnnIndex(spark, lake, "pq_test", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    val d1 = day("2024-07-01"); val d2 = day("2024-07-02")
    def vec(id: Long): Seq[Double] = {
      val m = graft.core.Mix.mix(id)
      Seq((m & 0xff).toDouble, ((m >> 8) & 0xff).toDouble,
        ((m >> 16) & 0xff).toDouble, ((m >> 24) & 0xff).toDouble)
    }
    val day1 = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "v")
    idx.buildDated(day1, "vec_id", "v", k = 4, d1, iters = 2)
    assert(!idx.pqEnabled)
    idx.enablePq(m = 2, ksub = 16, iters = 2, samplePct = 100)
    assert(idx.pqEnabled)
    // codes sidecar covers every stored vector, same layout
    val codes = spark.table("state_pq_test.ivf_pq_codes")
    assert(codes.count() === 40)
    assert(codes.columns.toSet ===
      Set("cluster", "id", "pq_code", "seen_date"))
    assert(codes.select($"pq_code").head().getAs[Array[Byte]](0).length === 2)

    // compressed search at FULL refine + all probes == the exact path
    val queries = day1.filter($"vec_id".isin(1L, 17L, 33L))
      .select($"vec_id".as("qid"), $"v")
    val exact = idx.topKJoin(queries, "qid", "v", k = 5, nprobe = 4)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    val pqFull = idx.topKJoinPq(queries, "qid", "v", k = 5, nprobe = 4,
        refine = 40)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    assert(pqFull === exact, "full-refine PQ search must equal exact")
    // the production dial keeps most of the neighbors
    val pq4 = idx.topKJoinPq(queries, "qid", "v", k = 5, nprobe = 4,
        refine = 4)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    val hits = exact.map(t => (t._1, t._3)).count(pq4.contains)
    assert(hits >= 10, s"PQ recall too low: $hits/15")

    // dated append writes the CODES partition too (codes-first order);
    // a replay overwrites both, no duplicates in either table
    val day2 = (100L until 120L).map(i => (i, vec(i))).toDF("vec_id", "v")
    idx.appendDated(day2, "vec_id", "v", d2)
    idx.appendDated(day2, "vec_id", "v", d2) // replay
    assert(spark.table("state_pq_test.ivf_lists").count() === 60)
    assert(spark.table("state_pq_test.ivf_pq_codes").count() === 60)
    val got = idx.topKJoinPq(day2.limit(1)
        .select($"vec_id".as("qid"), $"v"), "qid", "v",
        k = 3, nprobe = 4, refine = 20)
      .select($"id").as[Long].collect()
    assert(got.nonEmpty, "appended vectors not searchable through PQ")

    // crash window: codes partition present, lists partition missing —
    // the rescore join drops the orphaned candidates instead of
    // failing or emitting phantom ids
    val d3 = day("2024-07-03")
    val day3 = (200L until 210L).map(i => (i, vec(i))).toDF("vec_id", "v")
    val cents3 = idx.quantizer
    val assigned3 = graft.functions.VectorOps
      .assignClusters(day3, cents3, "v")
      .select($"cluster", $"vec_id".as("id"), $"v".as("vec"),
        lit(d3).as("seen_date"))
    // replicate appendDated's first half only (codes land, crash)
    val cbs = idx.pqCodebooks
    val codeCols = spark.table("state_pq_test.ivf_pq_codes").columns
    val was = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try assigned3.select($"cluster", $"id",
        graft.expressions.PqCodec.pq_encode($"vec", cbs).as("pq_code"),
        $"seen_date")
      .select(codeCols.map(col).toIndexedSeq: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .insertInto("state_pq_test.ivf_pq_codes")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", was)
    spark.catalog.refreshTable("state_pq_test.ivf_pq_codes")
    assert(spark.table("state_pq_test.ivf_pq_codes").count() === 70)
    assert(spark.table("state_pq_test.ivf_lists").count() === 60)
    val orphanSearch = idx.topKJoinPq(day3.limit(1)
        .select($"vec_id".as("qid"), $"v"), "qid", "v",
        k = 3, nprobe = 4, refine = 40)
      .select($"id").as[Long].collect()
    assert(orphanSearch.forall(_ < 200L),
      s"phantom ids from the orphaned codes partition: ${orphanSearch.toSeq}")
    // ...and the replay converges both tables
    idx.appendDated(day3, "vec_id", "v", d3)
    assert(spark.table("state_pq_test.ivf_lists").count() === 70)
    assert(spark.table("state_pq_test.ivf_pq_codes").count() === 70)

    // expiry ages codes out on the lists' clock
    idx.expire(d2)
    assert(spark.table("state_pq_test.ivf_lists").count() === 30)
    assert(spark.table("state_pq_test.ivf_pq_codes").count() === 30)

    // retrain rewrites the codes sidecar in the same committed
    // snapshot: counts stay in sync and PQ search still works
    idx.retrain(k = 3, iters = 1, samplePct = 100)
    assert(spark.table("state_pq_test.ivf_lists").count() === 30)
    assert(spark.table("state_pq_test.ivf_pq_codes").count() === 30)
    val clustersL = spark.table("state_pq_test.ivf_lists")
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    val clustersC = spark.table("state_pq_test.ivf_pq_codes")
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    assert(clustersL === clustersC,
      "codes sidecar disagrees with the lists about cluster assignment")
    val after = idx.topKJoinPq(day2.limit(1)
        .select($"vec_id".as("qid"), $"v"), "qid", "v",
        k = 3, nprobe = 3, refine = 20)
      .select($"id").as[Long].collect()
    assert(after.nonEmpty)
    idx.releaseProbes()
    idx.unpinBucketedScan()
  }

  test("IVF-PQ residual mode: enable, full-refine exactness, append, retrain recodes") {
    import graft.lake.AnnIndex
    val lake = new Lake(spark, tmpDir("pqres_lake"))
    val idx = new AnnIndex(spark, lake, "pqres_test", numBuckets = 4)
    def vec(id: Long): Seq[Double] = {
      val m = graft.core.Mix.mix(id)
      Seq((m & 0xff).toDouble, ((m >> 8) & 0xff).toDouble,
        ((m >> 16) & 0xff).toDouble, ((m >> 24) & 0xff).toDouble)
    }
    val corpus = (0L until 48L).map(i => (i, vec(i))).toDF("vec_id", "v")
    idx.build(corpus, "vec_id", "v", k = 4, iters = 2)
    idx.enablePq(m = 2, ksub = 16, iters = 2, samplePct = 100,
      residual = true)
    assert(idx.pqEnabled && idx.pqResidualMode)

    // full refine + all probes reproduces the exact path bit-for-bit:
    // the residual ranking only ORDERS candidates, rescoring is exact
    val queries = corpus.filter($"vec_id".isin(2L, 19L, 40L))
      .select($"vec_id".as("qid"), $"v")
    val exact = idx.topKJoin(queries, "qid", "v", k = 5, nprobe = 4)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    val pqFull = idx.topKJoinPq(queries, "qid", "v", k = 5, nprobe = 4,
        refine = 48)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    assert(pqFull === exact, "full-refine residual PQ must equal exact")
    // the production dial keeps most neighbors (residual codebooks are
    // at least as good as raw on the fixture)
    val pq4 = idx.topKJoinPq(queries, "qid", "v", k = 5, nprobe = 4,
        refine = 4)
      .select($"qid", $"id").as[(Long, Long)].collect().toSet
    assert(exact.map(t => (t._1, t._3)).count(pq4.contains) >= 10)

    // appends encode against the CURRENT centroids in residual mode
    val batch = (100L until 112L).map(i => (i, vec(i))).toDF("vec_id", "v")
    idx.append(batch, "vec_id", "v")
    assert(spark.table("state_pqres_test.ivf_lists").count() === 60)
    assert(spark.table("state_pqres_test.ivf_pq_codes").count() === 60)
    val found = idx.topKJoinPq(batch.limit(1)
        .select($"vec_id".as("qid"), $"v"), "qid", "v",
        k = 3, nprobe = 4, refine = 60)
      .select($"id").as[Long].collect()
    assert(found.contains(100L), s"appended vector not its own neighbor: ${found.toSeq}")

    // retrain moves the centroids → residuals change → the codebooks
    // retrain and every code re-encodes, all inside the same committed
    // snapshot; the mode flag survives and search still reproduces the
    // exact path at full refine
    idx.retrain(k = 3, iters = 1, samplePct = 100)
    assert(idx.pqResidualMode, "residual flag lost across retrain")
    val clustersL = spark.table("state_pqres_test.ivf_lists")
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    val clustersC = spark.table("state_pqres_test.ivf_pq_codes")
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    assert(clustersL === clustersC, "codes sidecar out of sync after retrain")
    val exact2 = idx.topKJoin(queries, "qid", "v", k = 5, nprobe = 3)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    val pqFull2 = idx.topKJoinPq(queries, "qid", "v", k = 5, nprobe = 3,
        refine = 60)
      .select($"qid", $"rk", $"id").as[(Long, Int, Long)].collect().toSet
    assert(pqFull2 === exact2, "post-retrain residual PQ diverged from exact")
    idx.releaseProbes()
    idx.unpinBucketedScan()
  }

  test("IVF-PQ lifecycle soak: random op sequences keep codes and lists in sync") {
    import graft.lake.AnnIndex
    // the crash-window specs pin INDIVIDUAL transitions; this soak
    // walks seeded RANDOM sequences of lifecycle ops and re-checks the
    // global invariants after every step: the codes sidecar mirrors
    // the lists row-for-row (count + id→cluster map), and a
    // full-refine compressed search reproduces the exact path
    def vec(id: Long): Seq[Double] = {
      val m = graft.core.Mix.mix(id)
      Seq((m & 0xff).toDouble, ((m >> 8) & 0xff).toDouble,
        ((m >> 16) & 0xff).toDouble, ((m >> 24) & 0xff).toDouble)
    }
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val ds = s"pqsoak_$seed"
      val lake = new Lake(spark, tmpDir(s"pqsoak_lake_$seed"))
      val idx = new AnnIndex(spark, lake, ds, numBuckets = 4)
      var day = java.time.LocalDate.parse("2024-08-01")
      var nextId = 0L
      def batch(n: Int) = {
        val rows = (nextId until nextId + n).map(i => (i, vec(i)))
        nextId += n
        rows.toDF("vec_id", "v")
      }
      idx.buildDated(batch(30), "vec_id", "v", k = 4,
        java.sql.Date.valueOf(day), iters = 2)
      idx.enablePq(m = 2, ksub = 8, iters = 1, samplePct = 100,
        residual = rnd.nextBoolean())
      def checkInvariants(opName: String): Unit = {
        val lists = spark.table(s"state_$ds.ivf_lists")
          .select($"id", $"cluster").as[(Long, Int)].collect().toMap
        val codes = spark.table(s"state_$ds.ivf_pq_codes")
          .select($"id", $"cluster").as[(Long, Int)].collect().toMap
        assert(codes === lists, s"[$seed/$opName] codes out of sync")
        if (lists.nonEmpty) {
          val n = lists.size
          val someIds = lists.keys.toSeq.sorted.take(2)
          val qs = someIds.map(i => (i, vec(i))).toDF("qid", "v")
          val exact = idx.topKJoin(qs, "qid", "v", k = 3, nprobe = 4)
            .select($"qid", $"rk", $"id").as[(Long, Int, Long)]
            .collect().toSet
          val pq = idx.topKJoinPq(qs, "qid", "v", k = 3, nprobe = 4,
              refine = n)
            .select($"qid", $"rk", $"id").as[(Long, Int, Long)]
            .collect().toSet
          assert(pq === exact, s"[$seed/$opName] full-refine PQ != exact")
        }
      }
      checkInvariants("enablePq")
      for (step <- 1 to 6) {
        day = day.plusDays(1)
        val d = java.sql.Date.valueOf(day)
        val op = rnd.nextInt(5)
        val stored = idx.storedCount
        op match {
          case 0 | 1 => idx.appendDated(batch(10 + rnd.nextInt(10)),
            "vec_id", "v", d)
          case 2 if stored > 0 =>
            idx.retrain(k = 3 + rnd.nextInt(3), iters = 1, samplePct = 100)
          case 3 => idx.compact()
          case 4 =>
            // expire a window that keeps at least the latest day
            idx.expire(java.sql.Date.valueOf(day.minusDays(2)))
          case _ => idx.appendDated(batch(5), "vec_id", "v", d)
        }
        checkInvariants(s"step$step-op$op")
      }
      idx.releaseProbes()
      idx.unpinBucketedScan()
      spark.sql(s"DROP DATABASE IF EXISTS state_$ds CASCADE")
    }
  }

  test("cross-run image dedup: dHash rides the dated exact seen-set") {
    import graft.lake.CorpusDedup
    import graft.multimodal.Multimodal
    // INCREMENTAL image dedup composes from existing machinery: the
    // perceptual hash is the content key and CorpusDedup's dated
    // exact seen-set is the memory — a re-level of yesterday's image
    // (different bytes, different pixels, same luminance STRUCTURE →
    // identical dHash under lossless PNG) falls out on day two, and
    // no pixel data is ever retained in state
    val lake = new Lake(spark, tmpDir("imgcrawl_lake"))
    val dd = new CorpusDedup(spark, lake, "imgcrawl", numBuckets = 4)
    def day(s: String) = java.sql.Date.valueOf(s)
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(36, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 36) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    def baseV(x: Int, y: Int) = ((x / 4) * 40 + (y / 2) * 25) % 200
    def phash(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.imageDHash(
          Multimodal.decodeImage(rows.toDF("media_id", "content")))
        .select($"media_id", lpad(bin($"dhash"), 64, "0").as("phash"))
    val d1 = day("2024-07-01"); val d2 = day("2024-07-02")
    val minDate = day("2024-06-01")
    val day1 = phash(Seq(1L -> png(baseV), 2L -> png((x, y) => 199 - baseV(x, y))))
    assert(dd.novelExactSince(day1, "media_id", "phash", minDate)
      .count() === 2)
    dd.commitExactDated(day1, "phash", d1, minDate)
    // day two: a re-level of image 1 (+50 intensity — new bytes, new
    // pixels, same structure) plus one genuinely new image
    val day2 = phash(Seq(
      3L -> png((x, y) => baseV(x, y) + 50),
      4L -> png((x, y) => (x * 7 + y * 29) % 256)))
    val novel2 = dd.novelExactSince(day2, "media_id", "phash", minDate)
      .select($"media_id").as[Long].collect().toSet
    assert(novel2 === Set(4L),
      s"re-leveled image not deduplicated cross-run: $novel2")
  }

  test("embedding drift via IVF occupancy: categoricalDrift over the dated lists") {
    import graft.lake.AnnIndex
    import graft.functions.DriftOps
    // the cheap always-on embedding-drift monitor: compare two days'
    // coarse-cell occupancy distributions on the SERVED index — no
    // vector is scored, the lists table's (cluster, seen_date) columns
    // are the whole input. The recall-triggered retrain stays the
    // cost-gated signal; this one is a groupBy away.
    val lake = new Lake(spark, tmpDir("occ_lake"))
    val idx = new AnnIndex(spark, lake, "occ_ann", numBuckets = 4)
    def d(s: String) = java.sql.Date.valueOf(s)
    def jit(i: Int, m: Int) = ((i * 7919) % m) * 0.01
    def pt(i: Int, x: Double): Seq[Double] =
      Seq(x + jit(i, 7), jit(i, 11), 0.0, 0.0)
    def region(i: Int): Double = if (i % 2 == 0) 10.0 else -10.0
    val day1 = (0 until 40).map(i => (i.toLong, pt(i, region(i))))
      .toDF("vec_id", "v")
    idx.buildDated(day1, "vec_id", "v", k = 4, d("2024-05-01"), iters = 2)
    // day 2: the same two-region mixture → occupancy stays put
    val day2 = (100 until 140).map(i => (i.toLong, pt(i, region(i))))
      .toDF("vec_id", "v")
    idx.appendDated(day2, "vec_id", "v", d("2024-05-02"))
    // day 3: all mass collapses into ONE region → occupancy shifts
    val day3 = (200 until 240).map(i => (i.toLong, pt(i, 10.0)))
      .toDF("vec_id", "v")
    idx.appendDated(day3, "vec_id", "v", d("2024-05-03"))
    def drift(dayB: String): Double = DriftOps.categoricalDrift(
        spark.table("state_occ_ann.ivf_lists")
          .filter(col("seen_date").isin(d("2024-05-01"), d(dayB)))
          .select(lit("all").as("k"), col("cluster"), col("seen_date")),
        "k", "cluster", (col("seen_date") === d(dayB)).cast("int"))
      .select(col("jsd")).head().getDouble(0)
    val stable = drift("2024-05-02")
    val drifted = drift("2024-05-03")
    assert(stable < 0.05, s"stable occupancy reads as drift: $stable")
    assert(drifted > 0.2 && drifted > 4 * stable,
      s"regional collapse not detected: stable $stable vs drifted $drifted")
  }

  test("novelSemantic through the compressed (PQ) gate matches the exact gate") {
    import graft.lake.{AnnIndex, CorpusDedup}
    val lake = new Lake(spark, tmpDir("pqgate_lake"))
    val dd = new CorpusDedup(spark, lake, "pqgate", numBuckets = 4)
    val idx = new AnnIndex(spark, lake, "pqgate_ann", numBuckets = 4)
    // 8 one-hot directions × 5 magnitudes — cosine structure is exact:
    // same direction = 1.0, different one-hot directions = 0.0
    def oneHot(dir: Int, mag: Double): Seq[Double] =
      Seq.tabulate(8)(i => if (i == dir) mag else 0.0)
    val history = (0L until 40L).map(i =>
      (i, oneHot((i % 8).toInt, (i / 8 + 1).toDouble))).toDF("doc_id", "emb")
    idx.build(history, "doc_id", "emb", k = 4, iters = 2)
    val mix = Seq.tabulate(8)(_ => 1.0)
    val alt = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)
    val batch = Seq(
      (100L, oneHot(3, 1.01)),         // history dup (cos 1.0 to dir 3)
      (101L, mix),                     // novel (cos 1/sqrt(8) to any e_i)
      (102L, mix.map(_ * 1.02)),       // in-batch twin of 101
      (103L, alt)                      // novel (cos 0 to mix, +-1/sqrt(8) to e_i)
    ).toDF("doc_id", "emb")
    val exact = dd.novelSemantic(idx, batch, "doc_id", "emb",
      threshold = 0.9, nprobe = 4).select($"doc_id").as[Long].collect().toSet
    assert(exact === Set(101L, 103L), exact.toString)
    // asking for the compressed path before enablePq is a loud error
    intercept[IllegalArgumentException] {
      dd.novelSemantic(idx, batch, "doc_id", "emb", threshold = 0.9,
        nprobe = 4, pqRefine = Some(4))
    }
    idx.enablePq(m = 2, ksub = 4, iters = 2, samplePct = 100,
      residual = true)
    // generous refine: the compressed gate must reproduce the exact
    // gate's novel set (scores are exact on both paths — PQ only
    // reorders candidates, and refine covers them all here)
    val pq = dd.novelSemantic(idx, batch, "doc_id", "emb",
        threshold = 0.9, nprobe = 4, pqRefine = Some(40))
      .select($"doc_id").as[Long].collect().toSet
    assert(pq === exact, s"compressed gate diverged: $pq vs $exact")
    idx.releaseProbes()
    idx.unpinBucketedScan()
  }

  test("semantic dedup vs the persisted index: gate, in-batch, TTL, replay window") {
    import graft.lake.{AnnIndex, CorpusDedup}
    val lake = new Lake(spark, tmpDir("sem_lake"))
    val dd = new CorpusDedup(spark, lake, "sem_test", numBuckets = 4)
    val idx = new AnnIndex(spark, lake, "sem_test_ann", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    val d1 = day("2024-06-01"); val d2 = day("2024-06-02")
    // two clean day-1 clusters around e1 and e2 (k = 2 trains onto them)
    val hist = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.98, 0.05, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.05, 0.98, 0.0))
    ).toDF("doc_id", "vec")
    idx.buildDated(hist, "doc_id", "vec", k = 2, d1)

    // day 2: 100 = twin of doc 1 (cross-run drop); 101/102 = mutual
    // twins along the NOVEL e3 axis (in-batch: min id survives);
    // 103 = unrelated to everything (kept)
    val batch = Seq(
      (100L, Seq(0.999, 0.02, 0.0)),
      (101L, Seq(0.0, 0.02, 1.0)), (102L, Seq(0.02, 0.0, 0.999)),
      (103L, Seq(0.6, 0.6, 0.52))
    ).toDF("doc_id", "vec")
    val novel = dd.novelSemantic(idx, batch, "doc_id", "vec",
      threshold = 0.95, nprobe = 2, minDate = Some(d1))
    assert(novel.select($"doc_id").as[Long].collect().toSet ===
      Set(101L, 103L), novel.columns.mkString(","))

    // commit = the index append the retrieval leg already does
    idx.appendDated(novel.select($"doc_id", $"vec"), "doc_id", "vec", d2)

    // REPLAY WINDOW (the DailyIngest hazard): after the day's append,
    // a same-day replay gated on the FULL index self-collides to an
    // empty novel set — gating on seen_date < day sees exactly the
    // pre-append state and reproduces the first attempt's answer
    val replayFull = dd.novelSemantic(idx, batch, "doc_id", "vec",
      threshold = 0.95, nprobe = 2)
    assert(replayFull.count() === 0)
    val replayWin = dd.novelSemantic(idx, batch, "doc_id", "vec",
      threshold = 0.95, nprobe = 2, beforeDate = Some(d2))
    assert(replayWin.select($"doc_id").as[Long].collect().toSet ===
      Set(101L, 103L))
    // both date bounds prune the lists scan as PartitionFilters
    val plan = dd.novelSemantic(idx, batch, "doc_id", "vec",
        threshold = 0.95, nprobe = 2, minDate = Some(d1),
        beforeDate = Some(d2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(seen_date"), plan)

    // TTL: a window starting after day 1 ages the twin's target out of
    // the seen-set (day-2 entries remain, none similar to 100) — the
    // twin is re-admitted, the crawl-recency policy at cosine level
    val ttl = dd.novelSemantic(idx, batch.filter($"doc_id" === 100L),
      "doc_id", "vec", threshold = 0.95, nprobe = 2, minDate = Some(d2))
    assert(ttl.select($"doc_id").as[Long].collect().toSet === Set(100L))
    idx.unpinBucketedScan()
  }

  test("bucketed compaction folds append files, preserves bucket layout") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("state", "bkc", "t")
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select($"id", ($"id" % 7).cast("int").as("k"))
    lake.writeBucketed(batch(0, 100), ref, "k", 4)
    (1 to 5).foreach { i =>
      batch(100L * i, 50).write.mode(org.apache.spark.sql.SaveMode.Append)
        .insertInto("state_bkc.t")
    }
    val filesBefore = spark.table("state_bkc.t").inputFiles.length
    val rowsBefore = spark.table("state_bkc.t")
      .as[(Long, Int)].collect().toSet

    lake.compactBucketed(ref)
    val after = spark.table("state_bkc.t")
    assert(after.as[(Long, Int)].collect().toSet === rowsBefore)
    // the lake's filesystem writer options stay out of the catalog
    val opts = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t", Some("state_bkc")))
      .storage.properties
    assert(!opts.keys.exists(_.startsWith("fs.")), opts)
    // repartition-on-bucket-column aligns tasks with buckets: ~1 file each
    assert(after.inputFiles.length <= 4 && after.inputFiles.length < filesBefore)
    // the table still bucket-prunes — the layout survived the rewrite
    // (path-level Lake.compact would have destroyed it: un-bucketed file
    // names under a catalog entry that still declares a bucket spec)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val plan = after.filter($"k" === 3).queryExecution.executedPlan.toString
      assert("SelectedBucketsCount: (\\d+) out of 4".r
        .findFirstMatchIn(plan).exists(_.group(1).toInt < 4), plan)
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("bucketed rewrite heals the swap's crash states, live rows intact") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val lake = new Lake(spark, tmpDir("lakeheal"))
    val ref = TableRef("state", "bkh", "t")
    def batch(lo: Long, n: Long, d: String) =
      spark.range(lo, lo + n).select($"id", ($"id" % 7).cast("int").as("k"),
        lit(java.sql.Date.valueOf(d)).as("seen_date"))
    lake.writeBucketed(batch(0, 50, "2026-01-01"), ref, "k", 4,
      partitionBy = Seq("seen_date"))
    batch(50, 50, "2026-01-02").write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto("state_bkh.t")
    def rows() = spark.table("state_bkh.t").as[(Long, Int, java.sql.Date)].collect().toSet
    def partitions() = spark.sql("SHOW PARTITIONS state_bkh.t").as[String].collect().toSeq
    val (before, parts) = (rows(), partitions())
    val p = new Path(lake.path(ref))
    val side = new Path(lake.path(ref) + ".tmp-crashed")
    val old = new Path(lake.path(ref) + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def healed(): Unit = {
      assert(rows() === before && partitions() === parts)
      assert(fs.globStatus(new Path(lake.path(ref) + ".tmp-*")).isEmpty && !fs.exists(old))
      assert(!spark.catalog.tableExists("state_bkh.t__compact"))
    }

    // a dead side write: a partial side dir and its catalog entry (the
    // crash came before the entry's drop) are deleted and the rewrite redone
    batch(0, 10, "2026-01-01").write.bucketBy(4, "k").partitionBy("seen_date")
      .option("path", side.toString).saveAsTable("state_bkh.t__compact")
    lake.compactBucketed(ref)
    healed()

    // the swap cut between its renames: the live dir sits at .old beside a
    // complete side dir; the table stays registered and reads empty. The
    // next rewrite's own catalog read must not see that cached empty listing
    assert(FileUtil.copy(fs, p, fs, side, false, spark.sparkContext.hadoopConfiguration))
    assert(fs.rename(p, old))
    spark.catalog.refreshTable("state_bkh.t")
    assert(spark.catalog.tableExists("state_bkh.t") && spark.table("state_bkh.t").count() === 0)
    lake.rewriteBucketed(spark.table("state_bkh.t"), ref)
    healed()

    // a finished swap whose .old delete was cut: .old is deleted
    assert(FileUtil.copy(fs, p, fs, old, false, spark.sparkContext.hadoopConfiguration))
    lake.compactBucketed(ref)
    healed()
    // and the layout survived every rewrite
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val plan = spark.table("state_bkh.t").filter($"k" === 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"), plan)
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.sql("DROP TABLE state_bkh.t")
  }

  test("bucketed compaction, retrain and PQ re-enable never drop a live catalog entry") {
    import graft.lake.{AnnIndex, CorpusDedup}
    import org.apache.spark.sql.catalyst.catalog.{DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
    import scala.jdk.CollectionConverters._
    val dropped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case DropTableEvent(db, name) => dropped.add(s"$db.$name")
        case _ =>
      }
    }
    val lake = new Lake(spark, tmpDir("ann_keep"))
    val idx = new AnnIndex(spark, lake, "ann_keep", numBuckets = 4)
    def vec(id: Long) = Array((id % 7).toDouble, (id % 5).toDouble, (id % 3).toDouble, 1.0)
    def day(d: String) = java.sql.Date.valueOf(d)
    idx.buildDated((0L until 40L).map(i => (i, vec(i))).toDF("id", "vec"),
      "id", "vec", k = 3, day("2024-05-01"))
    idx.enablePq(m = 2, ksub = 4, iters = 1, samplePct = 100)
    idx.appendDated((100L until 120L).map(i => (i, vec(i))).toDF("id", "vec"),
      "id", "vec", day("2024-05-02"))
    val dd = new CorpusDedup(spark, lake, "ann_keep", numBuckets = 4)
    dd.commitExact(Seq("a", "b").toDF("text"), "text")
    dd.commitExact(Seq("c").toDF("text"), "text")
    val live = Seq(idx.centroidsRef, idx.listsRef, idx.pqCodesRef,
      idx.pqCodebooksRef, dd.hashesRef).map(r => s"${r.zone}_${r.dataset}.${r.table}")
    val external = spark.sharedState.externalCatalog
    external.addListener(listener)
    try {
      idx.compact()
      dd.compact()
      idx.retrain(k = 3, iters = 1, samplePct = 100)
      idx.enablePq(m = 2, ksub = 4, iters = 1, samplePct = 100)
    } finally external.removeListener(listener)
    val drops = dropped.asScala.toSeq
    assert(drops.nonEmpty && drops.forall(_.endsWith("__compact")), drops)
    assert(live.forall(t => drops.contains(t + "__compact")), drops)
    assert(spark.table("state_ann_keep.ivf_lists").count() === 60)
    assert(spark.table("state_ann_keep.ivf_pq_codes").count() === 60)
    assert(spark.table("state_ann_keep.seen_hashes").count() === 3)
    idx.unpinBucketedScan()
    spark.sql("DROP DATABASE state_ann_keep CASCADE")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val li = Tables.load(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val o = Tables.load(spark, sf001, "orders")
      .select($"o_orderkey", $"o_totalprice")
    lake.writeBucketed(li, TableRef("staging", "bkt", "li"), "l_orderkey", 4)
    lake.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
      TableRef("staging", "bkt", "o"), "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so bucketing is what avoids the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("staging_bkt.li")
        .join(spark.table("staging_bkt.o"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") &&
        !plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === li.join(o,
        li("l_orderkey") === o("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE staging_bkt.li")
    spark.sql("DROP TABLE staging_bkt.o")
  }

  test("compaction collapses tiny capture files, data intact (small-files)") {
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.map { f =>
        if (f.isDirectory) parquetFiles(f.toString)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }

    // unpartitioned: 20 one-row appends → 20 files → 1 after compact
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("staging", "ds", "ticks")
    (1 to 20).foreach(i => lake.append(Seq((i, s"v$i")).toDF("id", "v"), ref))
    assert(parquetFiles(lake.path(ref)) === 20)
    lake.compact(ref)
    assert(parquetFiles(lake.path(ref)) === 1)
    val back = lake.read(ref)
    assert(back.count() === 20)
    assert(back.agg(sum($"id")).head().getLong(0) === 210L)

    // partitioned: 10 appends × 2 partitions → 1 file per partition dir
    val pref = TableRef("staging", "ds", "pticks")
    (1 to 10).foreach(i => lake.append(
      Seq((i, "a"), (i, "b")).toDF("id", "part"), pref, partitionBy = Seq("part")))
    assert(parquetFiles(lake.path(pref)) === 20)
    lake.compact(pref, partitionBy = Seq("part"))
    assert(parquetFiles(lake.path(pref)) === 2)
    assert(lake.read(pref).count() === 20)
    assert(lake.read(pref).select($"part").distinct().count() === 2)

    // partition values keep their dir names (`hora=00`, not `hora=0`),
    // and the call leaves the session's settings as it found them
    val href = TableRef("staging", "ds", "hticks")
    Seq("00", "07").foreach(h => lake.append(Seq((1, h)).toDF("id", "hora"), href,
      partitionBy = Seq("hora")))
    val conf = spark.conf.getAll
    lake.compact(href, partitionBy = Seq("hora"))
    assert(spark.conf.getAll === conf)
    assert(new java.io.File(lake.path(href)).list().filter(_.startsWith("hora=")).sorted
      .toSeq === Seq("hora=00", "hora=07"))
    assert(lake.read(href).count() === 2)
  }

  test("compaction lists its table once: 40 tick dirs compact in as many jobs as 2") {
    val lake = new Lake(spark, tmpDir("lake"))
    def compactJobs(minutes: Int): Int = {
      val ref = TableRef("staging", "ds", s"ticks$minutes")
      graft.tools.ListingProbe.tickTree(spark, lake.path(ref), days = 1, hours = 1,
        minutes = minutes)
      val jobs = jobsDuring(lake.compact(ref, partitionBy = Seq("data", "hora", "tick"))).size
      assert(lake.read(ref).count() === minutes)
      assert(new java.io.File(lake.path(ref), "data=2024-01-01/hora=00").list().length ===
        minutes)
      jobs
    }
    assert(compactJobs(40) === compactJobs(2))
  }

  test("compaction removes the staging dirs crashed writes left behind") {
    val lake = new Lake(spark, tmpDir("lake"))
    val ref = TableRef("staging", "ds", "ticks")
    (1 to 3).foreach(i => lake.append(Seq((i, s"d$i")).toDF("id", "data"), ref,
      partitionBy = Seq("data")))
    // the crash state of a driver write and of a Spark dynamic overwrite:
    // a staged partition dir, never renamed in or deleted
    val root = java.nio.file.Paths.get(lake.path(ref))
    val staged = Seq(".graft-staging-crashed", ".spark-staging-crashed").map { d =>
      val dir = root.resolve(d).resolve("data=d9")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      root.resolve(d)
    }
    val before = lake.read(ref).orderBy("id").collect().toSeq
    lake.compact(ref, partitionBy = Seq("data"))
    staged.foreach(d => assert(!java.nio.file.Files.exists(d), d))
    assert(lake.read(ref).orderBy("id").collect().toSeq === before)
    assert(before.map(_.getInt(0)) === Seq(1, 2, 3))
  }

  test("capture log append + read with [recapturado] marking (K10/T4)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val ts = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    log.append("ds", "t", ts, success = true)
    log.append("ds", "t", java.sql.Timestamp.valueOf("2024-01-05 10:01:00"),
      success = false, error = Some("boom"), recaptured = true)
    val rows = log.read("ds", "t")
    assert(rows.count() === 2)
    assert(rows.filter($"erro".startsWith("[recapturado]")).count() === 1)
    assert(rows.filter($"sucesso" === true).count() === 1)
  }

  test("TTL dedup: recency window, partition-pruned scan, real expiry") {
    import graft.lake.CorpusDedup
    val lake = new Lake(spark, tmpDir("ttl_lake"))
    val dd = new CorpusDedup(spark, lake, "ttl_test", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    val mon = day("2024-01-01"); val tue = day("2024-01-02")
    val thu = day("2024-01-04")
    val text = "the quick brown fox jumps over the lazy dog"
    val other = "entirely different content with no overlap at all"
    val b1 = Seq((1L, text)).toDF("doc_id", "text")
    val b2 = Seq((2L, text), (3L, other)).toDF("doc_id", "text")

    // Monday: first sighting of `text`
    dd.commitExactDated(b1, "text", mon, minDate = mon)
    // Tuesday, 3-day TTL (window start Monday): the duplicate is caught
    val tueNovel = dd.novelExactSince(b2, "doc_id", "text", minDate = mon)
      .select($"doc_id").as[Long].collect().toSet
    assert(tueNovel === Set(3L))
    dd.commitExactDated(b2, "text", tue, minDate = mon)

    // the anti-join's state side is PARTITION-PRUNED: the scan carries
    // a seen_date filter in PartitionFilters, not a post-read filter
    val plan = dd.novelExactSince(b2, "doc_id", "text", minDate = tue)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(seen_date"), plan)

    // Thursday, window start Wednesday: every Monday/Tuesday sighting
    // has aged out — the same content is admitted (and re-recorded,
    // restarting its TTL)
    val wed = day("2024-01-03")
    val thuNovel = dd.novelExactSince(b1, "doc_id", "text", minDate = wed)
      .select($"doc_id").as[Long].collect().toSet
    assert(thuNovel === Set(1L))
    dd.commitExactDated(b1, "text", thu, minDate = wed)

    // expiry drops metastore partitions AND their files
    dd.expireExact(wed)
    val parts = spark.sql(
      s"SHOW PARTITIONS state_ttl_test.seen_hashes_dated").collect()
      .map(_.getString(0)).toSet
    assert(parts === Set("seen_date=2024-01-04"), parts.toString)
    val root = new java.io.File(lake.path(dd.hashesDatedRef))
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.contains("seen_date=2024-01-01"), dirs.toString)
    assert(!dirs.contains("seen_date=2024-01-02"), dirs.toString)
    assert(dirs.contains("seen_date=2024-01-04"), dirs.toString)
    // and the expired sighting really is gone from the state
    assert(spark.table("state_ttl_test.seen_hashes_dated").count() === 1)
  }

  test("TTL near-dup: band window, partition-pruned scan, expiry, re-admission") {
    import graft.lake.CorpusDedup
    val lake = new Lake(spark, tmpDir("ttlb_lake"))
    val dd = new CorpusDedup(spark, lake, "ttlb_test", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    val mon = day("2024-01-01"); val tue = day("2024-01-02")
    val wed = day("2024-01-03"); val thu = day("2024-01-04")
    val text = "the quick brown fox jumps over the lazy dog and runs away fast"
    val near = text.replace("away fast", "away now") // shares LSH bands
    val other = "totally unrelated writing about catalyst planner internals today ok"
    val b1 = Seq((1L, text)).toDF("doc_id", "text")
    val b2 = Seq((2L, near), (3L, other)).toDF("doc_id", "text")

    // no state yet: everything is novel
    assert(dd.novelNearDupSince(b1, "doc_id", "text", minDate = mon)
      .count() === 1)
    // Monday: record text's bands; Tuesday the near-dup is caught at
    // candidate level, unrelated content passes
    dd.commitNearDupDated(b1, "doc_id", "text", mon, minDate = mon)
    val tueNovel = dd.novelNearDupSince(b2, "doc_id", "text", minDate = mon)
      .select($"doc_id").as[Long].collect().toSet
    assert(tueNovel === Set(3L))
    dd.commitNearDupDated(b2, "doc_id", "text", tue, minDate = mon)

    // the semi-join's state side is PARTITION-PRUNED (seen_date reaches
    // PartitionFilters, not a post-read filter)
    val plan = dd.novelNearDupSince(b2, "doc_id", "text", minDate = tue)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(seen_date"), plan)

    // Thursday, window start Wednesday: all sightings aged out — the
    // same content is re-admitted, and re-recording restarts its TTL
    val thuNovel = dd.novelNearDupSince(b1, "doc_id", "text", minDate = wed)
      .select($"doc_id").as[Long].collect().toSet
    assert(thuNovel === Set(1L))
    dd.commitNearDupDated(b1, "doc_id", "text", thu, minDate = wed)

    // expiry drops metastore partitions AND files
    dd.expireNearDup(wed)
    val parts = spark.sql(
      s"SHOW PARTITIONS state_ttlb_test.seen_bands_dated").collect()
      .map(_.getString(0)).toSet
    assert(parts === Set("seen_date=2024-01-04"), parts.toString)
    val root = new java.io.File(lake.path(dd.bandsDatedRef))
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("seen_date=2024-01-04"), dirs.toString)
  }

  test("TTL verified near-dup: lane agreement decides, single-band flukes admitted") {
    import graft.functions.DedupOps
    import graft.lake.CorpusDedup
    val lake = new Lake(spark, tmpDir("ttlv_lake"))
    val dd = new CorpusDedup(spark, lake, "ttlv_test", numBuckets = 4)
    def day(d: String) = java.sql.Date.valueOf(d)
    val mon = day("2024-01-01"); val tue = day("2024-01-02")
    val text = "the quick brown fox jumps over the lazy dog and runs away fast"
    val near = text.replace("away fast", "away now")

    // find, deterministically, a SINGLE-BAND FLUKE: a doc sharing >= 1
    // LSH band with `text` while agreeing on < 6 of 8 MinHash lanes
    // (the candidate gate drops it; the verified gate must admit it).
    // One job over a generated candidate set; stable across runs
    // because every hash is seeded md5.
    val fillers = (0 until 40).map(i =>
      (100L + i) -> (text + " " + Seq("alpha", "beta", "gamma", "delta",
        "epsilon", "zeta", "eta", "theta").map(w => s"$w$i").mkString(" ")))
    val probeDf = (Seq(0L -> text, 999L -> near) ++ fillers)
      .toDF("doc_id", "text")
    val rows = DedupOps.lshBandsWithSig(
      DedupOps.minhashSignature(probeDf, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        (3 until 11).map(r.getLong)))
    val aByBand = rows.filter(_._1 == 0L).map(b => (b._2, b._3)).toSet
    val aLanes = rows.find(_._1 == 0L).get._4
    def agreement(id: Long): Int =
      rows.find(_._1 == id).get._4.zip(aLanes).count { case (x, y) => x == y }
    // precondition the fixture: the true near-dup must verify as a dup
    assert(agreement(999L) >= 6,
      s"fixture: `near` agrees on only ${agreement(999L)}/8 lanes")
    val flukes = fillers.map(_._1).filter(id =>
      rows.exists(r => r._1 == id && aByBand((r._2, r._3))) &&
        agreement(id) < 6)
    assert(flukes.nonEmpty,
      "fixture search found no single-band fluke — widen the candidate set")
    val flukeText = fillers.toMap.apply(flukes.head)

    val b1 = Seq((1L, text)).toDF("doc_id", "text")
    dd.commitNearDupDated(b1, "doc_id", "text", mon, minDate = mon)
    dd.commitNearDupVerifiedDated(b1, "doc_id", "text", mon, minDate = mon)

    val b2 = Seq((2L, near), (3L, flukeText)).toDF("doc_id", "text")
    // candidate-level gate: both collide -> both dropped
    assert(dd.novelNearDupSince(b2, "doc_id", "text", minDate = mon)
      .count() === 0)
    // verified gate: the true near-dup still drops (high agreement),
    // the single-band fluke is ADMITTED (collision, low agreement)
    val verified = dd.novelNearDupVerifiedSince(b2, "doc_id", "text",
        minDate = mon)
      .select($"doc_id").as[Long].collect().toSet
    assert(verified === Set(3L), s"verified gate kept $verified")

    // the state side stays partition-pruned, like the candidate gate
    val plan = dd.novelNearDupVerifiedSince(b2, "doc_id", "text",
        minDate = tue)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(seen_date"), plan)

    // TTL: window starting Tuesday ages Monday's sighting out
    assert(dd.novelNearDupVerifiedSince(b2, "doc_id", "text",
      minDate = tue).count() === 2)
    // expiry drops metastore partitions and files together
    dd.commitNearDupVerifiedDated(b2, "doc_id", "text", tue, minDate = mon)
    dd.expireNearDupVerified(tue)
    val parts = spark.sql(
      "SHOW PARTITIONS state_ttlv_test.seen_sigbands_dated")
      .collect().map(_.getString(0)).toSet
    assert(parts === Set("seen_date=2024-01-02"), parts.toString)
    // maintenance compaction folds the verified table too (the seventh
    // seen-set) and the gate reads it unchanged: b2's own Tuesday
    // sighting makes both docs historical dups
    dd.compact()
    assert(dd.novelNearDupVerifiedSince(b2, "doc_id", "text",
      minDate = tue).count() === 0)
  }

  test("incremental packing: batches == one-shot; replay-safe; monotone-guarded") {
    import graft.lake.CorpusPack
    import graft.state.StateStore
    import org.apache.spark.sql.expressions.Window
    val stateRoot = tmpDir("pack_state")
    val all = Seq(
      (1L, "en", 40L), (2L, "en", 40L), (3L, "en", 40L), (4L, "de", 90L),
      (5L, "en", 35L), (6L, "de", 20L), (7L, "en", 100L), (8L, "de", 95L)
    ).toDF("doc_id", "lang", "n_tok")
    val b1 = all.filter($"doc_id" <= 4)
    val b2 = all.filter($"doc_id" > 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"pack_id").as[(Long, Long)].collect().toMap

    val cp1 = new CorpusPack(spark, new StateStore(spark, stateRoot),
      "docs", budgetTokens = 100L)
    val a1 = ids(cp1.assign(b1, "lang", "doc_id", "n_tok", "run1"))
    // crash BEFORE commit: re-assign gives identical ids
    assert(a1 === ids(cp1.assign(b1, "lang", "doc_id", "n_tok", "run1")))
    cp1.commit(b1, "lang", "doc_id", "n_tok", "run1")
    // crash AFTER commit: replaying the same batchId still gives the
    // identical ids (the cursor keeps the pre-batch totals), and the
    // replayed commit is a no-op
    assert(a1 === ids(cp1.assign(b1, "lang", "doc_id", "n_tok", "run1")))
    cp1.commit(b1, "lang", "doc_id", "n_tok", "run1")
    assert(a1 === ids(cp1.assign(b1, "lang", "doc_id", "n_tok", "run1")))

    // a FRESH instance over the same state dir continues the cursors
    val cp2 = new CorpusPack(spark, new StateStore(spark, stateRoot),
      "docs", budgetTokens = 100L)
    val a2 = ids(cp2.assign(b2, "lang", "doc_id", "n_tok", "run2"))
    cp2.commit(b2, "lang", "doc_id", "n_tok", "run2")

    // equivalence with the one-shot q99 window over the union
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val oneShot = all.select($"doc_id",
      floor((coalesce(sum($"n_tok").over(w), lit(0L))) / lit(100L))
        .as("pack_id")).as[(Long, Long)].collect().toMap
    assert(a1 ++ a2 === oneShot)

    // the monotone-id precondition is ENFORCED: a backfill presenting
    // an already-packed id fails loudly at execution, not silently
    val err = intercept[Exception] {
      cp2.assign(b1, "lang", "doc_id", "n_tok", "run3").collect()
    }
    assert(err.getMessage != null)

    // reserved output columns are refused loudly, not silently replaced
    intercept[IllegalArgumentException] {
      cp2.assign(b1.withColumn("pack_id", lit(0L)),
        "lang", "doc_id", "n_tok", "run4")
    }
  }

}
