package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.lake.{CaptureLog, FooterParquet, Lake, TableRef}
import graft.tools.ListingProbe.tickTree
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

class FooterParquetSpec extends SparkSpec {
  import spark.implicits._

  private def footerSchema(path: String) = FooterParquet.read(spark, path).schema
  private def stockSchema(path: String) = spark.read.parquet(path).schema

  test("driver-read schema equals Spark's: fixtures, multi-file dir, partitioned lake table") {
    Tables.names.foreach { t =>
      val p = s"$sf001/$t.parquet"
      assert(footerSchema(p) === stockSchema(p), t)
    }
    // a Spark-written multi-file dir (the shape tools.Refit writes)
    val multi = tmpDir("fp_multi") + "/orders"
    Tables.load(spark, sf001, "orders").repartition(3).write.parquet(multi)
    assert(new java.io.File(multi).listFiles.count(_.getName.endsWith(".parquet")) === 3)
    assert(footerSchema(multi) === stockSchema(multi))
    // a partitioned lake table: the capture log over two days
    val lake = new Lake(spark, tmpDir("fp_lake"))
    val log = new CaptureLog(spark, lake)
    log.append("ds", "gps", Timestamp.valueOf("2024-01-04 23:59:00"), success = true)
    log.append("ds", "gps", Timestamp.valueOf("2024-01-05 00:00:00"), success = false,
      error = Some("boom"))
    val read = log.read("ds", "gps").schema
    assert(read === stockSchema(lake.path(log.ref("ds", "gps"))))
    assert(read("data").dataType === DateType)
  }

  test("summary footers win as in Spark: _common_metadata, then _metadata") {
    val base = tmpDir("fp_summary")
    def dirOf(name: String, df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$base/$name")
      Paths.get(s"$base/$name")
    }
    def dataFile(dir: java.nio.file.Path) =
      dir.toFile.listFiles.find(_.getName.endsWith(".parquet")).get.toPath
    val t = dirOf("t", Seq((1, "a")).toDF("id", "v"))
    val meta = dataFile(dirOf("m", Seq((2L, 2.0)).toDF("k", "x")))
    val common = dataFile(dirOf("c", Seq(("b", true)).toDF("s", "flag")))
    Files.copy(meta, t.resolve("_metadata"))
    assert(footerSchema(t.toString) === stockSchema(t.toString))
    assert(footerSchema(t.toString).fieldNames.toSeq === Seq("k", "x"))
    Files.copy(common, t.resolve("_common_metadata"))
    assert(footerSchema(t.toString) === stockSchema(t.toString))
    assert(footerSchema(t.toString).fieldNames.toSeq === Seq("s", "flag"))
  }

  test("Tables.load and Lake.read resolve with no Spark job") {
    assert(jobsDuring(Tables.names.foreach(Tables.load(spark, sf001, _))).isEmpty)
    val lake = new Lake(spark, tmpDir("fp_jobs"))
    val ref = TableRef("staging", "ds", "t")
    lake.append(Seq((1, "a"), (2, "b")).toDF("id", "part"), ref, partitionBy = Seq("part"))
    assert(jobsDuring(lake.read(ref)).isEmpty)
  }

  test("past Spark's 32-subdir listing threshold a lake read still runs no job") {
    val lake = new Lake(spark, tmpDir("fp_threshold"))
    val ticks = TableRef("staging", "ds", "ticks") // 40 tick= dirs under one hora=
    tickTree(spark, lake.path(ticks), days = 1, hours = 1, minutes = 40)
    val days = TableRef("prod", "ds", "days") // 40 data= dirs
    tickTree(spark, lake.path(days), days = 40, hours = 1, minutes = 1)
    Seq(ticks, days).foreach { ref =>
      var read: DataFrame = null
      assert(jobsDuring { read = lake.read(ref) }.isEmpty, ref)
      assert(read.inputFiles.length === 40, ref)
      assert(read.count() === 40, ref)
    }
  }

  test("a source-day of minute captures (1,440 tick dirs) reads with no listing job") {
    val lake = new Lake(spark, tmpDir("fp_day"))
    val ref = TableRef("staging", "ds", "ticks")
    tickTree(spark, lake.path(ref), days = 1)
    var read: DataFrame = null
    assert(jobsDuring { read = lake.read(ref) }.isEmpty)
    assert(read.inputFiles.length === 1440)
  }

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.get

  test("the driver-listed read equals spark.read.parquet on every lake layout") {
    val base = tmpDir("fp_layouts")
    val flat = s"$base/flat"
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(flat)
    Seq((3, "c")).toDF("id", "v").write.mode("append").parquet(flat)
    val lake = new Lake(spark, s"$base/lake")
    val dated = TableRef("prod", "ds", "dated")
    Seq("2024-01-04", "2024-01-05").foreach(d =>
      lake.append(Seq((1, d), (2, d)).toDF("id", "data"), dated, partitionBy = Seq("data")))
    val ticks = s"$base/ticks" // data/hora/tick, `hora=00` among the hours
    tickTree(spark, ticks, days = 2, hours = 2, minutes = 3)
    // parquet files where crashed writes leave them, plus `_SUCCESS` and
    // `.crc` files: none of them is data
    val hidden = s"$base/hidden"
    tickTree(spark, hidden, days = 1, hours = 1, minutes = 2)
    val part = Files.list(Paths.get(hidden, "data=2024-01-01", "hora=00")).findFirst().get
      .resolve("part-00000.parquet")
    Seq(".graft-staging-x/data=2024-01-09/hora=00/tick=1", ".spark-staging-x/data=2024-01-09",
      "_temporary/0/task", "data=2024-01-01/hora=00/_temporary/0").foreach { d =>
      Files.createDirectories(Paths.get(hidden, d))
      Files.copy(part, Paths.get(hidden, d, "part-00009.parquet"))
    }
    Files.createFile(Paths.get(hidden, "_SUCCESS"))
    Files.write(part.resolveSibling(".part-00007.parquet.crc"), Array[Byte](1, 2, 3))
    Seq(flat, lake.path(dated), ticks, hidden).foreach { p =>
      val (mine, stock) = (FooterParquet.read(spark, p), spark.read.parquet(p))
      assert(mine.schema === stock.schema, p)
      assert(relation(mine).partitionSchema === relation(stock).partitionSchema, p)
      assert(mine.inputFiles.sorted.toSeq === stock.inputFiles.sorted.toSeq, p)
      assert(mine.collect().map(_.toString).sorted.toSeq ===
        stock.collect().map(_.toString).sorted.toSeq, p)
    }
    assert(FooterParquet.read(spark, hidden).inputFiles.length === 2)
    assert(FooterParquet.read(spark, ticks).select("hora").distinct().count() === 2)
  }

  test("a missing path or a dir with no data file fails as spark.read.parquet does") {
    val base = tmpDir("fp_errors")
    def condition(read: => DataFrame): String = intercept[AnalysisException](read).getCondition
    val missing = s"$base/missing"
    assert(condition(FooterParquet.read(spark, missing)) === "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) === "PATH_NOT_FOUND")
    Files.createDirectories(Paths.get(base, "empty", "data=2024-01-01"))
    Files.createFile(Paths.get(base, "empty", "_SUCCESS"))
    val empty = s"$base/empty"
    assert(condition(FooterParquet.read(spark, empty)) === "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) === "UNABLE_TO_INFER_SCHEMA")
  }

  test("refreshByPath re-lists a cached driver-listed read") {
    val lake = new Lake(spark, tmpDir("fp_refresh"))
    val ref = TableRef("staging", "ds", "t")
    lake.append(Seq((1, "a")).toDF("id", "part"), ref, partitionBy = Seq("part"))
    val cached = lake.read(ref).cache()
    try {
      assert(cached.count() === 1)
      // another writer's append: a file copied in, no Spark write to refresh the cache
      val a = Paths.get(lake.path(ref), "part=a")
      val file = Files.list(a).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.createDirectories(a.resolveSibling("part=b"))
      Files.copy(file, a.resolveSibling("part=b").resolve(file.getFileName))
      assert(cached.count() === 1)
      spark.catalog.refreshByPath(lake.path(ref))
      assert(cached.orderBy("part").as[(Int, String)].collect().toSeq === Seq((1, "a"), (1, "b")))
    } finally cached.unpersist()
  }

  test("mergeSchema, as an option or a session conf, still merges every footer") {
    val lake = new Lake(spark, tmpDir("fp_merge"))
    val ref = TableRef("staging", "ds", "t")
    lake.append(Seq((1, "a")).toDF("id", "v").withColumn("p", lit(1)), ref, Seq("p"))
    lake.append(Seq((2, 3L)).toDF("id", "w").withColumn("p", lit(2)), ref, Seq("p"))
    val p = lake.path(ref)
    // without the merge: the first data file's footer, as Spark reads it
    assert(lake.read(ref).columns.toSeq === Seq("id", "v", "p"))
    assert(lake.read(ref).schema === stockSchema(p))
    val merged = lake.read(ref, mergeSchema = true)
    assert(merged.columns.toSeq === Seq("id", "v", "w", "p"))
    assert(merged.schema === spark.read.option("mergeSchema", true).parquet(p).schema)
    assert(merged.orderBy("id").as[(Int, String, Option[Long], Int)].collect().toSeq ===
      Seq((1, "a", None, 1), (2, null, Some(3L), 2)))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try assert(lake.read(ref).columns.toSeq === Seq("id", "v", "w", "p"))
    finally spark.conf.unset(key)
  }

  /** A dir holding `events.parquet` whose `ts` is TIMESTAMP(NANOS), as
    * a writer that keeps nanoseconds stores it. */
  private def nanosEvents(): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val dir = tmpDir("fp_nanos")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200123456789L, 2L -> 1704067200000000999L).foreach {
      case (id, ns) => w.write(groups.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()
    dir
  }

  private def micros(events: org.apache.spark.sql.DataFrame): Seq[Long] = {
    assert(events.schema("ts").dataType === TimestampType)
    events.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
  }

  test("Tables.load reads a TIMESTAMP(NANOS) events.ts as micros") {
    val dir = nanosEvents()
    val file = s"$dir/events.parquet"
    // the footer path infers the stock reader's nanosecond long
    assert(stockSchema(file)("ts").dataType === LongType)
    assert(footerSchema(file) === stockSchema(file))
    assert(micros(Tables.load(spark, dir, "events")) === Seq(1704067200123456L, 1704067200000000L))
  }

  test("Tables.load leaves nanosAsLong off the session: a plain read still refuses NANOS") {
    // a fresh session, since the shared one sets the flag for every test
    val s = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = nanosEvents()
    assert(micros(Tables.load(s, dir, "events")) === Seq(1704067200123456L, 1704067200000000L))
    val e = intercept[Exception](s.read.parquet(s"$dir/events.parquet").collect())
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(s.conf.get(key, "false") === "false")
  }
}
