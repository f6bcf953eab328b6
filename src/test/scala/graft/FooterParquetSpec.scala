package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.lake.{CaptureLog, FooterParquet, Lake, TableRef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

class FooterParquetSpec extends SparkSpec {
  import spark.implicits._

  private def footerSchema(path: String) = FooterParquet.reader(spark).load(path).schema
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

  test("Tables.load reads a TIMESTAMP(NANOS) events.ts as micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val dir = tmpDir("fp_nanos")
    val file = s"$dir/events.parquet"
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200123456789L, 2L -> 1704067200000000999L).foreach {
      case (id, ns) => w.write(groups.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()

    // the footer path infers the stock reader's nanosecond long
    assert(stockSchema(file)("ts").dataType === LongType)
    assert(footerSchema(file) === stockSchema(file))
    val events = Tables.load(spark, dir, "events")
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq ===
      Seq(1704067200123456L, 1704067200000000L))
  }
}
