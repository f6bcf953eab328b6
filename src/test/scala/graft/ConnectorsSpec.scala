package graft

import scala.jdk.CollectionConverters._

import graft.connectors.{Files, Http, Jdbc}
import graft.functions.GeoOps
import graft.multimodal.Multimodal
import graft.ops._
import org.apache.spark.sql.functions._

class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc incremental/keyset query rewrite (S1-S5/§4 planner)") {
    val q = Jdbc.incrementalQuery("SELECT * FROM t", "updated_at", "2024-01-01 00:00:00")
    assert(q === "WITH q AS (SELECT * FROM t) SELECT * FROM q WHERE updated_at >= '2024-01-01 00:00:00'")
    val k = Jdbc.keysetQuery("SELECT * FROM t", "id", 100, 500)
    assert(k.contains("id > 100 AND id <= 500"))
    val reader = Jdbc.reader(spark, connectors.JdbcSource("jdbc:h2:mem:x", "SELECT 1"),
      bounds = Some(("id", 0L, 1000L, 8)))
    assert(reader != null) // option plumbing only — no live DB in the env
  }

  test("http paged top/skip stops at short page; cursor follows next (S6-S8)") {
    // fake API: 3 pages of 2, then a short page of 1
    val data = Map(
      0 -> """[{"id":1},{"id":2}]""", 1 -> """[{"id":3},{"id":4}]""",
      2 -> """[{"id":5}]""")
    var calls = 0
    val t: Http.Transport = { url =>
      calls += 1
      val skip = url.split("skip=")(1).toInt / 2
      data.getOrElse(skip, "[]")
    }
    val df = Http.readPagedTopSkip(spark, t, "http://api", pageSize = 2,
      countFn = b => b.count(_ == '{'))
    assert(df.count() === 5)
    assert(calls === 3) // short page ends the loop — no 4th probe

    val pages = Map(
      "p1" -> """{"data":[{"id":1}],"next":"p2"}""",
      "p2" -> """{"data":[{"id":2}],"next":"EOF"}""")
    var fetched = List[String]()
    val ct: Http.Transport = { u => fetched ::= u; pages(u) }
    val cdf = Http.readPagedCursor(spark, ct, "p1",
      nextFn = b => """"next":"([^"]+)"""".r.findFirstMatchIn(b)
        .map(_.group(1)).filter(_ != "EOF"))
    assert(cdf.count() === 2)
    assert(fetched.toSet === Set("p1", "p2")) // each page fetched once
  }

  test("http retry recovers from transient failures") {
    var n = 0
    val flaky: Http.Transport = { _ =>
      n += 1; if (n < 3) throw new RuntimeException("503") else "ok"
    }
    assert(Http.withRetry(flaky, attempts = 5, backoffMs = 1)("u") === "ok")
  }

  test("http single JSON payload → schema-inferred frame (S6)") {
    val t: Http.Transport = _ => """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]"""
    val df = Http.readJson(spark, t, "http://api/x")
    assert(df.columns.sorted.toSeq === Seq("id", "name"))
    assert(df.count() === 2)
  }

  test("csv append to the raw zone reads back (K1)") {
    val lake = new graft.lake.Lake(spark, tmpDir("lake"))
    val ref = graft.lake.TableRef("raw", "csvz", "t")
    lake.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), ref, format = "csv")
    val back = spark.read.csv(lake.path(ref))
    assert(back.count() === 2)
  }

  test("zip member extraction runs in-partition (S9)") {
    val dir = tmpDir("zips")
    val zipPath = s"$dir/data_20240105.zip"
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("tabela_x.csv"))
    zos.write("a,b\n1,2\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    zos.write("junk".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val out = Files.readZipMembers(spark, dir, memberLike = "tabela_x")
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("member") === "tabela_x.csv")
    assert(rows(0).getAs[String]("text") === "a,b\n1,2\n")
  }

  test("filename partition extraction (S10)") {
    val dir = tmpDir("csvs")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/rdo_20240105.csv"), "x\n1\n")
    val df = Files.readCsv(spark, dir)
    val parts = Files.withFilenamePartitions(df)
      .select($"ano", $"mes", $"dia").head()
    assert(parts.toSeq === Seq("2024", "01", "05"))
  }

  test("geojson point features → WKT (S15)") {
    val dir = tmpDir("geo")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.json"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"name":"p1"},
        | "geometry":{"type":"Point","coordinates":[-43.2,-22.9]}}]}""".stripMargin)
    val out = Files.readGeoJson(spark, dir)
    val r = out.head()
    assert(r.getAs[String]("name") === "p1")
    assert(r.getAs[String]("geometry_wkt") === "POINT (-43.2 -22.9)")
  }

  test("geo: dropZ, WKT point accessors, polygon parse, pip (U3/U4/F17)") {
    val z = Seq("POLYGON Z ((0 0 5, 10 0 5, 10 10 5, 0 0 5))").toDF("w")
      .select(GeoOps.dropZ($"w")).as[String].head()
    assert(z === "POLYGON ((0 0, 10 0, 10 10, 0 0))")
    val lon = Seq("POINT (-43.2 -22.9)").toDF("w")
      .select(GeoOps.pointLon($"w"), GeoOps.pointLat($"w"))
      .as[(Double, Double)].head()
    assert(lon === ((-43.2, -22.9)))
    val poly = GeoOps.parsePolygonWkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert(poly.length === 5)
    val pts = Seq((5.0, 5.0), (15.0, 5.0), (0.001, 9.999)).toDF("x", "y")
    val in = pts.filter(GeoOps.pointInPolygon(spark, poly)($"x", $"y"))
      .as[(Double, Double)].collect().toSet
    assert(in === Set((5.0, 5.0), (0.001, 9.999)))
  }

  test("multimodal: media schema, stub decode, frame sampling (U6/U7)") {
    val docs = Tables.load(spark, sf001, "documents").limit(10)
    val media = Multimodal.asMedia(
      docs.withColumn("bin", $"text".cast("binary")),
      "doc_id", "bin", "text/plain", "source")
    assert(media.schema === Multimodal.mediaSchema)
    val decoded = Multimodal.decodeStub(media)
    val feats = decoded.select($"features").as[Seq[Double]].collect()
    assert(feats.forall(_.length === 4))
    assert(feats.forall(_.forall(v => v > 0 && v < 256)))
    // determinism: same input → same features
    val again = Multimodal.decodeStub(media).select($"features")
      .as[Seq[Double]].collect()
    assert(feats.toSeq === again.toSeq)
    val frames = Multimodal.frameSample(media, chunkBytes = 64, stride = 2)
    assert(frames.count() > 0)
    assert(frames.select(max($"frame_idx")).head().getLong(0) % 2 === 0)

    // U7 batched inference: one model call per batch, order preserved
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val scored = Multimodal.batchInfer(
      decoded.repartition(2), "features", "score", batchSize = 3,
      model = { feats => batchSizes.add(feats.length); feats.map(_.sum) })
    val rows = scored.select($"media_id", $"features", $"score")
      .as[(Long, Seq[Double], Double)].collect()
    assert(rows.length === 10)
    rows.foreach { case (_, f, s) => assert(math.abs(s - f.sum) < 1e-12) }
    val sizes = batchSizes.value
    assert(sizes.asScala.forall(_ <= 3) && sizes.asScala.sum === 10)
  }

  test("raw-frame nearest-neighbor resize: down, up, bad dims (multimodal)") {
    import graft.multimodal.Multimodal
    // 4×4 gradient frame, values = row*4+col
    val frame = Array.tabulate[Byte](16)(i => i.toByte)
    val df = Seq((1L, frame, 4, 4)).toDF("media_id", "content", "w", "h")
    val down = Multimodal.resizeRaw(df, "w", "h", 2, 2)
      .select($"resized").as[Array[Byte]].head()
    // out(x,y) = src(x*4/2, y*4/2) → src cols/rows {0,2}
    assert(down.toSeq === Seq[Byte](0, 2, 8, 10))
    val up = Multimodal.resizeRaw(
        Seq((1L, Array[Byte](1, 2, 3, 4), 2, 2)).toDF("media_id", "content", "w", "h"),
        "w", "h", 4, 4)
      .select($"resized").as[Array[Byte]].head()
    assert(up.toSeq === Seq[Byte](1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4))
    // buffer/dims mismatch fails loudly, not with shifted pixels
    val bad = Seq((1L, frame, 5, 4)).toDF("media_id", "content", "w", "h")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.resizeRaw(bad, "w", "h", 2, 2).collect()
    }
    assert(e.getMessage.contains("expected") ||
      Option(e.getCause).exists(_.getMessage.contains("expected")))
  }

  test("real image decode: PNG bytes → exact gray pixels; corrupt → null (S22)") {
    // pure-gray values round-trip EXACTLY through the BT.601 integer
    // luma ((77+150+29)v >> 8 = v) — byte-exact oracle, no tolerance
    val vals = Array(0, 32, 64, 96, 128, 160, 192, 224)
    val grayPng = pngBytes(4, 2) { (x, y) =>
      val v = vals(y * 4 + x); (v << 16) | (v << 8) | v
    }
    val redPng = pngBytes(1, 1)((_, _) => 0xff0000) // luma (77*255)>>8 = 76
    val df = Seq(
      (1L, grayPng), (2L, redPng), (3L, "not an image".getBytes),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "content")
    val dec = Multimodal.decodeImage(df)
      .select($"media_id", $"pixels", $"img_width", $"img_height")
      .as[(Long, Array[Byte], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> r).toMap
    assert(dec(1L)._2.toSeq === vals.map(_.toByte).toSeq)
    assert(dec(1L)._3.contains(4) && dec(1L)._4.contains(2))
    assert(dec(2L)._2.toSeq === Seq(76.toByte))
    // corrupt/null payloads survive as null rows, not task failures
    assert(dec(3L)._2 == null && dec(3L)._3.isEmpty)
    assert(dec(4L)._2 == null)
    // the decompression-bomb bound rejects oversized DECLARED dims
    // before any pixel allocation — null row, not an OOM
    val bombed = Multimodal.decodeImage(
        Seq((1L, grayPng)).toDF("media_id", "content"), maxPixels = 4L)
      .select($"pixels").collect()
    assert(bombed.head.isNullAt(0))
    // an unfiltered corrupt row flows through features → NULL score
    // (not an opaque NPE inside the model batch)
    val nullScored = Multimodal.batchInfer(
      Multimodal.pixelFeatures(
        Multimodal.decodeImage(Seq((9L, "junk".getBytes))
          .toDF("media_id", "content"))
          .withColumn("resized", $"pixels")),
      "features", "score", 4, batch => batch.map(_.sum))
    assert(nullScored.select($"score").collect().head.isNullAt(0))

    // full vision path: decode → resize → features → logistic scorer
    val good = Multimodal.decodeImage(Seq((1L, grayPng)).toDF("media_id", "content"))
      .filter($"pixels".isNotNull)
    val feats = Multimodal.pixelFeatures(
      Multimodal.resizeRaw(good, "img_width", "img_height", 2, 1,
        contentCol = "pixels"))
    // resize 4×2→2×1: src(0,0)=0, src(2,0)=64; features = v/255
    val f = feats.select($"features").as[Seq[Double]].head()
    assert(f === Seq(0.0, 64.0 / 255.0))
    val model = graft.multimodal.LinearModel.parse(
      "type=logistic\nbias=0.0\nweights=1.0,1.0")
    val score = Multimodal.batchInfer(feats, "features", "score", 8,
      model.scoreBatch).select($"score").as[Double].head()
    assert(math.abs(score - 1.0 / (1.0 + math.exp(-64.0 / 255.0))) < 1e-12)
  }

  // In-memory WAV fixture via the JDK's own encoder: 16-bit PCM frames.
  private def wavBytes(samples: Seq[Short], channels: Int = 1,
                       rate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, channels, true, false)
    val raw = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw),
      fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real audio decode: WAV bytes → exact samples; mixdown; corrupt → null") {
    // 16-bit quantization is exact at these values: s / 32768.0
    val mono = wavBytes(Seq[Short](0, 16384, -16384, 32767, -32768))
    // stereo frames (L, R): mixdown = (L + R) / 2
    val stereo = wavBytes(Seq[Short](16384, -16384, 32767, 32767), channels = 2)
    val df = Seq((1L, mono), (2L, stereo), (3L, "not audio".getBytes),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "content")
    val dec = Multimodal.decodeAudio(df)
      .select($"media_id", $"samples", $"sample_rate", $"n_channels")
      .as[(Long, Seq[Double], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> r).toMap
    assert(dec(1L)._2 === Seq(0.0, 0.5, -0.5, 32767 / 32768.0, -1.0))
    assert(dec(1L)._3.contains(8000) && dec(1L)._4.contains(1))
    assert(dec(2L)._2 === Seq(0.0, 32767 / 32768.0))
    assert(dec(2L)._4.contains(2))
    assert(dec(3L)._2 == null && dec(3L)._3.isEmpty)
    assert(dec(4L)._2 == null)

    // AIFF (big-endian PCM container): same samples, same decode — the
    // endianness branch of pcmSamples is exercised by a real container
    val aiffFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val aiffRaw = Seq[Short](0, 16384, -16384).flatMap(s =>
      Seq(((s >> 8) & 0xff).toByte, (s & 0xff).toByte)).toArray
    val aiffOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(aiffRaw), aiffFmt, 3),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, aiffOut)
    val aiffDec = Multimodal.decodeAudio(
        Seq((1L, aiffOut.toByteArray)).toDF("media_id", "content"))
      .select($"samples").as[Seq[Double]].head()
    assert(aiffDec === Seq(0.0, 0.5, -0.5))

    // features: RMS / zero-crossing rate / peak / mean, then the scorer
    val feats = Multimodal.audioFeatures(
      Multimodal.decodeAudio(Seq((1L, mono)).toDF("media_id", "content"))
        .filter($"samples".isNotNull))
    val f = feats.select($"features").as[Seq[Double]].head()
    val s = Seq(0.0, 0.5, -0.5, 32767 / 32768.0, -1.0)
    assert(math.abs(f(0) - math.sqrt(s.map(x => x * x).sum / 5)) < 1e-12)
    assert(f(1) === 3.0 / 4.0) // sign flips at 0.5→-0.5, -0.5→~1, ~1→-1
    assert(f(2) === 1.0)
    assert(math.abs(f(3) - s.sum / 5) < 1e-12)
    val scored = Multimodal.batchInfer(feats, "features", "score", 4,
      batch => batch.map(_.sum))
      .select($"score").as[Double].head()
    assert(math.abs(scored - f.sum) < 1e-12)
  }

  test("vision client: request shape, fenced-label parse, per-partition client") {
    import graft.connectors.VisionClient
    val cfg = VisionClient.Config(model = "test-vision-1",
      prompt = "Is there flooding? Reply {\"flooding_detected\": bool}")
    val img = Array[Byte](1, 2, 3, 4)
    // request shape: the reference's chat-completions payload
    val body = VisionClient.requestBody(cfg, img)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(body)
    assert(root.path("model").asText === "test-vision-1")
    assert(root.path("max_tokens").asInt === 300)
    val content = root.path("messages").path(0).path("content")
    assert(root.path("messages").path(0).path("role").asText === "user")
    assert(content.path(0).path("type").asText === "text")
    assert(content.path(0).path("text").asText === cfg.prompt)
    val dataUrl = content.path(1).path("image_url").path("url").asText
    assert(dataUrl.startsWith("data:image/jpeg;base64,"))
    assert(java.util.Base64.getDecoder.decode(
      dataUrl.stripPrefix("data:image/jpeg;base64,")).toSeq === img.toSeq)

    // label parse: fenced JSON content, bare JSON, error payload, junk
    def resp(content: String) =
      s"""{"choices":[{"message":{"content":${m.writeValueAsString(
        m.getNodeFactory.textNode(content))}}}]}"""
    assert(VisionClient.parseLabel(cfg,
      resp("```json\n{\"flooding_detected\": true}\n```")).contains(true))
    assert(VisionClient.parseLabel(cfg,
      resp("{\"flooding_detected\": false}")).contains(false))
    assert(VisionClient.parseLabel(cfg,
      """{"error":{"message":"rate limit"}}""").isEmpty)
    assert(VisionClient.parseLabel(cfg, resp("no json here")).isEmpty)
    assert(VisionClient.parseLabel(cfg,
      resp("{\"flooding_detected\": \"yes\"}")).isEmpty)
    // fence variants real endpoints emit: CRLF and single-line — both
    // must parse, not silently serve NULL for every reply
    assert(VisionClient.parseLabel(cfg,
      resp("```json\r\n{\"flooding_detected\": true}\r\n```")).contains(true))
    assert(VisionClient.parseLabel(cfg,
      resp("``` {\"flooding_detected\": false} ```")).contains(false))

    // classify: attempt gate short-circuits (no call), null image → null,
    // canned transport answers by inspecting the request's image payload
    val calls = spark.sparkContext.collectionAccumulator[String]("vision_calls")
    val floodImg = "FLOOD".getBytes
    val dryImg = "DRY".getBytes
    val frames = Seq(
      (1L, floodImg, Some(true)), (2L, dryImg, Some(true)),
      (3L, floodImg, Some(false)), // gated: label false, NO api call
      (4L, null.asInstanceOf[Array[Byte]], Some(true)), // no image: null
      (5L, floodImg, None: Option[Boolean])) // UNKNOWN gate: null, no call
      .toDF("media_id", "content", "attempt")
    val canned: () => VisionClient.PostTransport = () => { body =>
      calls.add(body)
      val b64 = m.readTree(body).path("messages").path(0).path("content")
        .path(1).path("image_url").path("url").asText
        .stripPrefix("data:image/jpeg;base64,")
      val flooded = java.util.Arrays.equals(
        java.util.Base64.getDecoder.decode(b64), floodImg)
      resp(s"""```json\n{"flooding_detected": $flooded}\n```""")
    }
    val out = VisionClient.classify(frames.repartition(2), cfg, canned,
        attemptCol = Some("attempt"))
      .select($"media_id", $"label").as[(Long, Option[Boolean])]
      .collect().toMap
    assert(out(1L).contains(true) && out(2L).contains(false))
    assert(out(3L).contains(false) && out(4L).isEmpty)
    assert(out(5L).isEmpty) // null gate is unknown, NOT a confident false
    assert(calls.value.size === 2) // gated/null/unknown rows never hit the API

    // a transport failure serves NULL for that row — it must not kill
    // the task (re-POSTing the whole partition against a paid endpoint)
    val flaky: () => VisionClient.PostTransport = () => { body =>
      val b64 = m.readTree(body).path("messages").path(0).path("content")
        .path(1).path("image_url").path("url").asText
        .stripPrefix("data:image/jpeg;base64,")
      if (java.util.Arrays.equals(
          java.util.Base64.getDecoder.decode(b64), dryImg))
        throw new java.io.IOException("connection reset")
      resp("""{"flooding_detected": true}""")
    }
    val flakyOut = VisionClient.classify(
        Seq((1L, floodImg), (2L, dryImg)).toDF("media_id", "content"),
        cfg, flaky)
      .select($"media_id", $"label").as[(Long, Option[Boolean])]
      .collect().toMap
    assert(flakyOut(1L).contains(true) && flakyOut(2L).isEmpty)
  }

  test("prediction buffer: tick majority smoothing == reference semantics") {
    import graft.multimodal.PredictionBuffer
    val empty = Seq.empty[(String, Seq[Boolean])].toDF("entity", "buffer")
    def tick(state: org.apache.spark.sql.DataFrame,
             labels: Seq[(String, Option[Boolean])]) = {
      val b = labels.map { case (c, l) => (c, 1L, l) }.toDF("cam", "ts", "label")
      PredictionBuffer.advance(state, b, "cam", "ts", "label")
    }
    // tick 1: one true is NOT an alert (majority of [F,F,true] is false)
    val (s1, o1) = tick(empty, Seq(("cam1", Some(true)), ("cam2", Some(false)),
      ("cam3", None)))
    val r1 = o1.as[(String, Option[Boolean], Option[Boolean])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(r1("cam1") === ((Some(true), Some(false))))
    assert(r1("cam2") === ((Some(false), Some(false))))
    assert(r1("cam3") === ((None, None))) // failed prediction serves null
    // failed-only entities get NO state row (the reference creates no
    // Redis key; seeded rows would grow state with every flaky camera)
    assert(s1.filter($"entity" === "cam3").isEmpty)
    // tick 2: second consecutive true fires the alert (2 of [F,T,T])
    val (s2, o2) = tick(s1, Seq(("cam1", Some(true))))
    assert(o2.as[(String, Option[Boolean], Option[Boolean])].collect()
      .head === (("cam1", Some(true), Some(true))))
    // cam2 absent from the batch: buffer untouched
    assert(s2.filter($"entity" === "cam2").select($"buffer")
      .as[Seq[Boolean]].head() === Seq(false, false, false))
    // tick 3: a false does not clear the alert yet (2 of [T,T,F])
    val (s3, o3) = tick(s2, Seq(("cam1", Some(false))))
    assert(o3.as[(String, Option[Boolean], Option[Boolean])].collect()
      .head === (("cam1", Some(false), Some(true))))
    // tick 4: second false clears it (1 of [T,F,F])
    val (_, o4) = tick(s3, Seq(("cam1", Some(false))))
    assert(o4.as[(String, Option[Boolean], Option[Boolean])].collect()
      .head === (("cam1", Some(false), Some(false))))

    // equivalence: folding ticks one-by-one == the batch window form
    val history = Seq(
      ("c", 1L, Some(true)), ("c", 2L, None), ("c", 3L, Some(true)),
      ("c", 4L, Some(false)), ("c", 5L, Some(true)), ("d", 1L, Some(false)),
      ("d", 2L, Some(true)), ("d", 3L, Some(true)))
    val windowed = PredictionBuffer.smoothWindow(
        history.toDF("cam", "ts", "label"), "cam", "ts", "label")
      .select($"cam", $"ts", $"label_smoothed")
      .as[(String, Long, Option[Boolean])].collect().toSet
    val folded = history.groupBy(_._2).toSeq.sortBy(_._1)
      .foldLeft((empty, Set.empty[(String, Long, Option[Boolean])])) {
        case ((st, acc), (ts, rows)) =>
          val b = rows.toDF("cam", "ts", "label")
          val (next, served) = PredictionBuffer.advance(st, b, "cam", "ts", "label")
          val nextMat = next.cache()
          nextMat.count() // pin state before the lazy lineage is replayed
          (nextMat, acc ++ served.as[(String, Option[Boolean], Option[Boolean])]
            .collect().map(r => (r._1, ts, r._3)))
      }._2
    assert(folded === windowed)
  }

  test("linear/logistic scorer from weights file (U7 real model)") {
    import graft.multimodal.LinearModel
    // hand-computed logistic fixture: w=(0.5, -1.0, 2.0), b=-0.5
    //   x=(1,0,0): z=0.0    → sigmoid = 0.5
    //   x=(0,1,0): z=-1.5   → 1/(1+e^1.5)
    //   x=(2,1,1): z=1.5    → 1/(1+e^-1.5)
    val dir = tmpDir("model")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/m.txt"),
      """# logistic head over 3 features
        |type=logistic
        |bias=-0.5
        |weights=0.5,-1.0,2.0
        |""".stripMargin)
    val df = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(2.0, 1.0, 1.0))).toDF("media_id", "features")
    val scored = LinearModel.inferFromFile(df.repartition(2),
        "features", "score", batchSize = 2, s"$dir/m.txt")
      .select($"media_id", $"score").as[(Long, Double)].collect().toMap
    assert(math.abs(scored(1L) - 0.5) < 1e-12)
    assert(math.abs(scored(2L) - 1.0 / (1.0 + math.exp(1.5))) < 1e-12)
    assert(math.abs(scored(3L) - 1.0 / (1.0 + math.exp(-1.5))) < 1e-12)
    // linear type: raw dot product + bias; absent type defaults to linear
    val lin = LinearModel.parse("type=linear\nbias=1.0\nweights=2.0,3.0")
    assert(lin.score(Seq(2.0, -1.0)) === 1.0 + 4.0 - 3.0)
    assert(!LinearModel.parse("bias=1.0\nweights=2.0").logistic)
    // a typo'd type must not silently pick a link function
    intercept[IllegalArgumentException] {
      LinearModel.parse("type=Logistic\nweights=1.0")
    }
    // dim mismatch is an error, not a silent wrong score
    intercept[IllegalArgumentException] { lin.score(Seq(1.0)) }
  }

  test("export cost gate refuses oversized scans (K8)") {
    val li = Tables.load(spark, sf001, "lineitem")
    val out = tmpDir("exp") + "/x"
    Export.gzipCsv(li.limit(10), out) // small: allowed
    assert(spark.read.option("header", true).csv(out).count() === 10)
    intercept[Export.ExportRefusedException] {
      Export.gzipCsv(li, tmpDir("exp2") + "/y", maxBytes = 10)
    }
  }

  test("kv publish + chunked alerts + sheet sink (K9/K11/K12)") {
    val kv = new InMemoryKv
    KvPublish.publish(Seq((1, "a")).toDF("id", "v"), kv, "dash")
    assert(kv.store("dash") === """[{"id":1,"v":"a"}]""")
    val al = new BufferAlerter
    Alerts.sendChunked(al, "x" * 4500)
    assert(al.sent.map(_.length).toSeq === Seq(2000, 2000, 500))
    val sheet = new InMemorySheet
    SheetPublish.publish(Seq((1, "a"), (2, null)).toDF("id", "v"), sheet)
    assert(sheet.header === Seq("id", "v"))
    assert(sheet.rows === Seq(Seq("1", "a"), Seq("2", "")))
  }

  test("WARC source: streamed records, multi-member gzip, crawl-to-corpus head") {
    import graft.connectors.Warc
    // INDEPENDENT fixture writer (the Hdf5/AviMjpeg convention): WARC
    // records assembled byte-by-byte from the ISO 28500 layout the
    // reader is checked against
    def rec(warcType: String, uri: String, body: Array[Byte]): Array[Byte] = {
      val h = new StringBuilder
      h.append("WARC/1.0\r\n")
      h.append(s"WARC-Type: $warcType\r\n")
      if (uri.nonEmpty) h.append(s"WARC-Target-URI: <$uri>\r\n")
      h.append("WARC-Date: 2024-03-01T00:00:00Z\r\n")
      h.append("Content-Type: application/http; msgtype=response\r\n")
      h.append(s"Content-Length: ${body.length}\r\n\r\n")
      h.toString.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
    }
    def http(html: String): Array[Byte] =
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
        .getBytes("UTF-8")
    val page1 = "<html><body><p>The history of the city begins at " +
      "the river.</p><div><a href='/'>Home</a> <a href='/a'>About</a>" +
      "</div></body></html>"
    val page2 = "<html><body><p>A study of the growth of a region " +
      "over time.</p></body></html>"
    val warcBytes =
      rec("warcinfo", "", "software: test\r\n".getBytes("UTF-8")) ++
      rec("request", "http://x.org/1",
        "GET /1 HTTP/1.1\r\n".getBytes("UTF-8")) ++
      rec("response", "http://x.org/1", http(page1)) ++
      rec("response", "http://x.org/2", http(page2))
    val dir = tmpDir("warc")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "a.warc"), warcBytes)
    // CommonCrawl layout: each record its OWN gzip member, concatenated
    val gz = new java.io.ByteArrayOutputStream()
    Seq(rec("response", "http://y.org/3", http(page2)),
        rec("response", "http://y.org/4", http(page1))).foreach { r =>
      val g = new java.util.zip.GZIPOutputStream(gz)
      g.write(r); g.finish()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "b.warc.gz"), gz.toByteArray)

    // record-level read: all records, types and uris parsed, bodies exact
    val all = Warc.read(spark, Seq(dir))
      .select($"warc_type", $"url", $"body").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2)))
    assert(all.length === 6)
    assert(all.count(_._1 == "response") === 4)
    val r1 = all.find(r => r._1 == "response" && r._2 == "http://x.org/1").get
    assert(new String(Warc.httpBody(r1._3), "UTF-8") === page1)
    // truncated tail: complete records survive, no throw
    val truncated = java.util.Arrays.copyOfRange(
      warcBytes, 0, warcBytes.length - 60)
    val n = Warc.records(new java.io.ByteArrayInputStream(truncated)).size
    assert(n === 3, s"expected the 3 complete records, got $n")
    // a runaway record SKIPS (its length is known) — one pathological
    // page must not drop the segment's remaining records
    val withBig = rec("response", "http://x.org/big", http("A" * 500)) ++
      rec("response", "http://x.org/after", http(page2))
    val kept2 = Warc.records(
      new java.io.ByteArrayInputStream(withBig), bodyMaxBytes = 200).toSeq
    assert(kept2.map(_.targetUri) === Seq("http://x.org/after"), kept2.map(_.targetUri))
    // review finding, pinned: a gzip member truncated MID-STREAM throws
    // from GZIPInputStream (not a -1 read) — the iterator must map it
    // to end-of-iteration, yielding the complete earlier records
    val gzBytes = gz.toByteArray
    val gzTrunc = java.util.Arrays.copyOfRange(gzBytes, 0, gzBytes.length - 20)
    val gzKept = Warc.records(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gzTrunc))).toSeq
    assert(gzKept.map(_.targetUri) === Seq("http://y.org/3"),
      s"truncated gzip must yield the complete first record: ${gzKept.map(_.targetUri)}")
    // crawl-to-corpus head: responses only, HTTP envelope stripped
    // natively (value-matching httpBody), nav boilerplate filtered
    val docs = Warc.htmlDocuments(spark, Seq(dir))
      .orderBy($"url").collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(docs.map(_._1).toSeq === Seq("http://x.org/1", "http://x.org/2",
      "http://y.org/3", "http://y.org/4"))
    assert(docs.head._2 === "The history of the city begins at the river.")
    assert(!docs.exists(_._2.contains("Home")), "nav line must filter out")
  }

  test("policy matrix flatten + EE asset registration request shapes") {
    // utils/policy_matrix: nested IAM bindings -> (project_id, type,
    // email, role) rows, the reference's exact columns and order
    val policies = Seq(
      ("proj-a", Seq(
        ("roles/owner", Seq("user:alice@x.org", "serviceAccount:sa@x.iam")),
        ("roles/viewer", Seq("user:alice@x.org")))),
      ("proj-b", Seq(
        ("roles/editor", Seq("group:eng@x.org"))))
    ).toDF("project_id", "bindings")
      .select($"project_id", $"bindings".cast(
        "array<struct<role:string,members:array<string>>>").as("bindings"))
    val rows = graft.ops.PolicyMatrix.rolesMatrix(policies)
    assert(rows.columns.toSeq === Seq("project_id", "type", "email", "role"))
    val got = rows.as[(String, String, String, String)].collect().toSet
    assert(got === Set(
      ("proj-a", "user", "alice@x.org", "roles/owner"),
      ("proj-a", "serviceAccount", "sa@x.iam", "roles/owner"),
      ("proj-a", "user", "alice@x.org", "roles/viewer"),
      ("proj-b", "group", "eng@x.org", "roles/editor")))
    assert(graft.ops.PolicyMatrix.getIamPolicyRequest()
      === """{"options": {"requestedPolicyVersion": 1}}""")
    // utils/dump_earth_engine_asset: the startTableIngestion params
    val params = graft.ops.EarthEngine.tableIngestionParams(
      "projects/p/assets/t", "gs://bucket/f.csv")
    assert(params === """{"name": "projects/p/assets/t", """ +
      """"sources": [{"primaryPath": "gs://bucket/f.csv", "charset": "UTF-8"}]}""")
    intercept[IllegalArgumentException] {
      graft.ops.EarthEngine.tableIngestionParams("bad/path", "gs://b/f")
    }
    intercept[IllegalArgumentException] {
      graft.ops.EarthEngine.tableIngestionParams("users/u/a", "/local/f")
    }
  }

  test("url download to landing zone then spark.read (S11)") {
    val t: Http.Transport = _ => "id,v\n1,a\n2,b\n"
    val dest = Http.downloadToLanding(t, "http://files/x.csv",
      tmpDir("landing") + "/dl/x.csv")
    val df = spark.read.option("header", true).csv(dest)
    assert(df.count() === 2 && df.columns.toSeq === Seq("id", "v"))
  }

  test("incremental planner: state → CTE rewrite → pushed-down predicate (§4)") {
    import java.time.LocalDate
    import graft.connectors.IncrementalPlanner
    val today = LocalDate.parse("2024-03-15")

    // no partition column / no prior state → query unchanged (first load)
    assert(IncrementalPlanner.plan("SELECT * FROM t", None, None,
      today = today).sql === "SELECT * FROM t")
    assert(IncrementalPlanner.plan("SELECT * FROM t", Some("d"), None,
      today = today).sql === "SELECT * FROM t")

    // bounded rewrite, standard dialect
    val p = IncrementalPlanner.plan("SELECT * FROM t", Some("d"),
      Some("2024-02-01"), today = today)
    assert(p.sql ===
      "WITH q AS (SELECT * FROM t) SELECT * FROM q WHERE d >= '2024-02-01'")
    assert(p.isIncremental)

    // oracle dialect renders TO_DATE with the translated format
    assert(IncrementalPlanner.rewrite("SELECT * FROM t", "d", "2024-02-01",
      dialect = "oracle") ===
      "WITH q AS (SELECT * FROM t) SELECT * FROM q WHERE d >= TO_DATE('2024-02-01', 'YYYY-MM-DD')")
    // every %-token translates; unknown ones fail at plan time, not ORA-01821
    assert(IncrementalPlanner.oracleFormat("%Y%m%d %H:%M:%S") === "YYYYMMDD HH24:MI:SS")
    intercept[IllegalArgumentException](IncrementalPlanner.oracleFormat("%q"))

    // symbolic lower bounds resolve against the injected today, and the
    // effective bound is min(lower, last_partition)
    assert(IncrementalPlanner.resolveLowerBound("current_year", today) === "2024-01-01")
    assert(IncrementalPlanner.resolveLowerBound("current_month", today) === "2024-03-01")
    assert(IncrementalPlanner.resolveLowerBound("current_day", today) === "2024-03-15")
    assert(IncrementalPlanner.effectiveLastDate("2024-02-01",
      Some("current_year"), today) === "2024-01-01") // floor widens window
    assert(IncrementalPlanner.effectiveLastDate("2024-02-01",
      Some("current_month"), today) === "2024-02-01") // floor later → keep last

    // full composition: StateStore watermark lands inside the reader's
    // dbtable subquery (= the predicate executes in the source DBMS)
    val st = new graft.state.StateStore(spark, tmpDir("state"))
    st.setLastRun("db.t", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val (plan2, _) = IncrementalPlanner.planFromState(spark,
      connectors.JdbcSource("jdbc:h2:mem:x", "SELECT * FROM t"), st, "db.t",
      "d", today = today)
    assert(plan2.sql.contains("WHERE d >= '2024-02-01'"))

    // lake-side: the same bound is pushed into the parquet scan
    val df = IncrementalPlanner.incrementalFilter(
      Tables.load(spark, sf001, "orders"), "o_orderdate", "1997-01-01")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("sheets read: worksheet selection, header promotion, accent-normalized names (S12)") {
    import graft.connectors.GSuite
    val url = "https://docs.google.com/spreadsheets/d/1AbC_xyz/edit#gid=0"
    assert(GSuite.spreadsheetId(url) === "1AbC_xyz")
    intercept[IllegalArgumentException](GSuite.spreadsheetId("https://evil.example/d/x"))

    // fake transport: assert worksheet/range address in the URL, serve a
    // grid whose header has accents, spaces, slashes and a numeric lead
    var requested = ""
    val t: Http.Transport = { u =>
      requested = u
      "Data Medição,Preço/Unidade,3a Coluna\n2024-01-01,10,x\n2024-01-02,20,y\n"
    }
    val df = GSuite.readSheet(spark, t, url, GSuite.ByName("Plan 1"),
      range = Some("A1:C3"))
    assert(requested.contains("1AbC_xyz/gviz/tq?tqx=out:csv&sheet=Plan+1&range=A1:C3"))
    assert(df.columns.toSeq === Seq("data_medicao", "preco_unidade", "_3a_coluna"))
    assert(df.count() === 2)

    // gid addressing
    GSuite.readSheet(spark, t, url, GSuite.ByGid(0))
    assert(requested.contains("gid=0") && !requested.contains("range="))

    // quoted multi-line cells survive (gviz CSV keeps literal newlines)
    val tml: Http.Transport = _ => "id,note\n1,\"line1\nline2\"\n2,plain\n"
    val mdf = GSuite.readSheet(spark, tml, url, GSuite.ByGid(0))
    assert(mdf.count() === 2)
    assert(mdf.filter($"id" === "1").head().getAs[String]("note") === "line1\nline2")

    // cell whitespace is DATA (spark.read parity — univocity's default
    // trimming is off) and \r\n line endings are detected, not leaked
    // into the last cell
    val tws: Http.Transport = _ => "id,v\r\n1, a \r\n2,b\r\n"
    val wdf = GSuite.readSheet(spark, tws, url, GSuite.ByGid(0))
    assert(wdf.filter($"id" === "1").head().getAs[String]("v") === " a ")
    assert(wdf.filter($"id" === "2").head().getAs[String]("v") === "b")

    // '#'-leading cells are DATA, not comments (univocity default would
    // drop the whole row); quoted-empty cells stay "" not null
    val tpd: Http.Transport = _ => "id,v\n#REF!,x\n2,\"\"\n"
    val pdf = GSuite.readSheet(spark, tpd, url, GSuite.ByGid(0))
    assert(pdf.count() === 2)
    assert(pdf.filter($"v" === "x").head().getAs[String]("id") === "#REF!")
    assert(pdf.filter($"id" === "2").head().getAs[String]("v") === "")
  }

  test("drive download: file-id extraction + chunked ranged fetch (S13)") {
    import graft.connectors.GSuite
    val url = "https://drive.google.com/file/d/FILE123/view?usp=sharing"
    assert(GSuite.driveFileId(url) === "FILE123")
    intercept[IllegalArgumentException](GSuite.driveFileId("https://drive.google.com/open?id=x"))

    // fake ranged transport over a 10_000-byte payload, 4 KiB chunks →
    // 3 requests, last one short; bytes must reassemble exactly
    val payload = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    var calls = List[(Long, Int)]()
    val t: GSuite.RangeTransport = { (u, start, max) =>
      assert(u.contains("FILE123") && u.contains("alt=media"))
      calls ::= (start, max)
      payload.slice(start.toInt, math.min(start + max, payload.length).toInt)
    }
    val dest = tmpDir("drive") + "/dl/file.bin"
    GSuite.downloadDriveFile(t, url, dest, chunkSize = 4096)
    assert(calls.reverse.map(_._1) === List(0L, 4096L, 8192L))
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dest)).toSeq === payload.toSeq)
  }

  test("twitter capture: since-id pages, json_normalize flatten, last-id (S20)") {
    import graft.connectors.{Twitter, TwitterQuery}
    val page1 =
      """{"statuses":[
        |  {"id":103,"text":"t3","user":{"id":7,"screen_name":"ana","entities":{"url":{"urls":["u"]}}},
        |   "entities":{"hashtags":["crf"],"user_mentions":[]},"retweet_count":2},
        |  {"id":102,"text":"t2","user":{"id":8,"screen_name":"bob","entities":{"url":{"urls":[]}}},
        |   "entities":{"hashtags":[],"user_mentions":["x"]},"retweet_count":0}],
        | "search_metadata":{"next_results":"?max_id=101&q=flamengo&count=100"}}""".stripMargin
    val page2 =
      """{"statuses":[
        |  {"id":101,"text":"t1","user":{"id":9,"screen_name":"cleo","entities":{"url":{"urls":[]}}},
        |   "entities":{"hashtags":["crf"],"user_mentions":[]},"retweet_count":5}],
        | "search_metadata":{"count":100}}""".stripMargin
    var urls = List[String]()
    val t: Http.Transport = { u =>
      urls ::= u
      if (u.contains("max_id=101")) page2 else page1
    }
    val df = Twitter.capture(spark, t, TwitterQuery("flamengo rj"), sinceId = 100L)
    assert(urls.reverse.head.contains("q=flamengo+rj") &&
      urls.reverse.head.contains("since_id=100")) // watermark in the request
    assert(urls.size === 2)                       // cursor followed, then EOF
    assert(df.count() === 3)
    // json_normalize flatten: nested names concatenated, no separator
    val cols = df.columns.toSet
    assert(Set("id", "text", "userid", "userscreen_name",
      "userentitiesurlurls", "entitieshashtags", "retweet_count")
      .subsetOf(cols), cols.toSeq.sorted.mkString(","))
    // arrays survive as arrays
    assert(df.filter($"id" === 103).select(size($"entitieshashtags"))
      .head().getInt(0) === 1)
    // next run's watermark = max captured id
    assert(Twitter.newLastId(df) === Some(103L))
    assert(Twitter.stateKey("flamengo rj") === "twitter/flamengo_rj")

    // the routine no-new-tweets case: empty statuses array → empty frame,
    // no watermark advance, no crash
    val empty: Http.Transport =
      _ => """{"statuses":[],"search_metadata":{"count":100}}"""
    val edf = Twitter.capture(spark, empty, TwitterQuery("flamengo rj"), 103L)
    assert(edf.isEmpty)
    assert(Twitter.newLastId(edf) === None)
  }

  test("AVI/MJPEG: frames extract, sample, and decode through ImageIO (S22)") {
    import graft.multimodal.AviMjpeg
    val vals = Seq(30, 120, 210)
    val jpegs = vals.map(jpegGray(8, _))
    val avi = aviBytes(jpegs, 8, 8)

    // container facts + every frame payload byte-identical to input
    val Some((info, fs)) = AviMjpeg.parse(avi)
    assert(info.width === 8 && info.height === 8)
    assert(info.handler === "MJPG" && info.streamIndex === 0)
    assert(info.declaredFrames === 3 && fs.size === 3)
    assert(fs.zip(jpegs).forall { case (a, b) => a.sameElements(b) })

    // DataFrame path: sample → decode → per-frame gray means near the
    // encoded values (solid-gray JPEG is near-lossless)
    val df = Seq((7L, avi)).toDF("media_id", "content")
    val frames = AviMjpeg.extractFrames(df)
    val dec = Multimodal.decodeImage(frames, contentCol = "frame")
      .select($"frame_idx", $"pixels", $"img_width", $"img_height")
      .as[(Long, Array[Byte], Int, Int)].collect().sortBy(_._1)
    assert(dec.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(dec.forall(r => r._3 == 8 && r._4 == 8))
    dec.zip(vals).foreach { case ((_, px, _, _), v) =>
      val mean = px.map(_ & 0xff).sum.toDouble / px.length
      assert(math.abs(mean - v) < 3.0, s"frame mean $mean vs $v")
    }

    // stride/maxFrames sampling happens BEFORE any decode
    val sampled = AviMjpeg.extractFrames(df, stride = 2)
      .select($"frame_idx").as[Long].collect().sorted
    assert(sampled.toSeq === Seq(0L, 2L))
    val capped = AviMjpeg.extractFrames(df, maxFrames = 1)
      .select($"frame_idx").as[Long].collect()
    assert(capped.toSeq === Seq(0L))
    // ...and BEFORE any copy: the selection runs inside the container
    // walk, which still counts every frame present
    val Some((_, n, sel)) = AviMjpeg.parseSelected(avi, 2, Int.MaxValue)
    assert(n === 3 && sel.map(_._1) === Vector(0L, 2L))
    assert(sel.map(_._2).zip(Seq(jpegs(0), jpegs(2)))
      .forall { case (a, b) => a.sameElements(b) })
  }

  test("AVI/MJPEG: real-muxer layouts, torn files, hostile sizes") {
    import graft.multimodal.AviMjpeg
    val jpegs = Seq(40, 160).map(jpegGray(4, _))

    // audio-first + interleaved '00wb' audio + 'rec ' wrapping: the
    // video stream is index 1, audio chunks must not surface as frames
    val muxed = aviBytes(jpegs, 4, 4, audioFirst = true, recWrap = true)
    val Some((mInfo, mFrames)) = AviMjpeg.parse(muxed)
    assert(mInfo.streamIndex === 1 && mFrames.size === 2)
    assert(mFrames.zip(jpegs).forall { case (a, b) => a.sameElements(b) })

    // torn upload: cut mid-way through the LAST frame chunk — the
    // frames before the cut are salvaged, nothing throws
    val torn = aviBytes(jpegs, 4, 4).dropRight(jpegs.last.length / 2 + 4)
    val Some((_, salvaged)) = AviMjpeg.parse(torn)
    assert(salvaged.size === 1)
    assert(salvaged.head.sameElements(jpegs.head))

    // hostile chunk size: patch the LAST '00dc' size field in place to
    // Int.MaxValue — the walk must stop cleanly (no multi-GB slice, no
    // Long wrap), keeping the frames before it
    val hostile = {
      val evil = aviBytes(jpegs, 4, 4).clone()
      // the file ends with the last frame chunk: header is at
      // end − (8 + payload + pad)
      val len2 = jpegs.last.length
      val at = evil.length - (8 + len2 + (len2 & 1))
      assert(new String(evil, at, 4, "US-ASCII") === "00dc")
      java.nio.ByteBuffer.wrap(evil, at + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue)
      evil
    }
    assert(AviMjpeg.parse(hostile).map(_._2.size) === Some(1))

    // non-MJPEG video (H.264-style fourcc) is REFUSED, not fake-decoded;
    // garbage bytes and null refuse too — all as countable null rows
    val h264 = aviBytes(jpegs, 4, 4, handler = "H264")
    assert(AviMjpeg.parse(h264).isEmpty)
    val rows = AviMjpeg.extractFrames(Seq(
        (1L, h264), (2L, "not an avi".getBytes),
        (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "content"))
      .select($"media_id", $"frame_idx", $"frame").collect()
    assert(rows.length === 3)
    assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(2)))

    // and the null rows flow through the standard vision chain as NULL
    // features/scores (the unified decode-failure policy)
    val chained = Multimodal.decodeImage(
      AviMjpeg.extractFrames(Seq((9L, "junk".getBytes))
        .toDF("media_id", "content")), contentCol = "frame")
    assert(chained.select($"pixels").collect().head.isNullAt(0))
  }

  test("video decoder is injectable: fake inter-frame codec, same chain (S22)") {
    import graft.multimodal.{AviMjpeg, VideoDecoder}
    // an inter-frame codec (H.264-shaped) decodes through an injected
    // VideoDecoder — the prod ffmpeg plug-point — and everything
    // downstream (sampling semantics, schema, decodeImage, failure
    // policy) is the same plumbing the MJPEG default uses
    val clip = FakeInterFrameVideo.container(5)
    val df = Seq((1L, clip)).toDF("media_id", "content")
    val frames = VideoDecoder.extractFrames(df, FakeInterFrameVideo,
      stride = 2, maxFrames = 2)
    val dec = Multimodal.decodeImage(frames, contentCol = "frame")
      .select($"frame_idx", $"vid_frames", $"pixels")
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._1)
    // stride counts ORIGINAL clip positions; vid_frames counts frames
    // PRESENT, not frames selected
    assert(dec.map(_._1).toSeq === Seq(0L, 2L))
    assert(dec.forall(_._2 === 5))
    dec.foreach { case (i, _, px) =>
      val mean = px.map(_ & 0xff).sum.toDouble / px.length
      assert(math.abs(mean - (40 + 40 * i)) < 3.0, s"frame $i mean $mean")
    }
    // scope stays explicit per decoder: the MJPEG default refuses the
    // fake container, the fake decoder refuses a real AVI — both as the
    // countable null row, never a wrong decode
    assert(AviMjpeg.extractFrames(df)
      .select($"frame_idx").collect().head.isNullAt(0))
    val avi = aviBytes(Seq(jpegGray(4, 90)), 4, 4)
    assert(VideoDecoder.extractFrames(
        Seq((2L, avi)).toDF("media_id", "content"), FakeInterFrameVideo)
      .select($"frame_idx").collect().head.isNullAt(0))
  }

  test("stage metrics listener captures query stages (K13)") {
    val m = JobMeter.measure(spark) {
      Tables.load(spark, sf001, "orders").groupBy($"o_orderstatus").count().collect()
    }
    val rows = m.report(spark).collect()
    assert(rows.head.schema.fieldNames.toSeq === Seq("stage_id", "name",
      "n_tasks", "run_ms", "input_bytes", "shuffle_read", "shuffle_write"))
    // one row per completed stage: the map side writes the shuffle the
    // result side reads, and the rows add up to the task-end total
    assert(rows.map(_.getInt(0)).toSeq === m.stages.map(_.id).distinct)
    assert(rows.exists(_.getLong(6) > 0) && rows.exists(_.getLong(5) > 0))
    assert(rows.map(_.getLong(6)).sum === m.shuffleWriteBytes)
  }

  test("job meter: each job of the body's threads counted once, none of its own") {
    val sc = spark.sparkContext
    def job(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(1 to 8, 2).count() finally sc.setJobDescription(null)
    }
    val m = JobMeter.measure(spark) { // a second thread, as Capture.landZones starts
      val side = new Thread(() => job("side"))
      side.start(); job("main"); side.join()
    }
    assert(m.jobs.map(_.properties.getProperty("spark.job.description"))
      .sorted === Seq("main", "side"))
    assert(m.jobs.forall(j => j.endMs >= j.startMs && j.startMs > 0))
    assert(m.stages.map(_.numTasks) === Seq(2, 2) && jobsDuring {}.isEmpty)
  }

  test("JobMeter is the only Spark listener in src/main and src/test") {
    val add = "addSpark" + "Listener" // split, or this line would match
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val sites = try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .flatMap(p => Seq.fill(java.nio.file.Files.readString(p).split(add, -1).length - 1)(p.toString))
    finally walk.close()
    assert(sites === Seq("src/main/scala/graft/ops/JobMeter.scala"))
  }

  test("session settings change only at the known src/main sites") {
    // a ratchet: a library call should leave the session's settings as it
    // found them, so this list may shrink but must not grow
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sites = try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
          .filter(l => "\\bconf\\.(un)?set\\(".r.findFirstIn(l).nonEmpty)
          .map(p.getFileName.toString -> _)
      }.sorted
    finally walk.close()
    assert(sites === Seq(
      "AnnIndex.scala" -> // pinBucketedScan
        """spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")""",
      "AnnIndex.scala" -> // unpinBucketedScan
        """spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")""",
      "AnnIndex.scala" -> "finally spark.conf.set(modeKey, was)", // dynamicOverwrite
      "AnnIndex.scala" -> """spark.conf.set(modeKey, "dynamic")"""
    ).sorted)
  }

  test("renames happen only at the known src/main sites") {
    // a ratchet: replacing a directory is DirSwap's decision alone, so this
    // list may shrink but must not grow
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sites = try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        (java.nio.file.Files.readString(p).split("rename\\(", -1).length - 1))
      .filter(_._2 > 0).sorted
    finally walk.close()
    assert(sites === Seq(
      "DailyIngest.scala" -> 1, // ensureVocab: temp file -> vocab file
      "DirSwap.scala" -> 4, // the one directory swap and its heal
      "DriverWrite.scala" -> 4, // staged files and dirs -> table dirs
      "RunLock.scala" -> 2)) // stale-lock claim and its restore
  }
}

/** Stand-in for a production inter-frame decoder (ffmpeg/JavaCV behind
  * [[graft.multimodal.VideoDecoder]]): "decodes" a container of magic
  * "IFRV" + frame-count byte into solid-gray JPEG frames (gray level
  * 40+40·i), honoring the trait's selection contract. Top-level so the
  * executor closure serializes the object, not the spec instance. */
private[graft] object FakeInterFrameVideo extends graft.multimodal.VideoDecoder {
  val name = "fake-interframe"

  def container(n: Int): Array[Byte] =
    "IFRV".getBytes(java.nio.charset.StandardCharsets.US_ASCII) :+ n.toByte

  private def grayJpeg(size: Int, v: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(size, size,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, size, size)
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  def decode(bytes: Array[Byte], stride: Int, maxFrames: Int)
      : Option[graft.multimodal.VideoDecoder.Clip] = {
    if (bytes == null || bytes.length != 5 ||
        new String(bytes, 0, 4, "US-ASCII") != "IFRV") None
    else {
      val n = bytes(4).toInt
      val sel = (0 until n).filter(_ % stride == 0).take(maxFrames)
      Some(graft.multimodal.VideoDecoder.Clip(n,
        sel.map(i => (i.toLong, grayJpeg(4, 40 + 40 * i))).toVector))
    }
  }
}
