package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
  /** The larger fixture the committed tokenizer vocabularies train on. */
  def sf01: String = sf001.stripSuffix("sf0.001") + "sf0.01"

  /** A fresh temp dir, deleted with its contents when the JVM exits. */
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  /** Local properties of every Spark job started while `body` ran, in
    * start order. */
  def jobsDuring(body: => Unit): Seq[java.util.Properties] =
    metered(body).jobs.map(_.properties)

  /** What the jobs `body` started did ([[graft.ops.JobMeter]]). */
  def metered(body: => Unit): SparkSpec.Metered = graft.ops.JobMeter.measure(spark)(body)

  /** In-memory PNG fixture: TYPE_INT_RGB grid from an (x, y) → rgb fn. */
  def pngBytes(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    out.toByteArray
  }

  /** Solid-gray square PNG (the camera-frame fixture). */
  def grayPng(size: Int, v: Int): Array[Byte] =
    pngBytes(size, size)((_, _) => (v << 16) | (v << 8) | v)

  // ---- Motion-JPEG AVI fixtures: an INDEPENDENT writer (public AVI
  // RIFF layout) the reader is checked against — the Shapefile/Hdf5
  // byte-assembled-fixture precedent. JPEG frames via the JDK encoder.

  // TYPE_INT_RGB with r=g=b, NOT TYPE_BYTE_GRAY: gray rasters are
  // linear-light, and the RGB conversion inside the JPEG writer would
  // sRGB-brighten them (30 → ~96) — the classic Java gray trap
  def jpegGray(size: Int, v: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(size, size,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until size; x <- 0 until size)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    out.toByteArray
  }

  /** Assemble an AVI: optional leading audio stream (so the video
    * stream index is nonzero), optional 'rec ' wrapping and interleaved
    * audio chunks — the layouts real muxers emit. */
  def aviBytes(frames: Seq[Array[Byte]], w: Int, h: Int,
                       handler: String = "MJPG",
                       audioFirst: Boolean = false,
                       recWrap: Boolean = false): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer =
      ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val b = le(8 + body.length + (body.length & 1))
      b.put(cc.getBytes("US-ASCII")); b.putInt(body.length); b.put(body)
      b.array()
    }
    def list(listType: String, parts: Seq[Array[Byte]]): Array[Byte] = {
      val body = parts.flatten.toArray
      val b = le(12 + body.length)
      b.put("LIST".getBytes("US-ASCII")); b.putInt(4 + body.length)
      b.put(listType.getBytes("US-ASCII")); b.put(body)
      b.array()
    }
    val nStreams = if (audioFirst) 2 else 1
    val avih = {
      val b = le(56)
      b.putInt(100000); b.putInt(0); b.putInt(0); b.putInt(0)
      b.putInt(frames.length) // dwTotalFrames
      b.putInt(0); b.putInt(nStreams); b.putInt(0)
      b.putInt(w); b.putInt(h); b.putInt(0); b.putInt(0); b.putInt(0); b.putInt(0)
      b.array()
    }
    def strh(fccType: String, fcc: String): Array[Byte] = {
      val b = le(56)
      b.put(fccType.getBytes("US-ASCII")); b.put(fcc.getBytes("US-ASCII"))
      b.putInt(0); b.putInt(0); b.putInt(0)
      b.putInt(1); b.putInt(10) // scale/rate = 10 fps
      b.putInt(0); b.putInt(frames.length); b.putInt(0); b.putInt(-1); b.putInt(0)
      b.putShort(0); b.putShort(0); b.putShort(w.toShort); b.putShort(h.toShort)
      b.array()
    }
    val strfVid = { // BITMAPINFOHEADER
      val b = le(40)
      b.putInt(40); b.putInt(w); b.putInt(h)
      b.putShort(1); b.putShort(24)
      b.put("MJPG".getBytes("US-ASCII"))
      b.putInt(w * h * 3); b.putInt(0); b.putInt(0); b.putInt(0); b.putInt(0)
      b.array()
    }
    val strfAud = le(16).array() // minimal WAVEFORMAT placeholder
    val strlVid = list("strl", Seq(chunk("strh", strh("vids", handler)),
      chunk("strf", strfVid)))
    val strlAud = list("strl", Seq(chunk("strh", strh("auds", "\u0000\u0000\u0000\u0000")),
      chunk("strf", strfAud)))
    val hdrl = list("hdrl", Seq(chunk("avih", avih)) ++
      (if (audioFirst) Seq(strlAud, strlVid) else Seq(strlVid)))
    val vidCc = if (audioFirst) "01dc" else "00dc"
    val audCc = "00wb"
    val moviParts = frames.flatMap { f =>
      val fc = chunk(vidCc, f)
      val wrapped = if (recWrap) list("rec ", Seq(fc)) else fc
      if (audioFirst) Seq(chunk(audCc, Array[Byte](1, 2, 3)), wrapped)
      else Seq(wrapped)
    }
    val movi = list("movi", moviParts)
    val body = hdrl ++ movi
    val out = le(12 + body.length)
    out.put("RIFF".getBytes("US-ASCII")); out.putInt(4 + body.length)
    out.put("AVI ".getBytes("US-ASCII")); out.put(body)
    out.array()
  }

}

object SparkSpec {
  type Metered = graft.ops.JobMeter.Metered

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(d)
    d.toString
  }

  lazy val session: SparkSession = {
    val s = SparkEntry.localSession("graft-tests", 4)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}
