package graft.lake

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one replace-a-directory protocol, for the lake's whole-table
  * rewrites ([[Lake.compact]], [[Lake.rewriteBucketed]]) and every
  * [[graft.state.StateStore]] write. The new contents go into a fresh
  * side dir `<path>.tmp-<uuid>` (unique, so two writers on one path
  * never delete each other's output), then live → `<path>.old`, side →
  * live, and `.old` is deleted; between the renames the path is absent.
  * The next [[replace]] handles each state a crash leaves: a staged side
  * dir is swept; a live dir left at `.old` is renamed back ([[heal]]);
  * a `.old` beside the live dir is deleted. Live dir, `.old` and a side
  * dir all present means a write recreated the live dir after a swap cut
  * between its renames, so `.old` holds the history: that throws and
  * deletes nothing. Writers of one path are serialized by its
  * [[graft.state.RunLock]]; whether a read heals first is the caller's
  * choice (the state store's do, the lake's do not). Filesystem calls
  * only: no Spark job. */
private[graft] object DirSwap {
  /** Renames `<path>.old` back to a missing `path`. Lock-free healers may
    * race; losing is fine as long as someone restored the live dir.
    * Returns whether this call restored it. */
  def heal(spark: SparkSession, path: String): Boolean = {
    val (p, old) = (new Path(path), new Path(path + ".old"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) && fs.exists(old) && {
      val restored = fs.rename(old, p)
      if (!restored && !fs.exists(p))
        throw new IOException(s"swap recovery rename $old -> $p failed")
      restored
    }
  }

  /** Replaces the dir at `path` with what `write` writes into the side dir
    * it is given. `write` runs after the heal, so it may read `path`. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (p, old) = (new Path(path), new Path(path + ".old"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus treats * ? [ ] { } in the path as patterns: escape them so
    // only the side suffix is a wildcard (null when the parent is absent)
    def sides(): Seq[Path] = Option(fs.globStatus(new Path(
      path.replaceAll("([*?\\[\\]{}\\\\])", "\\\\$1") + ".tmp-*")))
      .fold(Seq.empty[Path])(_.map(_.getPath).toSeq)
    if (fs.exists(p) && fs.exists(old) && sides().nonEmpty)
      throw new IllegalStateException(s"dir $p, its pre-swap copy $old and " +
        s"the side dir(s) ${sides().mkString(", ")} all exist: a write recreated " +
        s"$p after a crash between the swap's renames, so $old holds the " +
        "history; nothing was deleted, merge them by hand")
    heal(spark, path)
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true) // a finished swap's leftover
    sides().foreach(fs.delete(_, true))
    val side = new Path(path + ".tmp-" + UUID.randomUUID())
    write(side.toString)
    // A lock-free reader that heals between the renames puts the pre-swap
    // copy back at `path`, so side -> live fails: swapping it away again
    // converges, as `.old` holds the same copy each time. A rename that
    // returns false is never followed by a delete of the surviving copy.
    @annotation.tailrec def swap(attempt: Int): Unit = {
      if (fs.exists(p) && !fs.rename(p, old))
        throw new IOException(s"swap rename $p -> $old failed")
      if (!fs.rename(side, p)) {
        if (attempt >= 3 || !fs.exists(p)) {
          if (fs.exists(old)) fs.rename(old, p) // best-effort restore
          throw new IOException(s"swap rename $side -> $p failed")
        }
        swap(attempt + 1)
      }
    }
    swap(1)
    fs.delete(old, true)
  }
}
