package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Whole-directory replacement by a staged two-rename swap, with
  * recovery of a swap that a crash interrupted.
  *
  * The next contents of `dir` are written completely to `<dir>.__next`
  * (ending with a `_SUCCESS` file) before anything else moves. Then
  * `dir` is renamed to `<dir>.__old`, `<dir>.__next` to `dir`, and the
  * old copy is deleted. If any step fails, the swap runs the recovery
  * below before it rethrows (after the failed write's Spark tasks have
  * stopped, see [[graft.Jobs.settled]]), so a failed swap leaves no
  * staging directory behind.
  *
  * Renames of two directories are not one atomic step, so a crash can
  * leave `dir` missing. Building a `StagedSwap` repairs that first:
  * with `dir` missing and `<dir>.__old` present, a complete
  * `<dir>.__next` rolls forward, otherwise `<dir>.__old` moves back.
  * Then any staging directory left beside an existing `dir` is removed.
  * `<dir>.__old` is never deleted while `dir` is missing. After any
  * failure, the next `StagedSwap` on the same directory sees exactly
  * the contents before or after the interrupted swap.
  *
  * A swap may carry a mark, a short string written to `_graft_mark`
  * inside the staged directory. It moves with the contents in the same
  * rename, so [[mark]] always names the write that produced what `dir`
  * holds. The `_` prefix keeps it out of parquet reads.
  */
final class StagedSwap private (spark: SparkSession, val fs: FileSystem, val dir: Path) {
  private val next = new Path(dir.toString + StagedSwap.NextSuffix)
  private val old = new Path(dir.toString + StagedSwap.OldSuffix)
  private def success(p: Path) = new Path(p, "_SUCCESS")

  recover()

  /** Bring `dir` back to whole contents and remove staging leftovers. */
  private def recover(): Unit = {
    if (!fs.exists(dir) && fs.exists(old) &&
        !(fs.exists(success(next)) && fs.rename(next, dir)) && !fs.rename(old, dir))
      throw new java.io.IOException(s"could not restore $dir")
    fs.delete(next, true)
    if (fs.exists(dir)) fs.delete(old, true)
  }

  /** Whether `dir` exists. */
  def exists: Boolean = fs.exists(dir)

  /** The mark of the swap that produced the current contents, if any. */
  def mark: Option[String] = {
    val p = new Path(dir, StagedSwap.MarkFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Replace `dir` with what `write` puts at the staging path it is
    * given, tagged with `mark`. `dir` need not exist yet.
    */
  def replace(mark: Option[String] = None)(write: String => Unit): Unit =
    try {
      graft.Jobs.settled(spark.sparkContext)(write(next.toString))
      mark.foreach { m =>
        val out = fs.create(new Path(next, StagedSwap.MarkFile), true)
        try out.write(m.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      if (!fs.exists(success(next))) fs.create(success(next), true).close()
      val hadDir = fs.exists(dir)
      if (hadDir && !fs.rename(dir, old))
        throw new java.io.IOException(s"could not stage $dir aside")
      if (!fs.rename(next, dir))
        throw new java.io.IOException(s"could not swap $next into $dir")
      fs.delete(old, true)
    } catch {
      case t: Throwable =>
        try recover() catch { case r: Throwable => t.addSuppressed(r) }
        throw t
    }
}

object StagedSwap {
  val NextSuffix = ".__next"
  val OldSuffix = ".__old"
  val MarkFile = "_graft_mark"

  /** Open `dir` for a swap, first repairing any interrupted one. */
  def apply(spark: SparkSession, dir: String): StagedSwap = {
    val path = new Path(dir)
    new StagedSwap(spark, path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }
}
