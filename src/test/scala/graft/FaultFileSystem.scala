package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Hadoop FileSystem registered under the `faulty` scheme for TESTS: a
  * local filesystem that simulates a process dying at its N-th `rename`
  * or `delete`, or at the first one on a given path. Once armed, that
  * call and every later rename or delete throw until
  * [[FaultFileSystem.disarm]], so nothing the dying process would have
  * done afterwards reaches the disk.
  *
  * Mapping, like [[GsMockFileSystem]]: `faulty://<any>/<abs-path>`
  * stores bytes at the local `<abs-path>`. Register with
  * `session.conf.set("fs.faulty.impl", classOf[FaultFileSystem].getName)`.
  * The counter is JVM-wide, so Spark's own committer renames and
  * deletes (executor tasks run in the driver JVM under `local[*]`) are
  * counted and failed too.
  */
class FaultFileSystem extends RawLocalFileSystem {
  private var mockUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    mockUri = URI.create(
      s"${name.getScheme}://${Option(name.getAuthority).getOrElse("")}")
  }

  // Called by the RawLocalFileSystem constructor before initialize().
  override def getUri: URI =
    if (mockUri == null) URI.create("faulty:///") else mockUri

  override def getScheme: String = "faulty"

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFileSystem.tick(s"rename $src -> $dst")
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFileSystem.tick(s"delete $p")
    super.delete(p, recursive)
  }
}

object FaultFileSystem {
  private val ops = new AtomicLong()
  @volatile private var failFrom = Long.MaxValue
  @volatile private var failAt: Option[String] = None

  /** Reset the counter; the `n`-th call from now on and all later ones throw. */
  def arm(n: Long): Unit = { ops.set(0); failFrom = n }

  /** Reset the counter; the first call on a path containing `part` and
    * all later ones throw.
    */
  def armAt(part: String): Unit = { disarm(); failAt = Some(part) }

  /** Reset the counter and stop failing. */
  def disarm(): Unit = { ops.set(0); failFrom = Long.MaxValue; failAt = None }

  /** Renames and deletes since the last [[arm]] or [[disarm]]. */
  def count: Long = ops.get

  private def tick(what: String): Unit = {
    val n = ops.incrementAndGet()
    if (failAt.exists(what.contains)) failFrom = math.min(failFrom, n)
    if (n >= failFrom) throw new IOException(s"injected fault at call $n: $what")
  }
}
