package graft

import java.util.concurrent.{CompletionException, Executors, TimeoutException}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The jobs the engine starts from the driver, outside a caller's action.
  *
  * Independent writes (BM25 index relations, replay staging, the sides
  * of an interval join, partition leaves of a compaction) run as
  * concurrent jobs so one job's tasks back-fill another's straggler
  * tail. Every such site goes through [[overlap]], which owns the
  * thread pool, the job labels and the failure protocol.
  *
  * Every eager materialization goes through [[pin]] or [[cache]], and
  * every release through [[release]] or [[cached]] (README "Eager
  * jobs").
  */
object Jobs {

  /** Most tasks one [[overlap]] call runs at once. */
  private val MaxInFlight = 4

  /** Longest wait for the tasks of failed jobs to stop (see [[settled]]). */
  private val SettleTimeoutMs = 60000L

  private val callSeq = new AtomicLong()

  /** Run `body` with its jobs tagged. If it throws, cancel those jobs
    * and wait until their tasks have stopped before rethrowing: a failed
    * or cancelled job ends at once, but its running tasks go on until
    * they next check for the kill, and may still create files.
    */
  private[graft] def settled[T](sc: SparkContext)(body: => T): T = {
    val tag = s"graft-settle-${callSeq.incrementAndGet()}"
    val tasks = new RunningTasks(tag)
    sc.addSparkListener(tasks)
    sc.addJobTag(tag)
    try body
    catch {
      case t: Throwable =>
        val deadline = System.currentTimeMillis() + SettleTimeoutMs
        try ListenerBusAccess.cancelAndDrain(sc, tag, "the caller failed", SettleTimeoutMs)
        catch { case _: TimeoutException => } // wait on below until the deadline
        tasks.awaitNone(deadline)
        throw t
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(tasks)
    }
  }

  /** The running tasks of the jobs tagged `tag`, from listener events. */
  private final class RunningTasks(tag: String) extends SparkListener {
    private val stages = mutable.Set[Int]()
    private val running = mutable.Set[Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // SparkContext.SPARK_JOB_TAGS, comma-separated (package-private).
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(",").contains(tag))) stages ++= e.stageIds
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      if (stages(e.stageId)) running += e.taskInfo.taskId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (running.remove(e.taskInfo.taskId)) notifyAll()
    }

    def awaitNone(deadline: Long): Unit = synchronized {
      while (running.nonEmpty && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
  }

  /** Run `body` with the job tag `graft:<op>:<step>` on every job it
    * starts. The job description and the caller's other local
    * properties are left as they are.
    */
  def labelled[T](spark: SparkSession, op: String, step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val label = s"graft:$op:$step"
    if (sc.getJobTags().contains(label)) body
    else {
      sc.addJobTag(label)
      try body finally sc.removeJobTag(label)
    }
  }

  /** `df` materialized now, in one job tagged `graft:<op>:<step>`: a
    * `localCheckpoint` barrier, so later plans read its blocks instead
    * of re-running its subtree, and Catalyst cannot push a predicate or
    * collapse a projection across it. `df` is built under the same tag,
    * so a job its construction starts carries it too. With `reliable`,
    * a session that has a checkpoint dir writes a reliable
    * `checkpoint()` there instead: a lost executor then loses no round
    * of an iterative loop.
    */
  def pin(df: => DataFrame, op: String, step: String, reliable: Boolean = false): DataFrame =
    labelled(SparkSession.active, op, step) {
      val d = df
      if (reliable && d.sparkSession.sparkContext.getCheckpointDir.isDefined) d.checkpoint()
      else d.localCheckpoint()
    }

  /** `df` registered for a lazy columnar cache at `MEMORY_AND_DISK`: the
    * first action that reads it fills the cache, later ones read it.
    */
  def cache(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Free a [[pin]]'s blocks or a [[cache]] entry, without blocking. The
    * frame's schema stays usable; a plan that still reads a freed pin
    * fails, and one that read a freed cache recomputes it. Freeing a
    * superseded pin at once, not when the ContextCleaner notices, keeps
    * a long session's block manager from evicting what later queries
    * read (the round-2 warm-slower-than-cold bench inversion).
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** `body` over `df` [[cache]]d, released when `body` returns or throws. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = cache(df)
    try body(c) finally release(c)
  }

  /** Run `tasks` concurrently, at most [[MaxInFlight]] at a time, on a
    * pool owned by this call, and return their results in task order.
    *
    * Each task runs with the caller's Spark local properties as they are
    * at call time (job description, job group, tags, scheduler pool),
    * plus the job tag `graft:<op>:<step>` ([[labelled]]); the description
    * is left as the caller set it. Nested calls do not deadlock: each
    * call has its own threads.
    *
    * On the first failure the call cancels every job its tasks started
    * (through a tag unique to the call, which nested calls inherit),
    * starts no queued task, waits for the running tasks and for the Spark
    * tasks of their jobs to end, and then rethrows that failure with the
    * other failures attached as suppressed exceptions. No job of the call
    * is still running when it throws.
    */
  def overlap[T](spark: SparkSession, op: String, step: String)(tasks: (() => T)*): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val callTag = s"graft-overlap-${callSeq.incrementAndGet()}"
    val first = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(math.min(MaxInFlight, tasks.size))
    try {
      val futures = tasks.map { task =>
        SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool) {
          if (first.get != null) None
          else {
            sc.addJobTag(callTag)
            Some(labelled(spark, op, step)(settled(sc) {
              try task()
              catch {
                case t: Throwable =>
                  if (first.compareAndSet(null, t))
                    sc.cancelJobsWithTag(callTag, s"a sibling task of graft:$op:$step failed")
                  throw t
              }
            }))
          }
        }
      }
      val outcomes = futures.map { f =>
        try Right(f.join())
        catch { case e: CompletionException => Left(Option(e.getCause).getOrElse(e)) }
      }
      Option(first.get).foreach { t =>
        outcomes.collect { case Left(e) if e ne t => e }.foreach(t.addSuppressed)
        throw t
      }
      outcomes.collect { case Right(Some(r)) => r }
    } finally pool.shutdown()
  }
}
