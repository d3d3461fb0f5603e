package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

/** [[Jobs.overlap]]: task order, nesting, the failure protocol and the
  * labels its jobs carry.
  */
class JobsSpec extends AnyFunSuite with SparkTestBase {

  test("results come back in task order and nested calls do not deadlock") {
    val out = Jobs.overlap(spark, "test", "outer")((0 until 6).map { i => () =>
      Jobs.overlap(spark, "test", "inner")((0 until 5).map { j => () =>
        spark.range(0, i * 10 + j + 1).count()
      }: _*).sum
    }: _*)
    assert(out == (0 until 6).map(i => (0 until 5).map(j => i * 10L + j + 1).sum))
    assert(Jobs.overlap[Int](spark, "test", "none")().isEmpty)
  }

  test("a failure cancels the call's running jobs, starts no queued task and rethrows with the rest suppressed") {
    JobsSpec.reset()
    val sc = spark.sparkContext
    // Three tasks hold a Spark job open until it is cancelled; the fourth
    // fails once all three jobs run; two more tasks wait in the queue.
    def holdJob(i: Int): () => Long = () =>
      try spark.range(0, 1, 1, 1).rdd.mapPartitions { it =>
        JobsSpec.running.countDown()
        val tc = TaskContext.get()
        val giveUp = System.nanoTime() + TimeUnit.SECONDS.toNanos(30) // fail, not hang, if never cancelled
        while (!tc.isInterrupted() && !JobsSpec.release.await(20, TimeUnit.MILLISECONDS) &&
          System.nanoTime() < giveUp) {}
        it
      }.count()
      finally JobsSpec.ended.add(i)
    val boom = new IllegalStateException("boom")
    val tasks: Seq[() => Long] = (0 until 3).map(holdJob) ++ Seq(
      () => { JobsSpec.running.await(); throw boom },
      () => { JobsSpec.queuedRan.add(4); 0L },
      () => { JobsSpec.queuedRan.add(5); 0L })
    val (thrown, jobs) = jobsOf {
      try { Jobs.overlap(spark, "test", "fail")(tasks: _*); None }
      catch { case t: Throwable => Some(t) }
    }
    try {
      assert(thrown.contains(boom), s"expected the first failure, got $thrown")
      assert(boom.getSuppressed.length == 3,
        s"the cancelled siblings' failures: ${boom.getSuppressed.toSeq}")
      assert(JobsSpec.queuedRan.isEmpty, s"queued tasks ran: ${JobsSpec.queuedRan}")
      assert(JobsSpec.ended.asScala.toSet == Set(0, 1, 2), "overlap returned before its tasks ended")
      assert(jobs.count(_._1("graft:test:fail")) == 3, s"jobs of the call: $jobs")
      val own = sc.statusTracker.getJobIdsForTag("graft:test:fail").toSet
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert((own & active).isEmpty, s"jobs still active after overlap threw: ${own & active}")
    } finally JobsSpec.release.countDown()
  }

  test("every job carries the caller's current description and the step tag") {
    val sc = spark.sparkContext
    def pair(step: String): Seq[Long] = Jobs.overlap(spark, "test", step)(
      () => spark.range(0, 100).count(), () => spark.range(0, 50).count())
    val (_, jobs) = jobsOf {
      try {
        sc.setJobDescription("A"); pair("a")
        sc.setJobDescription("B"); pair("b")
      } finally sc.setJobDescription(null)
    }
    for ((step, desc) <- Seq("a" -> "A", "b" -> "B")) {
      val own = jobs.filter(_._1(s"graft:test:$step"))
      assert(own.size >= 2, s"jobs of step $step: $jobs")
      assert(own.forall(_._2 == desc), s"step $step jobs carried ${own.map(_._2)}, not $desc")
    }
  }
}

object JobsSpec {
  @volatile var running = new CountDownLatch(3)
  @volatile var release = new CountDownLatch(1)
  val ended = ConcurrentHashMap.newKeySet[Int]()
  val queuedRan = ConcurrentHashMap.newKeySet[Int]()

  def reset(): Unit = {
    running = new CountDownLatch(3); release = new CountDownLatch(1)
    ended.clear(); queuedRan.clear()
  }
}
