package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Dedup, DriverRows, KCore, LabelProp, PageRank, Pipeline, Pq}

/** [[Jobs.overlap]]: task order, nesting, the failure protocol and the
  * labels its jobs carry. [[Jobs.pin]], [[Jobs.cache]] and
  * [[Jobs.release]]: the label law and the release law (README "Eager
  * jobs").
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

  /** A symmetric triangle 1-2-3 with the tail 3-4-5-6, which a 2-core
    * peels one node per round, spread over two partitions so that no
    * tier reads it as a driver-local relation.
    */
  private def graph(): DataFrame = {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    (e ++ e.map(_.swap)).toDF("src", "dst").withColumn("w", lit(1L)).repartition(2)
  }

  /** The graph loops by the op name their jobs are tagged with. */
  private def loops: Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    Seq(
      "connected_components" -> (() => Dedup.connectedComponents(
        graph().select(col("src").as("id_a"), col("dst").as("id_b")))),
      "kcore" -> (() => KCore.coreMembers(graph(), "src", "dst", k = 2, iters = 5)),
      "pagerank" -> (() => PageRank.ranks(graph(), "src", "dst", 3)),
      "personalized_pagerank" -> (() =>
        PageRank.personalized(graph(), "src", "dst", Seq(1L, 4L).toDF("node"), "node", 3)),
      "label_prop" -> (() => LabelProp.communities(graph(), "src", "dst", "w", 3)))
  }

  test("label law: every job started while the pipelines are built and the graph loops run is tagged graft:<op>:<step>") {
    val docs = Tables.load(spark, sf, "documents")
    def prep() = Pipeline.prepCorpus(docs, "text", "doc_id", lang = "en", minQuality = 0.75)
    val calls: Seq[(String, () => Any)] = Seq(
      "prep_corpus" -> (() => prep()),
      "prep_corpus" -> (() => DriverRows.ceilingsAt(-1L)(prep())),
      "curate_corpus" -> (() => Pipeline.curateCorpus(docs, "text", "doc_id",
        evalPred = pmod(col("doc_id"), lit(97L)) === 0L))) ++
      loops.map { case (op, call) => op -> (() => DriverRows.ceilingsAt(-1L)(call())) }
    for ((op, call) <- calls) {
      val (_, jobs) = jobsOf(call())
      val untagged = jobs.filterNot(_._1.exists(_.startsWith(s"graft:$op:")))
      assert(jobs.nonEmpty && untagged.isEmpty, s"$op: ${untagged.size} of ${jobs.size} jobs untagged: $untagged")
    }
  }

  test("release law: a call leaves persisted only what its result reads, and a failed append leaves nothing") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    // The RDDs a frame's plan reads: pinned leaves and loaded cache entries.
    def reads(df: DataFrame): Set[Int] = {
      val qe = df.queryExecution
      (qe.analyzed.collect { case l: LogicalRDD => l.rdd.id } ++
        qe.withCachedData.collect {
          case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
            r.cacheBuilder.cachedColumnBuffers.id
        }).toSet
    }
    for (ceiling <- Seq(Long.MaxValue, -1L); (op, call) <- loops) {
      val before = persisted
      val out = DriverRows.ceilingsAt(ceiling)(call())
      val kept = persisted -- before -- reads(out)
      assert(kept.isEmpty, s"$op at ceiling $ceiling left RDDs $kept persisted")
      out.collect() // nothing the result reads was freed
    }
    // pqModel frees its training cache: the codes it returns read no pin
    // or cache, before and after they are computed.
    val beforePq = persisted
    val (codes, _) = Pq.pqModel(Tables.load(spark, sf, "embeddings"), "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8, iters = 3)
    assert((persisted -- beforePq).isEmpty && reads(codes).isEmpty,
      s"pqModel left RDDs ${persisted -- beforePq} persisted")
    codes.collect()
    assert((persisted -- beforePq).isEmpty, s"reading the codes left RDDs ${persisted -- beforePq} persisted")
    // appendToIndex probes the index dir through the context's conf.
    sc.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultFileSystem].getName)
    val docs = spark.createDataFrame(Seq((1L, "a b c a"), (2L, "b c d"), (3L, "d e")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-release-bm25").resolve("index")
    val before = persisted
    FaultFileSystem.armAt("/postings/")
    val failed =
      try { Bm25.appendToIndex(docs, "text", "doc_id", s"faulty://t$dir"); None }
      catch { case e: Exception => Some(e) }
      finally FaultFileSystem.disarm()
    val causes = failed.toSeq.flatMap(Iterator.iterate[Throwable](_)(_.getCause).takeWhile(_ != null))
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("/postings/")),
      s"the postings write did not fail: $causes")
    assert((persisted -- before).isEmpty, s"the failed append left ${persisted -- before} persisted")
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
