package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverRows, PackedCodes, Pq}

/** The PQ read path: the driver tier of `Pq.pqTopKFromIndex` against the
  * distributed plan, the jobs a query starts, crash safety of
  * `saveIndex`, argument checks and the job labels of the eager PQ jobs.
  */
class PqIndexSpec extends AnyFunSuite with SparkTestBase {

  private val Dim = 16; private val M = 4; private val Ksub = 8

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Seeded unit vectors; ids 60-63 repeat vector 5, so their codes and
    * scores tie.
    */
  private lazy val vectors: Seq[(Long, Seq[Float])] = {
    val rnd = new java.util.SplittableRandom(11L)
    val base = (0L until 60L).map { id =>
      val v = Seq.fill(Dim)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / n).toFloat))
    }
    base ++ (60L until 64L).map(id => (id, base(5)._2))
  }

  private def frame(s: SparkSession, rows: Seq[(Long, Seq[Float])]): DataFrame =
    s.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava, vecSchema)

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  /** A saved and reloaded index over `vectors` (driver-local codes). */
  private lazy val index: (DataFrame, Pq.Codebook) = {
    val (codes, cents) = Pq.pqModel(frame(spark, vectors), "embedding", "vec_id",
      Dim, M, Ksub, iters = 3)
    val dir = tmp("graft-pq-index")
    Pq.saveIndex(codes, cents, "vec_id", dir)
    Pq.loadIndex(spark, dir)
  }

  private def topK(q: DataFrame, k: Int): DataFrame =
    Pq.pqTopKFromIndex(index._1, index._2, q, "embedding", "vec_id", Dim, M, k)

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  private def isLocal(df: DataFrame) = DriverRows.local(df).isDefined
  private def hasJoin(df: DataFrame) =
    df.queryExecution.analyzed.find(_.isInstanceOf[Join]).isDefined

  test("a query on a loaded small index with a local query starts no job") {
    val (codes, cents) = index
    assert(isLocal(codes), "loadIndex did not keep the small code table on the driver")
    val (v, jobs) = jobsOf {
      val q = frame(spark, Seq(vectors(7)))
      Pq.pqTopKFromIndex(codes, cents, q, "embedding", "vec_id", Dim, M, 10).collect()
    }
    assert(v.length == 10 && !v.exists(_.getLong(1) == 7L))
    assert(jobs.isEmpty, s"${jobs.size} jobs: $jobs")
  }

  test("driver tier == distributed tier: rows, ranks, scores and schema") {
    val n = vectors.size.toLong
    val absent = (1000L, vectors(3)._2.reverse)
    // (case, query rows, k, rows expected)
    val cases = Seq(
      ("several queries, tied codes",
        Seq(vectors(5), vectors(60), vectors(1), vectors(2)), 10, 40L),
      ("k over the candidate count", Seq(vectors(0), vectors(61)), n.toInt + 5, 2 * (n - 1)),
      ("a query id absent from the corpus", Seq(absent, vectors(9)), n.toInt, n + n - 1),
      ("duplicate query ids", Seq(vectors(4), (4L, vectors(30)._2), (4L, vectors(62)._2)), 6, 6L),
      ("k of 0", Seq(vectors(4)), 0, 0L),
      ("an empty query frame", Seq.empty, 5, 0L))
    for ((name, qs, k, want) <- cases) {
      val (driver, dist) = TierLaws.holds(name)(topK(frame(spark, qs), k))
      assert(hasJoin(dist) && !hasJoin(driver), name)
      assert(rows(driver).size == want, name)
    }
    // Tied codes: the planted copies of vector 5 rank by id after it.
    val tied = rows(topK(frame(spark, Seq(vectors(1))), n.toInt))
      .filter(r => r._2 == 5L || r._2 >= 60L)
    assert(tied.map(_._2) == Seq(5L, 60L, 61L, 62L, 63L) &&
      tied.map(_._3).sliding(2).forall(p => p(1) == p(0) + 1) && tied.map(_._4).distinct.size == 1)
  }

  test("the driver tier serves queries x codes up to the ceiling, the distributed plan beyond") {
    val n = vectors.size.toLong
    val q = frame(spark, vectors.slice(10, 13))
    val at = DriverRows.ceilingsAt(3 * n)(topK(q, 5))
    val over = DriverRows.ceilingsAt(3 * n - 1)(topK(q, 5))
    assert(isLocal(at) && !hasJoin(at))
    assert(!isLocal(over) && hasJoin(over))
    assert(rows(at) == rows(over) && at.schema == over.schema)
  }

  test("the driver tier collects a non-local query side in one labelled job; nulls fall back") {
    val (codes, cents) = index
    val dir = tmp("graft-pq-queries")
    frame(spark, vectors.take(6)).write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
    val (got, jobs) = jobsOf(Pq.pqTopKFromIndex(codes, cents, q, "embedding", "vec_id",
      Dim, M, 4))
    assert(isLocal(got) && jobs.size == 1, s"$jobs")
    assert(jobs.forall { case (tags, desc) =>
      tags.contains("graft:pq:collect_queries") && desc == SparkTestBase.CallerStep }, s"$jobs")
    assert(rows(got) == rows(DriverRows.ceilingsAt(-1L)(topK(q, 4))))
    val withNull = spark.createDataFrame(Seq(Row(3L, Seq(0.5f, null) ++ Seq.fill(Dim - 2)(0.1f)),
      Row(4L, vectors(4)._2)).asJava, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val fellBack = Pq.pqTopKFromIndex(codes, cents, withNull, "embedding", "vec_id", Dim, M, 4)
    assert(hasJoin(fellBack) && !isLocal(fellBack))
    // Freshly trained codes are a projection over the corpus: over a local
    // corpus they fold into a local relation and pqTopK takes the driver tier.
    val trained = Pq.pqTopK(frame(spark, vectors), frame(spark, vectors.take(2)), "embedding",
      "vec_id", Dim, M, Ksub, iters = 3, k = 4)
    assert(!hasJoin(trained) && isLocal(trained) &&
      rows(trained) == rows(DriverRows.ceilingsAt(-1L)(topK(frame(spark, vectors.take(2)), 4))))
  }

  test("a dim / m that does not match the codebook is rejected") {
    val (codes, cents) = index
    val q = frame(spark, Seq(vectors(1)))
    for ((dim, m) <- Seq((2 * Dim, M), (Dim, 2 * M), (Dim + 1, M)))
      intercept[IllegalArgumentException](
        Pq.pqTopKFromIndex(codes, cents, q, "embedding", "vec_id", dim, m, 3))
  }

  test("every eager PQ job carries its graft:pq:<step> tag and the caller's description") {
    val dir = tmp("graft-pq-labels")
    val ((codes, cents), train) = jobsOf(Pq.pqModel(frame(spark, vectors), "embedding",
      "vec_id", Dim, M, Ksub, iters = 3))
    val (_, save) = jobsOf(Pq.saveIndex(codes, cents, "vec_id", dir))
    val (_, load) = jobsOf(Pq.loadIndex(spark, dir))
    for ((what, jobs, steps) <- Seq(
        ("pqModel", train, Set("codebook_init", "codebook_update")),
        ("saveIndex", save, Set("save_index")),
        ("loadIndex", load, Set("load_codebook", "load_codes")))) {
      val labels = steps.map(s => s"graft:pq:$s")
      assert(jobs.nonEmpty && jobs.forall(j => j._1.exists(labels)), s"$what: $jobs")
      assert(labels.forall(l => jobs.exists(_._1.contains(l))), s"$what: $jobs")
      assert(jobs.forall(_._2 == SparkTestBase.CallerStep), s"$what: $jobs")
    }
    // The job-count law: each Lloyd iteration is one job (the init collect
    // fills the training cache), the codes are a narrow projection written
    // in one job beside the codebook's, and both loads read a known schema:
    // no aggregate exchange, no inference job.
    def count(jobs: Seq[(Set[String], String)], step: String) = jobs.count(_._1.contains(s"graft:pq:$step"))
    assert(train.size == 3 && count(train, "codebook_init") == 1 && count(train, "codebook_update") == 2,
      s"$train")
    assert(save.size == 2 && load.size == 2, s"save $save, load $load")
    assert(count(load, "load_codebook") == 1 && count(load, "load_codes") == 1, s"$load")
  }

  test("a loaded 10 000-code index is held packed in at most 32 B per code; repeat queries start no job") {
    val (n, m, ksub, dim) = (10000, 8, 32, 64)
    val rnd = new java.util.SplittableRandom(7L)
    val codes = spark.createDataFrame((0 until n).map(i =>
      Row(i.toLong, Seq.fill(m)(rnd.nextInt(ksub).toLong))).asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("codes", ArrayType(LongType)))))
    val cents: Pq.Codebook = (for (j <- 0 until m; c <- 0 until ksub)
      yield (j, c.toLong, Seq.fill(dim / m)(rnd.nextDouble() * 2 - 1))).toArray
    val dir = tmp("graft-pq-packed")
    Pq.saveIndex(codes, cents, "vec_id", dir)
    val (held, loaded) = Pq.loadIndex(spark, dir)
    val data = DriverRows.local(held).map(_.data)
    assert(data.exists(_.isInstanceOf[PackedCodes]), "loadIndex did not pack the code table")
    val bytes = SizeEstimator.estimate(data.get)
    assert(bytes <= 32L * n, s"$bytes B for $n codes")
    val q = spark.createDataFrame(Seq(Row(3L, Seq.fill(dim)(0.25f))).asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val (answers, jobs) = jobsOf(Seq.fill(2)(
      Pq.pqTopKFromIndex(held, loaded, q, "embedding", "vec_id", dim, m, 10).collect().toSeq))
    assert(jobs.isEmpty, s"${jobs.size} jobs: $jobs")
    assert(answers.forall(_.size == 10) && answers(0) == answers(1))
  }

  /** A session that resolves `faulty://` and writes one file per job. */
  private lazy val fspark: SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.faulty.impl", classOf[FaultFileSystem].getName)
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
  }

  test("saveIndex: after a crash at any rename or delete, loadIndex answers with the old or the new index") {
    val root = Files.createTempDirectory("graft-crash-pq")
    def build(vs: Seq[(Long, Seq[Float])], iters: Int): (DataFrame, Pq.Codebook) = {
      val (codes, cents) = Pq.pqModel(frame(fspark, vs), "embedding", "vec_id", Dim, M, Ksub, iters)
      val held = codes.collect()
      (fspark.createDataFrame(held.toSeq.asJava, codes.schema), cents)
    }
    val (oldCodes, oldCents) = build(vectors.take(40), 2)
    val (newCodes, newCents) = build(vectors.drop(20), 3)
    val template = root.resolve("template")
    Pq.saveIndex(oldCodes, oldCents, "vec_id", template.toString)
    def answer(dir: String): Seq[(Long, Long, Long, Double)] = {
      val (codes, cents) = Pq.loadIndex(fspark, dir)
      rows(Pq.pqTopKFromIndex(codes, cents, frame(fspark, vectors.slice(20, 24)),
        "embedding", "vec_id", Dim, M, 5))
    }
    val before = answer(template.toString)
    def fresh(name: String): Path = {
      val d = Files.createDirectories(root.resolve(name)).resolve("index")
      copyTree(template, d); d
    }
    FaultFileSystem.disarm()
    val probe = fresh("probe")
    Pq.saveIndex(newCodes, newCents, "vec_id", s"faulty://t$probe")
    val calls = FaultFileSystem.count
    val after = answer(probe.toString)
    assert(before != after && calls >= 3, s"$calls calls")
    for (n <- 1L to calls) {
      val dir = fresh(s"run$n")
      FaultFileSystem.arm(n)
      val crashed =
        try { Pq.saveIndex(newCodes, newCents, "vec_id", s"faulty://t$dir"); false }
        catch { case _: Exception => true }
        finally FaultFileSystem.disarm()
      assert(crashed, s"call $n of $calls did not fail the save")
      val seen = answer(s"faulty://t$dir")
      assert(seen == before || seen == after, s"a crash at call $n of $calls mixed the two indexes")
    }
  }
}
