package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Outliers

class OutliersSpec extends AnyFunSuite with SparkTestBase {

  test("mahalanobis2: joint outlier tops the ranking despite central marginals") {
    import spark.implicits._
    // Points near the y=x line; (25, 5) is central in x AND inside the
    // y range, but jointly impossible given the strong correlation.
    val pts = Seq(
      (1L, 10.0, 11.0), (2L, 20.0, 19.0), (3L, 30.0, 31.0),
      (4L, 40.0, 39.0), (5L, 50.0, 51.0), (6L, 25.0, 5.0))
      .toDF("id", "x", "y")
    val out = Outliers.mahalanobis2(pts, "id", "x", "y", topK = 6)
      .as[(Long, Double, Double, Double)].collect()
    assert(out.head._1 == 6L)
    // d² is non-negative and the trace identity Σd² = 2n holds exactly
    // for the population covariance (up to the 6-dp rounding).
    assert(out.forall(_._4 >= 0.0))
    assert(math.abs(out.map(_._4).sum - 12.0) < 1e-3)
    // the ranking is descending
    assert(out.map(_._4).sliding(2).forall(p => p(0) >= p(1)))

    // topK truncation keeps the head of the same order.
    val top2 = Outliers.mahalanobis2(pts, "id", "x", "y", topK = 2)
      .as[(Long, Double, Double, Double)].collect()
    assert(top2.map(_._1).toSeq == out.map(_._1).take(2).toSeq)
  }

  test("mahalanobis2: singular covariance (constant column) yields null scores") {
    import spark.implicits._
    val flat = Seq((1L, 1.0, 7.0), (2L, 2.0, 7.0), (3L, 3.0, 7.0))
      .toDF("id", "x", "y")
    val out = Outliers.mahalanobis2(flat, "id", "x", "y", topK = 3)
      .as[(Long, Double, Double, Option[Double])].collect()
    assert(out.length == 3 && out.forall(_._4.isEmpty))
    // null scores fall back to id order
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("mahalanobis2: long-limb moment sums equal decimal(38,0) sums near 2^37") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // µ-quantized values within 2^20 of the ±2^37 capacity bound (every
    // limb product near its largest, squared sums ~2^85, far past the
    // long range), some small ones, and the bound's extremes.
    val cap = (1L << 37) - 1
    val rnd = new scala.util.Random(37)
    def near(): Long = (cap - rnd.nextInt(1 << 20)) * (if (rnd.nextBoolean()) 1 else -1)
    val xy = (0 until 3000).map(i => (near(), if (i % 5 == 0) rnd.nextInt(1000).toLong else near())) ++
      Seq((cap, -cap), (-cap, cap), (cap, cap), (0L, 0L))
    val base = xy.toDF("_x", "_y").repartition(7)
    val got = Outliers.momentSums(base).head()
    def dec(c: String) = col(c).cast("decimal(38,0)")
    val ref = base.agg(count(lit(1L)), sum(dec("_x")), sum(dec("_y")),
      sum(dec("_x") * dec("_x")), sum(dec("_y") * dec("_y")),
      sum(dec("_x") * dec("_y"))).head()
    val exact = Seq(BigInt(xy.size), xy.map(t => BigInt(t._1)).sum, xy.map(t => BigInt(t._2)).sum,
      xy.map(t => BigInt(t._1).pow(2)).sum, xy.map(t => BigInt(t._2).pow(2)).sum,
      xy.map(t => BigInt(t._1) * t._2).sum)
    def ints(r: org.apache.spark.sql.Row) = BigInt(r.getLong(0)) +:
      (1 to 5).map(i => BigInt(r.getDecimal(i).toBigIntegerExact))
    assert(exact(3) > BigInt(Long.MaxValue))
    assert(ints(ref) == exact, "the decimal reference itself is off")
    assert(ints(got) == exact)
  }

  test("mahalanobisD at d=2 matches the closed-form bivariate path within rounding") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col}
    // Well-separated scores (no near-ties), so solver-vs-adjugate ulp
    // differences cannot flip ranks — the comparison is exact on ids
    // and tolerance-bounded on d².
    val pts = Seq(
      (1L, 10.0, 11.0), (2L, 20.0, 19.0), (3L, 30.0, 31.0),
      (4L, 40.0, 39.0), (5L, 50.0, 51.0), (6L, 25.0, 5.0))
      .toDF("id", "x", "y")
    val closed = Outliers.mahalanobis2(pts, "id", "x", "y", topK = 6)
      .select("id", "md2").as[(Long, Double)].collect()
    val general = Outliers.mahalanobisD(
      pts.select(col("id"), array(col("x"), col("y")).as("vec")),
      "vec", "id", dim = 2, topK = 6)
      .as[(Long, Double)].collect()
    assert(general.map(_._1).toSeq == closed.map(_._1).toSeq)
    closed.zip(general).foreach { case ((_, c), (_, g)) =>
      // mahalanobis2 quantizes COMPONENTS at 1e-6 before the moments;
      // mahalanobisD quantizes per-row PRODUCTS at 1e-9 — identical
      // statistics up to quantization, so scores agree to ~1e-4.
      assert(math.abs(c - g) < 1e-3, s"closed=$c general=$g")
    }
  }

  test("mahalanobisD is partitioning-invariant and ranks the fixture embeddings deterministically") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    def run(parts: Int) =
      Outliers.mahalanobisD(emb.repartition(parts), "embedding", "vec_id",
        dim = 64, topK = 25).as[(Long, Double)].collect().toSeq
    val a = run(3)
    val b = run(17)
    // Exact-integer moments -> identical covariance -> identical solver
    // output -> identical scores, whatever the partitioning.
    assert(a == b)
    assert(a.size == 25 && a.forall(_._2 >= 0.0))
    assert(a.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("mahalanobisD rejects a singular covariance loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit}
    val flat = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "x")
      .select(col("id"), array(col("x"), lit(7.0)).as("vec"))
    val e = intercept[IllegalArgumentException] {
      Outliers.mahalanobisD(flat, "vec", "id", dim = 2, topK = 3).collect()
    }
    assert(e.getMessage.contains("singular"))
  }
}
