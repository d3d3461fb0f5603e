package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverRows, PackedCodes, Pq}

/** The packed driver tier of `Pq.pqTopKFromIndex` equals the distributed
  * tier on random indexes, checked with scalacheck's own `Prop.forAll`
  * through [[TierLaws]]: rows, ranks, the bits of `score_adc` and
  * schema.
  *
  * The generated cases reach what the packing and the per-query ADC
  * table must get right: m of 1, 2, 4 or 8; up to 256 cells per subspace
  * with ids that are not 0..ksub-1; codes with no centroid (they add
  * 0.0); planted duplicate code rows (score ties broken by id); query
  * vectors with +0.0, -0.0 and negative components, as floats or
  * doubles; query ids inside and outside the corpus, repeated; k from 0
  * to N + 1. Components mix magnitudes (1e12 beside 1), so a sum taken
  * in another order rounds differently, even at 6 decimals.
  */
class PqTierPropertySpec extends AnyFunSuite with SparkTestBase {

  private final case class Case(m: Int, subLen: Int, cents: Pq.Codebook,
                                codes: Seq[(Long, Seq[Long])],
                                queries: Seq[(Long, Seq[Double])], floats: Boolean, k: Int) {
    override def toString: String =
      s"Case(m=$m, subLen=$subLen, cells=${cents.length}, codes=$codes, queries=$queries, " +
        s"floats=$floats, k=$k)"
  }

  private val component: Gen[Double] = Gen.frequency(
    2 -> Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5, -0.25),
    2 -> Gen.oneOf(1e12, -1e12, 3e11, -7e11),
    3 -> Gen.choose(-4.0, 4.0))

  private val genCase: Gen[Case] = for {
    m <- Gen.oneOf(1, 2, 4, 8)
    subLen <- Gen.choose(1, 3)
    ksub <- Gen.frequency(4 -> Gen.choose(1, 6), 1 -> Gen.choose(7, 256))
    cells <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.choose(-1000L, 1000L)).map(_.distinct))
    cents <- Gen.sequence[List[(Int, Long, Seq[Double])], (Int, Long, Seq[Double])](
      cells.zipWithIndex.flatMap { case (cs, j) =>
        cs.map(c => Gen.listOfN(subLen, component).map(v => (j, c, v.toSeq)))
      })
    n <- Gen.choose(0, 24)
    // A code is a cell of its subspace, or (1 in 6) a value with no centroid.
    rows <- Gen.listOfN(n, Gen.sequence[List[Long], Long]((0 until m).map(j =>
      Gen.frequency(5 -> Gen.oneOf(cells(j)), 1 -> Gen.const(5000L + j)))))
    dups <- Gen.listOf(Gen.choose(0, math.max(0, n - 1))).map(_.take(if (n == 0) 0 else 4))
    nq <- Gen.choose(1, 3)
    qids <- Gen.listOfN(nq, Gen.frequency(3 -> Gen.choose(0L, n.toLong + dups.size), 1 -> Gen.const(-7L)))
    qvs <- Gen.listOfN(nq, Gen.listOfN(m * subLen, component))
    floats <- Gen.oneOf(true, false)
    total = n + dups.size
    k <- Gen.choose(0, total + 1)
  } yield {
    val codes = rows.map(_.toSeq) ++ dups.map(rows(_).toSeq)
    Case(m, subLen, cents.toArray, codes.zipWithIndex.map { case (c, i) => (i.toLong, c) },
      qids.zip(qvs.map(_.toSeq)), floats, k)
  }

  private val codesSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("codes", ArrayType(LongType))))

  private def queries(c: Case): DataFrame = {
    val elem = if (c.floats) FloatType else DoubleType
    spark.createDataFrame(c.queries.map { case (id, v) =>
      Row(id, if (c.floats) v.map(_.toFloat) else v)
    }.asJava, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(elem, containsNull = false)))))
  }

  private def hasJoin(df: DataFrame) =
    df.queryExecution.analyzed.find(_.isInstanceOf[Join]).isDefined

  test("the packed driver tier equals the distributed tier on random indexes and queries") {
    TierLaws.check(Prop.forAll(genCase) { c =>
      val held = Pq.holdCodes(spark.createDataFrame(
        c.codes.map { case (id, cs) => Row(id, cs) }.asJava, codesSchema)).get
      val (driver, dist) = TierLaws.tiers(Pq.pqTopKFromIndex(held, c.cents, queries(c),
        "embedding", "vec_id", c.m * c.subLen, c.m, c.k))
      Prop(DriverRows.local(held).exists(_.data.isInstanceOf[PackedCodes])) :| "packed" &&
        TierLaws.law(driver, dist) && Prop(hasJoin(dist) && !hasJoin(driver)) :| "joins"
    }, seed = 20261019L)
  }
}
