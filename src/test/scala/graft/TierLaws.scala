package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.Assertions

import graft.operators.DriverRows

/** The laws a driver tier keeps against its distributed tier (README
  * "Driver tiers"), for the tier-equivalence specs. [[tiers]] runs one
  * operator call with every ceiling at `Long.MaxValue` and at -1 (not 0,
  * which an empty input still fits); the two frames then keep three laws
  * ([[broken]]):
  *  - tier evidence: the driver side is a driver-local relation
  *    ([[DriverRows.local]]) and the distributed side is not, or is an
  *    empty one (an empty plan over driver-local inputs folds to that);
  *  - the same schema, nullability included;
  *  - the same rows as a multiset, doubles and floats compared by their
  *    raw bits.
  * The generators and example tables stay in each spec.
  */
object TierLaws {

  /** `call` on the driver tier and on the distributed tier. */
  def tiers[T](call: => T): (T, T) =
    (DriverRows.ceilingsAt(Long.MaxValue)(call), DriverRows.ceilingsAt(-1L)(call))

  /** The first law `driver` and `dist` break, or `None`. */
  def broken(driver: DataFrame, dist: DataFrame): Option[String] = {
    if (DriverRows.local(driver).isEmpty) Some("the driver tier is not driver-local")
    else if (DriverRows.local(dist).exists(_.data.nonEmpty)) Some("the distributed tier is driver-local")
    else if (driver.schema != dist.schema) Some(s"schema ${driver.schema} vs ${dist.schema}")
    else {
      val (got, want) = (rows(driver), rows(dist))
      if (got != want) Some(s"rows $got vs $want") else None
    }
  }

  /** [[broken]] as a scalacheck property. */
  def law(driver: DataFrame, dist: DataFrame): Prop =
    broken(driver, dist).fold(Prop.passed)(Prop.falsified :| _)

  /** `call`'s two tiers, after asserting the laws hold between them. */
  def holds(clue: String)(call: => DataFrame): (DataFrame, DataFrame) = {
    val (driver, dist) = tiers(call)
    broken(driver, dist).foreach(m => Assertions.fail(s"$clue: $m"))
    (driver, dist)
  }

  /** Check `prop` on `cases` generated cases from `seed`, on one worker,
    * failing with scalacheck's report of the smallest failing case.
    */
  def check(prop: Prop, seed: Long, cases: Int = 40): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(seed)).withWorkers(1)
    val result = Test.check(params, prop)
    Assertions.assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  /** `df`'s rows, each as a string with every double and float replaced
    * by its raw bits, sorted.
    */
  def rows(df: DataFrame): Seq[String] = {
    def bits(v: Any): Any = v match {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
      case r: Row => r.toSeq.map(bits)
      case s: scala.collection.Seq[_] => s.map(bits)
      case other => other
    }
    df.collect().map(r => bits(r).toString).toSeq.sorted
  }
}
