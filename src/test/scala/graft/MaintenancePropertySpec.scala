package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, DriverRows}

/** Properties of the three maintenance folds, checked with scalacheck's
  * own `Prop.forAll` / `Test.check` over random change logs (few keys,
  * null keys and key components, many same-ms commits), a random split
  * point, and a driver-local or a distributed batch:
  *
  *  - each incremental fold of the batch into the state of the log up to
  *    the split equals the full rebuild over the whole log;
  *  - applying the same batch a second time: `cdcMergeApply` leaves the
  *    state as it was (idempotent); `scd2Apply` changes it exactly when
  *    the batch holds a state-bearing event (its versions are added
  *    again) and `aggMaintainApply` exactly when some key's delta is not
  *    (0, 0) (its counts and sums are added again). Those two rely on
  *    the caller to skip a rerun (`StreamSync`'s batch mark).
  */
class MaintenancePropertySpec extends AnyFunSuite with SparkTestBase {

  private final case class Ev(k: Option[Long], k2: Option[String], seq: Long, ms: Long,
                              ct: String, v: Option[Double])

  private final case class Case(evs: List[Ev], keys: Seq[String], splitMs: Long, local: Boolean)

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def maybe[T](g: Gen[T]): Gen[Option[T]] = Gen.frequency(1 -> Gen.const(None), 3 -> g.map(Some(_)))

  private val genCase: Gen[Case] = for {
    n <- Gen.choose(0, 14)
    evs <- Gen.listOfN(n, for {
      k <- maybe(Gen.choose(0L, 3L))
      k2 <- maybe(Gen.oneOf("x", "y"))
      ms <- Gen.choose(0L, 5L).map(_ * 1000L)
      ct <- Gen.oneOf("insert", "update_preimage", "update_postimage", "delete")
      v <- maybe(Gen.choose(-40, 40).map(_ / 4.0))
    } yield (seq: Long) => Ev(k, k2, seq, ms, ct, v))
    keys <- Gen.oneOf(Seq("k"), Seq("k", "k2"))
    split <- Gen.choose(-1L, 5L)
    local <- Gen.oneOf(true, false)
  } yield Case(evs.zipWithIndex.map { case (e, i) => e(i.toLong) }, keys, split * 1000L + 500L, local)

  /** A failing case shrinks by dropping events. */
  private implicit val shrinkCase: Shrink[Case] =
    Shrink.withLazyList(c => Shrink.shrink(c.evs).to(LazyList).map(e => c.copy(evs = e)))

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("k2", StringType),
    StructField("seq", LongType, nullable = false), StructField("v", DoubleType),
    StructField(ChangeLog.ChangeType, StringType, nullable = false),
    StructField(ChangeLog.CommitTs, TimestampType, nullable = false)))

  private def frame(evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(evs.map(e => Row(e.k.map(Long.box).orNull, e.k2.orNull, e.seq,
      e.v.map(Double.box).orNull, e.ct, new Timestamp(T0 + e.ms))).asJava, schema)

  private def head(c: Case): DataFrame = frame(c.evs.filter(_.ms <= c.splitMs))

  /** The events after the split: a local relation, or a plan over a
    * shuffle that the folds see as distributed.
    */
  private def batch(c: Case): DataFrame = {
    val b = frame(c.evs.filter(_.ms > c.splitMs))
    val out = if (c.local) b else b.repartition(2)
    assert(DriverRows.local(out).isDefined == c.local)
    out
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def check(name: String)(p: Case => Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(Seed(20241019L)).withWorkers(1)
    val result = Test.check(params, Prop.forAll(genCase)(p))
    assert(result.passed, s"$name: ${Pretty.pretty(result, Pretty.Params(2))}")
  }

  private def stateBearing(c: Case) =
    c.evs.exists(e => e.ms > c.splitMs && e.ct != "update_preimage")

  test("cdcMergeApply equals the full fold for any split and tier, and is idempotent") {
    check("cdcMergeApply") { c =>
      val full = rows(ChangeLog.cdcMergeState(frame(c.evs), c.keys, "seq"))
      val once = ChangeLog.cdcMergeApply(ChangeLog.cdcMergeState(head(c), c.keys, "seq"),
        batch(c), c.keys, "seq")
      val twice = ChangeLog.cdcMergeApply(once, batch(c), c.keys, "seq")
      Prop(rows(once) == full) :| "incremental == full" && Prop(rows(twice) == full) :| "idempotent"
    }
  }

  test("scd2Apply equals the full rebuild for any split and tier; a rerun adds the batch's versions again") {
    val data = Seq("v")
    check("scd2Apply") { c =>
      val full = rows(ChangeLog.scd2State(frame(c.evs), c.keys, "seq", data))
      val once = ChangeLog.scd2Apply(ChangeLog.scd2State(head(c), c.keys, "seq", data),
        batch(c), c.keys, "seq", data)
      val twice = rows(ChangeLog.scd2Apply(once, batch(c), c.keys, "seq", data))
      Prop(rows(once) == full) :| "incremental == full" &&
        Prop((twice == full) == !stateBearing(c)) :| "rerun changes the state iff the batch bears state"
    }
  }

  test("aggMaintainApply equals the full rebuild for any split and tier; a rerun adds nonzero deltas again") {
    def delta(c: Case): Map[Seq[Any], (Long, Long)] =
      c.evs.filter(_.ms > c.splitMs).groupBy(e => if (c.keys.size == 1) Seq(e.k) else Seq(e.k, e.k2))
        .map { case (key, es) =>
          val sgn = es.map(e => if (Set("insert", "update_postimage")(e.ct)) 1L else -1L)
          val q = es.map(e => e.v.map(x => math.floor(x * ChangeLog.AggQuantum + 0.5).toLong).getOrElse(0L))
          key -> (sgn.sum, sgn.zip(q).map { case (s, x) => s * x }.sum)
        }
    check("aggMaintainApply") { c =>
      val full = rows(ChangeLog.aggMaintainState(frame(c.evs), c.keys, "v"))
      val once = ChangeLog.aggMaintainApply(ChangeLog.aggMaintainState(head(c), c.keys, "v"),
        batch(c), c.keys, "v")
      val twice = rows(ChangeLog.aggMaintainApply(once, batch(c), c.keys, "v"))
      Prop(rows(once) == full) :| "incremental == full" &&
        Prop((twice == full) == delta(c).values.forall(_ == ((0L, 0L)))) :|
          "rerun changes the state iff some key's delta is nonzero"
    }
  }
}
