package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DriverRows}

/** The driver tier of `Dedup.minhashLshPairs` equals the distributed
  * tier on random corpora, checked with scalacheck's own `Prop.forAll`
  * through [[TierLaws]]: rows, the bits of every `jaccard` double, and
  * the schema.
  *
  * The corpora come from a six-word vocabulary, so band buckets collide
  * often, and reach what the driver tier must reproduce: one-word
  * variants (near duplicates), identical-text groups of 2-3 and, now and
  * then, of 64 (all pairs), 65 or 70 (a star from the rep); bucket caps
  * of 1-3 reps; empty, whitespace-only and null text; texts shorter than
  * n tokens; negative, unsorted ids; thresholds that a rounded Jaccard
  * meets exactly (2/3 → 0.666667) and that an unrounded one misses.
  */
class LshTierPropertySpec extends AnyFunSuite with SparkTestBase {

  private final case class Case(docs: Seq[(Long, Option[String])], n: Int, bands: Int,
                                rowsPerBand: Int, threshold: Double, maxBucketSize: Int,
                                idNullable: Boolean, textNullable: Boolean, textFirst: Boolean)

  private val word = Gen.oneOf("a", "b", "c", "d", "e", "f")

  private val sentence: Gen[String] =
    Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))

  /** `s` with one word replaced. */
  private def variant(s: String): Gen[String] = {
    val ws = s.split(" ")
    for (i <- Gen.choose(0, ws.length - 1); w <- word) yield ws.updated(i, w).mkString(" ")
  }

  private val odd: Gen[Option[String]] =
    Gen.oneOf(Some(""), Some("   "), Some(" \t "), Some("a"), Some("a b"), None)

  private val genCase: Gen[Case] = for {
    bases <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, sentence))
    planted <- Gen.oneOf(Nil, List("a b c", "a b"))
    variants <- Gen.sequence[List[String], String](bases.map(variant))
      .flatMap(vs => Gen.someOf(vs).map(_.toList))
    odds <- Gen.listOf(odd).map(_.take(4))
    texts = (bases ++ planted ++ variants).map(Some(_)) ++ odds
    copies <- Gen.listOfN(texts.size, Gen.frequency(5 -> Gen.const(1), 2 -> Gen.choose(2, 3)))
    big <- Gen.frequency(4 -> Gen.const(0), 1 -> Gen.oneOf(64, 65, 70))
    bigText <- if (texts.isEmpty) Gen.const(Option.empty[String]) else Gen.oneOf(texts)
    all = texts.zip(copies).flatMap { case (t, c) => Seq.fill(c)(t) } ++ Seq.fill(big)(bigText)
    ids <- Gen.pick(all.size, -5000L to 5000L)
    order <- Gen.listOfN(all.size, Gen.long)
    n <- Gen.choose(1, 3)
    bands <- Gen.choose(1, 8)
    rowsPerBand <- Gen.choose(1, 3)
    threshold <- Gen.oneOf(0.0, 0.333333, 0.5, 0.6, 0.666667, 1.0)
    maxBucketSize <- Gen.oneOf(1, 2, 3, Dedup.DefaultMaxBucketSize)
    idNullable <- Gen.oneOf(true, false)
    textNullable <- Gen.oneOf(true, false)
    textFirst <- Gen.oneOf(true, false)
  } yield {
    val docs = ids.toSeq.zip(order).sortBy(_._2).map(_._1).zip(all)
      .map { case (id, t) => (id, if (textNullable) t else t.orElse(Some(""))) }
    Case(docs, n, bands, rowsPerBand, threshold, maxBucketSize, idNullable, textNullable, textFirst)
  }

  private def corpus(c: Case): DataFrame = {
    val id = StructField("doc_id", LongType, c.idNullable)
    val text = StructField("text", StringType, c.textNullable)
    val lang = StructField("lang", StringType)
    val (fields, rows) =
      if (c.textFirst) (Seq(text, lang, id), c.docs.map { case (i, t) => Row(t.orNull, "en", i) })
      else (Seq(id, text, lang), c.docs.map { case (i, t) => Row(i, t.orNull, "en") })
    spark.createDataFrame(rows.asJava, StructType(fields))
  }

  private def hasJoin(df: DataFrame) =
    df.queryExecution.analyzed.find(_.isInstanceOf[Join]).isDefined

  private def pairs(df: DataFrame, c: Case) =
    Dedup.minhashLshPairs(df, "text", "doc_id", c.n, c.bands, c.rowsPerBand, c.threshold,
      c.maxBucketSize)

  test("the driver tier equals the distributed tier on random corpora") {
    TierLaws.check(Prop.forAll(genCase) { c =>
      val (driver, dist) = TierLaws.tiers(pairs(corpus(c), c))
      TierLaws.law(driver, dist) && Prop(!hasJoin(driver) && hasJoin(dist)) :| "joins"
    }, seed = 20261020L)
  }

  test("a repeated, null or non-long id, or a corpus over the ceiling, keeps the distributed plan") {
    import spark.implicits._
    val text = "a b c d e f"
    val c = Case(Nil, 1, 4, 2, 0.5, Dedup.DefaultMaxBucketSize, idNullable = true,
      textNullable = true, textFirst = false)
    val inputs = Seq(
      "repeated id" -> Seq((1L, text), (1L, text), (2L, "a b c d e")).toDF("doc_id", "text"),
      "null id" -> Seq((Some(1L), text), (None, text)).toDF("doc_id", "text"),
      "int id" -> Seq((1, text), (2, text)).toDF("doc_id", "text"))
    for ((what, df) <- inputs) {
      val (got, dist) = TierLaws.tiers(pairs(df, c))
      assert(hasJoin(got), what)
      assert(TierLaws.rows(got) == TierLaws.rows(dist), what)
    }
    val two = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    assert(hasJoin(DriverRows.ceilingsAt(1L)(pairs(two, c))) &&
      !hasJoin(DriverRows.ceilingsAt(2L)(pairs(two, c))))
  }
}
