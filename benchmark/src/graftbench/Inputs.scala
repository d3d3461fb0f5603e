package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The shapes follow graft's fixture generators
  * (`MakeSf` for lineitem/events, `MakeScaleFixture` for documents and
  * embeddings: same schemas, value ranges, category mixes, planted
  * duplicate rates), but every hash also mixes in the benchmark seed, so
  * one seed always yields the same rows and another seed yields other
  * rows of the same shape. Tables are generated expression-level over
  * `spark.range`, so their content does not depend on partitioning.
  *
  * The engine under test only ever sees the parquet these write.
  */
final class Inputs(seed: Long) {

  private def h(cols: Column*): Column = xxhash64(lit(seed) +: cols: _*)

  private def pick(id: Column, tag: Int, n: Long): Column =
    pmod(h(id, lit(tag)), lit(n))

  private def oneOf(id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      pick(id, tag, values.size.toLong).cast("int") + 1)

  private def dayTs(id: Column, tag: Int, startDate: String, spanDays: Long): Column =
    date_add(to_date(lit(startDate)), pick(id, tag, spanDays).cast("int"))
      .cast("timestamp_ntz")

  def lineitem(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val nOrders = math.max(1L, n / 4)
    val nParts = math.max(1L, n / 30)
    val partkey = pick(id, 17, nParts)
    val quantity = (pick(id, 19, 50) + 1).cast("double")
    val retail = round(pmod(partkey, lit(1000)).cast("double") / 10.0 + 900.0, 1)
    spark.range(n).select(
      pick(id, 16, nOrders).as("l_orderkey"),
      partkey.as("l_partkey"),
      pick(id, 18, math.max(1L, n / 600)).as("l_suppkey"),
      (pick(id, 20, 7) + 1).cast("int").as("l_linenumber"),
      quantity.as("l_quantity"),
      round(quantity * retail, 2).as("l_extendedprice"),
      (pick(id, 21, 11).cast("double") / 100.0).as("l_discount"),
      (pick(id, 22, 9).cast("double") / 100.0).as("l_tax"),
      oneOf(id, 23, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(id, 24, Seq("F", "O")).as("l_linestatus"),
      dayTs(id, 25, "1995-01-02", 2500L).as("l_shipdate"))
  }

  /** Events over January 2024 at millisecond grain, written NTZ like the
    * fixture. About one value in 50 of `event_type` is the empty string,
    * so a non-null export filter has rows to drop.
    */
  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val id = col("id")
    val u = (pick(id, 28, 1000000L).cast("double") + 0.5) / 1000000.0
    spark.range(n).select(id.as("event_id"),
      timestamp_millis(lit(Inputs.EventsStartMs) + pick(id, 26, Inputs.EventsSpanMs))
        .cast("timestamp_ntz").as("ts"),
      pick(id, 27, nUsers).as("user_id"),
      when(pick(id, 31, 50) === 0, lit(""))
        .otherwise(oneOf(id, 29, Seq("click", "error", "purchase", "signup", "view")))
        .as("event_type"),
      round(-log(u) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(id, 30, 100)).as("props"))
  }

  private val Vocab = graft.MakeScaleFixture.Vocab

  private def textOf(docSeed: Column): Column = {
    val vocabArr = array(Vocab.map(lit): _*)
    val nWords = (pmod(h(docSeed, lit(0)), lit(85)) + 8).cast("int")
    array_join(
      transform(sequence(lit(1), nWords),
        i => element_at(vocabArr, pmod(h(docSeed, i), lit(Vocab.size)).cast("int") + 1)),
      " ")
  }

  /** Documents with the fixture's planted rates: 0.2 % exact duplicates
    * of the document two ids back, 1 % near duplicates (the previous
    * document plus one word).
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val exactDup = pmod(id, lit(500)) === 499
    val nearDup = !exactDup && pmod(id, lit(100)) === 99
    val docSeed = when(exactDup, id - 2).when(nearDup, id - 1).otherwise(id)
    val baseText = textOf(docSeed)
    val text = when(nearDup,
        concat(baseText, lit(" "),
          element_at(array(Vocab.map(lit): _*),
            pmod(h(id, lit(7)), lit(Vocab.size)).cast("int") + 1)))
      .otherwise(baseText)
    val langPick = pmod(h(id, lit(1)), lit(100))
    val lang = when(langPick < 41, "en").when(langPick < 56, "zh")
      .when(langPick < 71, "es").when(langPick < 86, "fr").otherwise("de")
    spark.range(n).select(
      id.as("doc_id"), text.as("text"), lang.as("lang"),
      concat(lit("src"), pmod(h(id, lit(2)), lit(20))).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** Unit-norm float vectors in small clusters (about 16 members around
    * each of n/16 seeded centres), so every vector has near neighbours
    * for a top-10 search to find. Built on the driver from a seeded
    * generator: the fixture's per-element hash expressions run
    * interpreted and take tens of seconds at this size.
    */
  def embeddings(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    val rnd = new java.util.SplittableRandom(seed)
    val nCentres = math.max(1L, n / 16).toInt
    val centres = Array.fill(nCentres, dim)(rnd.nextDouble() * 2 - 1)
    val rows = new java.util.ArrayList[Row](n.toInt)
    (0L until n).foreach { id =>
      val label = rnd.nextInt(nCentres)
      val v = centres(label).map(_ + 0.3 * (rnd.nextDouble() * 2 - 1))
      val norm = math.sqrt(v.map(x => x * x).sum)
      rows.add(Row(id, v.map(x => (x / norm).toFloat).toSeq, label))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false))))
  }
}

object Inputs {
  val EventsStartMs = 1704067200000L // 2024-01-01T00:00:00Z
  val EventsSpanMs = 2592000000L     // 30 days

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
