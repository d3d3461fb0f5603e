package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embeddings
import graft.operators.{DriverRows, Pipeline}

class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val enText =
    "the quick brown fox jumps over the lazy dog and then the fox runs away to the forest with a friend"

  test("curateSpans: boilerplate chunks and shared spans both removed before scoring") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter now" // 5-word chunk in 3 docs
    val span = "p1 p2 p3 p4 p5 p6 p7 p8"          // 8-token span shared by docs 1/2
    val docs = Seq(
      (1L, s"$boiler $span alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler unique2 words2 here2 too2 $span more2 text2 appears2"),
      (3L, s"$boiler totally different content in this third document entirely")
    ).toDF("doc_id", "text")
    val got = Pipeline.curateSpans(docs, "text", "doc_id",
        chunkTokens = 5, minDocs = 3, k = 5, minRun = 4, minScore = 0.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Doc 1: 21 tokens − 5 boiler − 8 span = 8 left, 8 cut as spans.
    // Doc 2: 20 − 5 boiler − 8 span = 7 left. Doc 3: 13 − 5 = 8 left,
    // 0 span cuts.
    assert(got == Map(
      1L -> ((8L, 8L)),
      2L -> ((7L, 8L)),
      3L -> ((8L, 0L))))
  }

  test("prepCorpus filters, exact-dedups and near-dup-dedups into a manifest") {
    import spark.implicits._
    val docs = Seq(
      // near-dup cluster: 0 survives, 1 is a one-word variant (j > 0.5)
      (0L, enText),
      (1L, enText.replace("lazy", "sleepy")),
      // exact duplicate of 0 → removed by exact dedup
      (2L, enText),
      // distinct English doc → survives
      (3L, "a completely different story about the sea and the ships that sail on it every day with the wind"),
      // not English → filtered
      (4L, "el zorro marrón salta sobre el perro perezoso y luego corre"),
      // empty/low quality → filtered
      (5L, "")
    ).toDF("doc_id", "text")

    val out = Pipeline.prepCorpus(docs, "text", "doc_id",
      lang = "en", minQuality = 0.5)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 3L))

    val row0 = out.filter($"doc_id" === 0L).head()
    assert(row0.getAs[String]("lang_pred") == "en")
    assert(row0.getAs[Double]("quality") >= 0.5)
    assert(row0.getAs[Long]("n_tokens") == 21L)
  }

  test("prepCorpus keeps unpaired docs when no near-dups exist") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the cat sat on the mat and looked at the moon for a while"),
      (11L, "a dog ran through the park chasing the ball with great joy today")
    ).toDF("doc_id", "text")
    val out = Pipeline.prepCorpus(docs, "text", "doc_id",
      lang = "en", minQuality = 0.0)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("prepCorpus under the ceiling: every job it starts is tagged, at most 5; over it, the same manifest") {
    val docs = Tables.load(spark, sf, "documents")
    def prep() = Pipeline.prepCorpus(docs, "text", "doc_id", lang = "en", minQuality = 0.75)
    val (held, jobs) = jobsOf(prep())
    assert(jobs.nonEmpty && jobs.size <= 5, s"${jobs.size} jobs")
    assert(jobs.forall(_._1.exists(_.startsWith("graft:prep_corpus:"))), jobs.toString)
    val forced = DriverRows.ceilingsAt(-1L)(prep())
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(held.schema == forced.schema)
    assert(rows(held) == rows(forced))
  }

  test("quantizeInt8 emits exact scale, digest and mse for known vectors") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)) // all-zero → scale 0, q = 0s
    ).toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(vecs, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap

    // Expected values via the same double arithmetic the engine runs
    // (java.lang.Math.floor == Spark FLOOR on doubles).
    val xs = Seq(1.0f, -0.5f, 0.25f, 0.0f).map(_.toDouble)
    val scale = xs.map(math.abs).max / 127.0
    val q = xs.map(x => math.floor(x / scale + 0.5).toLong)
    val digest = q.foldLeft(0L)((acc, v) => (acc * 31L + v) % Embeddings.DigestMod)
    val mse = q.zip(xs)
      .map { case (qi, x) => val d = x - qi * scale; d * d }.sum / 4.0
    assert(math.abs(out(1L)._1 - scale) < 1e-9)
    assert(out(1L)._2 == digest)
    assert(math.abs(out(1L)._3 - mse) < 1e-9)
    assert(out(2L) == ((0.0, 0L, 0.0)))
  }

  test("curateSplits: canonical dups collapse and the floor applies before splitting") {
    import spark.implicits._
    import graft.functions.{QualityFilters, TextAnalysis}
    val docs = Seq(
      (1L, enText),
      (2L, enText.toUpperCase + "!!!"),          // canonical dup of 1 — collapses
      (3L, "spam " * 40),                        // repetitive — low classifier score
      (4L, enText + " with a different ending sentence to stand alone"))
      .toDF("doc_id", "text")
    // independent recompute of the kept set via the primitives
    val scored = docs
      .withColumn("_cfp", TextAnalysis.fingerprint(
        TextAnalysis.canonicalText(col("text"))))
      .withColumn("_q", QualityFilters.classifierScoreOf(
        TextAnalysis.tokens(col("text"))))
      .withColumn("_nt", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .select("doc_id", "_cfp", "_q", "_nt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val minPerFp = scored.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val kept = scored.filter { case (id, fp, q, _) => minPerFp(fp) == id && q >= 0.5 }
    assert(kept.map(_._1).toSet.contains(1L) && !kept.map(_._1).toSet.contains(2L),
      "canonical dup should collapse to the min id")
    val manifest = Pipeline.curateSplits(docs, "text", "doc_id",
        minScore = 0.5, trainPct = 80, valPct = 10, pairMaxDocId = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(manifest.map(_._1).forall(Set("train", "val", "test")))
    assert(manifest.map(_._2).sum == kept.length,
      s"manifest doc total ${manifest.map(_._2).sum} != kept ${kept.length}")
    assert(manifest.map(_._3).sum == kept.map(_._4).sum,
      "manifest token total must equal the kept docs' token sum")
  }

  test("quantizeInt8 digests change when any component changes") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, 0.5f, 0.5f, 1.0f)),
      (2L, Seq(0.5f, 0.5f, 0.51f, 1.0f))
    ).toDF("vec_id", "embedding")
    val d = Embeddings.quantizeInt8(vecs, "embedding", "vec_id")
      .select("q_digest").as[Long].collect().toSeq
    assert(d.distinct.size == 2)
  }

  test("health report: six metrics, each inside its mathematical range") {
    val docs = Tables.load(spark, sf, "documents")
    val m = graft.operators.Pipeline.healthReport(docs, "text", "doc_id", "lang")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.keySet == Set("n_docs", "n_tokens", "distinct_3gram_ratio",
      "zipf_alpha", "mean_entropy", "lang_entropy"))
    assert(m("n_docs") == 500.0)
    assert(m("n_tokens") > m("n_docs")) // docs average many tokens
    assert(m("distinct_3gram_ratio") > 0.0 && m("distinct_3gram_ratio") <= 1.0)
    assert(m("zipf_alpha") > 0.0) // frequencies must DECREASE in rank
    assert(m("mean_entropy") > 0.0)
    // 5 languages → mixture entropy ∈ (0, ln 5]
    assert(m("lang_entropy") > 0.0 && m("lang_entropy") <= math.log(5.0) + 1e-9)
  }

  test("cap-drop report: six rows, zero drops at fixture scale, rates consistent") {
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val m = Pipeline.capDropReport(docs, "text", "doc_id", emb, "embedding", "vec_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.size == 6)
    for (fam <- Seq("sharedsub_prefix_cap", "semdedup_cell_cap", "lsh_bucket_cap")) {
      assert(m.contains(s"${fam}_drop_rows") && m.contains(s"${fam}_drop_rate"))
      // fixture scale: no cap fires (the oracle pins the same zeros)
      assert(m(s"${fam}_drop_rows") == 0.0, s"$fam dropped at fixture scale")
      assert(m(s"${fam}_drop_rate") == 0.0)
    }
  }

  test("cap-drop censuses COUNT correctly: a forced-zero cap drops every bucketed row") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
    val ss = graft.operators.SharedSubstrings
      .capDropCount(docs, "text", "doc_id", maxBucketSize = 0)
      .collect().head
    assert(ss.getLong(0) == ss.getLong(1) && ss.getLong(1) > 0L,
      s"sharedsub census: $ss")
    val sd = graft.operators.SemDedup
      .cellCapDropCount(emb, "embedding", "vec_id", k = 8, iters = 2, maxCellSize = 0)
      .collect().head
    assert(sd.getLong(0) == sd.getLong(1) && sd.getLong(1) > 0L,
      s"semdedup census: $sd")
    val lsh = graft.operators.Dedup
      .lshCapDropCount(docs, "text", "doc_id", n = 3, bands = 42,
        rowsPerBand = 3, maxBucketSize = 0)
      .collect().head
    assert(lsh.getLong(0) == lsh.getLong(1) && lsh.getLong(1) > 0L,
      s"lsh census: $lsh")
  }
}
