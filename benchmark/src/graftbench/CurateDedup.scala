package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Pipeline}
import graft.sinks.{FileSink, SinkSpec}

/** The LLM-curation path: `Pipeline.prepCorpus` (token scoring, language
  * and quality filter, exact dedup, MinHash-LSH pairs, connected
  * components) into a gzip JSON manifest. Shuffle- and CPU-heavy in the
  * text and dedup layers, with eager checkpoint jobs inside the call;
  * almost no hash or sink work.
  */
final class CurateDedup extends Workload("curate_dedup") {
  import CurateDedup._

  def generate(spark: SparkSession, in: Inputs, dir: String): Unit =
    Inputs.write(in.documents(spark, Docs), dir, "documents")

  override def batch: Boolean = true

  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean): Long = {
    ops.op("prep_corpus") {
      val docs = sp.span("sources", "load")(Tables.load(spark, dir, "documents"))
      val manifest = sp.span("pipeline", "prep_corpus")(
        Pipeline.prepCorpus(docs, "text", "doc_id", Lang, MinQuality))
      sp.span("sinks", "write:manifest")(
        FileSink.write(manifest, SinkSpec("json", s"$out/manifest")))
    }
    Docs
  }

  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit = {
    def timed(layer: String, name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      t.span(layer, s"probe:$name")(body)
      (System.nanoTime() - t0) / 1e9
    }
    val docs = Dedup.rebalance(Tables.load(spark, dir, "documents"))
    // prepCorpus's stages called one by one, each input checkpointed so
    // a stage's noop write times that stage alone.
    val scoredPlan = docs
      .withColumn("_w", TextAnalysis.tokens(col("text")))
      .withColumn("lang_pred", TextAnalysis.langIdOf(col("_w")))
      .withColumn("quality", TextAnalysis.qualityScoreOf(col("text"), col("_w")))
      .withColumn("n_tokens", TextAnalysis.tokenCountOf(col("_w")))
      .drop("_w")
    val scanS = timed("sources", "noop_scan")(noop(docs))
    m("sources.scan_s") = scanS
    m("text.score_s") = timed("text", "noop_score")(noop(scoredPlan)) - scanS
    val scored = scoredPlan.localCheckpoint()
      .filter(col("lang_pred") === Lang && col("quality") >= MinQuality)
    val filteredS = timed("text", "noop_filtered")(noop(scored))
    m("dedup.exact_s") = timed("dedup", "noop_exact")(
      noop(Dedup.exact(scored, "text", "doc_id"))) - filteredS
    val exact = Dedup.exact(scored, "text", "doc_id").localCheckpoint()
    val pairs = Dedup.minhashLshPairs(exact, "text", "doc_id", 3, 42, 3, 0.5)
    m("dedup.lsh_s") = timed("dedup", "noop_lsh")(noop(pairs))
    val lshPlan = t.spansNamed("probe:noop_lsh").flatMap(_.actions).lastOption
      .map(a => Tracer.nodes(a.qe.executedPlan)).getOrElse(Nil)
    // The exact-Jaccard test reads the two shingle-set columns the
    // verification joins attach; the optimizer folds it into the second
    // join's condition. That join outputs the verified pairs, and the
    // first join, below it, the LSH candidates.
    def jaccardTest(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.exists(a => a.name == "_sha" || a.name == "_shb")
    val verify = lshPlan.collectFirst {
      case j: BaseJoinExec if j.condition.exists(jaccardTest) => j
      case f: FilterExec if jaccardTest(f.condition) => f
    }
    val verified = verify.map(_.metrics("numOutputRows").value).getOrElse(0L)
    val candidates = verify.toSeq.flatMap(v => v.children.flatMap(Tracer.nodes))
      .collectFirst { case j: BaseJoinExec => j.metrics("numOutputRows").value }
      .getOrElse(0L)
    m("dedup.lsh_candidates") = candidates.toDouble
    m("dedup.lsh_verified") = verified.toDouble
    m("dedup.lsh_useful_ratio") = if (candidates > 0) verified.toDouble / candidates else 0.0
    val pairsCk = pairs.localCheckpoint()
    m("dedup.cc_edges") = pairsCk.count().toDouble
    m("dedup.cc_s") = timed("dedup", "resolve")(
      noop(Dedup.resolvePairs(exact, pairsCk, "doc_id")))
    val construct = t.spansNamed("prep_corpus")
    m("pipeline.construct_s") = construct.map(_.durS).sum
    m("pipeline.eager_jobs") = construct.map(_.spark.jobs).sum.toDouble
  }

  def manifest(dir: String, out: String): Map[String, Any] = Map(
    "manifest" -> s"$out/manifest", "lang" -> Lang, "min_quality" -> MinQuality,
    "twin_sql" -> twinSql)

  /** `Pipeline.duckPrepCorpus`, the engine's DuckDB twin of `prepCorpus`,
    * with its all-pairs Jaccard scan replaced by an exact inverted-index
    * join: a pair at Jaccard ≥ 0.5 shares at least one shingle, so
    * joining shingle postings finds every such pair, and the shared
    * count gives the same |A∩B| / |A∪B| over the same distinct
    * fingerprint sets. The all-pairs form is quadratic and takes minutes
    * at this corpus size.
    */
  private def twinSql: String = {
    val twin = Pipeline.duckPrepCorpus("documents", "text", "doc_id",
      Lang, MinQuality, n = 3, threshold = 0.5)
    val pairs = Dedup.duckPairCtes("ded", "text", "doc_id", 3, "TRUE")
    require(twin.contains(pairs), "duckPrepCorpus no longer builds its pairs with duckPairCtes")
    val tokens = TextAnalysis.duckTokensBind("text")
    twin.replace(pairs,
      s"""t AS MATERIALIZED (SELECT doc_id AS id, ${Dedup.duckShingleFps("text", 3)} AS sh
         |      FROM (SELECT *, $tokens AS w FROM ded)),
         |post AS (SELECT id, unnest(sh) AS s FROM t),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS k
         |          FROM post a JOIN post b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
         |p AS MATERIALIZED (SELECT id_a, id_b,
         |        round(CAST(k AS DOUBLE) / CAST(len(ta.sh) + len(tb.sh) - k AS DOUBLE), 6) AS jaccard
         |      FROM inter JOIN t ta ON ta.id = id_a JOIN t tb ON tb.id = id_b)""".stripMargin)
  }
}

object CurateDedup {
  val Docs = 2500L
  val Lang = "en"
  val MinQuality = 0.75
}
