package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.Pq

/** Similarity search over product-quantized embeddings: build the index
  * (`Pq.pqModel` + `saveIndex`), load it back, then answer single-vector
  * top-10 queries one after another from one closed-loop client
  * (`Queries` a pass). The warm-up pass asks all of them too: with fewer,
  * query latency was still falling through the timed pass. The build is
  * bound by its iterations and jobs; a query is a broadcast-and-rank job.
  */
final class AnnSearch extends Workload("ann_search") {
  import AnnSearch._

  def generate(spark: SparkSession, in: Inputs, dir: String): Unit =
    Inputs.write(in.embeddings(spark, Vectors, Dim), dir, "embeddings")

  /** Query vectors (id, vector), taken from the corpus so the exact
    * top-10 is well defined; self matches are excluded by the engine.
    */
  private var queries: Array[(Long, Array[Float])] = Array.empty
  private var corpus: Array[(Long, Array[Float])] = Array.empty
  private val answers = mutable.Map[Long, Seq[Long]]()

  private def loadCorpus(spark: SparkSession, dir: String): Unit =
    if (corpus.isEmpty) {
      corpus = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      val step = Vectors / Queries
      queries = Array.tabulate(Queries)(i => corpus((i * step + (i * 7919L) % step).toInt))
    }

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean): Long = {
    loadCorpus(spark, dir)
    val index = s"$out/index"
    val built = ops.op("build_index") {
      val emb = sp.span("sources", "load")(Tables.load(spark, dir, "embeddings"))
      val (codes, cents) = sp.span("pq", "build")(
        Pq.pqModel(emb, "embedding", "vec_id", Dim, M, Ksub, Iters))
      sp.span("pq", "save")(Pq.saveIndex(codes, cents, "vec_id", index))
      codes.unpersist(blocking = false)
      sp.span("pq", "load_index")(Pq.loadIndex(spark, index))
    }
    built.foreach { case (codes, cents) =>
      queries.foreach { case (id, v) =>
        ops.op(s"query_$id") {
          val q = spark.createDataFrame(java.util.List.of(Row(id, v.toSeq)), schema)
          val top = sp.span("pq", "query")(
            Pq.pqTopKFromIndex(codes, cents, q, "embedding", "vec_id", Dim, M, K).collect())
          answers(id) = top.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
        }
      }
    }
    Vectors + queries.length.toLong * Vectors
  }

  /** Exact top-10 by inner product (the ranking PQ's ADC score
    * approximates), self excluded, ties to the lower id; plain JVM.
    */
  private def exactTop(q: (Long, Array[Float])): Seq[Long] = {
    val (qid, qv) = q
    corpus.iterator.filter(_._1 != qid).map { case (id, v) =>
      var s = 0.0; var j = 0
      while (j < Dim) { s += qv(j).toDouble * v(j).toDouble; j += 1 }
      (id, s)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)
  }

  var recall = 0.0

  override def checks(spark: SparkSession, dir: String, out: String): Seq[String] = {
    val missing = queries.count(q => !answers.contains(q._1))
    recall = queries.filter(q => answers.contains(q._1)).map { q =>
      answers(q._1).toSet.intersect(exactTop(q).toSet).size.toDouble / K
    }.sum / queries.length
    (if (missing > 0) Seq(s"$missing queries without an answer") else Nil) ++
      (if (recall < MinRecall) Seq(f"recall@10 $recall%.3f below $MinRecall") else Nil) ++
      answers.collect { case (id, a) if a.size != K || a.contains(id) =>
        s"query $id: answer $a is not $K other vectors" }
  }

  override def record: Map[String, Any] = Map("recall_at_10" -> recall)

  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit = {
    val real = t.allSpans.filterNot(_.name.startsWith("probe:"))
    def self(name: String) = real.filter(_.name == name)
    m("pq.build_s") = self("build").map(_.durS).sum
    m("pq.build_jobs") = self("build").map(_.spark.jobs).sum.toDouble
    m("pq.save_s") = self("save").map(_.durS).sum
    m("pq.load_s") = self("load_index").map(_.durS).sum
    m("pq.query_s") = self("query").map(_.durS).sum
    m("pq.rows_scored") = self("query").flatMap(_.actions).map(_.scanRows).sum.toDouble
    m("pq.recall_at_10") = recall
  }

  def manifest(dir: String, out: String): Map[String, Any] =
    Map("index" -> s"$out/index", "vectors" -> Vectors)
}

object AnnSearch {
  val Vectors = 10000L
  val Dim = 64
  val M = 8
  val Ksub = 32
  val Iters = 4
  val K = 10
  val Queries = 64
  /** Floor for the run's mean recall@10 against the exact top-10. */
  val MinRecall = 0.4
}
