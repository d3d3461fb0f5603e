package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-local tier of the iterative graph operators: connected
  * components ([[Dedup.connectedComponents]]), [[KCore]], [[PageRank]]
  * (global and personalized) and [[LabelProp]].
  *
  * Each distributed round of those loops costs a fixed ~2 Spark jobs
  * whatever the edge count, so on a metadata-scale graph the rounds, not
  * the data, are the wall. Below [[MaxEdges]] each operator collects its
  * edge set once and runs the IDENTICAL computation on the driver, so the
  * results are bit-identical by construction (one local-vs-distributed
  * equivalence spec per operator). Above the ceiling, or on any input
  * the local code cannot hold exactly (a non-long column, a null), the
  * operator keeps its distributed loop, the shape that scales. See
  * README "Driver tiers".
  */
private[graft] object LocalGraph {

  /** Edge-count ceiling of the local tier: 200 k rows of longs are a few
    * MB on the driver, far inside its headroom.
    */
  val MaxEdges: Long = 200000L

  /** The rows of `df` when the local tier applies — every column long,
    * at most [[MaxEdges]] rows ([[DriverRows.collect]], at most one job,
    * tagged `graft:<op>:hold`), no null anywhere — else `None`.
    *
    * `knownCount` is a row count the caller already holds (connected
    * components' signature probe, KCore's edge count), so no job counts
    * again.
    */
  def collect(df: DataFrame, op: String, knownCount: Option[Long] = None): Option[Array[Row]] =
    if (!df.schema.fields.forall(_.dataType == LongType)) None
    else DriverRows.collect(df, op, "hold", MaxEdges, knownCount).filterNot(_.exists(_.anyNull))

  /** Connected components of an undirected edge list by union-find: one
    * (node, component min id) per distinct endpoint. Self-loops add
    * nothing, not even their node (the distributed loop filters them
    * first); duplicate and reversed edges are harmless. Every union points
    * the larger root at the smaller, so each tree's root is its
    * component's minimum id.
    */
  def components(edges: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    val nodes = mutable.LinkedHashSet[Long]()
    edges.foreach { case (x, y) =>
      if (x != y) {
        nodes += x; nodes += y
        val (a, b) = (find(x), find(y))
        if (a != b) parent.put(math.max(a, b), math.min(a, b))
      }
    }
    nodes.toSeq.map(n => (n, find(n)))
  }

  /** A local tier's (a, b) result frame of two long columns, nullable as
    * the caller's distributed loop would give them for the same input, so
    * the schema is the same on either tier.
    */
  def frame(spark: SparkSession, rows: Seq[(Long, Long)], a: String, b: String,
            aNullable: Boolean, bNullable: Boolean): DataFrame =
    DriverRows.frame(spark,
      StructType(Seq(StructField(a, LongType, aNullable), StructField(b, LongType, bNullable))),
      rows.map { case (x, y) => InternalRow(x, y) })
}
