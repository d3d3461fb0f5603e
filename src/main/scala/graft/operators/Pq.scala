package graft.operators

import scala.collection.{immutable, mutable}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Round, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PlanFrames, PqAdcScore}
import org.apache.spark.sql.types._

import graft.{Jobs, Tables}
import graft.sinks.StagedSwap

/** Product quantization (PQ) for approximate nearest-neighbor search —
  * the memory-side scale path that complements the IVF cell pruning in
  * [[Similarity]]: each `dim`-vector is cut into `m` subvectors, each
  * subspace is k-means-quantized to `ksub` centroids, and a vector is
  * stored as `m` small codes (m bytes at ksub ≤ 256) instead of `dim`
  * floats. Search scores a candidate WITHOUT touching its floats via
  * asymmetric distance computation (ADC): the query's per-subspace dot
  * products against the `m × ksub` codebook are the only float math,
  * and every candidate's score is a sum of `m` table lookups. At 100 TB
  * this is the difference between scanning the corpus's raw embeddings
  * (dim × 4 bytes/row) and scanning its codes (m bytes/row) — a 32×
  * scan-volume cut at the standard dim=64, m=8 shape — with the
  * codebook a broadcast-sized driver literal (m·ksub·subLen doubles).
  *
  * Training runs the same deterministic Lloyd recipe as
  * [[Similarity.kmeansCells]] (smallest-id init, fixed iterations,
  * (distance, cell)-tie-broken argmin, per-cell component means) but
  * JOINTLY for all m subspaces: each iteration is ONE narrow job with no
  * exchange, whose tasks assign their vectors (the
  * [[org.apache.spark.sql.graft.PqArgminCell]] argmin) and return an
  * m·ksub·subLen partial sum that the driver merges in partition order.
  * Encoding is a narrow projection of m of those argmins per row
  * ([[encode]]); the expression's generated source is constant-size in
  * m·ksub, so it never trips janino's 64 KB method limit the way the
  * r12 CASE-over-`sub` form did. Subspace assignment minimizes squared
  * L2 (the PQ objective); ADC scores the reconstruction's INNER PRODUCT
  * with the query (the MIPS convention all ANN gates in this repo rank
  * by).
  *
  * Determinism contract (oracle-parity): squared distances and ADC sums
  * are explicit left folds with seed 0.0, a centroid component is the
  * bitwise value of a per-group `avg` (the [[Similarity.kmeansCells]]
  * convention its oracle already pins), and every ranking tie-break is
  * (score, id).
  */
object Pq {

  /** Codebook type: (subspace, cell, centroid). */
  type Codebook = Array[(Int, Long, Seq[Double])]

  private def bySub(cents: Codebook): Map[Int, Array[(Long, Seq[Double])]] =
    cents.groupBy(_._1).map { case (j, a) =>
      j -> a.map(t => (t._2, t._3)).sortBy(_._1)
    }

  /** Codebook as the two sub-indexed arrays the native expressions
    * carry as codegen reference objects: cells(sub) ASCENDING (bySub
    * already sorts) aligned with cents(sub).
    */
  private def cbArrays(cb: Map[Int, Array[(Long, Seq[Double])]], m: Int)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val cells = Array.tabulate(m)(j =>
      cb.get(j).map(_.map(_._1)).getOrElse(Array.empty[Long]))
    val cents = Array.tabulate(m)(j =>
      cb.get(j).map(_.map(_._2.toArray)).getOrElse(Array.empty[Array[Double]]))
    (cells, cents)
  }

  /** The PQ codes of a vector column: the `m` subspace argmins of
    * `vec`, as an `array<long>` in subspace order. Subspace j is the
    * [[org.apache.spark.sql.graft.PqArgminCell]] of the slice
    * `j·subLen + 1` (length `subLen`), widened to doubles, against
    * subspace j's centroids: squared L2, ties to the lowest cell, -1
    * where the subspace has no centroid. A null vector codes as `m`
    * nulls; the array itself is never null. One narrow projection, a
    * fixed `m` fused loops per row.
    */
  def encode(cents: Codebook, m: Int, subLen: Int)(vec: Column): Column = {
    val (cellArr, centArr) = cbArrays(bySub(cents), m)
    array((0 until m).map(j => org.apache.spark.sql.graft.PqArgminCell(lit(j),
      transform(slice(vec, j * subLen + 1, subLen), x => x.cast("double")),
      cellArr, centArr)): _*)
  }

  /** Per-partition sums for one Lloyd update: for each subspace j and
    * cell slot s (a cell of the codebook, or the extra last slot for
    * -1), `sums(j)((s · subLen) + i)` and `counts(j)(...)` accumulate
    * component i of the vectors assigned there, and `lens(j)(s)` is the
    * longest assigned slice.
    */
  private final case class Partial(sums: Array[Array[Double]], counts: Array[Array[Long]],
                                   lens: Array[Array[Int]])

  /** One Lloyd update of every subspace's codebook, in ONE narrow job
    * over `vecs` (rows of one widened `array<double>` vector) and no
    * exchange. Each task assigns its vectors with
    * [[org.apache.spark.sql.graft.PqArgminCell.nearest]] and returns one
    * [[Partial]]: per (sub, cell, component) the sum of the non-null
    * components, accumulated onto +0.0 in row order, and their count.
    * The driver adds the partials in partition-index order and divides
    * sum by count. That is the order in which a partial and a final
    * `avg` aggregate over `(sub, cell, pos)` apply the same additions,
    * so each mean is bitwise the one a `posexplode`/`avg` plan gives:
    * a component no member has non-null is null, a centroid is as long
    * as its longest member slice, and a cell with no member component
    * is dropped. Vectors the argmin leaves unassigned (-1: a subspace
    * with no centroid) form cell -1, as in that plan.
    */
  private def lloydUpdate(vecs: RDD[InternalRow], cents: Codebook, m: Int, subLen: Int): Codebook = {
    val (cellArr, centArr) = cbArrays(bySub(cents), m)
    // Cell k's slot is k; an unassigned vector's is cell -1's, else the last one.
    val unassigned = cellArr.map(cs => if (cs.contains(-1L)) cs.indexOf(-1L) else cs.length)
    val slots = cellArr.map(_.length + 1)
    val partials = vecs.mapPartitions { rows =>
      val p = Partial(slots.map(n => new Array[Double](n * subLen)),
        slots.map(n => new Array[Long](n * subLen)), slots.map(n => new Array[Int](n)))
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val v = r.getArray(0)
          var j = 0
          while (j < m) {
            val base = j * subLen
            val len = math.min(subLen, math.max(0, v.numElements() - base))
            val k = org.apache.spark.sql.graft.PqArgminCell.nearest(centArr(j), v, base, len)
            val s = if (k < 0) unassigned(j) else k
            p.lens(j)(s) = math.max(p.lens(j)(s), len)
            var i = 0
            while (i < len) {
              if (!v.isNullAt(base + i)) {
                p.sums(j)(s * subLen + i) += v.getDouble(base + i)
                p.counts(j)(s * subLen + i) += 1
              }
              i += 1
            }
            j += 1
          }
        }
      }
      Iterator.single(p)
    }.collect()
    (for {
      j <- 0 until m
      s <- 0 until slots(j)
      len = partials.foldLeft(0)((l, p) => math.max(l, p.lens(j)(s)))
      if len > 0
    } yield {
      val centroid = Seq.tabulate[Any](len) { i =>
        val at = s * subLen + i
        val sum = partials.foldLeft(0.0)(_ + _.sums(j)(at))
        val count = partials.foldLeft(0L)(_ + _.counts(j)(at))
        if (count == 0) null else sum / count.toDouble
      }
      (j, if (s < cellArr(j).length) cellArr(j)(s) else -1L, centroid.asInstanceOf[Seq[Double]])
    }).toArray
  }

  /** Train the joint codebooks and encode the corpus. Returns (codes
    * frame, final codebook sorted by (sub, cell)). The codes frame is
    * `idCol` plus `codes` ([[encode]] of `vecCol`; codes(j) is subspace
    * j's cell id), one row per source row: a narrow projection over
    * `df`, computed by whatever reads it. Ids must be unique: a repeated
    * id gets one code row per occurrence, and a repeated init id one
    * init cell per occurrence.
    *
    * Training caches `df`'s vectors (rebalanced, widened to doubles),
    * fills the cache with the `codebook_init` collect of the vectors
    * whose id is below `ksub` (each subspace's init cells are their ids)
    * and runs the other `iters − 1` Lloyd updates as one
    * `codebook_update` job each ([[lloydUpdate]]): `iters` jobs in all.
    * Driver state is the m·ksub·subLen codebook plus one such partial
    * per input partition.
    */
  def pqModel(df: DataFrame, vecCol: String, idCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int): (DataFrame, Codebook) = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subLen = dim / m
    val spark = df.sparkSession
    val widened = Dedup.rebalance(df).select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("_v"))
    val cents = Jobs.cached(widened) { vecs =>
      var cents: Codebook = Jobs.labelled(spark, "pq", "codebook_init")(
        vecs.filter(col("id") < ksub).collect()).flatMap { r =>
          val v = r.getSeq[Double](1)
          (0 until m).map(j => (j, r.getLong(0),
            if (v == null) null else v.slice(j * subLen, (j + 1) * subLen)))
        }
      val rows = vecs.select("_v").queryExecution.toRdd
      for (_ <- 1 until iters)
        cents = Jobs.labelled(spark, "pq", "codebook_update")(lloydUpdate(rows, cents, m, subLen))
      cents
    }
    (df.select(col(idCol), encode(cents, m, subLen)(col(vecCol)).as("codes")),
      cents.sortBy(c => (c._1, c._2)))
  }
  /** ADC score column: ascending-subspace accumulation (seed 0.0) of
    * codebook lookups via the native
    * [[org.apache.spark.sql.graft.PqAdcScore]] expression — binary-
    * search cell lookup + one `subLen`-wide dot per subspace, all in one
    * fused loop (O(m·(log ksub + subLen)) per pair vs the old m·ksub
    * lazy-CASE probes, and immune to the janino size limit the CASE
    * chain shares with the r12 assignment). Per-subspace dots are the
    * same ascending left fold as [[Similarity.dot]]; an unmatched code
    * contributes 0.0, like the old fold's terminal otherwise. References
    * `_qv` (double query vector) and `codes`.
    */
  private def adcScore(cb: Map[Int, Array[(Long, Seq[Double])]],
                       m: Int, subLen: Int): Column = {
    val (cellArr, centArr) = cbArrays(cb, m)
    PqAdcScore(col("codes"), col("_qv"), cellArr, centArr, subLen)
  }

  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_s").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("vec_id"), col("rank"),
        round(col("_s"), 6).as("score_adc"))
  }

  /** ADC top-k: train a codebook on `corpus` ([[pqModel]]) and, for each
    * query (a row of `queries`), return the k candidates with the
    * highest code-reconstructed inner product ([[pqTopKFromIndex]] over
    * the fresh codes). The corpus side touches ONLY the codes; per
    * (query, candidate) the score is the [[adcScore]] sum. Self-matches
    * excluded, (score DESC, id ASC) rank, `score_adc` rounded to 6 for
    * output.
    *
    * Scale shape: queries broadcast against the code table (narrow),
    * one query-keyed exchange for the rank window. Combine with the
    * IVF cell filter for the bucketed candidate-gen at full scale.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, dim: Int, m: Int, ksub: Int, iters: Int,
             k: Int): DataFrame = {
    val (codes, cents) = pqModel(corpus, vecCol, idCol, dim, m, ksub, iters)
    pqTopKFromIndex(codes, cents, queries, vecCol, idCol, dim, m, k)
  }

  /** Most (query, code) pairs the driver tier of [[pqTopKFromIndex]]
    * scores in one call, and so also the most code rows [[loadIndex]]
    * keeps on the driver. Measured at 64-d, m 8, ksub 32, `local[4]`:
    * the held index is a [[PackedCodes]] of 24 B per vector (0.40 MB at
    * this ceiling), and a warm driver-tier call over it takes ~3.4 ms
    * against 0.24 s for the distributed plan's three jobs. The bound is
    * set by the fallback: a distributed plan over a driver-held code
    * table ships it with every query, which stayed within noise of a
    * parquet scan at 16 384 codes (0.98-1.18x) but was 1.4x at 32 768
    * and 2x at 65 536.
    */
  val MaxDriverPairs: Long = 1L << 14

  /** ADC top-k over an ALREADY-TRAINED index (the production read path:
    * train once offline, query many times). Same ranking as [[pqTopK]]:
    * the [[adcScore]] sum, self-matches excluded, (score DESC, id ASC)
    * rank, `score_adc` rounded to 6.
    *
    * Two tiers, with the same rows and schema:
    *  - Driver tier: when `codes` is already driver-local (a
    *    [[loadIndex]] of at most [[MaxDriverPairs]] rows, or [[pqModel]]'s
    *    codes over a driver-local corpus; a plan check)
    *    and packs ([[PackedCodes]]: two columns, no null, one code width),
    *    the query side is read without a job (straight from its relation
    *    when `queries` is itself local, else through
    *    [[DriverRows.collect]]) and queries × codes is at most
    *    [[MaxDriverPairs]] ([[DriverRows.ceiling]]). Each query builds
    *    one ADC table, its dot with every code value that occurs, by the
    *    same fold as [[org.apache.spark.sql.graft.PqAdcScore]]; a pair's
    *    score is `m` lookups into it, summed in `PqAdcScore`'s order, so
    *    it is bitwise the same. Pairs rank in Spark's order
    *    (`SQLOrderingUtil.compareDoubles` on the score, then the id), rows
    *    sharing a query id rank together, as in the window, and the score
    *    is rounded by Spark's own `Round`. The result is a local relation,
    *    so collecting it starts no job.
    *  - Distributed tier, everything else (a larger index, a code table
    *    read from disk or freshly trained over a corpus that is not
    *    driver-local, any null id, code or vector component): the query
    *    side is broadcast against the code table and one query-keyed
    *    exchange feeds the rank window.
    */
  def pqTopKFromIndex(codes: DataFrame, cents: Codebook, queries: DataFrame,
                      vecCol: String, idCol: String, dim: Int, m: Int,
                      k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subLen = dim / m
    require(cents.forall(_._3.length == subLen),
      s"every codebook centroid must have dim / m = $subLen components")
    val cb = bySub(cents)
    driverTopK(codes, queries, vecCol, idCol, k, cb, m, subLen).getOrElse {
      val q = querySide(queries, vecCol, idCol)
      rankTopK(codes.join(broadcast(q), col(idCol) =!= col("query_id"))
        .withColumn("_s", adcScore(cb, m, subLen)), idCol, k)
    }
  }

  /** The query side as the distributed plan reads it: `query_id` and the
    * vector widened to doubles (`_qv`).
    */
  private def querySide(queries: DataFrame, vecCol: String, idCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("_qv"))

  /** Spark's order for the rank window: score DESC, then id ASC. */
  private val rankOrder: Ordering[(Double, Long)] = (x, y) => {
    val c = SQLOrderingUtil.compareDoubles(y._1, x._1)
    if (c != 0) c else java.lang.Long.compare(x._2, y._2)
  }

  /** The query rows for the driver tier, at most `ceiling` of them and
    * none with a null, as (`query_id` field, whether the vector column is
    * nullable, (id, vector as doubles) per row); else `None`.
    *
    * A local `queries` with a long `idCol` and a float or double array
    * `vecCol` is read from its relation, widening each component as
    * `Cast` does. Any other frame goes through [[querySide]] (so a
    * missing column fails as it does in the distributed plan) and
    * [[DriverRows.collect]], whose rows are checked against `ceiling`
    * again: under a [[DriverRows.ceilingsAt]] scope the collect reads the
    * scope's value, not this derived bound.
    */
  private def queryRows(queries: DataFrame, vecCol: String, idCol: String, ceiling: Long)
      : Option[(StructField, Boolean, Array[(Long, Array[Double])])] = {
    def field(name: String) = queries.schema.fields.filter(_.name == name) match {
      case Array(f) => Some(f)
      case _ => None
    }
    val direct = for {
      rel <- DriverRows.local(queries)
      idField <- field(idCol) if idField.dataType == LongType
      vecField <- field(vecCol)
      widen <- vecField.dataType match {
        case ArrayType(FloatType, _) => Some((a: ArrayData, i: Int) => a.getFloat(i).toDouble)
        case ArrayType(DoubleType, _) => Some((a: ArrayData, i: Int) => a.getDouble(i))
        case _ => None
      }
    } yield (rel.data, idField, vecField, widen)
    direct match {
      case Some((data, idField, vecField, widen)) =>
        val (idPos, vecPos) = (queries.schema.fieldIndex(idCol), queries.schema.fieldIndex(vecCol))
        def whole(r: InternalRow) = !r.isNullAt(idPos) && !r.isNullAt(vecPos) && {
          val a = r.getArray(vecPos)
          (0 until a.numElements()).forall(!a.isNullAt(_))
        }
        if (data.size > ceiling || !data.forall(whole)) None
        else Some((idField.copy(name = "query_id"), vecField.nullable, data.map { r =>
          val a = r.getArray(vecPos)
          (r.getLong(idPos), Array.tabulate(a.numElements())(widen(a, _)))
        }.toArray))
      case None =>
        val q = querySide(queries, vecCol, idCol)
        if (q.schema("query_id").dataType != LongType) None
        else DriverRows.collect(q, "pq", "collect_queries", ceiling)
          .filterNot(rows => rows.length > ceiling ||
            rows.exists(r => r.anyNull || r.getSeq[Any](1).contains(null)))
          .map(rows => (q.schema("query_id"), q.schema("_qv").nullable,
            rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))))
    }
  }

  /** The driver tier of [[pqTopKFromIndex]], or `None` where it does not
    * apply. Its schema is the one [[rankTopK]] gives the distributed
    * plan: the ids keep their nullability, `rank` is not nullable, and
    * the score is nullable as the `PqAdcScore` over the same columns.
    */
  private def driverTopK(codes: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
                         k: Int, cb: Map[Int, Array[(Long, Seq[Double])]],
                         m: Int, subLen: Int): Option[DataFrame] = {
    val maxPairs = DriverRows.ceiling(MaxDriverPairs)
    val idField = codes.schema(idCol)
    val codesField = codes.schema("codes")
    val (cellArr, centArr) = cbArrays(cb, m)
    for {
      rel <- DriverRows.local(codes)
      if rel.data.size <= maxPairs
      packed <- PackedCodes.of(rel)
      if packed.idPos == codes.schema.fieldIndex(idCol)
      (qField, vecNullable, queries) <- queryRows(queries, vecCol, idCol,
        if (packed.isEmpty) maxPairs else maxPairs / packed.size)
    } yield {
      val ids = packed.ids
      val round6 = new Round(BoundReference(0, DoubleType, nullable = false), Literal(6))
      val rows = queries.groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        // The k best so far, the last-ranked at the head.
        val top = mutable.PriorityQueue.empty[(Double, Long)](rankOrder)
        for ((_, qv) <- rs) {
          val table = packed.adcTable(qv, cellArr, centArr, subLen, m)
          var i = 0
          while (k > 0 && i < ids.length) {
            if (ids(i) != qid) {
              val c = (packed.score(table, i), ids(i))
              if (top.size < k) top.enqueue(c)
              else if (rankOrder.lt(c, top.head)) { top.dequeue(); top.enqueue(c) }
            }
            i += 1
          }
        }
        top.toArray.sorted(rankOrder).zipWithIndex.map { case ((s, id), r) =>
          InternalRow(qid, id, r + 1L, round6.eval(InternalRow(s)))
        }
      }
      DriverRows.frame(codes.sparkSession, StructType(Seq(qField, idField.copy(name = "vec_id"),
        StructField("rank", LongType, nullable = false),
        StructField("score_adc", DoubleType, codesField.nullable || vecNullable))), rows)
    }
  }

  /** Persist a trained PQ index as two parquet relations: the
    * vector-scale code table (`<dir>/codes.parquet` — one row per
    * vector, m byte-ish cells; at corpus scale this is the index one
    * partitions/buckets by whatever key the workload probes) and the
    * metadata-scale codebook (`<dir>/codebook.parquet` — m·ksub rows).
    * The split mirrors every disk-backed PQ layout: codes are data,
    * codebooks are coordinator state.
    *
    * Both relations are written into one staged directory that replaces
    * `dir` as a whole ([[StagedSwap]]), so a failed or interrupted save
    * leaves the previous index, never new codes beside an old codebook.
    */
  def saveIndex(codes: DataFrame, cents: Codebook, idCol: String,
                dir: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    Jobs.labelled(spark, "pq", "save_index")(StagedSwap(spark, dir).replace() { staged =>
      codes.write.parquet(s"$staged/codes.parquet")
      cents.toSeq.toDF("sub", "cell", "centroid")
        .coalesce(1).write.parquet(s"$staged/codebook.parquet")
    })
  }

  /** The codebook relation's schema, as [[saveIndex]] writes it. */
  private val CodebookSchema = StructType(Seq(StructField("sub", IntegerType),
    StructField("cell", LongType), StructField("centroid", ArrayType(DoubleType))))

  /** Load a [[saveIndex]] directory back into (codes frame, codebook),
    * first repairing a save that a crash interrupted (so do not load a
    * directory while a save to it runs). The codebook is read with the
    * schema [[saveIndex]] writes, so no job infers it, and its collect is
    * m·ksub rows — metadata, the same size as training's driver state.
    * A code table of at most [[MaxDriverPairs]] rows is
    * collected in one job ([[holdCodes]]) and returned as a driver-local
    * frame whose relation holds it packed, which [[pqTopKFromIndex]]'s
    * driver tier scores from with no further pass over the rows; a larger
    * one stays a parquet scan.
    */
  def loadIndex(spark: SparkSession, dir: String): (DataFrame, Codebook) = {
    StagedSwap(spark, dir)
    val cents: Codebook = Jobs.labelled(spark, "pq", "load_codebook")(
      spark.read.schema(CodebookSchema).parquet(s"$dir/codebook.parquet")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))))
    val codes = Jobs.labelled(spark, "pq", "load_codes") {
      val read = Tables.read(spark, s"$dir/codes.parquet")
      holdCodes(read).getOrElse(read)
    }
    (codes, cents)
  }

  /** `codes` held on the driver when it has at most [[MaxDriverPairs]]
    * rows ([[DriverRows.hold]]): validated and packed once into a
    * [[PackedCodes]] relation where it packs, else as the plain rows.
    */
  private[graft] def holdCodes(codes: DataFrame): Option[DataFrame] =
    DriverRows.hold(codes, "pq", "load_codes", MaxDriverPairs).map { held =>
      (for (rel <- DriverRows.local(held); packed <- PackedCodes.of(rel))
        yield PlanFrames.ofPlan(held.sparkSession, rel.copy(data = packed))).getOrElse(held)
    }

  /** IVF-PQ — the production ANN composition (coarse cells prune the
    * candidate set, PQ codes make scoring the survivors cheap): probe
    * the `nProbe` nearest coarse cells per query ([[Similarity.ivfTopK]]
    * semantics over `cellCol`), then ADC-rank ONLY the candidates in
    * probed cells. At 100 TB the corpus is stored partitioned by cell
    * with its codes inline, so the probe is partition pruning and the
    * scan touches m bytes per candidate — neither the raw floats nor
    * the unprobed cells are ever read. Here each corpus row is coded in
    * place ([[encode]]), with no join back to a code table.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                idCol: String, cellCol: String, dim: Int, m: Int, ksub: Int,
                iters: Int, k: Int, nProbe: Int): DataFrame = {
    val subLen = dim / m
    val cents = pqModel(corpus, vecCol, idCol, dim, m, ksub, iters)._2
    val centroids = Similarity.centroidsOf(corpus, vecCol, cellCol)
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("_qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_cscore").desc, col("cell").asc)
    val probes = q.join(broadcast(centroids), expr("true"))
      .withColumn("_cscore", Similarity.dot(col("_qv"), col("centroid")))
      .withColumn("_crank", row_number().over(probeW))
      .filter(col("_crank") <= nProbe)
      .select(col("query_id"), col("_qv"), col("cell"))
    val coded = corpus.select(col(idCol), col(cellCol).as("cell"),
      encode(cents, m, subLen)(col(vecCol)).as("codes"))
    rankTopK(
      coded.join(broadcast(probes), Seq("cell"))
        .filter(col(idCol) =!= col("query_id"))
        .withColumn("_s", adcScore(bySub(cents), m, subLen)),
      idCol, k)
  }

  // --------------------------------------------------- DuckDB oracle SQL

  /** Shared PQ oracle CTE chain: `v` (double vectors, plus any extra
    * columns), `sv` (subvector explode), the unrolled joint-Lloyd
    * `c0/a1/…` CTEs, and `qs` (query subvectors). Returns (CTE list,
    * final-assignment rel, final-codebook rel).
    */
  private def duckPqCtes(tbl: String, vecCol: String, idCol: String,
                         m: Int, subLen: Int, ksub: Int, iters: Int,
                         maxQueryId: Long,
                         extraVCols: String = ""): (Seq[String], String, String) = {
    // squared L2 as the same left fold (seed 0.0, ascending components)
    def sqd(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, " +
        s"[($a[i] - $b[i]) * ($a[i] - $b[i]) for i in range(1, $subLen + 1)]), " +
        s"(acc, x) -> acc + x)"
    def assignCte(name: String, centRel: String): String =
      s"""$name AS (
         |  SELECT vid, sub, subvec, cell FROM (
         |    SELECT s.vid, s.sub, s.subvec, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY s.vid, s.sub
         |             ORDER BY ${sqd("s.subvec", "c.centroid")} ASC, c.cell ASC) AS rn
         |    FROM sv s JOIN $centRel c ON s.sub = c.sub) x WHERE rn = 1)""".stripMargin
    def centCte(name: String, assignRel: String): String =
      s"""$name AS (
         |  SELECT sub, cell, list(m ORDER BY pos) AS centroid FROM (
         |    SELECT sub, cell, pos, avg(subvec[pos]) AS m
         |    FROM $assignRel, range(1, ${subLen + 1}) t(pos)
         |    GROUP BY sub, cell, pos) y
         |  GROUP BY sub, cell)""".stripMargin
    val iterCtes = (2 to iters).flatMap { i =>
      Seq(centCte(s"c${i - 1}", s"a${i - 1}"), assignCte(s"a$i", s"c${i - 1}"))
    }
    val ctes = Seq(
      s"v AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS emb$extraVCols FROM $tbl)",
      s"""sv AS (SELECT vid, CAST(j AS INTEGER) AS sub,
         |          emb[j * $subLen + 1 : j * $subLen + $subLen] AS subvec
         |        FROM v, range(0, $m) t(j))""".stripMargin,
      s"c0 AS (SELECT sub, vid AS cell, subvec AS centroid FROM sv WHERE vid < $ksub)",
      assignCte("a1", "c0")) ++ iterCtes ++ Seq(
      s"qs AS (SELECT vid AS qid, sub, subvec FROM sv WHERE vid < $maxQueryId)")
    (ctes, s"a$iters", s"c${iters - 1}")
  }

  /** The shared ADC tail: per-(query, candidate, sub) codebook dots,
    * the sorted-fold sum, and the tie-broken rank filter. `candJoin`
    * restricts which (qid, vid) pairs are scored.
    */
  private def duckAdcTail(finalA: String, finalC: String, k: Int,
                          candJoin: String): String =
    s"""dp AS (SELECT q.qid, d.vid, q.sub,
       |          list_dot_product(q.subvec, c.centroid) AS dp
       |        FROM qs q
       |        $candJoin
       |        JOIN $finalC c ON c.sub = d.sub AND c.cell = d.cell),
       |sc AS (SELECT qid, vid, list_reduce(
       |          list_prepend(0.0, list(dp ORDER BY sub)),
       |          (acc, x) -> acc + x) AS s
       |        FROM dp GROUP BY qid, vid)
       |SELECT query_id, vec_id, rank, round(s, 6) AS score_adc FROM (
       |  SELECT qid AS query_id, vid AS vec_id, s,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY s DESC, vid ASC) AS BIGINT) AS rank
       |  FROM sc) r
       |WHERE rank <= $k""".stripMargin

  /** DuckDB oracle twin of [[pqTopK]] with queries = `idCol <
    * maxQueryId`: the same subvector slicing, the same unrolled Lloyd
    * CTEs ((dist, cell)-tie-broken argmin, per-(sub, cell, pos) avg
    * update), and the same sorted-fold ADC sum.
    */
  def duckPqTopK(tbl: String, vecCol: String, idCol: String,
                 dim: Int, m: Int, ksub: Int, iters: Int,
                 k: Int, maxQueryId: Long): String = {
    val (ctes, finalA, finalC) =
      duckPqCtes(tbl, vecCol, idCol, m, dim / m, ksub, iters, maxQueryId)
    s"""WITH ${ctes.mkString(",\n")},
       |${duckAdcTail(finalA, finalC, k,
          s"JOIN $finalA d ON d.sub = q.sub AND d.vid != q.qid")}""".stripMargin
  }

  /** DuckDB oracle twin of [[ivfPqTopK]]: `tbl` must already carry
    * `cellCol` (pass [[Similarity.duckKmeansRel]] for learned cells).
    * Probe CTEs mirror [[Similarity.duckIvfTopK]]; the ADC tail scores
    * only candidates inside probed cells.
    */
  def duckIvfPqTopK(tbl: String, vecCol: String, idCol: String,
                    cellCol: String, dim: Int, m: Int, ksub: Int,
                    iters: Int, k: Int, nProbe: Int,
                    maxQueryId: Long): String = {
    val (ctes, finalA, finalC) =
      duckPqCtes(tbl, vecCol, idCol, m, dim / m, ksub, iters, maxQueryId,
        extraVCols = s", $cellCol AS ccell")
    val probeCtes = Seq(
      s"""cent AS (
         |  SELECT ccell AS cell, list(m ORDER BY i) AS centroid FROM (
         |    SELECT ccell, i, avg(emb[i]) AS m
         |    FROM v, range(1, ${dim + 1}) t(i)
         |    GROUP BY ccell, i) y
         |  GROUP BY ccell)""".stripMargin,
      s"""probes AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.vid AS qid, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.vid
         |             ORDER BY list_dot_product(q.emb, c.centroid) DESC, c.cell ASC) AS crank
         |    FROM (SELECT vid, emb FROM v WHERE vid < $maxQueryId) q, cent c) x
         |  WHERE crank <= $nProbe)""".stripMargin,
      s"""cand AS (SELECT p.qid, v2.vid FROM probes p
         |         JOIN v v2 ON v2.ccell = p.cell
         |         WHERE v2.vid != p.qid)""".stripMargin)
    s"""WITH ${(ctes ++ probeCtes).mkString(",\n")},
       |${duckAdcTail(finalA, finalC, k,
          s"JOIN cand cd ON cd.qid = q.qid " +
          s"JOIN $finalA d ON d.sub = q.sub AND d.vid = cd.vid")}""".stripMargin
  }
}

/** A driver-held PQ code table, packed: `ids(i)` is row i's id, and
  * `pos(i * width + j)`, read unsigned, is the position of its subspace-j
  * code in `dict(j)`, the ascending distinct codes that occur in that
  * subspace: 8 bytes per id and 2 per subspace code, 24 B per vector at
  * m 8.
  *
  * It is also the `data` of the relation [[Pq.loadIndex]] returns, so
  * the packed form travels with the frame: rows (the id at `idPos`, the
  * codes in the other column) are built only when something iterates
  * it, and the frame stays an ordinary local relation for `count`, joins
  * and the distributed tier.
  */
private[graft] final class PackedCodes private (val ids: Array[Long], val idPos: Int,
                                                width: Int, dict: Array[Array[Long]],
                                                pos: Array[Short])
    extends immutable.AbstractSeq[InternalRow] with immutable.IndexedSeq[InternalRow]
    with Serializable {

  def length: Int = ids.length

  def apply(i: Int): InternalRow = {
    val row = new Array[Any](2)
    row(idPos) = ids(i)
    row(1 - idPos) = UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(width)(j => dict(j)(pos(i * width + j) & 0xffff)))
    new GenericInternalRow(row)
  }

  /** One query's ADC table: for each subspace j below `m` and the code
    * width, the query's dot with the centroid of every code in `dict(j)`
    * — the seed-0.0 ascending fold of
    * [[org.apache.spark.sql.graft.PqAdcScore]], over the same components
    * — or 0.0 for a code with no centroid, where `PqAdcScore` adds
    * nothing. Adding 0.0 instead leaves the sum bitwise the same: it
    * starts at +0.0 and so is never -0.0.
    */
  def adcTable(qv: Array[Double], cells: Array[Array[Long]],
               cents: Array[Array[Array[Double]]], subLen: Int, m: Int): Array[Array[Double]] =
    Array.tabulate(math.min(m, width)) { j =>
      val base = j * subLen
      dict(j).map { code =>
        val idx = java.util.Arrays.binarySearch(cells(j), code)
        var dp = 0.0
        if (idx >= 0) {
          val c = cents(j)(idx)
          val n = math.min(c.length, math.max(0, qv.length - base))
          var i = 0
          while (i < n) {
            dp += qv(base + i) * c(i)
            i += 1
          }
        }
        dp
      }
    }

  /** Row `i`'s ADC score from a query's [[adcTable]]: its subspaces'
    * entries summed onto 0.0 in ascending j, as `PqAdcScore` sums them.
    */
  def score(table: Array[Array[Double]], i: Int): Double = {
    val base = i * width
    var acc = 0.0
    var j = 0
    while (j < table.length) {
      acc += table(j)(pos(base + j) & 0xffff)
      j += 1
    }
    acc
  }
}

private[graft] object PackedCodes {

  /** `rel`'s code table packed: its own data when that is packed already,
    * else packed from its rows (one pass). `None` unless `rel` has two
    * columns, a long id and `codes`, an array of longs, and every row has
    * an id and the same number of codes, none of them null.
    */
  def of(rel: LocalRelation): Option[PackedCodes] = rel.data match {
    case p: PackedCodes => Some(p)
    case data =>
      val codesPos = rel.output.indexWhere(a => a.name == "codes" &&
        (a.dataType match { case ArrayType(LongType, _) => true; case _ => false }))
      val idPos = 1 - codesPos
      if (rel.output.size != 2 || codesPos < 0 || rel.output(idPos).dataType != LongType) None
      else pack(data.toArray, idPos, codesPos)
  }

  private def pack(rows: Array[InternalRow], idPos: Int, codesPos: Int): Option[PackedCodes] = {
    val width = rows.headOption.filterNot(_.isNullAt(codesPos))
      .fold(0)(_.getArray(codesPos).numElements())
    val whole = rows.forall(r => !r.isNullAt(idPos) && !r.isNullAt(codesPos) && {
      val a = r.getArray(codesPos)
      a.numElements() == width && (0 until width).forall(!a.isNullAt(_))
    })
    if (!whole) return None
    val codes = rows.map(_.getArray(codesPos).toLongArray())
    val dict = Array.tabulate(width)(j => codes.map(_(j)).distinct.sorted)
    if (dict.exists(_.length > 65536)) return None
    val pos = new Array[Short](rows.length * width)
    for (i <- rows.indices; j <- 0 until width)
      pos(i * width + j) = java.util.Arrays.binarySearch(dict(j), codes(i)(j)).toShort
    Some(new PackedCodes(rows.map(_.getLong(idPos)), idPos, width, dict, pos))
  }
}
