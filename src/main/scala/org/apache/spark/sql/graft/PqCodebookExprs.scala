package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

// Lives under org.apache.spark.sql because AbstractDataType /
// ExpressionUtils are private[sql] — the standard packaging for
// third-party native expressions (see DotProduct.scala).

/** Native PQ subspace assignment: squared-L2 argmin of `subvec` over
  * subspace `sub`'s codebook centroids, ties to the LOWEST cell id.
  *
  * The composable formulation (graft.operators.Pq r12 and earlier) was
  * one CASE over `sub` whose every branch held `ksub` aggregate/zip_with
  * distance folds — m·ksub higher-order folds in a single expression
  * tree. At sf1.0 that generated method blows janino's 64 KB limit and
  * the whole corpus-encode stage silently drops to interpreted eval
  * (logged ERROR, 5–7 s gates — VERDICT r12 #1). Here the codebook rides
  * along as a reference object (`long[][]` cells + `double[][][]`
  * centroids, both indexed by sub) and the generated code is ONE call
  * to [[PqArgminCell.nearest]], whose source size is constant in m and
  * ksub — it stays inside whole-stage codegen at any codebook size, and
  * the per-row work is the same O(ksub·subLen) float math the CASE
  * version paid without the lambda-bind overhead.
  *
  * Float-math parity with the oracle (and the old CASE form) is exact:
  * distance is the same left fold (seed 0.0, ascending components) of
  * (x−y)², and iterating cells in ascending-id order with a strict `<`
  * reproduces the ORDER BY dist ASC, cell ASC tie-break bit-for-bit.
  * Out-of-range `sub` yields −1, matching the old fold's terminal
  * `otherwise(lit(-1L))`. (NaN distances — impossible on finite
  * embeddings — would lose under `<` here but win under the old
  * struct-max; neither engine feeds NaN.)
  *
  * `cells(s)` MUST be sorted ascending (Pq.bySub guarantees it); the
  * same arrays back [[PqAdcScore]]'s binary-search lookup.
  */
case class PqArgminCell(left: Expression, right: Expression,
                        cells: Array[Array[Long]],
                        cents: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(IntegerType, ArrayType(DoubleType))

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_pq_argmin"

  override def nullSafeEval(subAny: Any, vecAny: Any): Any = {
    val s = subAny.asInstanceOf[Int]
    val v = vecAny.asInstanceOf[ArrayData]
    if (s < 0 || s >= cells.length) -1L
    else {
      val k = PqArgminCell.nearest(cents(s), v, 0, v.numElements())
      if (k < 0) -1L else cells(s)(k)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("pqCells", cells, "long[][]")
    val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val self = classOf[PqArgminCell].getName
    nullSafeCodeGen(ctx, ev, (s, v) => {
      val k = ctx.freshName("k")
      s"""
         |${ev.value} = -1L;
         |if ($s >= 0 && $s < $cellsRef.length) {
         |  int $k = $self.nearest($centsRef[$s], $v, 0, $v.numElements());
         |  if ($k >= 0) ${ev.value} = $cellsRef[$s][$k];
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgminCell =
    copy(left = newLeft, right = newRight)
}

object PqArgminCell {

  /** The index of the centroid in `cv` nearest to components
    * `base until base + len` of `v` by squared L2, ties to the lowest
    * index, or -1 when `cv` is empty or no distance is below +inf. A
    * distance is the seed-0.0 ascending fold of (x−y)² over the first
    * min(centroid length, `len`) components; a null component reads as
    * `getDouble` gives it (0.0). The expression and the PQ training
    * kernel (`graft.operators.Pq`) both assign through this one loop.
    */
  def nearest(cv: Array[Array[Double]], v: ArrayData, base: Int, len: Int): Int = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var k = 0
    while (k < cv.length) {
      val c = cv(k)
      val n = math.min(c.length, len)
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v.getDouble(base + i) - c(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    best
  }

  /** Column-API entry point. `cells(sub)` sorted ascending, aligned with
    * `cents(sub)`.
    */
  def apply(sub: Column, subvec: Column, cells: Array[Array[Long]],
            cents: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqArgminCell(
      ExpressionUtils.expression(sub), ExpressionUtils.expression(subvec),
      cells, cents))
}

/** Native PQ asymmetric-distance score: Σ_j dot(query[j·subLen ..],
  * codebook(j, codes(j))) — the full ADC sum for one (query, candidate)
  * pair in one fused loop.
  *
  * Replaces the m-term fold of lazy per-subspace CASE lookups (each a
  * `when(codes[j+1] == cell, dot)` chain over ksub cells) with a
  * binary-search lookup into the same sorted cell arrays the assignment
  * uses — O(m·(log ksub + subLen)) per pair instead of O(m·ksub) CASE
  * probes, in generated code whose size is constant in the codebook.
  *
  * Parity: subspaces accumulate in ascending-j order onto a 0.0 seed and
  * each per-subspace dot is the same ascending left fold as
  * [[DotProduct]] / DuckDB `list_dot_product`; a code with no matching
  * cell contributes 0.0, exactly like the old fold's terminal
  * `otherwise(0.0)`.
  */
case class PqAdcScore(left: Expression, right: Expression,
                      cells: Array[Array[Long]],
                      cents: Array[Array[Array[Double]]],
                      subLen: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(codesAny: Any, qvAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qv = qvAny.asInstanceOf[ArrayData]
    var acc = 0.0
    val m = math.min(cells.length, codes.numElements())
    var j = 0
    while (j < m) {
      val idx = java.util.Arrays.binarySearch(cells(j), codes.getLong(j))
      if (idx >= 0) {
        val c = cents(j)(idx)
        val base = j * subLen
        val n = math.min(c.length, math.max(0, qv.numElements() - base))
        var dp = 0.0
        var i = 0
        while (i < n) {
          dp += qv.getDouble(base + i) * c(i)
          i += 1
        }
        acc += dp
      }
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("adcCells", cells, "long[][]")
    val centsRef = ctx.addReferenceObj("adcCents", cents, "double[][][]")
    nullSafeCodeGen(ctx, ev, (codes, qv) => {
      val acc = ctx.freshName("acc")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val c = ctx.freshName("c")
      val base = ctx.freshName("base")
      val n = ctx.freshName("n")
      val dp = ctx.freshName("dp")
      val i = ctx.freshName("i")
      s"""
         |double $acc = 0.0;
         |int $m = java.lang.Math.min($cellsRef.length, $codes.numElements());
         |for (int $j = 0; $j < $m; $j++) {
         |  int $idx = java.util.Arrays.binarySearch($cellsRef[$j], $codes.getLong($j));
         |  if ($idx >= 0) {
         |    double[] $c = $centsRef[$j][$idx];
         |    int $base = $j * $subLen;
         |    int $n = java.lang.Math.min($c.length,
         |      java.lang.Math.max(0, $qv.numElements() - $base));
         |    double $dp = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dp += $qv.getDouble($base + $i) * $c[$i];
         |    }
         |    $acc += $dp;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

object PqAdcScore {
  /** Column-API entry point. `cells(sub)` sorted ascending, aligned with
    * `cents(sub)`.
    */
  def apply(codes: Column, qv: Column, cells: Array[Array[Long]],
            cents: Array[Array[Array[Double]]], subLen: Int): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(qv),
      cells, cents, subLen))
}
