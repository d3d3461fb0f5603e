package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pq}

/** `Pq.pqModel` (one shuffle-free job per Lloyd update, codes encoded in
  * place) equals the plan it replaced, kept here as [[Reference]]: each
  * subvector exploded into its own row, per-(sub, cell, pos) `avg`
  * updates through an aggregate exchange, and codes gathered back per
  * id with `collect_list`. Checked with scalacheck's own `Prop.forAll`
  * through [[TierLaws.check]]: the codebook's cells and the raw bits of
  * every centroid component (null included), the code rows, and the
  * code frame's schema with its nullability.
  *
  * The generated corpora reach what the partial sums and their merge
  * must get right: 1 to 8 input partitions, some of them empty (below
  * the session's parallelism the input is rebalanced first, as both
  * plans do); components that mix magnitudes (1e12 beside 1), so a sum
  * added in another order rounds differently; null vectors; null
  * components, so a component's count differs from its cell's member
  * count and a component no member has is a null mean; a short vector,
  * so a subspace's slice is shorter or empty; ids with gaps and negative
  * ids, so fewer than `ksub` init ids exist (sometimes none: every
  * vector is then unassigned, cell -1); and planted copies of a vector,
  * so tied centroids leave cells that empty during training.
  */
class PqBuildPropertySpec extends AnyFunSuite with SparkTestBase {

  private final case class Case(m: Int, subLen: Int, ksub: Int, iters: Int, floats: Boolean,
                                parts: Seq[Seq[(Long, Option[Seq[Option[Double]]])]]) {
    def dim: Int = m * subLen
    override def toString: String =
      s"Case(m=$m, subLen=$subLen, ksub=$ksub, iters=$iters, floats=$floats, parts=$parts)"
  }

  private val component: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5, -0.25).map(Some(_)),
    2 -> Gen.oneOf(1e12, -1e12, 3e11, -7e11).map(Some(_)),
    5 -> Gen.choose(-4.0, 4.0).map(Some(_)))

  private val genCase: Gen[Case] = for {
    m <- Gen.oneOf(1, 2, 4)
    subLen <- Gen.choose(1, 3)
    ksub <- Gen.choose(1, 8)
    iters <- Gen.choose(1, 4)
    floats <- Gen.oneOf(true, false)
    ids <- Gen.listOf(Gen.choose(-3L, 40L)).map(_.distinct.take(40))
    vecs <- Gen.sequence[List[Option[Seq[Option[Double]]]], Option[Seq[Option[Double]]]](ids.map { id =>
      Gen.frequency(
        // A null vector only where it is not an init cell: the init
        // collect takes it as a centroid, and both plans then fail.
        (if (id >= ksub) 1 else 0) -> Gen.const(None),
        1 -> Gen.listOfN(m * subLen - 1, component).map(Some(_)),
        12 -> Gen.listOfN(m * subLen, component).map(Some(_)))
    })
    copies <- Gen.listOf(Gen.zip(Gen.choose(0, 39), Gen.choose(0, 39))).map(_.take(4))
    nParts <- Gen.choose(1, 8)
    where <- Gen.listOfN(ids.size, Gen.choose(0, nParts - 1))
  } yield {
    val planted = copies.foldLeft(vecs.toVector) { case (vs, (from, to)) =>
      if (from < vs.size && to < vs.size) vs.updated(to, vs(from)) else vs
    }
    val rows = ids.zip(planted).zip(where)
    Case(m, subLen, ksub, iters, floats,
      (0 until nParts).map(p => rows.collect { case (r, `p`) => r }))
  }

  private def frame(c: Case): DataFrame = {
    val elem = if (c.floats) FloatType else DoubleType
    val rows = c.parts.map(_.map { case (id, v) =>
      Row(id, v.map(_.map(_.map(x => (if (c.floats) x.toFloat else x): Any).orNull)).orNull)
    })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.size).flatMap(identity),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(elem, containsNull = true)))))
  }

  /** The codebook as strings: sub, cell and each component's raw bits. */
  private def bits(cents: Pq.Codebook): Seq[String] =
    cents.toSeq.sortBy(c => (c._1, c._2)).map { case (j, cell, v) =>
      s"$j/$cell/" + Option(v.asInstanceOf[Seq[Any]]).fold("null")(_.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
        case other => String.valueOf(other)
      }.mkString(","))
    }

  test("pqModel equals the explode/avg/collect_list plan: codebook bits, codes and schema") {
    TierLaws.check(Prop.forAll(genCase) { c =>
      val df = frame(c)
      val (codes, cents) = Pq.pqModel(df, "embedding", "vec_id", c.dim, c.m, c.ksub, c.iters)
      val (wantCodes, wantCents) =
        Reference.model(df, "embedding", "vec_id", c.dim, c.m, c.ksub, c.iters)
      Prop(bits(cents) == bits(wantCents)) :| s"codebook ${bits(cents)} vs ${bits(wantCents)}" &&
        Prop(codes.schema == wantCodes.schema) :| s"schema ${codes.schema} vs ${wantCodes.schema}" &&
        Prop(TierLaws.rows(codes) == TierLaws.rows(wantCodes)) :|
          s"codes ${TierLaws.rows(codes)} vs ${TierLaws.rows(wantCodes)}"
    }, seed = 20261021L, cases = 30)
  }

  /** The plan `Pq.pqModel` ran before it trained with partial sums: the
    * exploded subvector frame, `PqArgminCell` assignment, a
    * (sub, cell, pos) `avg` per update and a `collect_list` of the codes.
    */
  private object Reference {
    private def cbArrays(cents: Pq.Codebook, m: Int): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
      val bySub = cents.groupBy(_._1).map { case (j, a) => j -> a.map(t => (t._2, t._3)).sortBy(_._1) }
      (Array.tabulate(m)(j => bySub.get(j).map(_.map(_._1)).getOrElse(Array.empty[Long])),
        Array.tabulate(m)(j => bySub.get(j).map(_.map(_._2.toArray)).getOrElse(Array.empty[Array[Double]])))
    }

    private def assign(sv: DataFrame, cents: Pq.Codebook, m: Int): DataFrame = {
      val (cells, cv) = cbArrays(cents, m)
      sv.withColumn("cell", org.apache.spark.sql.graft.PqArgminCell(col("sub"), col("subvec"), cells, cv))
    }

    private def collectCents(df: DataFrame): Pq.Codebook =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))

    def model(df: DataFrame, vecCol: String, idCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int): (DataFrame, Pq.Codebook) = {
      val subLen = dim / m
      Jobs.cached(Dedup.rebalance(df)
          .select(col(idCol).as("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col(vecCol).as("_v"))
          .select(col("id"), col("sub"), transform(slice(col("_v"), col("sub") * subLen + 1, lit(subLen)),
            x => x.cast("double")).as("subvec"))) { sv =>
        var cents = collectCents(sv.filter(col("id") < ksub)
          .select(col("sub"), col("id").as("cell"), col("subvec").as("centroid")))
        var assigned = assign(sv, cents, m)
        for (_ <- 1 until iters) {
          cents = collectCents(assigned
            .select(col("sub"), col("cell"), posexplode(col("subvec")).as(Seq("pos", "v")))
            .groupBy("sub", "cell", "pos").agg(avg("v").as("m"))
            .groupBy("sub", "cell")
            .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
              s => s.getField("m")).as("centroid")))
          assigned = assign(sv, cents, m)
        }
        (assigned.groupBy(col("id").as(idCol))
          .agg(transform(array_sort(collect_list(struct(col("sub"), col("cell")))),
            s => s.getField("cell")).as("codes")), cents)
      }
    }
  }
}
