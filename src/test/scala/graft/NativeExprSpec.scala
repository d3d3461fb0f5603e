package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Native codegen expressions must be bitwise-identical to their
  * built-in-HOF reference formulations on real data.
  */
class NativeExprSpec extends AnyFunSuite with SparkTestBase {

  test("SimHash64 native == HOF formulation on the documents fixture") {
    val docs = Tables.load(spark, sf, "documents")
    val diff = docs.select(
      Dedup.simhash(col("text")).as("native"),
      Dedup.simhashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("DotProduct native == HOF formulation on the embeddings fixture") {
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val diff = a.join(b, col("ia") < col("ib")).limit(20000)
      .select(Similarity.dot(col("va"), col("vb")).as("native"),
        Similarity.dotHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("SignLshKeys native == HOF signLshKey per table on the embeddings fixture") {
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    val nBits = 4; val nTables = 8; val dim = 64
    val hofKeys = array((0 until nTables).map(t =>
      Similarity.signLshKey(col("embedding"), dim, nBits, seed = t)): _*)
    val diff = emb.select(
      org.apache.spark.sql.graft.SignLshKeys(col("embedding"), dim, nBits, nTables).as("native"),
      hofKeys.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("MinHashSig native == HOF formulation on the documents fixture") {
    val docs = Tables.load(spark, sf, "documents")
    val k = 126
    val sh = Dedup.shingles(col("text"), 3)
    val diff = docs.select(
      Dedup.minhashSignature(sh, k).as("native"),
      Dedup.minhashSignatureHof(sh, k).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("MinHashSig native == HOF on empty arrays and null shingles") {
    import spark.implicits._
    val k = 7
    val rows = Seq(
      Seq.empty[String],          // empty → all-MaxValue init
      Seq(null.asInstanceOf[String]), // null shingle hashes to the seed
      Seq("a", null, "b"))
      .toDF("sh")
    val diff = rows.select(
      Dedup.minhashSignature(col("sh"), k).as("native"),
      Dedup.minhashSignatureHof(col("sh"), k).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
    val empty = rows.filter(size(col("sh")) === 0)
      .select(Dedup.minhashSignature(col("sh"), k))
      .as[Seq[Long]].head()
    assert(empty == Seq.fill(k)(Long.MaxValue))
  }

  test("Shingles native == HOF formulation on the documents fixture") {
    val docs = Tables.load(spark, sf, "documents")
    for (n <- Seq(1, 3, 5)) {
      val diff = docs.select(
        Dedup.shingles(col("text"), n).as("native"),
        Dedup.shinglesHof(col("text"), n).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0L, s"n=$n shingle mismatch")
    }
  }

  test("Shingles native == HOF on whitespace edge cases") {
    import spark.implicits._
    val rows = Seq(
      "",                   // empty → [""] whole-text shingle
      "   ",                // spaces only → same degenerate [""]
      "one",                // fewer than n tokens → whole-text shingle
      "one two",            // exactly n-1
      "a b a b a b",        // duplicate grams → first-occurrence distinct
      " padded   tokens\tand more ", // multi-space + tab separators
      "a b c d").toDF("text")
    val diff = rows.select(
      Dedup.shingles(col("text"), 3).as("native"),
      Dedup.shinglesHof(col("text"), 3).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
    val empty = rows.filter(length(trim(col("text"))) === 0)
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(empty.forall(_ == Seq("")))
  }

  test("LongestCommonPrefix native == HOF fold on real adjacent suffix pairs") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val cap = 64
    // Real suffix keys paired with their sort neighbor — the exact
    // input shape SharedSubstrings feeds the LCP.
    val sfx = docs.filter(length(col("text")) >= 16)
      .select(col("doc_id"), explode(sequence(lit(1),
        length(col("text")) - 15)).as("_pos"), col("text"))
      .select(col("text").substr(col("_pos"), lit(cap)).as("_key"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_key")).partitionBy(substring(col("_key"), 1, 4))
    val pairs = sfx.withColumn("_pkey", lag(col("_key"), 1).over(w))
      .filter(col("_pkey").isNotNull)
    val diff = pairs.select(
      graft.operators.SharedSubstrings.lcpOfHof(col("_key"), col("_pkey"), cap).as("hof"),
      org.apache.spark.sql.graft.LongestCommonPrefix(col("_key"), col("_pkey")).as("native"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("LongestCommonPrefix edge cases: empty, equal, multibyte boundaries") {
    import spark.implicits._
    val rows = Seq(
      ("", ""), ("", "a"), ("abc", "abc"), ("abc", "abd"),
      ("abc", "ab"), ("héllo", "héllp"), ("héllo", "hèllo"),
      ("日本語abc", "日本語abd"), ("日本x", "日本y"), ("ß1", "ß2"))
      .toDF("a", "b")
    val got = rows.select(
      org.apache.spark.sql.graft.LongestCommonPrefix(col("a"), col("b")))
      .as[Int].collect().toSeq
    // char-count LCPs; hèllo vs héllo diverge INSIDE the 2nd char's
    // bytes (C3A9 vs C3A8) → partial char excluded → 1
    assert(got == Seq(0, 0, 3, 2, 2, 4, 1, 5, 2, 1))
  }

  test("SimHash64 handles empty token arrays") {
    import spark.implicits._
    val sig = Seq("").toDF("text").select(Dedup.simhash(col("text")))
      .as[Long].head()
    assert(sig == 0L)
  }

  test("JaroWinkler: DuckDB-pinned hand values, empty/null edges, codegen == interpreted") {
    import spark.implicits._
    import org.apache.spark.sql.graft.JaroWinkler
    // Hand values read from DuckDB's jaro_winkler_similarity — the
    // semantics pin (empty→0, 0.7 boost threshold, ⌊t/2⌋, prefix ≤ 4).
    val cases = Seq(
      ("martha", "marhta", 0.961111), ("dixon", "dicksonx", 0.813333),
      ("dwayne", "duane", 0.84), ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("", "", 0.0), ("a", "b", 0.0),
      ("ab", "ba", 0.0), // window 0: adjacent transposition never matches
      ("crate", "trace", 0.733333), // jaro > 0.7 but prefix 0 → no boost
      ("abcdxxxxxx", "abcdyyyyyy", 0.6), // prefix 4 but jaro ≤ 0.7 → NO boost
      ("aaaaaabc", "aaaaaabd", 0.95)) // prefix capped at 4
    val got = cases.toDF("a", "b", "exp")
      .select(round(JaroWinkler(col("a"), col("b")), 6).as("jw"), col("exp"))
      .as[(Double, Double)].collect()
    got.zip(cases).foreach { case ((jw, exp), c) =>
      assert(jw == exp, s"case $c: got $jw") }

    // Null propagates; codegen (DataFrame path above) agrees with the
    // interpreted eval entry point.
    val nulls = Seq((Some("ab"), None: Option[String])).toDF("a", "b")
      .select(JaroWinkler(col("a"), col("b")).as("jw"))
    assert(nulls.filter(col("jw").isNull).count() == 1)
    import org.apache.spark.unsafe.types.UTF8String
    assert(JaroWinkler.compute(UTF8String.fromString("martha"),
      UTF8String.fromString("marhta")) == 0.9611111111111111)
  }

  // Shared PQ scaffolding for the two parity tests below: a real trained
  // codebook on the fixture, the rebuilt subvector frame, and the r12
  // CASE/HOF formulations as the bitwise reference (the forms Pq.scala
  // used before the native expressions — kept here so parity against
  // them stays regression-gated).
  private val PqDim = 64; private val PqM = 8

  /** Squared L2 distance as an explicit left fold (seed 0.0, ascending
    * components): the reference distance of the argmin parity case.
    */
  private def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
  private val PqSubLen = PqDim / PqM; private val PqKsub = 16

  private lazy val pqFix = {
    val emb = Tables.load(spark, sf, "embeddings")
    val (_, cents) = graft.operators.Pq.pqModel(
      emb, "embedding", "vec_id", PqDim, PqM, PqKsub, iters = 2)
    val bySub = cents.groupBy(_._1).map { case (j, a) =>
      j -> a.map(t => (t._2, t._3)).sortBy(_._1)
    }
    val sv = emb.select(col("vec_id").as("id"),
      explode(sequence(lit(0), lit(PqM - 1))).as("sub"),
      col("embedding").as("_v"))
      .select(col("id"), col("sub"),
        transform(slice(col("_v"), col("sub") * PqSubLen + 1, lit(PqSubLen)),
          x => x.cast("double")).as("subvec"))
    val cellsArr = Array.tabulate(PqM)(j => bySub(j).map(_._1))
    val centsArr = Array.tabulate(PqM)(j => bySub(j).map(_._2.toArray))
    (emb, sv, bySub, cellsArr, centsArr)
  }

  test("PqArgminCell native == CASE/HOF formulation on a trained codebook") {
    val (_, sv, bySub, cellsArr, centsArr) = pqFix
    def bestHof(j: Int) = {
      val scored = bySub(j).map { case (cell, cvec) =>
        struct((-sqDist(col("subvec"), typedlit(cvec))).as("negd"),
          lit(-cell).as("negcell"))
      }
      -array_max(array(scored.toIndexedSeq: _*)).getField("negcell")
    }
    val hofCell = (0 until PqM).foldRight(lit(-1L): org.apache.spark.sql.Column)(
      (j, els) => when(col("sub") === j, bestHof(j)).otherwise(els))
    val diff = sv.select(
      org.apache.spark.sql.graft.PqArgminCell(
        col("sub"), col("subvec"), cellsArr, centsArr).as("native"),
      hofCell.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("PqAdcScore native == CASE/HOF formulation on real codes x queries") {
    val (emb, _, bySub, cellsArr, centsArr) = pqFix
    val (codes, _) = graft.operators.Pq.pqModel(
      emb, "embedding", "vec_id", PqDim, PqM, PqKsub, iters = 2)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("_qv"))
    def dpHof(j: Int) = {
      val qsub = slice(col("_qv"), j * PqSubLen + 1, PqSubLen)
      bySub(j).foldRight(lit(0.0): org.apache.spark.sql.Column) {
        case ((cell, cvec), els) =>
          when(element_at(col("codes"), j + 1) === cell,
            Similarity.dotHof(qsub, typedlit(cvec))).otherwise(els)
      }
    }
    val hofScore = (0 until PqM).foldLeft(lit(0.0): org.apache.spark.sql.Column)(
      (acc, j) => acc + dpHof(j))
    val diff = codes.join(q, col("vec_id") =!= col("query_id"))
      .select(
        org.apache.spark.sql.graft.PqAdcScore(
          col("codes"), col("_qv"), cellsArr, centsArr, PqSubLen).as("native"),
        hofScore.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("PqAdcScore eval == generated code, bitwise, with an unmatched code scoring 0.0") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.PqAdcScore
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val (emb, _, _, cellsArr, centsArr) = pqFix
    val (codes, _) = graft.operators.Pq.pqModel(
      emb, "embedding", "vec_id", PqDim, PqM, PqKsub, iters = 2)
    // Vector 0's subspace-2 code names no cell of the codebook.
    val unmatched = 1000000L
    val planted = codes.withColumn("codes", when(col("vec_id") === 0L,
      transform(col("codes"), (c, j) => when(j === 2, lit(unmatched)).otherwise(c)))
      .otherwise(col("codes")))
    val q = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("_qv"))
    val scored = planted.join(q, col("vec_id") =!= col("query_id"))
      .select(col("vec_id"), col("codes"), col("_qv"),
        PqAdcScore(col("codes"), col("_qv"), cellsArr, centsArr, PqSubLen).as("gen"))
    val expr = PqAdcScore(BoundReference(0, ArrayType(LongType), nullable = false),
      BoundReference(1, ArrayType(DoubleType), nullable = false), cellsArr, centsArr, PqSubLen)
    val got = scored.collect()
    object Plans extends AdaptiveSparkPlanHelper
    assert(Plans.collectFirst(scored.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec if w.toString.contains("graft_pq_adc") => w
    }.isDefined, "the score was not generated code")
    assert(got.count(_.getLong(0) == 0L) == 5 && got.length > 6 * 100)
    for (r <- got) {
      val c = r.getSeq[Long](1).toArray
      val qv = r.getSeq[Double](2).toArray
      val eval = expr.eval(InternalRow(UnsafeArrayData.fromPrimitiveArray(c),
        UnsafeArrayData.fromPrimitiveArray(qv))).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(eval) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), s"vector ${r.getLong(0)}")
      if (r.getLong(0) == 0L) {
        // The same left fold with subspace 2 adding 0.0.
        val want = (0 until PqM).foldLeft(0.0) { (acc, j) =>
          val idx = java.util.Arrays.binarySearch(cellsArr(j), c(j))
          acc + (if (idx < 0) 0.0 else centsArr(j)(idx).indices.foldLeft(0.0)(
            (dp, i) => dp + qv(j * PqSubLen + i) * centsArr(j)(idx)(i)))
        }
        assert(c(2) == unmatched && eval == want)
      }
    }
  }

  test("PolyFingerprint native == HOF formulation on documents + edge strings") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", "a", " ", "  two  spaces  ", "h\u00e9llo w\u00f6rld",
      "\u4e2d\u6587 \u5206\u8bcd", "tab\tand\nnewline",
      "z" * 500).toDF("text")
    val diff = docs.unionByName(edge).select(
      graft.functions.TextAnalysis.fingerprint(col("text")).as("native"),
      graft.functions.TextAnalysis.fingerprintHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("PolyFingerprint supplementary-plane semantics are the native (code-point) ones") {
    // Outside the BMP the two formulations INTENTIONALLY diverge
    // (documented at PolyHash): the HOF path's split("") yields lone
    // UTF-16 surrogates with engine-undefined ascii(), while the
    // native loop folds true code points — the semantics the engine
    // owns. Pin the native value so the divergence is an asserted
    // contract, not an untested caveat (ADVICE r13).
    import spark.implicits._
    val s = "a😀b" // a, U+1F600 GRINNING FACE, b
    val expected = {
      var h = 0L
      Seq(0x61L, 0x1f600L, 0x62L).foreach(cp => h = (h * 31L + cp) % 1000000007L)
      h
    }
    val got = Seq(s).toDF("text")
      .select(graft.functions.TextAnalysis.fingerprint(col("text")))
      .as[Long].head()
    assert(got == expected)
    // And ExpectsInputTypes strictness is deliberate: a non-string
    // input fails analysis instead of silently coercing.
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x")
        .select(org.apache.spark.sql.graft.PolyFingerprint(col("x"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"))
  }

  test("ShingleFingerprints native == sorted-distinct fingerprint of shinglesHof") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", " ", "one", "one two", "one two three",
      "  padded   tokens  here  now ", "a b a b a b", "tab\tsep\nlines go here",
      "héllo wörld 中文 mixed text").toDF("text")
    val hof = sort_array(array_distinct(transform(
      Dedup.shinglesHof(col("text"), 3),
      s => graft.functions.TextAnalysis.fingerprint(s))))
    val diff = docs.unionByName(edge).select(
      Dedup.shingleFps(col("text"), 3).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("NgramFingerprints native == occurrence-gram HOF fingerprints") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", " ", "one two", "one two three four",
      "a b a b a b").toDF("text")
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val hof = when(size(toks) >= 3,
      transform(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))),
        g => graft.functions.TextAnalysis.fingerprint(g)))
      .otherwise(array().cast("array<long>"))
    val diff = docs.unionByName(edge).select(
      org.apache.spark.sql.graft.NgramFingerprints(col("text"), 3).as("native"),
      hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("GopherCounts-backed quality features == HOF formulations") {
    import spark.implicits._
    import graft.functions.{QualityFilters => QF, TextAnalysis}
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", " ", "one", "a a a a", "a b a b", "x", "tab\ttokens here",
      "héllo héllo wörld").toDF("text")
    val w = TextAnalysis.tokens(col("text"))
    val diff = docs.unionByName(edge).select(
      QF.meanWordLenOf(w).as("m_n"), QF.meanWordLenOfHof(w).as("m_h"),
      QF.uniqWordRatioOf(w).as("u_n"), QF.uniqWordRatioOfHof(w).as("u_h"),
      QF.topWordRatioOf(w).as("t_n"), QF.topWordRatioOfHof(w).as("t_h"),
      QF.dup2gramRatioOf(w).as("d_n"), QF.dup2gramRatioOfHof(w).as("d_h"))
      .filter(col("m_n") =!= col("m_h") || col("u_n") =!= col("u_h") ||
        col("t_n") =!= col("t_h") || col("d_n") =!= col("d_h")).count()
    assert(diff == 0L)
  }

  test("WordListCounts-backed word counts == HOF filter scans") {
    import spark.implicits._
    import graft.functions.{TextAnalysis => TA}
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", "the the the", "el los una der", "a to of and the",
      "unlisted words only").toDF("text")
    val w = TA.tokens(col("text"))
    val probes = TA.Stopwords ++ Seq("el", "und", "une", "zzz_not_listed")
    val cols = probes.zipWithIndex.flatMap { case (word, i) =>
      Seq(TA.wordCountOf(w, word).as(s"n$i"), TA.wordCountOfHof(w, word).as(s"h$i"))
    }
    val pred = probes.indices.map(i => col(s"n$i") =!= col(s"h$i")).reduce(_ || _)
    val diff = docs.unionByName(edge).select(cols: _*).filter(pred).count()
    assert(diff == 0L)
    // langId composes the same counts through a CASE chain — pin it too.
    val hofLang = {
      val scores = TA.LangMarkers.map { case (l, ms) =>
        l -> ms.map(TA.wordCountOfHof(w, _)).reduce(_ + _)
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und")) { case ((l, s), els) =>
        when(s > 0 && s === best, lit(l)).otherwise(els)
      }
    }
    val diff2 = docs.unionByName(edge)
      .select(TA.langIdOf(w).as("n"), hofLang.as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(diff2 == 0L)
  }

  test("ChunkFingerprints native == HOF chunk builder + fingerprint") {
    import spark.implicits._
    val sz = 5
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", " ", "one", "a b c d e", "a b c d e f",
      "a b c d e f g h i j k").toDF("text")
    val w = graft.functions.TextAnalysis.tokens(col("text"))
    val nChunks = ceil(size(w).cast("double") / sz).cast("int")
    val hofChunks = when(size(w) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(w, i * sz + 1, lit(sz)))))
    val hof = transform(hofChunks,
      c => graft.functions.TextAnalysis.fingerprint(c))
    val diff = docs.unionByName(edge).select(
      org.apache.spark.sql.graft.ChunkFingerprints(col("text"), sz).as("native"),
      hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("JaccardSortedLongs == built-in set Jaccard on real shingle-fp pairs") {
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), Dedup.shingleFps(col("text"), 3).as("_sh"))
    val a = docs.select(col("doc_id").as("ia"), col("_sh").as("sa"))
    val b = docs.select(col("doc_id").as("ib"), col("_sh").as("sb"))
    val diff = a.join(b, col("ia") < col("ib"))
      .select(Dedup.jaccardSorted(col("sa"), col("sb")).as("native"),
        Dedup.jaccard(col("sa"), col("sb")).as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(diff == 0L)
  }

  test("OrderedStructFieldSum == HOF left-fold on real sorted term-weight lists") {
    val docs = Tables.load(spark, sf, "documents").limit(2000)
    val t = docs.select(col("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("p", col("tf").cast("double") * lit(0.7310585786300049))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("p")))).as("_t"))
    val diff = t.select(
      org.apache.spark.sql.graft.OrderedStructFieldSum(col("_t"), 1).as("native"),
      aggregate(col("_t"), lit(0.0), (acc, s) => acc + s.getField("p")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("CdcBoundaries native == HOF filter-over-windows on documents + edge strings") {
    import spark.implicits._
    val w = 8; val divisor = 32
    // The pre-r13 HOF formulation, reconstructed as the parity reference.
    def hofB(text: org.apache.spark.sql.Column) = {
      val n = length(text)
      val candidates = when(n >= w, sequence(lit(w), n))
        .otherwise(array().cast("array<int>"))
      filter(candidates, i =>
        pmod(graft.functions.TextAnalysis.fingerprintHof(
          text.substr(i - (w - 1), lit(w))), lit(divisor.toLong)) === 0)
    }
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
    val edge = Seq("", "short", "exactly8", "exactly8!",
      "h\u00e9llo w\u00f6rld h\u00e9llo w\u00f6rld", "z" * 100).toDF("text")
    val diff = docs.unionByName(edge).select(
      org.apache.spark.sql.graft.CdcBoundaries(col("text"), w, divisor.toLong)
        .as("native"),
      hofB(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
  }
}
