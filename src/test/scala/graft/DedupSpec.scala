package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DriverRows}

class DedupSpec extends AnyFunSuite with SparkTestBase {

  test("shingles: word 3-grams, distinct, short-text fallback") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0).toSet == Set("a b c", "b c d"))
    assert(got(1) == Seq("a b"))   // shorter than n → whole text
    assert(got(2) == Seq(""))
  }

  test("jaccard on known sets") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].head() == 0.5)
  }

  test("exact dedup keeps exactly the min-id row per text") {
    import spark.implicits._
    val df = Seq((3L, "dup"), (1L, "dup"), (2L, "uniq")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "dup"), (2L, "uniq")))
  }

  test("prefix-filter join equals the exact O(n²) pair scan on edge-case docs") {
    import spark.implicits._
    // Identical docs (J=1, prefix length 1), a strong near-pair, a
    // containment pair that must FAIL the size filter honestly (not be
    // pruned incorrectly — its true J is below τ), short docs below the
    // shingle width (whole-text fallback), and an empty doc.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "the quick brown fox"),
      (5L, "tiny doc"),
      (6L, "tiny doc"),
      (7L, "")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val exact = rows(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = tau, maxDocId = Long.MaxValue))
      val prefix = rows(Dedup.prefixJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = tau))
      assert(prefix == exact, s"τ=$tau: prefix join must be lossless")
      assert(exact.map(p => (p._1, p._2)).contains((1L, 2L)))
    }
  }

  test("auto router: natural vocabulary stays exact; closed vocabulary degrades to LSH with bounded candidates") {
    import spark.implicits._
    // Natural regime: mostly-disjoint word universes (prefix tokens stay
    // rare) plus planted near-dup twins so the ground truth is non-empty.
    val natural = ((1 to 50).map(i =>
      (i.toLong, (i * 40 until i * 40 + 30).map(w => s"w$w").mkString(" "))) ++
      (1 to 5).map(i =>
        (100L + i, (i * 40 until i * 40 + 30)
          .map(w => if (w == i * 40 + 15) "CHANGED" else s"w$w").mkString(" "))))
      .toDF("doc_id", "text")
    val (natOut, natExact) = Dedup.prefixJaccardPairsRouted(
      natural, "text", "doc_id", n = 3, threshold = 0.5)
    assert(natExact, "natural vocabulary must route to the exact prefix join")
    val ground = Dedup.ngramJaccardPairs(natural, "text", "doc_id",
      n = 3, threshold = 0.5, maxDocId = Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(natOut.as[(Long, Long, Double)].collect().toSet == ground)

    // Closed regime (the BASELINE.md scale-rehearsal fixture shape):
    // every doc drawn from the same tiny vocabulary → shingle space
    // saturates, Σ df_prefix² goes quadratic.
    val rnd = new scala.util.Random(7)
    val closed = (1 to 300).map { i =>
      (i.toLong, (1 to 40).map(_ => s"v${rnd.nextInt(8)}").mkString(" "))
    }.toDF("doc_id", "text")
    // The 300-doc spec fixture sits in the early-saturation band: above
    // the spec's explicit 64/doc bound (proving the routing mechanism)
    // though below the production default, which is set at the measured
    // 1×/10× cost crossover (DefaultMaxPrefixCandidatesPerDoc scaladoc).
    // The router takes LSH exactly when the measured candidates exceed
    // the bound times the document count.
    val (closedOut, closedExact) = Dedup.prefixJaccardPairsRouted(
      closed, "text", "doc_id", n = 3, threshold = 0.5,
      maxCandidatesPerDoc = 64.0)
    assert(!closedExact, "closed vocabulary must degrade to the LSH path")
    // The routed plan is the bucket-capped LSH join: candidate volume is
    // bounded by cap² per band bucket, never Σ df_prefix² — and every
    // emitted pair is still exact-verified at τ.
    assert(closedOut.columns.toSeq == Seq("id_a", "id_b", "jaccard"))
    assert(closedOut.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated text") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "text", "doc_id",
      n = 3, bands = 42, rowsPerBand = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical text → hamming 0; pairs are verified") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (50 to 90).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, text), (2L, text), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("hammingPairs: exact recall at radius, sig-group collapse, width guard") {
    import spark.implicits._
    // 8-bit signatures, radius 1 → two exact 4-bit chunks.
    // sig(3) = sig(1) → group pair at hamming 0; 2 is 1 bit from the
    // group; 4 (0xFF) is hamming 8/7 away — excluded.
    val sigs = Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 255L))
      .toDF("doc_id", "fp")
    val pairs = Dedup.hammingPairs(sigs, "doc_id", "fp",
      bits = 8, maxHamming = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L, 0L), (1L, 2L, 1L), (2L, 3L, 1L)))

    // Distance exactly at the radius boundary is kept, one past is not:
    // 0b11 is hamming 2 from 0b00 (16-bit sigs keep radius-2 chunks
    // ≥ 4 bits wide).
    val edge = Seq((1L, 0L), (2L, 3L)).toDF("doc_id", "fp")
    assert(Dedup.hammingPairs(edge, "doc_id", "fp", bits = 16,
      maxHamming = 2).count() == 1)
    assert(Dedup.hammingPairs(edge, "doc_id", "fp", bits = 16,
      maxHamming = 1).count() == 0)

    // Chunks thinner than 4 bits are refused (use simhashPairs'
    // multi-probe regime instead).
    assertThrows[IllegalArgumentException] {
      Dedup.hammingPairs(sigs, "doc_id", "fp", bits = 8, maxHamming = 3)
    }
  }

  test("clusterSizeHistogram: component sizes + singletons conserve the corpus") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // chain 1-2-3 (size 3), pair 10-11 (size 2), singleton 20.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val hist = Dedup.clusterSizeHistogram(docs, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
    assert(hist.map { case (s, n) => s * n }.sum == 6L) // conservation
    // No pairs at all: everything is a singleton.
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusterSizeHistogram(docs, none, "doc_id")
      .as[(Long, Long)].collect().toMap == Map(1L -> 6L))
  }

  test("resolvePairs keeps min-id per component and all unpaired rows") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // chain 1-2-3 (transitive), pair 10-11, singleton 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.resolvePairs(docs, pairs, "doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("resolvePairs resolves a 100-node chain in O(log n) rounds (diameter-independent)") {
    import spark.implicits._
    // A path graph 0-1-2-…-99: min-label propagation needs ~100 rounds;
    // large-star/small-star converges logarithmically.
    val docs = (0L until 100L).toDF("doc_id")
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val kept = Dedup.resolvePairs(docs, pairs, "doc_id", maxIters = 15)
      .as[Long].collect().toSet
    assert(kept == Set(0L))
    val labels = Dedup.connectedComponents(pairs, maxIters = 15)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 100 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents raises on non-convergence instead of returning wrong labels") {
    import spark.implicits._
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      // A negative ceiling forces the distributed loop — the local
      // union-find tier has no rounds to run out of.
      DriverRows.ceilingsAt(-1L)(Dedup.connectedComponents(pairs, maxIters = 1)).collect()
    }
  }

  test("local union-find tier and distributed star loop label identically") {
    import spark.implicits._
    // Mixed shapes: a chain, a star, a triangle with a duplicate and a
    // reversed edge, self-loop noise, and two singletons-by-pairing.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain → min 1
      (10L, 11L), (10L, 12L), (10L, 13L),    // star → min 10
      (20L, 21L), (21L, 22L), (22L, 20L),    // triangle → min 20
      (21L, 22L), (22L, 21L),                // dup + reversed
      (30L, 30L),                            // self-loop (filtered)
      (40L, 41L), (50L, 51L))
    val (driver, _) =
      TierLaws.holds("components")(Dedup.connectedComponents(edges.toDF("id_a", "id_b")))
    val local = driver.as[(Long, Long)].collect().toSet
    assert(local.contains((4L, 1L)) && local.contains((13L, 10L)) &&
      local.contains((22L, 20L)) && local.contains((41L, 40L)))
  }

  test("resolvePairs with no pairs keeps everything") {
    import spark.implicits._
    val docs = Seq(1L, 2L).toDF("doc_id")
    val pairs = spark.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
    assert(Dedup.resolvePairs(docs, pairs, "doc_id").count() == 2)
  }

  test("embedding near-dup pairs: exact dot product over doubles") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.8f, 0.6f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id", 0.7, maxId = 100)
      .as[(Long, Long, Double)].collect().toSet
    // cos(1,2)=0.8, cos(2,3)=0.6, cos(1,3)=0
    assert(pairs == Set((1L, 2L, 0.8)))
  }

  test("embedding near-dup pairs respect the maxId bound") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.8f, 0.6f)), (50L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id", 0.7, maxId = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 2L, 0.8))) // id 50 outside the bound
  }

  test("skew guard: 1000 identical docs don't create a quadratic bucket; planted pairs survive") {
    import spark.implicits._
    val dupText = (1 to 30).map(i => s"d$i").mkString(" ")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val rows = (100L until 1100L).map(i => (i, dupText)) ++ Seq((1L, base), (2L, nearDup))
    val df = rows.toDF("doc_id", "text").repartition(8)

    val mh = Dedup.minhashLshPairs(df, "text", "doc_id",
      n = 3, bands = 42, rowsPerBand = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // The planted cross-signature near-dup pair is found...
    assert(mh.contains((1L, 2L)))
    // ...and the identical-doc cluster resolves as a star (O(m) rows,
    // rep = min id 100), not the O(m²) 499,500-pair blowup.
    val dupPairs = mh.filter(p => p._1 >= 100L)
    assert(dupPairs.size == 999)
    assert(dupPairs.forall(_._1 == 100L))

    val sh = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh.contains((1L, 2L)))
    val shDup = sh.filter(p => p._1 >= 100L)
    assert(shDup.size == 999 && shDup.forall(_._1 == 100L))
  }

  test("minhash LSH emits all pairs within small identical-signature groups") {
    import spark.implicits._
    val text = (1 to 25).map(i => s"s$i").mkString(" ")
    val df = Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "text", "doc_id",
      n = 3, bands = 42, rowsPerBand = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L))) // all pairs, not a star
  }

  test("indexDedup screens the batch against the corpus only (asymmetric)") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq((100L, base), (101L, "totally different words here now ok yes")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                                  // exact corpus dup -> drop
      (2L, "unseen fresh novel content entirely"), // no match -> keep
      (3L, "unseen fresh novel content entirely")  // batch-internal dup: NOT flagged
    ).toDF("doc_id", "text")
    val out = Dedup.indexDedup(corpus, batch, "text", "doc_id",
      n = 3, bands = 42, rowsPerBand = 3, threshold = 0.5)
      .select("doc_id", "matched", "keep")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
    assert(out(1L) == ((100L, 0L)))
    // Batch-internal duplicates pass: the index screens against the
    // corpus; intra-batch dedup is minhashLshPairs on the batch.
    assert(out(2L) == ((-1L, 1L)))
    assert(out(3L) == ((-1L, 1L)))
  }

  test("cross-doc dup fraction: boilerplate shingles counted, unique ones not") {
    import spark.implicits._
    val boiler = "all rights reserved by the site"   // 5 tokens -> 4 3-gram shingles... (6 tokens -> 4)
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, "completely original text with no shared phrases at all")).toDF("doc_id", "text")
    val out = graft.operators.Novelty.crossDocDupFraction(docs, "text", "doc_id", n = 3)
      .select("doc_id", "n_shingles", "n_dup")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // docs 1/2 share exactly the 4 shingles fully inside the boilerplate
    // prefix; their continuation shingles differ. doc 3 shares nothing.
    assert(out(1L)._2 == 4L && out(2L)._2 == 4L)
    assert(out(3L)._2 == 0L)
  }

  test("jaccard histogram: identical pair in the top bin, disjoint pairs absent, df cap discounts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pack my box with five dozen jugs"),
      (2L, "pack my box with five dozen jugs"),            // exact dup of 1
      (3L, "a wholly different sentence sharing no phrase"),
      (4L, "pack my box with five dozen bottles"))         // near-dup of 1/2
      .toDF("doc_id", "text")
    val hist = Dedup.jaccardHistogram(docs, "text", "doc_id",
        n = 3, bins = 10, maxDocId = 100)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._3).toMap
    // (1,2) jaccard 1.0 -> top bin (9); (1,4)/(2,4): 4 of 5 grams
    // shared, union 6 -> 0.666667 -> bin 6; (x,3) share nothing ->
    // never materialize. Total pairs = 3.
    assert(hist == Map(9L -> 1L, 6L -> 2L))
    // df cap 0 drops every posting -> empty histogram (discounting
    // semantics pinned at the extreme; the oracle mirrors the cap)
    assert(Dedup.jaccardHistogram(docs, "text", "doc_id",
      n = 3, bins = 10, maxDocId = 100, dfCap = 0).count() == 0L)
  }
}
