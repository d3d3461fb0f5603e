package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round, Slice, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JaccardSortedLongs, MinHashSig, ShingleFingerprints, Shingles}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Jobs
import graft.functions.TextAnalysis

/** Deduplication operators for LLM-data pipelines (SURVEY §7.5): exact,
  * exact n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design (the point of each shape):
  *   - exact dedup is one hash-partial-aggregate — a single shuffle on
  *     md5(text), no sort, no window;
  *   - MinHash+LSH turns the O(n²) near-dup problem into an equi-join on
  *     LSH band keys: per-doc signature (narrow, embarrassingly parallel)
  *     → explode b band keys → shuffle on band key → verify only the
  *     candidate pairs. At 100 TB the only all-to-all is the band-key
  *     shuffle, whose fan-in per bucket is bounded by collision rate;
  *   - SimHash is the same play with 64-bit signatures and pigeonhole
  *     16-bit chunk buckets (hamming ≤ 3 ⇒ some chunk of 4 is exact);
  *   - the exact pairwise variant exists as the oracle-checkable ground
  *     truth and MUST be bounded by the caller (`maxDocId`) — it is the
  *     O(n²) thing the LSH paths replace.
  *
  * All signature math uses built-in higher-order functions over
  * `xxhash64` — no UDFs, nothing leaves the JVM row format.
  */
object Dedup {

  /** Spread a small input across all cores before a CPU-bound narrow
    * stage (signatures, pairwise verification). A 100 TB scan already
    * has thousands of splits and skips this (no extra shuffle); a
    * dimension-sized input read from one file would otherwise pin the
    * whole signature stage to a single task.
    */
  /** Spread a CALLER-BOUNDED slice across the full parallelism
    * UNCONDITIONALLY. [[rebalance]] only repartitions when the plan has
    * too few partitions — but a bounded slice (`id < maxId`) of a large
    * id-ordered fixture is contiguous in ONE file, so the plan reports
    * the full partition count while every surviving row sits in a
    * single task and the quadratic pair join downstream runs SERIALLY
    * (measured: the same 1000-doc q_dedup_ngram_jaccard work took
    * 32.4 s on a 50 k-row source vs 5.6 s on a 5 k-row one — round-12
    * sf1.0 bench). The slice is tiny by the operator's own contract,
    * so the unconditional shuffle is noise, and the EXPLICIT partition
    * count keeps AQE from re-coalescing the tiny-in-bytes exchange
    * whose downstream cost is quadratic in rows, not bytes.
    */
  private def spreadBounded(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def rebalance(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Probe the physical partition count without df.rdd, which would bolt
    // a Row-deserializer stage onto the plan just to ask a metadata question.
    val current = df.queryExecution.toRdd.getNumPartitions
    if (current < target) df.repartition(target) else df
  }

  /** Word n-gram shingle set (distinct). Documents shorter than n words
    * fall back to a single whole-text shingle so they can still match
    * exact twins. Native codegen expression
    * ([[org.apache.spark.sql.graft.Shingles]]): shingling is the fixed
    * per-row cost of every text-dedup operator, and the HOF chain it
    * replaces is CodegenFallback. [[shinglesHof]] is the built-in-only
    * reference (the NativeExprSpec parity gate).
    */
  def shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.Shingles(c, n)

  /** Built-in-only formulation of [[shingles]] (split → windowed
    * concat_ws → array_distinct) — kept as the executable spec the
    * native expression is parity-tested against.
    */
  def shinglesHof(c: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(c)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(trim(c)))
  }

  /** HASHED shingle set: the sorted-distinct [[TextAnalysis.fingerprint]]
    * values of [[shingles]], as one native codegen expression
    * ([[org.apache.spark.sql.graft.ShingleFingerprints]] — the shingle
    * strings are never materialized). This is the representation every
    * exact-Jaccard consumer carries since r14 (VERDICT #1): pair
    * verification becomes a primitive-long merge scan
    * ([[jaccardSorted]]) and postings join keys become 8-byte longs.
    * Parity: NativeExprSpec pins it bitwise against
    * `sort_array(array_distinct(transform(shingles, fingerprint)))`;
    * every DuckDB twin applies the identical hash so collisions (rare:
    * 1e2–1e3 shingles vs a 1e9 space) are SHARED, keeping gates exact.
    */
  def shingleFps(c: Column, n: Int): Column =
    org.apache.spark.sql.graft.ShingleFingerprints(c, n)

  /** Exact Jaccard similarity of two (distinct-element) arrays. Integer
    * sizes → one double division: engine-exact, no fp-order drift.
    * Since r14 the hot paths carry [[shingleFps]] arrays and use
    * [[jaccardSorted]]; this built-in formulation remains for
    * generic/string arrays and as the NativeExprSpec parity reference.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** Exact Jaccard of two SORTED-DISTINCT long arrays (the
    * [[shingleFps]] contract): one native merge scan per pair —
    * O(|a|+|b|) primitive compares, no per-pair set construction
    * ([[org.apache.spark.sql.graft.JaccardSortedLongs]]).
    */
  def jaccardSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.JaccardSortedLongs(a, b)

  /** Exact dedup: keep the min-`idCol` row per distinct `textCol` value.
    * One shuffle (hash partial agg on md5(text)), no window/sort — the
    * 100 TB-safe shape for exact dedup.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(md5(col(textCol)).as("_h"))
      .agg(min_by(keep, col(idCol)).as("_row"))
      .select(df.columns.map(c => col(s"_row.$c")).toSeq: _*)
  }

  /** SoftDeDup: DOWN-WEIGHT exact duplicates instead of dropping them —
    * every row survives, carrying its duplicate-cluster size and the two
    * standard reweighting schemes: `w_prop` splits each cluster's unit
    * sampling mass evenly across its members (1/n — cluster-frequency
    * inverse), `w_sqrt` tempers the penalty (1/√n) so common documents
    * are demoted but not erased. Loss- or sampling-weight dedup of this
    * shape is the soft alternative to [[exact]] when duplicate counts
    * are themselves signal (popularity) or when hard dropping would
    * starve small sources.
    *
    * Both weights are IEEE-exact engine-independent arithmetic (one
    * double division; `sqrt` is correctly rounded per IEEE 754), so the
    * oracle matches bitwise before the cosmetic round(…, 6).
    *
    * Scale shape: ONE hash exchange on md5(text) for a partition-only
    * count window — no join back, no second pass over the corpus, and
    * the window frame is the whole partition so there is no running-
    * frame state. (A groupBy + join-back would shuffle the corpus
    * twice.) 100 TB-safe: cluster size is bounded by duplicate
    * multiplicity, not corpus size.
    *
    * Output: (idCol, n_dup, w_prop, w_sqrt).
    */
  def softWeights(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
    df.select(col(idCol), count(lit(1)).over(w).as("n_dup"))
      .withColumn("w_prop", round(lit(1.0) / col("n_dup"), 6))
      .withColumn("w_sqrt",
        round(lit(1.0) / sqrt(col("n_dup").cast("double")), 6))
  }

  /** DuckDB oracle twin of [[softWeights]] (partitions by the raw text —
    * md5 is collision-free at gate scale, so the clusters coincide).
    */
  def duckSoftWeights(tbl: String, textCol: String, idCol: String): String =
    s"""SELECT $idCol, n_dup,
       |       round(CAST(1 AS DOUBLE) / CAST(n_dup AS DOUBLE), 6) AS w_prop,
       |       round(CAST(1 AS DOUBLE) / sqrt(CAST(n_dup AS DOUBLE)), 6) AS w_sqrt
       |FROM (SELECT $idCol,
       |             CAST(count(*) OVER (PARTITION BY $textCol) AS BIGINT) AS n_dup
       |      FROM $tbl) s""".stripMargin

  /** Exact pairwise n-gram-Jaccard near-dup pairs — the ground-truth
    * O(n²) variant, bounded to `idCol < maxDocId`. Output: one row per
    * unordered pair with jaccard ≥ threshold.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double, maxDocId: Long): DataFrame = {
    val withSh = spreadBounded(df.filter(col(idCol) < maxDocId))
      .select(col(idCol), shingleFps(col(textCol), n).as("_sh"))
    val a = withSh.select(col(idCol).as("id_a"), col("_sh").as("_sha"))
    val b = withSh.select(col(idCol).as("id_b"), col("_sh").as("_shb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", round(jaccardSorted(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Pairwise-Jaccard HISTOGRAM — the threshold-tuning diagnostic:
    * how many document pairs sit in each similarity band, so the dedup
    * threshold is picked from the corpus's actual similarity
    * distribution instead of folklore (0.5? 0.8?). A near-dup-heavy
    * corpus shows a bimodal histogram (noise floor + a spike near 1);
    * the valley is the threshold.
    *
    * Scale shape — POSTINGS INTERSECTION, not the O(n²) scan: explode
    * distinct shingles, count df per shingle, drop shingles with df >
    * `dfCap` (a hot boilerplate shingle would contribute df² candidate
    * rows — the same skew-guard posture as every bucketed join here;
    * dropping it DISCOUNTS the affected pairs' intersection, a defined
    * and mirrored semantics), self-join on the shingle, count shared
    * shingles per pair, and derive jaccard = inter / (|A| + |B| −
    * inter) from the ride-along set sizes. Cost is Σ df² over
    * surviving shingles — co-occurrence-linear — and only pairs with
    * ≥ 1 shared informative shingle ever materialize (exactly the
    * jaccard > 0 pairs). One shingle-keyed exchange + one pair-keyed
    * aggregate.
    *
    * Output: (bin, bin_lo, n_pairs), bin = min(⌊jaccard·bins⌋, bins−1)
    * over rounded-6dp jaccard, only non-empty bins.
    */
  def jaccardHistogram(df: DataFrame, textCol: String, idCol: String,
                       n: Int, bins: Int, maxDocId: Long,
                       dfCap: Int = DefaultMaxBucketSize): DataFrame = {
    val withSh = spreadBounded(df.filter(col(idCol) < maxDocId))
      .select(col(idCol).as("id"), shingleFps(col(textCol), n).as("_sh"))
      .withColumn("_n", size(col("_sh")))
    val posts = withSh
      .select(col("id"), col("_n"), explode(col("_sh")).as("_s"))
    val keep = capBuckets(posts, Seq("_s"), dfCap)
    val inter = keep.as("a").join(keep.as("b"),
        col("a._s") === col("b._s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a._n").as("_na"), col("b._n").as("_nb"))
      .agg(count(lit(1)).as("_inter"))
    val jac = inter.withColumn("jaccard",
      round(col("_inter").cast("double")
        / (col("_na") + col("_nb") - col("_inter")).cast("double"), 6))
    jac.withColumn("bin",
        least(floor(col("jaccard") * bins), lit(bins - 1L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"),
        round(col("bin").cast("double") / bins, 6).as("bin_lo"),
        col("n_pairs"))
  }

  /** DuckDB twin of [[jaccardHistogram]] — the SAME postings
    * formulation (df cap included), not the all-pairs CTE, so the cap
    * semantics mirror exactly.
    */
  def duckJaccardHistogram(tbl: String, textCol: String, idCol: String,
                           n: Int, bins: Int, maxDocId: Long,
                           dfCap: Int = DefaultMaxBucketSize): String =
    s"""WITH t AS (SELECT $idCol AS id, ${duckShingleFps(textCol, n)} AS sh
       |           FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w
       |                 FROM $tbl WHERE $idCol < $maxDocId)),
       |e AS (SELECT id, len(sh) AS nsh, unnest(sh) AS s FROM t),
       |keep AS (SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY s) AS df FROM e)
       |  WHERE df <= $dfCap),
       |i AS (SELECT a.id AS id_a, b.id AS id_b, a.nsh AS na, b.nsh AS nb,
       |             count(*) AS inter
       |      FROM keep a JOIN keep b ON a.s = b.s AND a.id < b.id
       |      GROUP BY 1, 2, 3, 4),
       |j AS (SELECT round(CAST(inter AS DOUBLE)
       |                   / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
       |      FROM i),
       |h AS (SELECT CAST(least(floor(jaccard * $bins), ${bins - 1}) AS BIGINT) AS bin
       |      FROM j)
       |SELECT bin, round(CAST(bin AS DOUBLE) / $bins, 6) AS bin_lo,
       |       count(*) AS n_pairs
       |FROM h GROUP BY bin""".stripMargin

  /** DuckDB rendering of [[shingles]]: word n-gram set over a token array
    * bound as `w` in the enclosing scope ([[TextAnalysis.duckTokensBind]]).
    */
  def duckShingles(textCol: String, n: Int): String = {
    val gram = (1 to n).map(k => s"w[i + ${k - 1}]").mkString(" || ' ' || ")
    s"CASE WHEN len(w) >= $n THEN " +
      s"list_distinct([$gram for i in range(1, len(w) - $n + 2)]) " +
      s"ELSE [trim($textCol)] END"
  }

  /** DuckDB rendering of [[shingleFps]]: the IDENTICAL per-shingle
    * fingerprint applied to [[duckShingles]], distinct'd — so both
    * engines hash-collapse the same (rare) collisions and the hashed
    * Jaccard gates stay exact. No sort needed: every duck consumer is
    * order-insensitive (list_intersect / unnest joins).
    */
  def duckShingleFps(textCol: String, n: Int): String =
    s"list_distinct(list_transform(${duckShingles(textCol, n)}, " +
      s"gsh -> ${TextAnalysis.duckFingerprint("gsh")}))"

  /** DuckDB rendering of [[jaccard]] over two shingle-array expressions. */
  def duckJaccard(a: String, b: String): String =
    s"round(CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) " +
      s"/ CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE) END, 6)"

  /** CTE chain rendering the exact pairwise n-gram-Jaccard pair search
    * over relation `rel` (a table or an earlier CTE name). Declares CTEs
    * `${p}t` (shingle sets) and `${p}p` (scored pairs) — compose inside a
    * `WITH` list and read `SELECT id_a, id_b, jaccard FROM ${p}p`.
    */
  def duckPairCtes(rel: String, textCol: String, idCol: String,
                   n: Int, where: String, p: String = ""): String =
    s"""${p}t AS (SELECT $idCol AS id, ${duckShingleFps(textCol, n)} AS sh
       |           FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $rel WHERE $where)),
       |${p}p AS (SELECT a.id AS id_a, b.id AS id_b,
       |        ${duckJaccard("a.sh", "b.sh")} AS jaccard
       |      FROM ${p}t a, ${p}t b WHERE a.id < b.id)""".stripMargin

  /** DuckDB oracle for [[ngramJaccardPairs]] over table `tbl`. */
  def duckNgramJaccardPairs(tbl: String, textCol: String, idCol: String,
                            n: Int, threshold: Double, maxDocId: Long): String =
    s"""WITH ${duckPairCtes(tbl, textCol, idCol, n, s"$idCol < $maxDocId")}
       |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= $threshold""".stripMargin

  /** Exact Jaccard-threshold self-join via PREFIX FILTERING (the
    * PPJoin/AllPairs family, Xiao et al. 2008 / Bayardo et al. 2007) —
    * the third algorithmic route to near-dup pairs next to the O(n²)
    * scan ([[ngramJaccardPairs]]) and the probabilistic LSH band join
    * ([[minhashLshPairs]]): EXACT results (provably no missed pair, so
    * the gate is equality vs the ground truth, not a recall bound)
    * without all-pairs cost.
    *
    * Why it prunes: order the shingle universe by ascending document
    * frequency (rarest first; shingle text tie-break). If
    * J(A,B) ≥ τ then A and B must share a token inside their first
    * |X| − ⌈τ·|X|⌉ + 1 ordered tokens — so only docs meeting in a
    * PREFIX posting ever pair, and prefixes are made of the rarest
    * shingles (hot boilerplate grams sort last and never enter a
    * posting list). A size filter (τ·|A| ≤ |B| ∧ τ·|B| ≤ |A|, integer-
    * safe via ceil) cuts survivors before verification.
    *
    * A POSITIONAL filter (the "PP" in PPJoin) prunes further: if the
    * shared token sits at ordered position i in A and j in B, the pair's
    * overlap after-and-including it is ≤ 1 + min(|A|−i, |B|−j); for the
    * FIRST shared token nothing shared precedes it, so a qualifying pair
    * always passes at that occurrence — keeping any-occurrence-passes
    * pairs stays lossless while late-prefix-only matches die.
    *
    * Scale shape: one shingle-key exchange for document frequencies
    * (partial-agg combinable), one prefix-posting equi-join, distinct
    * pair set, then an id-keyed verify join — no quadratic STAGE, and no
    * bucket cap compromising exactness. HONEST BOUNDARY: candidate count
    * is Σ_t df_prefix(t)², so the pruning power rides the corpus's
    * token-frequency skew. Under natural Zipf/Heaps vocabulary growth,
    * prefix tokens stay rare and the join is near-linear; on a CLOSED
    * vocabulary (the scale fixture's 31 words — shingle space saturates)
    * posting lists grow with the corpus and exact joins are inherently
    * quadratic — no exact algorithm beats that; use
    * [[minhashLshPairs]] (probabilistic, bucket-capped) in that regime.
    * Measured in BASELINE.md ("prefix-join scale rehearsal").
    *
    * Output: (id_a, id_b, jaccard ≥ threshold) — identical rows to
    * [[ngramJaccardPairs]] at the same (n, threshold).
    */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         n: Int, threshold: Double): DataFrame = {
    val (docs, prefixes) = prefixPostings(df, textCol, idCol, n, threshold)
    prefixExactJoin(docs, prefixes, threshold)
  }

  /** Shared front half of the prefix-filter join: per-doc HASHED
    * shingle sets ([[shingleFps]]) plus the τ-prefix posting rows
    * `(id, _len, _pos, _ps)` under the global rarest-first order
    * (df ASC, fingerprint ASC — any consistent total order keeps the
    * prefix filter lossless; the 8-byte key also shrinks the postings
    * exchange vs the shingle strings it replaced in r14).
    */
  private def prefixPostings(df: DataFrame, textCol: String, idCol: String,
                             n: Int, threshold: Double): (DataFrame, DataFrame) = {
    val docs = rebalance(df)
      .select(col(idCol).as("id"), shingleFps(col(textCol), n).as("_sh"))
    val ex = docs.select(col("id"), explode(col("_sh")).as("_s"))
    val dfreq = ex.groupBy("_s").agg(count(lit(1)).as("_df"))
    // Global rarest-first total order: per doc, sort shingles by
    // (df ASC, shingle ASC) and keep the τ-prefix.
    val prefixes = ex.join(dfreq, "_s")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("_df"), col("_s")))).as("_osh"))
      .withColumn("_len", size(col("_osh")))
      .withColumn("_plen", col("_len") - ceil(lit(threshold) * col("_len")) + 1)
      .select(col("id"), col("_len"),
        posexplode(slice(transform(col("_osh"), s => s.getField("_s")),
          lit(1), col("_plen"))))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_ps")
    (docs, prefixes)
  }

  /** Back half: posting equi-join with size + positional filters, then
    * exact-Jaccard verification. Lossless (see [[prefixJaccardPairs]]).
    */
  private def prefixExactJoin(docs: DataFrame, prefixes: DataFrame,
                              threshold: Double): DataFrame = {
    // J ≥ τ also lower-bounds the intersection:
    // o ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉ (o = J·u, u ≥ (|A|+|B|)/(1+J⁻¹)).
    val oLow = ceil(lit(threshold / (1 + threshold)) *
      (col("a._len") + col("b._len")))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a._ps") === col("b._ps") && col("a.id") < col("b.id"))
      // J ≥ τ ⇒ τ·max(|A|,|B|) ≤ min(|A|,|B|); ceil is safe on integers.
      .filter(col("b._len") >= ceil(lit(threshold) * col("a._len")) &&
              col("a._len") >= ceil(lit(threshold) * col("b._len")))
      // Positional filter: overlap from this occurrence on (posexplode is
      // 0-based: remaining = len − pos counts the token itself).
      .filter(least(col("a._len") - col("a._pos"),
                    col("b._len") - col("b._pos")) >= oLow)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("_sh").as("_sha")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("_sh").as("_shb")), "id_b")
      .withColumn("jaccard", round(jaccardSorted(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Pre-filter candidate volume of the prefix join, measured (not
    * guessed) from the actual τ-prefix posting lists: the equi-join on
    * posting token `t` emits Σ_t c_t·(c_t−1)/2 pre-distinct pairs, the
    * exact quantity that goes quadratic when a closed vocabulary
    * saturates (BASELINE.md "prefix-join scale rehearsal": 8.1× growth
    * at 10× rows on the 31-word fixture). One linear, partial-agg
    * combinable pass over the postings; the sum is carried in DOUBLE
    * because c_t² overflows long at ~10¹⁰-doc posting sizes (a routing
    * statistic needs magnitude, not exactness).
    *
    * Returns (nDocs, expectedCandidatePairs).
    */
  private def statsOf(prefixes: DataFrame): (Long, Double) = {
    val row = prefixes.groupBy("_ps").agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum(col("_c").cast("double") * (col("_c") - 1) / 2), lit(0.0)).as("cand"))
      .head()
    (prefixes.select("id").distinct().count(), row.getDouble(0))
  }

  /** Default routing bound for [[prefixJaccardPairsAuto]], set AT the
    * measured cost crossover, not at the first sign of sharing
    * (BASELINE.md round-9 rehearsal): on the closed-vocab scale fixture
    * the exact join still beats capped LSH at 66 candidates/doc
    * (1× : 2.7 s vs 9.2 s) while LSH wins asymptotically once candidates
    * grow quadratically (10× : 832/doc) — exact grows 8.1× per 10×
    * corpus growth, LSH linearly. 256 keeps the mildly-sharing regime
    * on the provably-lossless path and degrades before the quadratic
    * term dominates.
    */
  val DefaultMaxPrefixCandidatesPerDoc: Double = 256.0

  /** Regime-routed exact similarity join (VERDICT r8 #4): measure the
    * prefix join's actual candidate volume first, run the lossless
    * PPJoin when it is linear-ish (≤ `maxCandidatesPerDoc` candidates
    * per doc), and DEGRADE to the bucket-capped MinHash-LSH join — same
    * output schema, verified exact Jaccard on every emitted pair, but
    * probabilistic recall — when the corpus sits in the
    * closed-vocabulary regime where NO exact algorithm avoids the
    * Σ df² blowup. The decision is a measured statistic, not a doc
    * comment; a routed-to-LSH run says so on stderr.
    *
    * Plan shape: the postings frame is persisted (MEMORY_AND_DISK) so
    * the decision pass and the exact join share one computation of the
    * shingle→df→sort pipeline; the stat itself is one combinable
    * aggregate (two scalar collects total). On fallback the postings
    * cache is dropped before the LSH plan is built.
    */
  def prefixJaccardPairsAuto(df: DataFrame, textCol: String, idCol: String,
                             n: Int, threshold: Double,
                             maxCandidatesPerDoc: Double = DefaultMaxPrefixCandidatesPerDoc,
                             bands: Int = 16, rowsPerBand: Int = 4,
                             maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    prefixJaccardPairsRouted(df, textCol, idCol, n, threshold,
      maxCandidatesPerDoc, bands, rowsPerBand, maxBucketSize)._1

  /** [[prefixJaccardPairsAuto]] with the routing decision exposed for
    * specs: `_2` is true when the exact prefix path was chosen.
    */
  def prefixJaccardPairsRouted(df: DataFrame, textCol: String, idCol: String,
                               n: Int, threshold: Double,
                               maxCandidatesPerDoc: Double = DefaultMaxPrefixCandidatesPerDoc,
                               bands: Int = 16, rowsPerBand: Int = 4,
                               maxBucketSize: Int = DefaultMaxBucketSize): (DataFrame, Boolean) = {
    val (docs, rawPrefixes) = prefixPostings(df, textCol, idCol, n, threshold)
    val prefixes = Jobs.cache(rawPrefixes)
    val (nDocs, cand) = statsOf(prefixes)
    if (nDocs == 0 || cand <= maxCandidatesPerDoc * nDocs)
      (prefixExactJoin(docs, prefixes, threshold), true)
    else {
      Jobs.release(prefixes)
      System.err.println(
        f"[dedup] prefixJaccardPairsAuto: measured $cand%.0f candidate pairs for $nDocs docs " +
        f"(> $maxCandidatesPerDoc%.0f/doc) — closed-vocabulary regime, routing to " +
        s"MinHash-LSH (bands=$bands, r=$rowsPerBand; probabilistic recall, exact-verified pairs)")
      (minhashLshPairs(df, textCol, idCol, n, bands, rowsPerBand, threshold,
        maxBucketSize), false)
    }
  }

  /** MinHash signature: k permutations approximated by one `xxhash64`
    * per shingle STRING followed by k cheap re-hashes of that 8-byte
    * long (`xxhash64(seed, h)`), folded to the k-wide minimum — the
    * native codegen expression
    * ([[org.apache.spark.sql.graft.MinHashSig]]): one fused primitive
    * loop inside whole-stage codegen, bitwise-identical to
    * [[minhashSignatureHof]] (the NativeExprSpec parity gate).
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    org.apache.spark.sql.graft.MinHashSig(shingleCol, k)

  /** Built-in-only formulation of [[minhashSignature]] (aggregate +
    * zip_with fold). Kept as the portable reference implementation;
    * the interpreted HOF path allocates a boxed k-long array per
    * shingle and costs ~10× on the signature hot loop.
    *
    * Why this fold shape: the naive `transform(seeds, s ->
    * min(xxhash64(s, shingle)))` hashes every shingle string k times —
    * k·|sh| string traversals per row. Here each string is hashed once
    * and the k variants are fixed-width long hashes inside one fold.
    * (Wrapping-multiply permutations would be cheaper still, but
    * Spark 4's ANSI mode rejects long overflow.)
    */
  def minhashSignatureHof(shingleCol: Column, k: Int): Column = {
    val hashes = transform(shingleCol, x => xxhash64(x))
    aggregate(hashes, array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(k - 1)), (m, s) =>
        least(m, xxhash64(s, h))))
  }

  /** Default cap on LSH bucket size: buckets (band/chunk collisions)
    * larger than this are dropped — within-bucket pairing is quadratic,
    * and a bucket this hot on non-identical signatures is hash-degenerate
    * noise, not near-dup signal (identical signatures are collapsed
    * BEFORE banding, so real duplicate mass never hits this cap).
    */
  val DefaultMaxBucketSize = 1024

  /** Within an identical-signature group, emit all pairs up to this group
    * size; larger groups emit a star (rep ↔ member) instead — O(m) rows,
    * enough for connected-component resolution ([[resolvePairs]]) without
    * the O(m²) blowup of a million-duplicate cluster.
    */
  val AllPairsGroupCap = 64

  /** Group structure over identical signatures: every row gains `_rep`
    * (min id of its signature group) and `_cnt` (group size) via one
    * window over the signature key — a single exchange, reused by every
    * downstream consumer (ReuseExchange), so the CPU-heavy signature
    * stage runs once.
    *
    * `pin` is an always-true predicate that REFERENCES the signature
    * payload column(s). Without it, column pruning gives each consumer
    * branch a different projection under the window's exchange (the
    * banding branch keeps `_sig`, the pairing/membership branches
    * collapse it into the group key), the exchange subtrees stop being
    * canonically equal, and exchange reuse silently dies — the
    * signature stage then runs once PER BRANCH (measured: 2× full
    * signature computation in the executed plan). The pin makes every
    * branch require the same columns, restoring one shared stage.
    */
  private def withSigGroups(sig: DataFrame, sigKey: Column,
                            pin: Column = lit(true)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(sigKey)
    sig.withColumn("_rep", min(col("id")).over(w))
      .withColumn("_cnt", count(lit(1)).over(w))
      .filter(pin)
  }

  /** Within-group candidate pairs for identical-signature groups: all
    * pairs for groups ≤ [[AllPairsGroupCap]], star (rep, member) above.
    */
  private def withinGroupPairs(members: DataFrame, keyCol: String): DataFrame = {
    val small = members.filter(col("_cnt") <= AllPairsGroupCap)
    val allPairs = small.as("x").join(small.as("y"),
        col(s"x.$keyCol") === col(s"y.$keyCol") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val star = members.filter(col("_cnt") > AllPairsGroupCap && col("id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("id").as("id_b"))
    allPairs.union(star)
  }

  /** Drop rows in oversized buckets (skew guard): one window count over
    * the bucket key — the exchange it introduces is the same one the
    * following self-join needs, so the guard costs no extra shuffle. The
    * dropped-row count is published as an `observe` metric
    * (`graft.lsh_bucket_drops`) for listeners.
    */
  private[graft] def capBuckets(banded: DataFrame, bucketCols: Seq[String],
                                maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols.map(col): _*)
    val sized = banded.withColumn("_bn", count(lit(1)).over(w))
    sized.observe("graft.lsh_bucket_drops",
        sum(when(col("_bn") > maxBucketSize, 1L).otherwise(0L)).as("dropped_rows"))
      .filter(col("_bn") <= maxBucketSize).drop("_bn")
  }

  /** The shared front half of the MinHash-LSH machinery: shingles →
    * signatures → signature groups → per-band bucket keys of the group
    * representatives. Returns (shingled, members, banded) — factored
    * out so [[minhashLshPairs]] and [[lshCapDropCount]] derive bucket
    * contents from ONE definition and cannot drift.
    */
  private def shingleSigBands(df: DataFrame, textCol: String, idCol: String,
                              n: Int, bands: Int, rowsPerBand: Int): (DataFrame, DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    val shingled = rebalance(df).select(col(idCol).as("id"),
      shingles(col(textCol), n).as("_sh"))
    val sig = shingled
      .select(col("id"), minhashSignature(col("_sh"), k).as("_sig"))
      // 64-bit key over the signature array: cheap shuffle key; a key
      // collision merely merges two groups and the exact-Jaccard
      // verification still filters every expanded pair.
      .withColumn("_skey", xxhash64(col("_sig")))
    // Pin `_sig` (see withSigGroups): a signature always has k slots,
    // so the predicate is constant-true but survives the optimizer.
    // `coalesce(..., true)` keeps it constant-true even for null text
    // (null shingles → null signature → `size(null)` is null, which a
    // bare `>= 0` pin would silently filter out); null-signature rows
    // group under xxhash64(null) like any other signature.
    val members = withSigGroups(sig, col("_skey"),
      pin = coalesce(size(col("_sig")) >= 0, lit(true)))
    // Band only one representative per distinct signature.
    val reps = members.filter(col("id") === col("_rep"))
    val banded = reps.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("id", "band", "bkey")
    (shingled, members, banded)
  }

  /** Rows the LSH bucket cap ([[capBuckets]]) would drop at these
    * parameters — the cap's recall cost as a QUERYABLE one-row metric
    * (band-bucket rows in buckets above `maxBucketSize`), for
    * [[Pipeline.capDropReport]] / the health report. Derived from the
    * same [[shingleSigBands]] definition the pair search uses.
    */
  def lshCapDropCount(df: DataFrame, textCol: String, idCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (_, _, banded) = shingleSigBands(df, textCol, idCol, n, bands, rowsPerBand)
    banded.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("_bn"))
      .agg(coalesce(sum(when(col("_bn") > maxBucketSize, col("_bn"))
        .otherwise(0L)), lit(0L)).as("dropped_rows"),
        coalesce(sum(col("_bn")), lit(0L)).as("total_rows"))
  }

  /** MinHash + LSH near-dup pairs at scale:
    * signature (k = bands·rowsPerBand) → collapse identical signatures to
    * one representative (duplicate-heavy corpora — THE target workload —
    * otherwise put whole duplicate clusters into every band bucket and
    * the within-bucket pairing goes quadratic on one task) → b band keys
    * per distinct signature → bucket-capped equi-join on (band, slice
    * hash) → expand representative pairs back to member pairs → exact
    * Jaccard verification ≥ threshold.
    *
    * With bands=42, rowsPerBand=3 the detect probability at j=0.5 is
    * 1−(1−0.5³)⁴² ≈ 0.997 — near-exact recall at the dedup threshold
    * while touching only hash-colliding pairs. Within identical-signature
    * groups larger than [[AllPairsGroupCap]], pairs are emitted as a star
    * (complete pair lists are quadratic in group size; the star keeps
    * [[resolvePairs]] clustering exact).
    *
    * Two tiers, with the same rows, `jaccard` bits and schema:
    *  - Driver tier: when `df` is already driver-local (a plan check, e.g.
    *    [[Pipeline.prepCorpus]]' held corpus) with at most
    *    [[MaxDriverDocs]] rows, a long id column with no null and no
    *    repeated id, and a string text column, the steps below run over
    *    the held rows with the plan's own expressions
    *    ([[heldLshPairs]]). It starts no job and returns a local relation.
    *  - Distributed tier, everything else (a larger corpus, a frame read
    *    from disk or a checkpoint, a null or repeated id): the lazy plan
    *    below.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      n: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    driverLshPairs(df, textCol, idCol, n, bands, rowsPerBand, threshold, maxBucketSize)
      .getOrElse(
        distributedLshPairs(df, textCol, idCol, n, bands, rowsPerBand, threshold, maxBucketSize))

  /** The distributed tier of [[minhashLshPairs]]: a lazy plan. */
  private def distributedLshPairs(df: DataFrame, textCol: String, idCol: String,
                                  n: Int, bands: Int, rowsPerBand: Int,
                                  threshold: Double, maxBucketSize: Int): DataFrame = {
    // Shingles deliberately do NOT travel through the signature shuffle:
    // shingle arrays are ~3× the text volume, so shipping them would
    // triple the exchange payload at 100 TB. The verification join
    // recomputes them in a second narrow scan instead (CPU-for-network,
    // the right trade at scale).
    val (_, members, banded) =
      shingleSigBands(df, textCol, idCol, n, bands, rowsPerBand)
    val within = withinGroupPairs(members, "_skey")
    val capped = capBuckets(banded, Seq("band", "bkey"), maxBucketSize)
    val repPairs = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("ra"), col("y.id").as("rb"))
      .distinct()
    // Expand representative pairs to member pairs (cross product of the
    // two signature groups — exactly the pairs the oracle contains).
    val membership = members.select(col("_rep"), col("id"))
    val cross = repPairs
      .join(membership.select(col("_rep").as("ra"), col("id").as("ma")), "ra")
      .join(membership.select(col("_rep").as("rb"), col("id").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"))
    // Within-group and cross-group pair sets are disjoint (same vs
    // different signature group) and each is already duplicate-free, so
    // no distinct pass is needed on the union.
    val cand = within.union(cross)
    // Verify every candidate with exact Jaccard (re-derive the HASHED
    // shingle sets in a narrow scan; identical MinHash signatures do
    // NOT guarantee identical shingles, so within-group pairs are
    // verified too). The signature path keeps the STRING shingles
    // (MinHashSig's xxhash64 stream is spec- and oracle-pinned); the
    // verifier carries 8-byte fingerprints and merge-scans per pair.
    val sh = rebalance(df)
      .select(col(idCol).as("id"), shingleFps(col(textCol), n).as("_shf"))
    cand
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("_shf", "_sha"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("_shf", "_shb"), "id_b")
      .withColumn("jaccard", round(jaccardSorted(col("_sha"), col("_shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Most documents the driver tier of [[minhashLshPairs]] takes, and so
    * the most rows [[Pipeline.prepCorpus]] holds on the driver. Measured
    * on the benchmark's corpus shape (8-92 words per document, 42 bands
    * of 3, `local[4]`), pairs plus components, warm: 1 415 documents
    * 0.15-0.25 s on the driver against 1.5-2.3 s for the distributed
    * plan; 8 360 documents 0.8 s against 2.6-3.3 s; 14 030 documents
    * 1.1 s against 2.9-3.6 s; 28 074 documents 2.2-3.0 s against
    * 3.5-4.6 s, where the two start to meet. Held rows take ~525 B per
    * document there (8.6 MB at this ceiling). Over the ceiling the
    * bounded read is wasted: ~0.13 s beside 17.9 s for the distributed
    * tier at 162 001 documents.
    */
  val MaxDriverDocs: Long = 1L << 14

  /** The driver tier of [[minhashLshPairs]], or `None` where it does not
    * apply: `df` must be driver-local ([[DriverRows.local]], a plan check)
    * with at most [[MaxDriverDocs]] rows ([[DriverRows.ceiling]]), a long
    * `idCol` with no null and no repeated id, and a string `textCol`. See
    * [[heldLshPairs]]. The result is a local relation with the
    * distributed plan's schema.
    */
  private def driverLshPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
                             bands: Int, rowsPerBand: Int, threshold: Double,
                             maxBucketSize: Int): Option[DataFrame] = {
    def field(name: String) = df.schema.fields.filter(_.name == name) match {
      case Array(f) => Some(f)
      case _ => None
    }
    for {
      rel <- DriverRows.local(df) if rel.data.size <= DriverRows.ceiling(MaxDriverDocs)
      idField <- field(idCol) if idField.dataType == LongType
      if field(textCol).exists(_.dataType == StringType)
      idPos = df.schema.fieldIndex(idCol)
      if rel.data.forall(!_.isNullAt(idPos))
      ids = rel.data.map(_.getLong(idPos)).toArray
      if ids.distinct.length == ids.length
    } yield {
      val textPos = df.schema.fieldIndex(textCol)
      val texts = rel.data.map(r => if (r.isNullAt(textPos)) null else r.getUTF8String(textPos)).toArray
      DriverRows.frame(df.sparkSession, StructType(Seq(
          StructField("id_a", LongType, nullable = true),
          StructField("id_b", LongType, idField.nullable),
          StructField("jaccard", DoubleType, nullable = true))),
        heldLshPairs(ids, texts, n, bands, rowsPerBand, threshold, maxBucketSize))
    }
  }

  /** The distributed plan's pairs over held documents (`texts(i)` is
    * `ids(i)`'s text, `null` for null text; ids distinct), computed with
    * the plan's own expressions so every pair and every `jaccard` double
    * is the same:
    *  - per document `Shingles` → `MinHashSig` (null text gives a null
    *    signature), then one generated projection of the group key
    *    `xxhash64(_sig)` and the band keys `xxhash64(slice(_sig, b·r+1,
    *    r))` (a null signature hashes to the seed, as in the plan);
    *  - signature groups on the key, the min id as `_rep`: all pairs
    *    within a group of at most [[AllPairsGroupCap]], a star from the
    *    rep above that;
    *  - reps only are banded, a bucket of more than `maxBucketSize` reps
    *    is dropped, and each distinct rep pair expands over both groups'
    *    members;
    *  - each candidate is verified by `JaccardSortedLongs` over
    *    `ShingleFingerprints`, rounded by Spark's `Round(_, 6)` and kept
    *    at `>= threshold` in Spark's double order; null text never
    *    verifies.
    */
  private def heldLshPairs(ids: Array[Long], texts: Array[UTF8String], n: Int, bands: Int,
                           rowsPerBand: Int, threshold: Double,
                           maxBucketSize: Int): Seq[InternalRow] = {
    val shingler = Shingles(BoundReference(0, StringType, nullable = true), n)
    val minhash = MinHashSig(BoundReference(0, ArrayType(StringType, containsNull = false),
      nullable = true), bands * rowsPerBand)
    val sig = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true)
    val keysOf = UnsafeProjection.create(new XxHash64(Seq(sig)) +: (0 until bands).map(b =>
      new XxHash64(Seq(Slice(sig, Literal(b * rowsPerBand + 1), Literal(rowsPerBand))))))
    // keys(i) = (group key, band keys...) of document i.
    val keys = texts.map { t =>
      val row = keysOf(InternalRow(if (t == null) null else minhash.nullSafeEval(shingler.compute(t))))
      Array.tabulate(bands + 1)(row.getLong)
    }
    // Signature groups as member indices in id order, the rep first.
    val groups = ids.indices.groupBy(keys(_)(0)).values.map(_.sortBy(ids(_))).toIndexedSeq
    // Candidates as (i, j) with ids(i) < ids(j).
    val cand = mutable.ArrayBuffer[(Int, Int)]()
    for (g <- groups) {
      if (g.size <= AllPairsGroupCap) for (x <- g.indices; y <- x + 1 until g.size) cand += ((g(x), g(y)))
      else g.tail.foreach(m => cand += ((g.head, m)))
    }
    // Band buckets of group indices, one band at a time.
    val groupPairs = mutable.HashSet[(Int, Int)]()
    for (b <- 1 to bands) {
      val buckets = mutable.LongMap[mutable.ArrayBuffer[Int]]()
      for (gi <- groups.indices)
        buckets.getOrElseUpdate(keys(groups(gi).head)(b), mutable.ArrayBuffer()) += gi
      for (gs <- buckets.values if gs.size > 1 && gs.size <= maxBucketSize; x <- gs; y <- gs
           if ids(groups(x).head) < ids(groups(y).head)) groupPairs += ((x, y))
    }
    for ((x, y) <- groupPairs; a <- groups(x); b <- groups(y))
      cand += (if (ids(a) < ids(b)) (a, b) else (b, a))
    val fingerprints = ShingleFingerprints(BoundReference(0, StringType, nullable = true), n)
    val fps = new Array[ArrayData](ids.length) // filled on first use
    def fpOf(i: Int): ArrayData = {
      if (fps(i) == null) fps(i) = fingerprints.compute(texts(i))
      fps(i)
    }
    val fpType = ArrayType(LongType, containsNull = false)
    val jaccard = JaccardSortedLongs(BoundReference(0, fpType, nullable = true),
      BoundReference(1, fpType, nullable = true))
    val round6 = new Round(BoundReference(0, DoubleType, nullable = false), Literal(6))
    cand.toSeq.flatMap { case (a, b) =>
      if (texts(a) == null || texts(b) == null) None
      else {
        val j = round6.eval(InternalRow(jaccard.compute(fpOf(a), fpOf(b)))).asInstanceOf[Double]
        if (SQLOrderingUtil.compareDoubles(j, threshold) >= 0) Some(InternalRow(ids(a), ids(b), j))
        else None
      }
    }
  }

  /** Edit-distance-verified fuzzy dedup: LSH candidate generation (the
    * [[minhashLshPairs]] machinery at a LOOSE `candJaccard` floor), then
    * each candidate pair verified with the normalized Levenshtein ratio
    * `lev(a,b) / max(len(a), len(b)) ≤ maxEditRatio` — the character-
    * level near-dup criterion (template pages, small in-place edits,
    * OCR noise) that token-shingle Jaccard under- or over-counts when
    * edits fall inside tokens.
    *
    * Scale shape: Levenshtein is O(|a|·|b|) per PAIR, so it must never
    * run all-pairs — it runs only on hash-colliding candidates, the
    * same bounded set the Jaccard verifier touches, joined against the
    * two narrow text relations. Output: (id_a, id_b, edit_ratio).
    */
  def editVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, bands: Int, rowsPerBand: Int,
                        candJaccard: Double, maxEditRatio: Double,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cand = minhashLshPairs(df, textCol, idCol, n, bands, rowsPerBand,
      candJaccard, maxBucketSize)
    val txt = rebalance(df).select(col(idCol).as("id"), col(textCol).as("_t"))
    cand
      .join(txt.select(col("id").as("id_a"), col("_t").as("_ta")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("_t").as("_tb")), "id_b")
      // greatest(len, 1): two empty texts are identical (ratio 0), not
      // a division by zero.
      .withColumn("edit_ratio",
        round(levenshtein(col("_ta"), col("_tb")).cast("double") /
          greatest(greatest(length(col("_ta")), length(col("_tb"))), lit(1))
            .cast("double"), 6))
      .filter(col("edit_ratio") <= maxEditRatio)
      .select(col("id_a"), col("id_b"), col("edit_ratio"))
  }

  /** DuckDB oracle for [[editVerifiedPairs]] with docs bounded to
    * `idCol < maxDocId`: the exact pairwise ground truth (every pair at
    * `candJaccard`, no LSH) filtered by the same normalized Levenshtein
    * ratio — so a green gate re-proves full candidate recall THROUGH
    * the edit verification.
    */
  def duckEditVerifiedPairs(tbl: String, textCol: String, idCol: String,
                            n: Int, candJaccard: Double, maxEditRatio: Double,
                            maxDocId: Long): String =
    s"""WITH ${duckPairCtes(tbl, textCol, idCol, n, s"$idCol < $maxDocId")},
       |txt AS (SELECT $idCol AS id, $textCol AS t FROM $tbl WHERE $idCol < $maxDocId),
       |v AS (SELECT p.id_a, p.id_b,
       |             round(CAST(levenshtein(a.t, b.t) AS DOUBLE) /
       |                   CAST(greatest(greatest(len(a.t), len(b.t)), 1) AS DOUBLE), 6)
       |               AS edit_ratio
       |      FROM p JOIN txt a ON p.id_a = a.id JOIN txt b ON p.id_b = b.id
       |      WHERE p.jaccard >= $candJaccard)
       |SELECT id_a, id_b, edit_ratio FROM v WHERE edit_ratio <= $maxEditRatio""".stripMargin

  /** Jaro–Winkler-verified fuzzy dedup: LSH candidates (the
    * [[editVerifiedPairs]] shape) re-scored with the native
    * [[org.apache.spark.sql.graft.JaroWinkler]] expression and kept at
    * `jw ≥ minJw` — the record-linkage metric biased toward prefix- and
    * transposition-preserving noise (names, titles, codes), where
    * normalized Levenshtein over- or under-penalizes.
    *
    * Scale shape: identical to [[editVerifiedPairs]] — the O(len²)-ish
    * per-pair metric runs ONLY on hash-colliding candidates joined to
    * the two narrow text relations, never all-pairs.
    * Output: (id_a, id_b, jw).
    */
  def jaroVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, bands: Int, rowsPerBand: Int,
                        candJaccard: Double, minJw: Double,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cand = minhashLshPairs(df, textCol, idCol, n, bands, rowsPerBand,
      candJaccard, maxBucketSize)
    val txt = rebalance(df).select(col(idCol).as("id"), col(textCol).as("_t"))
    cand
      .join(txt.select(col("id").as("id_a"), col("_t").as("_ta")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("_t").as("_tb")), "id_b")
      .withColumn("jw", round(
        org.apache.spark.sql.graft.JaroWinkler(col("_ta"), col("_tb")), 6))
      .filter(col("jw") >= minJw)
      .select(col("id_a"), col("id_b"), col("jw"))
  }

  /** DuckDB oracle for [[jaroVerifiedPairs]] with docs bounded to
    * `idCol < maxDocId`: exact pairwise ground truth at `candJaccard`
    * (no LSH) re-scored with DuckDB's own `jaro_winkler_similarity` —
    * the native expression is semantics-pinned to it bitwise, so a
    * green gate proves both candidate recall AND metric parity.
    */
  def duckJaroVerifiedPairs(tbl: String, textCol: String, idCol: String,
                            n: Int, candJaccard: Double, minJw: Double,
                            maxDocId: Long): String =
    s"""WITH ${duckPairCtes(tbl, textCol, idCol, n, s"$idCol < $maxDocId")},
       |txt AS (SELECT $idCol AS id, $textCol AS t FROM $tbl WHERE $idCol < $maxDocId),
       |v AS (SELECT p.id_a, p.id_b,
       |             round(jaro_winkler_similarity(a.t, b.t), 6) AS jw
       |      FROM p JOIN txt a ON p.id_a = a.id JOIN txt b ON p.id_b = b.id
       |      WHERE p.jaccard >= $candJaccard)
       |SELECT id_a, id_b, jw FROM v WHERE jw >= $minJw""".stripMargin

  /** Incremental (index) dedup: screen a NEW batch of documents against
    * an EXISTING corpus — the continuous-ingestion shape ("dedup the
    * daily crawl against the training set") where the corpus side is a
    * precomputed banded MinHash index and only the batch is fresh work.
    *
    * Asymmetric MinHash+LSH: band both sides, equi-join batch band keys
    * against the (bucket-capped) corpus index, verify every candidate
    * with exact shingle Jaccard, and report per batch doc the matched
    * corpus doc (min id among verified matches) or a keep verdict.
    *
    * Scale shape: at production the corpus banding is written ONCE as a
    * table bucketed by (band, bkey) and each day's batch — orders of
    * magnitude smaller — shuffles only its own band keys into that
    * layout (or broadcasts, when the batch fits); cost per run is
    * O(batch) + colliding candidates, never O(corpus). The batch also
    * never joins the corpus text: verification re-joins the two narrow
    * shingle relations only for hash-colliding candidate pairs.
    * A duplicate-heavy corpus additionally wants the identical-signature
    * collapse from [[minhashLshPairs]] before banding; elided here (the
    * fixtures carry no exact duplicates) to keep the index one narrow
    * projection.
    *
    * Output: (doc_id, matched, match_jaccard, keep) — one row per batch
    * doc; `matched`/`match_jaccard` null and `keep` = 1 when no corpus
    * doc reaches `threshold`.
    */
  def indexDedup(corpus: DataFrame, batch: DataFrame, textCol: String,
                 idCol: String, n: Int, bands: Int, rowsPerBand: Int,
                 threshold: Double,
                 maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val k = bands * rowsPerBand
    def shingled(df: DataFrame) = rebalance(df)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("_sh"))
    def bandKeys(sh: DataFrame) = sh
      .select(col("id"), minhashSignature(col("_sh"), k).as("_sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("id", "band", "bkey")
    def shfps(df: DataFrame) = rebalance(df)
      .select(col(idCol).as("id"), shingleFps(col(textCol), n).as("_shf"))
    val bsh = shingled(batch)
    val index = capBuckets(bandKeys(shingled(corpus)), Seq("band", "bkey"),
      maxBucketSize)
    val cand = bandKeys(bsh).as("b")
      .join(index.as("c"),
        col("b.band") === col("c.band") && col("b.bkey") === col("c.bkey"))
      .select(col("b.id").as("doc_id"), col("c.id").as("cid"))
      .distinct()
    // Verification carries the HASHED shingle sets (merge-scan Jaccard,
    // r14) in narrow re-scans; the banding path above keeps the string
    // shingles MinHashSig is pinned to.
    val verified = cand
      .join(shfps(batch).select(col("id").as("doc_id"), col("_shf").as("_shb")), "doc_id")
      .join(shfps(corpus).select(col("id").as("cid"), col("_shf").as("_shc")), "cid")
      .withColumn("j", round(jaccardSorted(col("_shb"), col("_shc")), 6))
      .filter(col("j") >= threshold)
    val best = verified.groupBy("doc_id").agg(
      min("cid").as("matched"),
      min_by(col("j"), col("cid")).as("match_jaccard"))
    bsh.select(col("id").as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("matched"), col("match_jaccard"),
        when(col("matched").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** DuckDB oracle twin of [[indexDedup]]: exact pairwise Jaccard
    * between the batch and corpus partitions of `tbl` (ground truth —
    * the LSH route must reproduce it exactly on the gated scope).
    */
  def duckIndexDedup(tbl: String, textCol: String, idCol: String, n: Int,
                     threshold: Double, batchPred: String,
                     corpusPred: String): String =
    s"""WITH bt AS (SELECT $idCol AS id, ${duckShingleFps(textCol, n)} AS sh
       |            FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w
       |                  FROM $tbl WHERE $batchPred)),
       |ct AS (SELECT $idCol AS id, ${duckShingleFps(textCol, n)} AS sh
       |       FROM (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w
       |             FROM $tbl WHERE $corpusPred)),
       |f AS (SELECT doc_id, cid, j FROM (
       |        SELECT b.id AS doc_id, c.id AS cid,
       |               ${duckJaccard("b.sh", "c.sh")} AS j
       |        FROM bt b, ct c) WHERE j >= $threshold),
       |m AS (SELECT doc_id, min(cid) AS matched FROM f GROUP BY 1),
       |mj AS (SELECT f.doc_id, f.cid, f.j FROM f
       |       JOIN m ON f.doc_id = m.doc_id AND f.cid = m.matched)
       |SELECT b.id AS doc_id, mj.cid AS matched, mj.j AS match_jaccard,
       |       CASE WHEN mj.cid IS NULL THEN CAST(1 AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS keep
       |FROM bt b LEFT JOIN mj ON mj.doc_id = b.id""".stripMargin

  /** 64-bit SimHash over whitespace tokens (term frequency = vote
    * weight): bit b of the signature is the sign of Σ_tokens ±1 where the
    * sign is bit b of xxhash64(token).
    */
  def simhash(c: Column): Column =
    org.apache.spark.sql.graft.SimHash64(
      transform(TextAnalysis.tokens(c), t => xxhash64(t)))

  /** Built-in-only formulation of [[simhash]] (vote vector via
    * aggregate+zip_with): the reference `NativeExprSpec` checks the
    * native `SimHash64` expression against, bit for bit. ~10× slower on
    * the interpreted HOF path, so no operator calls it.
    */
  def simhashHof(c: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(c), t => xxhash64(t))
    val votes = aggregate(hashes, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, b) =>
        a + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, b) =>
        when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: pigeonhole-bucket the 64-bit signature so
    * candidate recall at hamming ≤ maxHamming is EXACT, equi-join on
    * (chunk index, bucket key), verify hamming ≤ maxHamming.
    *
    * Two bucketing regimes, picked by radius:
    *   - small radius (exact chunks ≥ 8 bits wide): `maxHamming + 1`
    *     exact chunks — hamming ≤ r over the whole word ⇒ some chunk is
    *     bit-identical;
    *   - large radius (exact chunks would be < 8 bits — at r = 10 that
    *     is 11 chunks of 6 bits, i.e. 64 distinct keys, so every bucket
    *     holds ~n/64 of the corpus and within-bucket pairing explodes):
    *     `ceil((r+1)/3)` wide super-chunks with radius-1 multi-probing
    *     on BOTH sides. Pigeonhole: if every super-chunk differed by
    *     ≥ 3 bits the total would exceed r, so some super-chunk differs
    *     by ≤ 2 — and two radius-1 probe sets always intersect at
    *     distance ≤ 2 (midpoint key). Probing costs width+1 keys per
    *     chunk per row, but the key space per chunk grows from 2^6 to
    *     2^16 — buckets shrink ~1000×, which is what survives 100 TB.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming=$maxHamming out of range")
    val exactChunks = maxHamming + 1
    val probing = 64 / exactChunks < 8
    val nChunks = if (probing) (maxHamming + 3) / 3 else exactChunks
    val width = (64 + nChunks - 1) / nChunks // last chunk may be narrower
    val sigs = rebalance(df).select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    // Collapse identical signatures (hamming 0) before chunk-bucketing —
    // the duplicate-cluster skew guard; see minhashLshPairs.
    val members = withSigGroups(sigs, col("sig"))
    val keysOfChunk = (i: Int) => {
      val w = math.min(width, 64 - i * width) // actual width of chunk i
      val mask = if (w == 64) -1L else (1L << w) - 1L
      val base = shiftright(col("sig"), i * width).bitwiseAND(mask)
      if (probing) base +: (0 until w).map(b => base.bitwiseXOR(1L << b))
      else Seq(base)
    }
    val chunks = array((0 until nChunks).flatMap(i =>
      keysOfChunk(i).map(k => struct(lit(i).as("c"), k.as("k")))): _*)
    pigeonholePairs(members, chunks, maxHamming, maxBucketSize)
  }

  /** Near-dup pairs at hamming ≤ `maxHamming` over a PRECOMPUTED ≤64-bit
    * signature column — the generic engine behind [[simhashPairs]],
    * exposed for other fingerprint producers (e.g.
    * [[Multimodal.perceptualHash]]'s 32-bit media aHash): pigeonhole
    * into `maxHamming + 1` exact bit-chunks (hamming ≤ r over the word
    * ⇒ some chunk is bit-identical — candidate recall is EXACT),
    * equi-join on (chunk, key), verify `bit_count(xor)`.
    *
    * Small-radius regime only: chunks must stay ≥ 4 bits wide or every
    * bucket key collides into a handful of values and within-bucket
    * pairing explodes — for wider radii over 64-bit signatures use
    * [[simhashPairs]]'s multi-probe super-chunks.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, each pair once.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxHamming: Int,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(bits >= 1 && bits <= 64, s"hammingPairs: bits=$bits out of range")
    val nChunks = maxHamming + 1
    require(maxHamming >= 0 && bits / nChunks >= 4,
      s"hammingPairs: radius $maxHamming needs chunks ≥ 4 bits over $bits-bit signatures")
    val width = (bits + nChunks - 1) / nChunks
    val s0 = rebalance(sigs).select(col(idCol).as("id"), col(sigCol).as("sig"))
    val members = withSigGroups(s0, col("sig"))
    val chunks = array((0 until nChunks).map { i =>
      val w = math.min(width, bits - i * width)
      val mask = if (w == 64) -1L else (1L << w) - 1L
      struct(lit(i).as("c"),
        shiftright(col("sig"), i * width).bitwiseAND(mask).as("k"))
    }: _*)
    pigeonholePairs(members, chunks, maxHamming, maxBucketSize)
  }

  /** Shared back half of the pigeonhole-banded hamming join
    * ([[simhashPairs]], [[hammingPairs]]): `members` carries
    * (id, sig, _rep, _cnt) from [[withSigGroups]]; `chunks` is the
    * per-row array of (chunk index, bucket key) structs. Identical-
    * signature pairs come from the group structure (hamming 0, no
    * join); only group REPRESENTATIVES enter the banded join, and
    * verified rep pairs expand back through the membership table.
    */
  private def pigeonholePairs(members: DataFrame, chunks: Column,
                              maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val within = withinGroupPairs(members, "sig")
      .withColumn("hamming", lit(0L)) // identical signature ⇒ hamming 0
    val reps = members.filter(col("id") === col("_rep"))
    val chunked = reps.select(col("id"), col("sig"), explode(chunks).as("ck"))
      .select(col("id"), col("sig"), col("ck.c").as("chunk"), col("ck.k").as("ckey"))
    val capped = capBuckets(chunked, Seq("chunk", "ckey"), maxBucketSize)
    // Verify hamming on representative pairs BEFORE expansion: members
    // share their representative's signature, so the distance carries
    // over to every expanded member pair.
    val repPairs = capped.as("x").join(capped.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("ra"), col("y.id").as("rb"),
        col("x.sig").as("_sa"), col("y.sig").as("_sb"))
      .distinct()
      .withColumn("hamming", hamming(col("_sa"), col("_sb")).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val membership = members.select(col("_rep"), col("id"))
    val cross = repPairs
      .join(membership.select(col("_rep").as("ra"), col("id").as("ma")), "ra")
      .join(membership.select(col("_rep").as("rb"), col("id").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hamming"))
    // Disjoint, duplicate-free sets — no distinct pass needed.
    within.union(cross)
  }

  /** Embedding-cosine near-dup pairs, exact within the `idCol < maxId`
    * scope (vectors are pre-normalized ⇒ cosine = dot product, computed
    * as a double left-fold so the oracle matches bitwise). The O(n²)
    * pair join is the ground-truth variant and MUST be caller-bounded —
    * [[Similarity.lshNearDupPairs]] is the scale path.
    */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double, maxId: Long): DataFrame = {
    val bounded = spreadBounded(df.filter(col(idCol) < maxId))
    val a = bounded.select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val b = bounded.select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(Similarity.dot(col("_va"), col("_vb")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Connected components over an undirected pair list via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round is two group-by-min +
    * join passes that rewire every node toward its neighborhood minimum,
    * converging to per-component stars in O(log n) rounds — unlike plain
    * min-label propagation, which needs O(component diameter) rounds and
    * silently stalls on long chains.
    *
    * Returns (id, lbl) for every node that appears in a pair, where
    * `lbl` is the component's minimum id. Throws `IllegalStateException`
    * if `maxIters` rounds pass without convergence rather than returning
    * wrong labels. Below [[LocalGraph.MaxEdges]] edges the components
    * come from a driver union-find instead ([[LocalGraph.components]]):
    * a driver-local `pairs` frame (a local relation of long ids with no
    * null, such as [[minhashLshPairs]]' driver tier) goes to it
    * directly, starting no job; any other frame is checkpointed and
    * counted first, then collected when it fits (README "Driver tiers").
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // Every round is a reliable pin (README "Eager jobs"), so a lost
    // executor loses no round of the loop.
    def pin(df: DataFrame, step: String): DataFrame =
      Jobs.pin(df, "connected_components", step, reliable = true)
    // Convergence = edge-set fixpoint, detected by (count, xor of row
    // hashes) — one tiny aggregate per round, no full-set comparison.
    // bit_xor is order-independent and cannot overflow (ANSI mode
    // rejects a sum of hashes); edges are distinct, so xor-cancelling
    // duplicates cannot occur.
    def sigOf(df: DataFrame, step: String): (Long, Option[Long]) = {
      val row = Jobs.labelled(df.sparkSession, "connected_components", step)(
        df.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head())
      (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1)))
    }
    // The local tier's labels ([[LocalGraph.components]]), or the empty
    // label set when no edge is left.
    def localLabels(rows: Array[Row]): DataFrame =
      LocalGraph.components(rows.iterator.map(r => (r.getLong(0), r.getLong(1)))) match {
        case Seq() => pairs.limit(0).select(col("id_a").as("id"), col("id_b").as("lbl"))
        case labels => LocalGraph.frame(pairs.sparkSession, labels, "id", "lbl",
          aNullable = true, bNullable = true)
      }
    // A driver-local pair list within the ceiling goes straight to the
    // union-find: no checkpoint, no job.
    if (DriverRows.local(pairs).isDefined) {
      val held =
        LocalGraph.collect(pairs.select(col("id_a"), col("id_b")), "connected_components")
      if (held.isDefined) return localLabels(held.get)
    }
    var edges = pin(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct(), "edges")
    var prevSig = sigOf(edges, "edges")
    if (prevSig._1 == 0L) { // no edges at all — nothing to cluster
      Jobs.release(edges)
      return localLabels(Array.empty)
    }
    // Driver-local tier ([[LocalGraph]]; the count is already on hand
    // from the sig probe): a union-find over the collected edges produces
    // the IDENTICAL (id, component-min) label set in one collect.
    val local = LocalGraph.collect(edges, "connected_components", Some(prevSig._1))
    if (local.isDefined) {
      Jobs.release(edges)
      return localLabels(local.get)
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // Large-star: every node links its larger neighbors to the minimum
      // of its closed neighborhood.
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("src"), col("_mn")).as("_m"))
      val ls = sym.join(mins, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .distinct()
      // Small-star: edges now point large → small; every node links its
      // smaller neighbors (and itself) to the neighborhood minimum.
      val mins2 = ls.groupBy("src").agg(min(col("dst")).as("_m"))
      val ss = ls.join(mins2, "src")
        .select(col("dst").as("src"), col("_m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .union(mins2.select(col("src"), col("_m").as("dst")))
        .distinct()
      val next = pin(ss, "round")
      val sig = sigOf(next, "round")
      Jobs.release(edges)
      edges = next
      converged = sig == prevSig
      prevSig = sig
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "the pair graph is larger than expected; raise maxIters")
    // Converged edges are (node → component min) stars; roots appear
    // only on the dst side and label themselves.
    val nonRoots = edges.select(col("src").as("id"), col("dst").as("lbl"))
    val roots = edges.select(col("dst").as("id")).distinct()
      .join(nonRoots.select(col("id")), Seq("id"), "left_anti")
      .withColumn("lbl", col("id"))
    // Pin the labels so the final edges can be freed too: what escapes
    // this method is ONE compact (id, lbl) pin, one row per paired node.
    val labels = pin(nonRoots.union(roots), "labels")
    Jobs.release(edges)
    labels
  }

  /** Resolve near-dup pairs into clusters and drop every row that is not
    * its cluster's representative (min id) — the step that turns any of
    * the pair-finding operators above into an actual deduplicated corpus.
    * Components via [[connectedComponents]] (large-star/small-star,
    * O(log n) rounds, convergence-checked).
    */
  def resolvePairs(df: DataFrame, pairs: DataFrame, idCol: String,
                   maxIters: Int = 50): DataFrame = {
    val labels = connectedComponents(pairs, maxIters)
    // Drop non-representatives; rows never seen in a pair survive.
    val losers = labels.filter(col("id") =!= col("lbl")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** DuckDB oracle for [[resolvePairs]] over [[ngramJaccardPairs]]: the
    * transitive closure via a recursive CTE, keeping each component's
    * min id and all unpaired docs.
    */
  def duckResolveNgramPairs(tbl: String, textCol: String, idCol: String,
                            n: Int, threshold: Double, maxDocId: Long): String = {
    val pairsSql = duckNgramJaccardPairs(tbl, textCol, idCol, n, threshold, maxDocId)
    s"""WITH pairs AS ($pairsSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |cc AS (
       |  WITH RECURSIVE reach(id, lbl) AS (
       |    SELECT src, src FROM e
       |    UNION
       |    SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.id)
       |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT d.* FROM $tbl d
       |WHERE d.$idCol NOT IN (SELECT id FROM cc WHERE id <> lbl)""".stripMargin
  }

  /** Near-dup CLUSTER-SIZE HISTOGRAM — the dedup aggressiveness audit
    * next to [[resolvePairs]]: resolution reports the survivors, this
    * reports the cluster mass being collapsed (a long tail of pairs is
    * routine crawling noise; a 5 000-member cluster is a template
    * farm — and the rows this histogram says you are about to drop is
    * the number the health report should show BEFORE the drop).
    * Unpaired docs appear as size-1 clusters, so Σ size·n_clusters
    * equals the corpus row count — conservation a reviewer can check.
    *
    * Scale shape: the same O(log n) component labels, one label-keyed
    * count (component-cardinality), a histogram aggregate over it, and
    * one anti-join count for the singleton row.
    *
    * Output: (cluster_size, n_clusters), cluster_size ≥ 1.
    */
  def clusterSizeHistogram(df: DataFrame, pairs: DataFrame, idCol: String,
                           maxIters: Int = 50): DataFrame = {
    val labels = connectedComponents(pairs, maxIters)
    val hist = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = df
      .join(labels.select(col("id")), df(idCol) === col("id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
      .filter(col("n_clusters") > 0)
    // components always have ≥ 2 members (every labeled id came from a
    // pair), so the singleton row never collides with the histogram.
    hist.unionByName(singles)
  }

  /** DuckDB oracle for [[clusterSizeHistogram]] over
    * [[ngramJaccardPairs]] candidates (the q_dedup_resolve scope rule).
    */
  def duckClusterSizeHistogram(tbl: String, textCol: String, idCol: String,
                               n: Int, threshold: Double,
                               maxDocId: Long): String = {
    val pairsSql = duckNgramJaccardPairs(tbl, textCol, idCol, n, threshold, maxDocId)
    s"""WITH pairs AS ($pairsSql),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |cc AS (
       |  WITH RECURSIVE reach(id, lbl) AS (
       |    SELECT src, src FROM e
       |    UNION
       |    SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.id)
       |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |hist AS (
       |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |  FROM (SELECT lbl, CAST(count(*) AS BIGINT) AS cluster_size
       |        FROM cc GROUP BY 1)
       |  GROUP BY 1),
       |singles AS (
       |  SELECT CAST(1 AS BIGINT) AS cluster_size,
       |         CAST(count(*) AS BIGINT) AS n_clusters
       |  FROM $tbl WHERE $idCol NOT IN (SELECT id FROM cc)
       |  HAVING count(*) > 0)
       |SELECT * FROM hist UNION ALL SELECT * FROM singles""".stripMargin
  }

  /** QUALITY-AWARE cluster resolution — [[resolvePairs]] with the
    * keep-BEST policy instead of keep-min-id: within every near-dup
    * cluster the survivor is the member with the highest `scoreCol`
    * (id ASC tie-break), the policy real cleaning pipelines want (drop
    * the low-quality copies, keep the best-written one), where min-id
    * keeps whichever copy happened to be crawled first.
    *
    * Scale shape: the same O(log n) alternating-star clustering, then
    * ONE cluster-keyed `max_by` aggregate (map-side partial collapse,
    * no rank column, no window pass — the [[Sync.latestByGroup]]
    * argument) and a semi-join of the corpus against the winner ids.
    * Unpaired docs never enter the label table: the left join labels
    * them as their own singleton cluster, and their row is its own
    * winner.
    */
  def resolvePairsKeepBest(df: DataFrame, pairs: DataFrame, idCol: String,
                           scoreCol: String, maxIters: Int = 50): DataFrame = {
    val labels = connectedComponents(pairs, maxIters)
    val slim = df.select(col(idCol).as("_kid"), col(scoreCol).as("_ksc"))
    val labeled = slim.join(labels, col("_kid") === col("id"), "left")
      .withColumn("_lbl", coalesce(col("lbl"), col("_kid")))
    // max_by over (score, -id): lexicographic max = highest score, then
    // lowest id on ties.
    val winners = labeled.groupBy(col("_lbl"))
      .agg(max_by(col("_kid"), struct(col("_ksc"), (-col("_kid")).as("_negid")))
        .as("_win"))
      .select(col("_win"))
    df.join(winners, df(idCol) === winners("_win"), "left_semi")
  }

  /** DuckDB oracle for [[resolvePairsKeepBest]] over
    * [[ngramJaccardPairs]] candidates on a scored relation `rel` (must
    * expose `idCol`, `textCol`, and `scoreCol`): the same recursive-CTE
    * closure, winners by ROW_NUMBER(score DESC, id ASC).
    */
  def duckResolveKeepBestNgram(rel: String, textCol: String, idCol: String,
                               scoreCol: String, n: Int, threshold: Double,
                               maxDocId: Long): String =
    s"""WITH ${duckPairCtes(rel, textCol, idCol, n, s"$idCol < $maxDocId")},
       |np AS (SELECT id_a, id_b FROM p WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM np
       |      UNION SELECT id_b, id_a FROM np),
       |cc AS (
       |  WITH RECURSIVE reach(id, lbl) AS (
       |    SELECT src, src FROM e
       |    UNION
       |    SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.id)
       |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |lab AS (SELECT d.$idCol, d.$scoreCol, coalesce(cc.lbl, d.$idCol) AS lbl
       |        FROM $rel d LEFT JOIN cc ON d.$idCol = cc.id),
       |win AS (SELECT $idCol FROM (
       |          SELECT $idCol, ROW_NUMBER() OVER (PARTITION BY lbl
       |            ORDER BY $scoreCol DESC, $idCol ASC) AS rn FROM lab) x
       |        WHERE rn = 1)
       |SELECT d.$idCol, d.$scoreCol FROM $rel d JOIN win USING ($idCol)""".stripMargin

  /** DuckDB oracle for [[embeddingNearDupPairs]] over table `tbl`. */
  def duckEmbeddingNearDupPairs(tbl: String, vecCol: String, idCol: String,
                                threshold: Double, maxId: Long): String =
    s"""WITH p AS (
       |  SELECT a.$idCol AS id_a, b.$idCol AS id_b,
       |         round(list_dot_product(CAST(a.$vecCol AS DOUBLE[]),
       |                                CAST(b.$vecCol AS DOUBLE[])), 6) AS cosine
       |  FROM $tbl a, $tbl b
       |  WHERE a.$idCol < b.$idCol AND a.$idCol < $maxId AND b.$idCol < $maxId)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= $threshold""".stripMargin
}
