package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Sub-document exact deduplication: split each document into fixed-size
  * token chunks and remove chunks whose text already occurred in a
  * lower-id document (the C4 / RefinedWeb "line dedup" operator,
  * generalized to token windows because the synthetic corpus has no
  * newlines). A cleaned document is the concatenation of its kept
  * chunks in position order.
  *
  * Scale shape: chunking is a narrow projection (tokens → slice →
  * string); the ONLY all-to-all is one hash exchange on the chunk text,
  * under which a window `min(docId)` marks each chunk's keeper — a
  * single shuffle whose key cardinality is the distinct-chunk count, no
  * sort beyond the window's local one, then a map-side-combined per-doc
  * aggregate. The groupBy+self-join alternative would shuffle the chunk
  * relation twice; the window form shuffles it once.
  */
object ChunkDedup {

  /** Fixed-size token chunks of the pre-split `_w` column, in position
    * order. Guard: `sequence(0, -1)` on an empty doc would generate a
    * DESCENDING range — empty docs short-circuit to zero chunks.
    */
  private[operators] def chunkArray(sz: Int) = {
    val nChunks = ceil(size(col("_w")).cast("double") / sz).cast("int")
    when(size(col("_w")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("_w"), i * sz + 1, lit(sz)))))
  }

  /** Per-document chunk-dedup stats: total chunks, kept chunks (first
    * global occurrence by min doc id — duplicate chunks WITHIN the
    * keeper doc are all "kept": they tie on the min), and the ratio.
    *
    * Output: (idCol, n_chunks, n_kept, kept_ratio).
    */
  def stats(docs: DataFrame, textCol: String, idCol: String,
            chunkTokens: Int): DataFrame = {
    // Chunks serve ONLY as keys here, so they travel as 8-byte
    // fingerprints (native ChunkFingerprints, r14) — the HOF
    // slice/concat chunk builder remains in [[stripBoilerplate]],
    // which must reassemble the strings. The duck twin hashes chunks
    // identically, so the (rare) collisions are shared.
    val exploded = Dedup.rebalance(docs)
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graft.ChunkFingerprints(
          col(textCol), chunkTokens)).as(Seq("_pos", "_chunk")))
    val byChunk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_chunk"))
    exploded
      .withColumn("_keeper", min(col(idCol)).over(byChunk))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col(idCol) === col("_keeper"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_ratio",
        round(col("n_kept").cast("double") / col("n_chunks").cast("double"), 6))
  }

  /** DuckDB oracle for [[stats]] — same chunking (1-indexed inclusive
    * list slice ≡ Spark `slice`), same keeper rule.
    */
  def duckStats(tbl: String, textCol: String, idCol: String,
                chunkTokens: Int): String = {
    val sz = chunkTokens
    s"""WITH d AS (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl),
       |ch0 AS (SELECT $idCol, i AS pos,
       |              array_to_string(w[(i*$sz+1):(i*$sz+$sz)], ' ') AS chunk_s
       |       FROM d, unnest(range(0, CAST(ceil(len(w)/CAST($sz AS DOUBLE)) AS INT))) AS t(i)),
       |ch AS (SELECT $idCol, pos, (${TextAnalysis.duckFingerprint("chunk_s")}) AS chunk
       |       FROM ch0),
       |k AS (SELECT *, min($idCol) OVER (PARTITION BY chunk) AS keeper FROM ch)
       |SELECT $idCol,
       |       count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN $idCol = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       round(CAST(sum(CASE WHEN $idCol = keeper THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS kept_ratio
       |FROM k GROUP BY $idCol""".stripMargin
  }

  /** C4-style boilerplate REMOVAL (the rewrite, where [[stats]] only
    * reports): a chunk whose exact text occurs in ≥ `minDocs` DISTINCT
    * documents is corpus boilerplate (C4 dropped any line occurring 3+
    * times; RefinedWeb likewise strips repeated lines); each document is
    * rewritten to its non-boilerplate chunks joined in position order.
    *
    * Scale shape: the frequency pass is one chunk-key hash exchange
    * whose OUTPUT is threshold-pruned to ≤ total-chunks/minDocs rows.
    * The pruned set is materialized once (localCheckpoint + a bounded
    * count job — the price of a data-dependent shape choice, negligible
    * next to the frequency exchange it reuses) and the REWRITE then
    * takes one of two shapes (r16, VERDICT r15 #6):
    *
    *   - `|boiler| ≤ broadcastMaxChunks` — the set collapses to a
    *     single array row and broadcasts; the rewrite is a NARROW
    *     projection (HOF filter inside the row — no explode, no
    *     per-doc re-aggregation exchange, document order untouched).
    *     Each doc probes the array at O(|bset|) per chunk, so this
    *     shape is for small sets only;
    *   - above the threshold (a web-crawl boilerplate set can reach
    *     millions of chunks — single-row and broadcast limits become a
    *     ceiling) — explode + LEFT-ANTI join on the chunk key +
    *     position-ordered re-aggregate, re-joined to the doc base so
    *     fully-boilerplate and empty docs keep their rows. Same
    *     semantics, one more doc-keyed exchange, no single-row
    *     collapse anywhere.
    *
    * Output: (idCol, clean_text, n_chunks, n_dropped).
    */
  def stripBoilerplate(docs: DataFrame, textCol: String, idCol: String,
                       chunkTokens: Int, minDocs: Int,
                       broadcastMaxChunks: Long = 1000000L): DataFrame = {
    val withChunks = Dedup.rebalance(docs)
      .withColumn("_w", TextAnalysis.tokens(col(textCol)))
      .withColumn("_chunks", chunkArray(chunkTokens))
    val boilerKeys = graft.Jobs.pin(withChunks
      .select(col(idCol), explode(col("_chunks")).as("_chunk"))
      .groupBy(col("_chunk"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_chunk")), "strip_boilerplate", "keys")
    if (boilerKeys.count() <= broadcastMaxChunks) {
      val boiler = boilerKeys.agg(collect_set(col("_chunk")).as("_bset"))
      val kept = filter(col("_chunks"), c => !array_contains(col("_bset"), c))
      withChunks.crossJoin(broadcast(boiler))
        .select(
          col(idCol),
          concat_ws(" ", kept).as("clean_text"),
          size(col("_chunks")).cast("long").as("n_chunks"),
          (size(col("_chunks")) - size(kept)).cast("long").as("n_dropped"))
    } else {
      val keptAgg = withChunks
        .select(col(idCol), posexplode(col("_chunks")).as(Seq("_pos", "_chunk")))
        .join(boilerKeys, Seq("_chunk"), "left_anti")
        .groupBy(col(idCol))
        .agg(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("_pos"), col("_chunk")))),
            s => s.getField("_chunk"))).as("_clean"),
          count(lit(1)).as("_kept"))
      withChunks
        .select(col(idCol), size(col("_chunks")).cast("long").as("n_chunks"))
        .join(keptAgg, Seq(idCol), "left")
        .select(
          col(idCol),
          coalesce(col("_clean"), lit("")).as("clean_text"),
          col("n_chunks"),
          (col("n_chunks") - coalesce(col("_kept"), lit(0L))).as("n_dropped"))
    }
  }

  /** DuckDB oracle for [[stripBoilerplate]] — same chunking, same
    * distinct-doc threshold, same in-order reassembly.
    */
  def duckStripBoilerplate(tbl: String, textCol: String, idCol: String,
                           chunkTokens: Int, minDocs: Int): String = {
    val sz = chunkTokens
    s"""WITH d AS (SELECT *, ${TextAnalysis.duckTokensBind(textCol)} AS w FROM $tbl),
       |c AS (SELECT $idCol,
       |             CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
       |                  ELSE list_transform(range(0, CAST(ceil(len(w)/CAST($sz AS DOUBLE)) AS INT)),
       |                                      i -> array_to_string(w[(i*$sz+1):(i*$sz+$sz)], ' ')) END AS chunks
       |      FROM d),
       |e AS (SELECT $idCol, unnest(chunks) AS chunk FROM c),
       |b AS (SELECT coalesce(list(chunk), CAST([] AS VARCHAR[])) AS bs
       |      FROM (SELECT chunk FROM e GROUP BY chunk
       |            HAVING count(DISTINCT $idCol) >= $minDocs)),
       |f AS (SELECT $idCol, chunks, list_filter(chunks, ch -> NOT list_contains(bs, ch)) AS kept
       |      FROM c CROSS JOIN b)
       |SELECT $idCol, coalesce(array_to_string(kept, ' '), '') AS clean_text,
       |       CAST(len(chunks) AS BIGINT) AS n_chunks,
       |       CAST(len(chunks) - len(kept) AS BIGINT) AS n_dropped
       |FROM f""".stripMargin
  }
}
