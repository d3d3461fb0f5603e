package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Distributed BPE merge learning (Sennrich et al. 2016 — the tokenizer-
  * training step of an LLM data pipeline): starting from characters,
  * repeatedly count adjacent-symbol pairs over the corpus and merge the
  * most frequent pair, k times. The learned merge table IS a tokenizer.
  *
  * Scale shape (the reason BPE trains fine on a 100 TB corpus): like
  * every practical implementation, statistics run over the WORD-TYPE
  * table (word, corpus frequency) — a vocabulary-sized relation produced
  * by one corpus-sized hash aggregate — so each merge iteration is one
  * explode + aggregate over the vocabulary, not the corpus. The winning
  * pair per iteration is 1 row of driver metadata (the [[Similarity
  * .kmeansCells]] centroid argument); applying it is a narrow
  * higher-order-function fold over each word's symbol array — no UDF,
  * no shuffle beyond the per-iteration pair count.
  *
  * Determinism / oracle parity: the winner tie-breaks on (count DESC,
  * left ASC, right ASC); counts are exact integers; the greedy
  * leftmost-first merge is a left fold both engines execute identically
  * (DuckDB `list_reduce` seeds the accumulator with the first element,
  * so the Spark fold seeds with `element_at(syms, 1)` and folds the
  * tail). Words longer than `maxWordLen` chars are excluded on both
  * sides (the standard tokenizer-training length cap).
  *
  * Output: (rank, merge_left, merge_right, merged, pair_count).
  */
object Bpe {

  /** Word-type table: (word, freq, _capped, syms) over EVERY corpus
    * word; `_capped` marks words of length ≤ `maxWordLen` — the only
    * ones that feed merge LEARNING ([[pairCounts]] filters on it).
    * Longer words ride along so the learn loop's incremental fold
    * renders them too: [[tokenCounts]] then reads token counts for the
    * whole vocabulary straight off the final loop state instead of
    * re-folding a k-deep [[applyMerge]] chain (whose whole-stage
    * codegen + JIT, not its row count, dominated the gate — r16).
    */
  private def vocabOf(docs: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    Dedup.rebalance(docs)
      .select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        (length(col("word")) <= maxWordLen).as("_capped"),
        filter(split(col("word"), ""), ch => ch =!= "").as("syms"))

  /** Adjacent-pair counts over the symbol table, frequency-weighted. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val idx = when(size(col("syms")) >= 2,
        sequence(lit(1), size(col("syms")) - 1))
      .otherwise(array().cast("array<int>"))
    vocab.select(col("freq"), explode(idx).as("i"), col("syms"))
      .select(col("freq"),
        element_at(col("syms"), col("i")).as("l"),
        element_at(col("syms"), col("i") + 1).as("r"))
      .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
  }

  /** Greedy leftmost-first application of merge (l, r) → l+r to a symbol
    * array, as a single left fold into a space-joined render: the
    * accumulator's LAST symbol merging with the next element exactly
    * when they match the pair — a merged symbol compares as its full
    * concatenated string, so it cannot cascade within the same pass
    * (standard BPE single-pass semantics).
    */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val (ll, rl, lr) = (lit(l), lit(r), lit(l + r))
    val folded = aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, x) =>
        when(acc === ll && x === rl, lr)
          .when(acc.endsWith(concat(lit(" "), ll)) && x === rl,
            concat(acc.substr(lit(1), length(acc) - length(ll)), lr))
          .otherwise(concat(acc, lit(" "), x)))
    split(folded, " ")
  }

  /** Learn `k` merges; returns the merge table (driver-built from the k
    * 1-row argmax results — tokenizer metadata, not data).
    */
  def learnMerges(docs: DataFrame, textCol: String, k: Int,
                  maxWordLen: Int): DataFrame = {
    val (merges, vocab) = learnMergesWithVocab(docs, textCol, k, maxWordLen)
    graft.Jobs.release(vocab)
    merges
  }

  /** [[learnMerges]] plus the FINAL merged vocabulary it already
    * computed — (word, freq, _capped, syms) over EVERY corpus word,
    * with all learned merges applied in order. The learn loop
    * materializes exactly this table on its last iteration; returning
    * it lets [[tokenCounts]] skip re-folding the whole merge chain over
    * the word-type table (r16 optimization — the incremental per-merge
    * folds and the chained re-fold compute the identical left-fold
    * semantics, so reuse cannot change results). The vocab is LIVE
    * persisted storage; [[tokenCounts]] consumes it within one query.
    */
  private[operators] def learnMergesWithVocab(
      docs: DataFrame, textCol: String, k: Int,
      maxWordLen: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    var vocab = graft.Jobs.cache(vocabOf(docs, textCol, maxWordLen))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (rank <- 1 to k) {
      val top = pairCounts(vocab.filter(col("_capped")))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank.toLong, l, r, l + r, cnt))
        val next = graft.Jobs.cache(vocab
          .select(col("word"), col("freq"), col("_capped"),
            applyMerge(col("syms"), l, r).as("syms")))
        next.count() // materialize before freeing the parent
        graft.Jobs.release(vocab)
        vocab = next
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("rank", "merge_left", "merge_right", "merged", "pair_count"),
      vocab)
  }

  /** Tokenize the corpus WITH the merges [[learnMerges]] learns on it:
    * per-document whitespace-word and BPE-token counts — the "how many
    * training tokens is this corpus under its own tokenizer" question
    * (and the corpus-compression audit: n_bpe_tokens shrinks as k
    * grows). Length-capped words are excluded from LEARNING only; every
    * word is tokenized.
    *
    * Scale shape: merges apply to the DISTINCT word-type table (one
    * fold chain over the vocabulary), and per-doc counts come from one
    * word-keyed join of the exploded corpus against that vocabulary-
    * sized table plus one doc-keyed aggregate — the corpus itself is
    * never folded per occurrence.
    */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String,
                  k: Int, maxWordLen: Int): DataFrame = {
    // Reuse the learn loop's FINAL vocabulary (r16 optimization): the
    // loop has already applied every merge, in order, to EVERY corpus
    // word (long words ride along flagged `_capped = false`, excluded
    // from the pair statistics only) — re-folding a k-deep
    // [[applyMerge]] chain over the distinct word-type table (the
    // former tokenCountsWithMerges call) repeated exactly that work,
    // and its whole-stage-codegen unit alone cost seconds of JIT per
    // run, independent of the row count. Token counts now read
    // straight off the final loop state: one word-keyed join, no fold.
    val (_, vocab) = learnMergesWithVocab(docs, textCol, k, maxWordLen)
    val words = Dedup.rebalance(docs).select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
    val rendered = vocab
      .select(col("word"), size(col("syms")).cast("long").as("_wt"))
    words.join(rendered, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_wt")).as("n_bpe_tokens"))
  }

  /** [[tokenCounts]]'s application half against an ALREADY-LEARNED
    * ordered merge list — the amortized production path (learn once
    * offline, tokenize every batch; the q_bpe_saved gate).
    */
  def tokenCountsWithMerges(docs: DataFrame, textCol: String, idCol: String,
                            merges: Seq[(String, String)]): DataFrame = {
    val words = Dedup.rebalance(docs).select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
    // Native merge application ([[org.apache.spark.sql.graft
    // .BpeTokenCount]], r16): the k-chained HOF fold this replaces is
    // kept as [[tokenCountsWithMergesHof]], the executable parity spec
    // — its k-deep codegen unit cost seconds of compile+JIT per plan
    // (row-count-independent), the dominant wall of the apply-side
    // gates at bench SF.
    val rendered = words.select(col("word")).distinct()
      .select(col("word"), org.apache.spark.sql.graft
        .BpeTokenCount(col("word"), merges).cast("long").as("_wt"))
    words.join(rendered, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_wt")).as("n_bpe_tokens"))
  }

  /** Built-in-only formulation of [[tokenCountsWithMerges]] (chained
    * [[applyMerge]] folds over the symbol array) — the executable spec
    * the native expression is parity-tested against (BpeSpec).
    */
  private[graft] def tokenCountsWithMergesHof(
      docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = Dedup.rebalance(docs).select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("word"))
    val types0 = words.select(col("word")).distinct()
      .select(col("word"),
        filter(split(col("word"), ""), ch => ch =!= "").as("syms"))
    val rendered = merges.foldLeft(types0) { case (df, (l, r)) =>
      df.select(col("word"), applyMerge(col("syms"), l, r).as("syms"))
    }.select(col("word"), size(col("syms")).cast("long").as("_wt"))
    words.join(rendered, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_wt")).as("n_bpe_tokens"))
  }

  /** Persist a learned merge table ([[learnMerges]]' output) to
    * parquet — the tokenizer artifact. Tiny (k rows), one file.
    */
  def saveMerges(merges: DataFrame, dir: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")

  /** Load a persisted merge table as the ordered (left, right) list
    * [[tokenCountsWithMerges]] applies. Rank order IS the BPE
    * semantics — merges must re-apply in learned order.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(s"$dir/merges")
      .orderBy(col("rank"))
      .collect().map(r => (r.getAs[String]("merge_left"), r.getAs[String]("merge_right"))).toSeq

  /** The shared merge-application fold, rendered for DuckDB against a
    * 1-row merge relation aliased `m`.
    */
  private def duckFold(symsExpr: String): String =
    s"""string_split(list_reduce($symsExpr, (acc, x) -> CASE
       |  WHEN acc = m.l AND x = m.r THEN m.lr
       |  WHEN right(acc, length(m.l) + 1) = ' ' || m.l AND x = m.r
       |    THEN left(acc, length(acc) - length(m.l)) || m.lr
       |  ELSE acc || ' ' || x END), ' ')""".stripMargin

  /** The learn-chain CTEs w0, (p_i, m_i, w_i)… shared by both oracles
    * (w_k itself is never needed — only the merges m_1..m_k are).
    */
  private def duckLearnCtes(tbl: String, textCol: String, k: Int,
                            maxWordLen: Int): Seq[String] = {
    val w0 =
      s"""w0 AS (
         |  SELECT word, freq,
         |         list_filter(string_split(word, ''), c -> c <> '') AS syms
         |  FROM (SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest(${TextAnalysis.duckTokensBind(s"lower($textCol)")}) AS t
         |              FROM $tbl)
         |        GROUP BY t)
         |  WHERE length(word) <= $maxWordLen)""".stripMargin
    val iters = (1 to k).flatMap { i =>
      val p =
        s"""p$i AS (
           |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM w${i - 1})
           |  GROUP BY 1, 2)""".stripMargin
      val m =
        s"""m$i AS (
           |  SELECT l, r, l || r AS lr, cnt FROM p$i
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""".stripMargin
      val w =
        if (i == k) Seq.empty
        else Seq(
          s"""w$i AS (
             |  SELECT word, freq, ${duckFold("syms")} AS syms
             |  FROM w${i - 1}, m$i m)""".stripMargin)
      Seq(p, m) ++ w
    }
    w0 +: iters
  }

  /** DuckDB oracle twin of [[learnMerges]]: the k iterations unrolled as
    * CTE chains — pair counts, 1-row argmax, and the same left-fold
    * merge render (`list_reduce` + correlated merge columns).
    */
  def duckLearnMerges(tbl: String, textCol: String, k: Int,
                      maxWordLen: Int): String = {
    val finalRows = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, l AS merge_left, r AS merge_right, lr AS merged, cnt AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${duckLearnCtes(tbl, textCol, k, maxWordLen).mkString(",\n")}
       |$finalRows""".stripMargin
  }

  /** DuckDB oracle twin of [[tokenCounts]]: the learn chain, then the
    * merges applied in order to the UNCAPPED distinct word-type table,
    * then the word-keyed join + per-doc rollup.
    */
  def duckTokenCounts(tbl: String, textCol: String, idCol: String,
                      k: Int, maxWordLen: Int): String = {
    val tw0 =
      s"""tw0 AS (
         |  SELECT word, list_filter(string_split(word, ''), c -> c <> '') AS syms
         |  FROM (SELECT DISTINCT t AS word
         |        FROM (SELECT unnest(${TextAnalysis.duckTokensBind(s"lower($textCol)")}) AS t
         |              FROM $tbl)))""".stripMargin
    val twi = (1 to k).map { i =>
      s"""tw$i AS (
         |  SELECT word, ${duckFold("syms")} AS syms
         |  FROM tw${i - 1}, m$i m)""".stripMargin
    }
    s"""WITH ${duckLearnCtes(tbl, textCol, k, maxWordLen).mkString(",\n")},
       |$tw0,
       |${twi.mkString(",\n")},
       |wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS wt FROM tw$k),
       |dw AS (SELECT $idCol, unnest(${TextAnalysis.duckTokensBind(s"lower($textCol)")}) AS word
       |       FROM $tbl)
       |SELECT $idCol, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(wt) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN wt USING (word)
       |GROUP BY $idCol""".stripMargin
  }

  /** Tokenizer FERTILITY per group (tokens emitted per word) — the
    * standard multilingual-tokenizer equity metric: a tokenizer trained
    * on one language's distribution fragments the others into more
    * pieces, so their documents cost more context window and more
    * FLOPs per sentence. Reported per language (or source/domain) as
    * Σ bpe_tokens / Σ words over the group, next to the doc volumes.
    *
    * Scale shape: the token pass is [[tokenCountsWithMerges]] (merge
    * application on the word-TYPE table, the q_bpe_tokenize shape);
    * the group label joins back by the doc id — one id-keyed equi-join
    * + one group-cardinality aggregate. (A production pipeline would
    * carry the group column through the token pass and skip the join;
    * kept separate here so the tokenizer path stays single-purpose.)
    *
    * Output per group: (groupCol, n_docs, n_words, n_tokens, fertility).
    */
  def fertilityByGroup(docs: DataFrame, textCol: String, idCol: String,
                       groupCol: String,
                       merges: Seq[(String, String)]): DataFrame =
    tokenCountsWithMerges(docs, textCol, idCol, merges)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1L)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_tokens"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_tokens"),
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_tokens").cast("double")
            / col("n_words").cast("double"), 6)).as("fertility"))

  /** DuckDB oracle twin of [[fertilityByGroup]] over the learn-and-apply
    * pipeline (same oracle CTEs as q_bpe_tokenize, grouped by the dim).
    */
  def duckFertilityByGroup(tbl: String, textCol: String, idCol: String,
                           groupCol: String, k: Int,
                           maxWordLen: Int): String =
    s"""WITH pd AS (${duckTokenCounts(tbl, textCol, idCol, k, maxWordLen)})
       |SELECT d.$groupCol, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(pd.n_words) AS BIGINT) AS n_words,
       |       CAST(sum(pd.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |       CASE WHEN sum(pd.n_words) <> 0 THEN
       |         round(CAST(sum(pd.n_bpe_tokens) AS DOUBLE)
       |               / CAST(sum(pd.n_words) AS DOUBLE), 6) END AS fertility
       |FROM pd JOIN $tbl d USING ($idCol)
       |GROUP BY d.$groupCol""".stripMargin
}
