package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Plan-shape regression gates: the perf work on the dedup/ANN family
  * is only durable if the plans keep their shape — these tests fail
  * when a change silently reintroduces a recompute or a shuffle.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  test("minhashLshPairs evaluates the MinHash signature stage exactly once (stage reuse)") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, bands = 42, rowsPerBand = 3, threshold = 0.5)
    pairs.collect() // finalize the adaptive plan so stage reuse is visible
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(plan.contains("isFinalPlan=true"))
    val finalPlan = plan.substring(0, plan.indexOf("== Initial Plan ==") match {
      case -1 => plan.length
      case i => i
    })
    // Every consumer of the signature-group window (pairing, banding,
    // membership ×2) must reuse ONE signature exchange; a second
    // occurrence means column pruning diverged the exchange subtrees
    // and the signature stage is computed per branch again.
    val evals = "graft_minhash_sig".r.findAllIn(finalPlan).size
    assert(evals == 1,
      s"expected exactly one MinHash signature evaluation in the final plan, found $evals:\n$finalPlan")
  }

  test("kmeansCells assignment is narrow: no shuffle/sort/window between scan and cell label") {
    val emb = Tables.load(spark, sf, "embeddings")
    val cells = Similarity.kmeansCells(emb, "embedding", "vec_id", k = 4, iters = 2)
    val plan = cells.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"windowed argmax crept back into the assign step:\n$plan")
    assert(!plan.contains("SortExec"), s"sort crept into the assign step:\n$plan")
    // The only exchange allowed is the small-input rebalance repartition.
    val exchanges = "Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges == rebalances,
      s"assignment introduced a non-rebalance exchange:\n$plan")
  }

  test("sharedSubstrings plans ONE sort serving both windows (bucket count + lag)") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.SharedSubstrings.topShared(docs, "text", "doc_id")
    val plan = df.queryExecution.executedPlan.toString()
    // The bucket-count window deliberately carries the lag window's
    // (partition, order) so EnsureRequirements plans a single SortExec
    // below both Window operators; the top-k is TakeOrdered, never a
    // second full sort. A second SortExec here means the shared-order
    // trick regressed.
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    val windows = "\\bWindow \\[".r.findAllIn(plan).size
    assert(windows == 2, s"expected both window operators in plan:\n$plan")
    assert(sorts == 1, s"expected exactly one Sort, got $sorts:\n$plan")
  }

  test("oovRate probes a BROADCAST vocabulary; the corpus never shuffles by word") {
    val docs = Tables.load(spark, sf, "documents")
    val plan = graft.operators.Profile.oovRate(docs, "text", "doc_id", topV = 20)
      .queryExecution.executedPlan.toString()
    // the OOV probe must be a broadcast ANTI join (vocab is V rows);
    // a sort-merge join would shuffle the exploded corpus by word
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"vocab probe must be a broadcast anti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge join crept in:\n$plan")
    // exactly ONE word-keyed exchange is legitimate: the vocabulary
    // COUNT aggregate (map-side combined, vocabulary-sized payload)
    assert("hashpartitioning\\(_w".r.findAllIn(plan).size <= 1,
      s"corpus shuffled by word beyond the vocab count:\n$plan")
  }

  test("jaccardHistogram reuses one shingle-keyed exchange for cap window and postings join") {
    val docs = Tables.load(spark, sf, "documents")
    val plan = graft.operators.Dedup.jaccardHistogram(docs, "text", "doc_id",
        n = 3, bins = 20, maxDocId = 1000)
      .queryExecution.executedPlan.toString()
    // the df-cap window and the self-join both need (_s)-partitioning;
    // the join sides must reuse the window's exchange, not re-shuffle
    val reused = plan.contains("ReusedExchange") ||
      "hashpartitioning\\(_s".r.findAllIn(plan).size <= 2
    assert(reused, s"postings exchange not shared:\n$plan")
  }

  test("narrow corpus filters stay narrow: no exchange beyond the small-input rebalance") {
    for (q <- Seq("q_quality_gopher", "q_pii_redact", "q_passage_chunk")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString()
      val exchanges = "Exchange".r.findAllIn(plan).size
      val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
      assert(exchanges == rebalances,
        s"$q grew a non-rebalance exchange — the filter is no longer a pure map:\n$plan")
    }
  }

  test("decontaminate joins the corpus against BROADCAST eval grams (no shuffle join)") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"eval-gram join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus-side shuffle or nested-loop join crept into decontaminate:\n$plan")
  }

  test("embedding decontamination scores via broadcast nested-loop, corpus side shuffle-free until the agg") {
    val plan = SparkEntry.queries("q_decontaminate_emb")(spark, sf)
      .queryExecution.executedPlan.toString()
    // The eval side is broadcast under a nested-loop (θ-join on the dot
    // product); the 100 TB training side must NOT sort-merge or
    // shuffle-hash against it.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval-side broadcast nested-loop missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join crept into embedding decontamination:\n$plan")
    // Exactly one SHUFFLE exchange beyond the small-input rebalances:
    // the partial→final agg on id. (BroadcastExchange is the wanted
    // eval-side broadcast, not a shuffle.)
    val shuffles = "Exchange".r.findAllIn(plan).size -
      "BroadcastExchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(shuffles == rebalances + 1,
      s"expected only the id-keyed agg exchange beyond the rebalance:\n$plan")
  }

  test("hybrid RRF ranks both sides with the bounded heap; the only window is over the fused candidates") {
    val plan = SparkEntry.queries("q_hybrid_rank")(spark, sf)
      .queryExecution.executedPlan.toString()
    // Two TopK aggregates, each a partial→final ObjectHashAggregate pair:
    // the corpus is never globally sorted for ranking.
    val oha = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(oha >= 4, s"expected both sides' bounded-heap partial+final aggregates, found $oha:\n$plan")
    // The single Window ranks the ≤ 2·kPerSide fused candidates —
    // metadata scale; a second one would mean a corpus-side rank.
    val windows = "Window".r.findAllIn(plan).size
    assert(windows == 1, s"expected exactly one (candidate-pool) window, found $windows:\n$plan")
  }

  test("incremental CDC apply probes the dimension with broadcast joins; no window/fold over untouched rows") {
    import graft.operators.ChangeLog
    val log = ChangeLog.synthesize(Tables.load(spark, sf, "events"), "event_id", "ts")
      .withColumn("_ms", expr(s"unix_micros(`${ChangeLog.CommitTs}`) div 1000"))
    val cut = 1L // arbitrary: plan shape is split-independent
    val head = log.filter(col("_ms") <= cut).drop("_ms")
    val tail = log.filter(col("_ms") > cut).drop("_ms")
    for ((name, planDf) <- Seq(
      ("scd2Apply", ChangeLog.scd2Apply(
        ChangeLog.scd2State(head, Seq("user_id"), "event_id", Seq("event_type")),
        tail, Seq("user_id"), "event_id", Seq("event_type"))),
      ("cdcMergeApply", ChangeLog.cdcMergeApply(
        ChangeLog.cdcMergeState(head, Seq("user_id"), "event_id"),
        tail, Seq("user_id"), "event_id")))) {
      val plan = planDf.queryExecution.executedPlan.toString()
      // The touched-key set must reach both dimension probes as a
      // broadcast — a SortMergeJoin here means the planner fell back to
      // sorting the dimension twice (measured 14x slower at 20M rows).
      assert(!plan.contains("SortMergeJoin"),
        s"$name: dimension-side sort-merge crept into the touched-key probes:\n$plan")
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= 2, s"$name: expected the anti+semi probes broadcast, found $bhj:\n$plan")
    }
  }

  test("a driver-local CDC batch merges with no exchange and no broadcast: one stage over the state scan") {
    import graft.operators.{ChangeLog, DriverRows}
    val log = ChangeLog.synthesize(Tables.load(spark, sf, "events"), "event_id", "ts")
      .withColumn("_ms", expr(s"unix_micros(`${ChangeLog.CommitTs}`) div 1000"))
    val cut = log.agg(max("_ms")).head().getLong(0) - 3600000L
    val stateDir = java.nio.file.Files.createTempDirectory("graft-plan-state").resolve("s").toString
    ChangeLog.cdcMergeState(log.filter(col("_ms") <= cut).drop("_ms"), Seq("user_id"), "event_id")
      .write.parquet(stateDir)
    val batch = DriverRows.hold(log.filter(col("_ms") > cut).drop("_ms"), "test", "hold", Long.MaxValue).get
    assert(DriverRows.local(batch).isDefined && batch.count() > 0)
    val merged = ChangeLog.cdcMergeApply(spark.read.parquet(stateDir), batch, Seq("user_id"), "event_id")
    val plan = merged.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("BroadcastHashJoin"),
      s"the driver-local merge planned a shuffle or a broadcast:\n$plan")
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("sequence packing shuffles once, on the group key") {
    val plan = SparkEntry.queries("q_seq_pack")(spark, sf)
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one (group-key) exchange:\n$plan")
    assert(plan.contains("Window"), s"packing lost its window cumulative sum:\n$plan")
  }

  test("lsh bucket cap drops oversized buckets and publishes graft.lsh_bucket_drops") {
    import spark.implicits._
    @volatile var observed: Option[Row] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft.lsh_bucket_drops").foreach(r => observed = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 5 rows in bucket (0, 0), 1 row in bucket (0, 1), cap 2 ⇒ the hot
      // bucket's 5 rows are dropped and the survivor passes through.
      val banded = Seq((1L, 0, 0L), (2L, 0, 0L), (3L, 0, 0L), (4L, 0, 0L),
        (5L, 0, 0L), (6L, 0, 1L)).toDF("id", "band", "bkey")
      val kept = Dedup.capBuckets(banded, Seq("band", "bkey"), maxBucketSize = 2)
        .collect()
      assert(kept.map(_.getLong(0)).toSet == Set(6L))
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (observed.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(observed.isDefined, "observe metric never arrived at the listener")
      assert(observed.get.getLong(0) == 5L,
        s"expected 5 dropped rows, got ${observed.get}")
    } finally {
      spark.listenerManager.unregister(listener)
    }
  }

  test("bloom probe filter is narrow: no exchange between scan and bit-test") {
    val orders = Tables.load(spark, sf, "orders")
    val build = Tables.load(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val bits = graft.operators.BloomPrune.buildBits(build, "c_custkey")
    val probe = orders.filter(
      graft.operators.BloomPrune.mightContain(col("o_custkey"), bits))
    val plan = probe.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"bloom probe must be a narrow scan+filter, found an exchange:\n$plan")
    assert(plan.contains("Scan parquet"), plan)
  }

  test("group-sample and kmv bottom-k plan as WindowGroupLimit, not full sorts") {
    val plan = SparkEntry.queries("q_group_sample")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("WindowGroupLimit"),
      s"rank-1..k filter no longer rewrites to WindowGroupLimit:\n$plan")
    val kmv = SparkEntry.queries("q_kmv_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(kmv.contains("WindowGroupLimit"),
      s"per-source bottom-k lost its WindowGroupLimit rewrite:\n$kmv")
  }

  test("softWeights shuffles once (the count window), joins nothing") {
    val plan = SparkEntry.queries("q_dedup_soft")(spark, sf)
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one md5-key exchange:\n$plan")
    assert(!plan.contains("Join"),
      s"softWeights grew a join-back — the window formulation is the point:\n$plan")
  }

  test("domainCap ranks behind WindowGroupLimit on one domain-keyed exchange") {
    val plan = SparkEntry.queries("q_domain_cap")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("WindowGroupLimit"),
      s"cap filter no longer rewrites to WindowGroupLimit (full per-domain sort):\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges - rebalances == 1,
      s"expected exactly one domain-keyed exchange beyond rebalance:\n$plan")
  }

  test("temperatureSample broadcasts the rate table; the corpus is never shuffle-joined") {
    val plan = SparkEntry.queries("q_mixture_sample")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table stopped broadcasting:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept into temperatureSample:\n$plan")
  }

  test("PQ ADC scoring touches codes only: broadcast query join, no shuffle join") {
    val emb = Tables.load(spark, sf, "embeddings")
    val out = graft.operators.Pq.pqTopK(emb, emb.filter(col("vec_id") < 4),
      "embedding", "vec_id", dim = 64, m = 4, ksub = 8, iters = 2, k = 3)
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side is no longer broadcast into the code table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join crept into the ADC path:\n$plan")
    // codes are a narrow projection, so the rank window is the one
    // non-rebalance SHUFFLE exchange (BroadcastExchange is the query
    // side doing its job)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges - rebalances == 1,
      s"expected the rank-window exchange only:\n$plan")
  }

  test("IVF-PQ codes each corpus row in place: no join keyed on the id") {
    val emb = Tables.load(spark, sf, "embeddings")
    val corpus = emb.withColumn("cell", pmod(col("vec_id"), lit(4L)))
    val out = graft.operators.Pq.ivfPqTopK(corpus, corpus.filter(col("vec_id") < 4),
      "embedding", "vec_id", "cell", dim = 64, m = 4, ksub = 8, iters = 2, k = 3, nProbe = 2)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val plan = out.queryExecution.optimizedPlan
    val idKeys = plan.collect { case j: Join => j.condition.toSeq.flatMap(conjuncts) }.flatten
      .filter(e => (e.isInstanceOf[EqualTo] || e.isInstanceOf[EqualNullSafe]) &&
        e.references.exists(_.name == "vec_id"))
    assert(idKeys.isEmpty, s"a join keyed on the id: $idKeys\n$plan")
    assert(out.count() > 0)
  }

  test("kmv estimator is sketch-only: no shingle-hash self-join in its plan") {
    // The exact-intersection audit (st JOIN st ON a.h = b.h) would show
    // up as a shuffle join keyed on the corpus-sized hash stream; the
    // production estimator must only join sketch/count tables (all
    // broadcastable at k·|sources| rows).
    val plan = SparkEntry.queries("q_kmv_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-sized shuffle join crept back into the kmv estimator:\n$plan")
  }

  test("ngram novelty never joins on the shingle key (stop-shingle skew)") {
    // Hot stop-shingles may only ever meet a hash AGGREGATE (partial
    // combine absorbs them); any join keyed on `sh` reintroduces the
    // hot-key shuffle. The one real join must be on the doc id.
    val plan = SparkEntry.queries("q_ngram_novelty")(spark, sf)
      .queryExecution.executedPlan.toString()
    val shingleKeyedJoin =
      """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[sh#""".r
    assert(shingleKeyedJoin.findFirstIn(plan).isEmpty,
      s"shingle-keyed join crept back into q_ngram_novelty:\n$plan")
    assert(plan.contains("Join"), s"expected the doc-id join to remain:\n$plan")
  }

  test("dsir scoring joins are broadcast-only (fixed-size weight table)") {
    // The whole point of feature HASHING is that the weight table is B
    // rows: if any join here falls back to a shuffle join, a hot bucket
    // ("the") becomes a hot shuffle key and the design premise is gone.
    val plan = SparkEntry.queries("q_dsir_weights")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"weight join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shuffle join crept into the dsir plan:\n$plan")
  }

  test("cube stats expand once and shuffle once") {
    val plan = SparkEntry.queries("q_cube_stats")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert("Expand".r.findAllIn(plan).size == 1,
      s"CUBE must expand grouping sets exactly once:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"cube rollup should need exactly one exchange:\n$plan")
  }

  test("wide-table scd-latest: max_by rewrite prunes map-side and shuffles no more than the window path") {
    // SURVEY §4.3's claim, measured honestly: `max_by(struct(*))` does
    // NOT plan as a hash aggregate — struct buffers aren't mutable
    // primitive types, so Spark falls back to SortAggregate (this test
    // discovered that; §4.3 is corrected accordingly). What makes it
    // the at-scale rewrite is what THIS gate pins: (a) a map-side
    // partial_max_by collapses each partition to one buffer per group
    // BEFORE the exchange, and (b) it puts no more rows — and no more
    // than marginally more bytes — on the wire than the Window path,
    // whose own map-side prune is WindowGroupLimit. If either prune
    // ever stopped firing, the records gap collapses and this gate
    // names the regression.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.operators.{Sync, SyncMode}

    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other.children.toSeq.flatMap(allNodes)
    })
    def shuffleMetrics(df: DataFrame): (Long, Long) = {
      df.collect()
      val ex = allNodes(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
      (ex.flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum,
        ex.flatMap(_.metrics.get("dataSize").map(_.value)).sum)
    }

    // 6 natural + 30 md5 pad columns: the wide-export shape; per-row
    // hashes keep the pads incompressible so the byte counts are honest.
    val orders = Tables.load(spark, sf, "orders")
    val wide = (0 until 30).foldLeft(orders) { (df, i) =>
      df.withColumn(s"o_pad_$i",
        md5(concat(col("o_orderkey").cast("string"), lit(i))))
    }
    val viaWindow = Sync.plan(wide, SyncMode.ScdLatest("o_custkey", "o_orderdate",
      keepRank = false, tieBreakers = Seq("o_orderkey")))
    val viaMaxBy = Sync.latestByGroup(wide, "o_custkey",
      struct(col("o_orderdate"), col("o_orderkey")))

    val (winRecs, winBytes) = shuffleMetrics(viaWindow)
    val (aggRecs, aggBytes) = shuffleMetrics(viaMaxBy)
    val winPlan = viaWindow.queryExecution.executedPlan.toString()
    val aggPlan = viaMaxBy.queryExecution.executedPlan.toString()

    assert(winPlan.contains("WindowGroupLimit"),
      s"window path lost its map-side WindowGroupLimit prune:\n$winPlan")
    assert(aggPlan.contains("partial_max_by"),
      s"max_by path lost its map-side partial aggregation:\n$aggPlan")
    assert(!aggPlan.contains("Window"), aggPlan)
    assert(aggRecs <= winRecs,
      s"max_by shuffled MORE rows than the window path: $aggRecs vs $winRecs")
    // The max_by buffer duplicates the ordering key next to the row
    // (~1% of a wide row) — allow that margin, nothing more.
    assert(aggBytes <= (winBytes * 1.1).toLong,
      s"max_by shuffled more bytes than the window path: $aggBytes vs $winBytes")
    assert(viaMaxBy.count() == viaWindow.count())
  }

  test("winnow pair search is join-free: two keyed exchanges, nothing else") {
    val plan = SparkEntry.queries("q_winnow_overlap")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"),
      s"winnowing regressed to a self-join formulation:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges - rebalances == 2,
      s"expected exactly 2 keyed exchanges (fingerprint group + pair count), got ${exchanges - rebalances}:\n$plan")
  }

  test("boilerplate strip rewrites above ONE broadcast array row — no doc-side re-exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other.children.toSeq.flatMap(allNodes)
    })
    val df = SparkEntry.queries("q_boilerplate_strip")(spark, sf)
    val nodes = allNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.size == 1,
      s"expected the single broadcast cross join carrying the boiler array:\n${df.queryExecution.executedPlan}")
    // Every exchange must live under the join (the boiler-set branch or
    // the scan rebalances); the rewrite above it is a narrow projection.
    val allEx = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    val underJoin = joins.head.children.flatMap(allNodes)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    assert(allEx == underJoin,
      s"an exchange sits above the boiler cross join — the rewrite is no longer narrow:\n${df.queryExecution.executedPlan}")
  }

  test("boilerplate strip above the broadcast ceiling: left-anti join on the chunk key, no single-row collapse") {
    import graft.operators.ChunkDedup
    import graft.Tables
    val docs = Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200)
    val df = ChunkDedup.stripBoilerplate(docs, "text", "doc_id",
      chunkTokens = 20, minDocs = 3, broadcastMaxChunks = -1L)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("LeftAnti"),
      s"scale shape must prune via a left-anti join on the chunk key:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the single-row boiler-array cross join must be gone above the ceiling:\n$plan")
    // The guarded path must never funnel the boiler set through a
    // 1-row collect_set (the 100 TB ceiling this shape exists to avoid).
    assert(!plan.contains("collect_set"),
      s"boiler set must stay a keyed relation, not a collected array:\n$plan")
  }

  test("rand_proj and pca scoring are pure narrow projections: zero exchanges") {
    for (q <- Seq("q_rand_proj", "q_pca_power")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"$q's scoring projection grew a shuffle:\n$plan")
    }
  }

  test("source drift joins its totals by broadcast, never shuffle") {
    val plan = SparkEntry.queries("q_source_drift")(spark, sf)
      .queryExecution.executedPlan.toString()
    // The hinted M_s equi-join and the 1-row N cross join.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"a totals join fell back to sort-merge:\n$plan")
  }

  test("dup-span gram hashing is evaluated exactly twice, never inlined into a pushed filter") {
    // A plain posexplode makes Catalyst push a size(gh) > 0 filter
    // below the projections with the word-hash transform re-expanded
    // inside each per-gram lambda — O(grams × chars) per row, measured
    // 31× slower. The RK modulus is the chain's fingerprint: one
    // occurrence each for the _wh and _gh projections is the budget.
    for (q <- Seq("q_dup_span", "q_dup_span_strip")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString()
      val folds = "1000000007".r.findAllIn(plan).size
      assert(folds <= 2,
        s"$q evaluates the gram-hash chain $folds times — pushdown inlining is back:\n$plan")
    }
  }

  test("curateSpans computes the boilerplate strip ONCE (barrier before the span pass)") {
    // DupSpan.strip scans its input twice (interval subtree + join-back
    // side). Stage 1 is a corpus-wide chunk-key exchange, so without the
    // checkpoint barrier in Pipeline.curateSpans the boilerplate strip
    // re-executes per consumer. The composed plan must therefore contain
    // NO trace of the chunk-frequency aggregate (its collect_set boiler
    // fold) — both consumers read the materialized barrier instead.
    val df = SparkEntry.queries("q_pipeline_spans")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("collect_set"),
      s"stage-1 boilerplate subtree leaked into the composed plan — the barrier is gone:\n$plan")
    // Since the scored frame is ALSO checkpointed before the quality
    // floor (the PushDownPredicates alias-inlining fix), the final plan
    // collapses to the floor predicate over ONE materialized scan — no
    // window, no exchange, no re-executed span machinery survives.
    val rddScans = "ExistingRDD".r.findAllIn(plan).size
    assert(rddScans == 1 && !plan.contains("Window") && !plan.contains("Exchange"),
      s"expected the floor over one materialized scan, nothing else:\n$plan")
  }

  test("bounded-heap top-k plans as a partial ObjectHashAggregate, never a window rank") {
    // The whole point of functions.TopK: the window form shuffles every
    // scored (query, candidate) pair; the typed aggregate must partial-
    // collapse map-side so the exchange carries ≤ k rows per (query,
    // partition). A Window or a pre-exchange global Sort in this plan
    // means the physical shape regressed to pair-shipping.
    val plan = SparkEntry.queries("q_ann_topk_agg")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"),
      s"top-k agg must plan as ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_topk") || "ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected a partial (map-side) top-k pass before the exchange:\n$plan")
    assert(!plan.contains("Window"),
      s"window rank crept back into the aggregate top-k path:\n$plan")
  }

  test("quantile sketch partial-aggregates map-side, no sort or window") {
    // The GK sketch's value: per-group quantiles from one mergeable
    // aggregate. A Sort or Window in this plan means the physical shape
    // regressed to the exact-percentile path (full per-group value
    // materialization) the sketch exists to avoid.
    val plan = SparkEntry.queries("q_quantile_sketch")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"),
      s"percentile_approx must plan as ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_percentile_approx"),
      s"expected a map-side partial sketch pass before the exchange:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort "),
      s"sort/window crept into the sketch path:\n$plan")
  }

  test("prefix similarity join never plans a quadratic stage") {
    // PPJoin's contract: exact pairs WITHOUT all-pairs. A nested-loop or
    // cartesian anywhere in this plan means the prefix postings degraded
    // to the O(n²) scan the operator exists to replace.
    val plan = SparkEntry.queries("q_dedup_prefix")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"quadratic join stage in the prefix-filter plan:\n$plan")
  }

  test("profiler computes all column metrics in one scan") {
    // The profiler's contract: N columns × 5 metrics from ONE pass —
    // Spark folds the multi-column exact distincts into a single Expand.
    // A second scan means the plan regressed to per-column profiling.
    val plan = SparkEntry.queries("q_profile")(spark, sf)
      .queryExecution.executedPlan.toString()
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profiler must read the table once, found $scans scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct should plan as a single Expand pass:\n$plan")
  }

  test("hard negatives keep the bounded-heap shape: ObjectHashAggregate, no window") {
    // The ceiling filter must stay a narrow predicate on the scored
    // stream feeding the same partial-collapsing top-k aggregate as
    // q_ann_topk_agg — a Window here means the plan regressed to
    // shipping every scored pair.
    val plan = SparkEntry.queries("q_hard_negatives")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"),
      s"hard negatives must rank through the bounded-heap aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"window rank crept into the hard-negative path:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"anchor side must broadcast:\n$plan")
  }

  test("text normalize costs ONE fingerprint-keyed exchange beyond the rebalance") {
    // Canonical render is narrow regex codegen; the dup-grouping is a
    // single window over canon_fp with no join-back — a second
    // non-rebalance exchange means a join-back crept in.
    val plan = SparkEntry.queries("q_text_normalize")(spark, sf)
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges == rebalances + 1,
      s"expected exactly one grouping exchange beyond the rebalance:\n$plan")
  }

  test("BM25 index query path pushes the term predicate and never shuffle-joins") {
    val dir = java.nio.file.Files.createTempDirectory("plan-bm25-idx").toString
    graft.operators.Bm25.buildIndex(
      Tables.load(spark, sf, "documents"), "text", "doc_id", dir)
    val q = graft.operators.Bm25.scoreFromIndex(spark, dir, Seq("spark", "hash"))
    val plan = q.queryExecution.executedPlan.toString()
    // The postings read must reach parquet with the term filter pushed
    // (row-group pruning against the term-sorted layout)...
    assert(plan.contains("PushedFilters: [In(term") ||
      plan.contains("PushedFilters: [IsNotNull(term"),
      s"term predicate is not pushed to the postings scan:\n$plan")
    // ...and the corpus-sized doclen relation joins the query-bounded
    // sides by broadcast only.
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in the index query path:\n$plan")
  }

  test("embedding drift joins its global centroid by broadcast, never shuffle") {
    val plan = SparkEntry.queries("q_emb_drift")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin"),
      s"dim-sized centroid table must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$plan")
  }

  test("shared substrings: bucket-keyed window, top-k without a global sort") {
    // The design claim: NO corpus-wide sort — suffixes exchange once on
    // the prefix bucket, sort within buckets, and the final top-k plans
    // as TakeOrdered, never a full Sort+Limit of the span table.
    val plan = SparkEntry.queries("q_shared_substrings")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered, not global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no join belongs in the suffix pipeline:\n$plan")
  }

  test("snapshot diff is one full-outer join and narrow emission — no extra exchange") {
    // One key exchange per snapshot side feeding a single SortMergeJoin
    // (FullOuter), then the 0/1/2-row classification explode is narrow:
    // any further exchange means a per-class re-scan crept in.
    val df = SparkEntry.queries("q_snapshot_diff")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    val rebalances = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(exchanges <= rebalances + 2,
      s"snapshot diff grew beyond its two join-input exchanges:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"change classes must not re-scan the source, found $scans scans:\n$plan")
  }

  test("hll sketch plan aggregates registers, not raw distinct keys") {
    val events = Tables.load(spark, sf, "events")
    val out = graft.operators.Sketches.hllDistinct(events, "user_id", "event_type")
    val plan = out.queryExecution.optimizedPlan.toString()
    // The sketch branch must reduce to (group, bucket) max(rho) — the
    // only distinct expansion allowed is the separate exact-answer
    // branch the audit query carries on purpose.
    assert(plan.contains("max("), plan)
    val pe = out.queryExecution.executedPlan.toString()
    assert(pe.contains("partial_max") || pe.contains("max("),
      s"register max must partial-aggregate map-side:\n$pe")
  }

  test("scd2 point-in-time lookup plans as an equi-join, never an interval join") {
    // The operator's contract: the half-open interval test is a
    // RESIDUAL filter on a key equi-join. A nested-loop or cartesian
    // means the planner saw the interval predicate as the join
    // condition — the theta-join shape that cannot ship at scale.
    val plan = SparkEntry.queries("q_scd2_lookup")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval-join shape in the scd2 lookup plan:\n$plan")
  }

  test("rolling distinct never sorts or range-partitions the event stream") {
    // The corpus-sized path must collapse to per-(day, register)
    // partials map-side; only register-table-scale frames may do
    // anything more exotic (their nested-loop day-window join is the
    // documented right plan at 64·days rows).
    val plan = SparkEntry.queries("q_rolling_distinct")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"global sort in the rolling-distinct plan:\n$plan")
    assert(plan.contains("partial_max"),
      s"registers must partial-aggregate map-side:\n$plan")
  }

  test("transitions: the only corpus exchange is the user-keyed window; normalizer joins broadcast") {
    val plan = SparkEntry.queries("q_transitions")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"probability normalizer must join by broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join crept into the transition plan:\n$plan")
  }

  test("token-budget selection never range-partitions the corpus (no global sort)") {
    // The operator's whole point: the naive semantics are a GLOBAL
    // (score desc, id) sort + running total; the bucketed plan must
    // confine per-row windows to the one boundary bucket and the
    // metadata-scale bucket table. Any rangepartitioning exchange means
    // the corpus-wide sort came back.
    val plan = SparkEntry.queries("q_token_budget")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"global sort (rangepartitioning) in the token-budget plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bucket classification must join by broadcast:\n$plan")
  }

  test("attribution: one user-keyed exchange; the type filter reaches the scan") {
    val plan = SparkEntry.queries("q_attribution")(spark, sf)
      .queryExecution.executedPlan.toString()
    // exactly one hash exchange (the user window); the final touch-type
    // aggregate partials combine on it
    val userEx = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userEx >= 1 && !plan.contains("SortMergeJoin"),
      s"attribution must be window-over-one-exchange, not a self-join:\n$plan")
    // non-participating event types are pruned at the parquet scan
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      s"type filter did not reach the scan:\n$plan")
  }

  test("basket lift: frequency dims broadcast; top-k is TakeOrdered, not a global sort") {
    val plan = SparkEntry.queries("q_basket_lift")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"global sort crept into the lift plan:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"item-frequency dims must broadcast:\n$plan")
  }

  test("snm pairs: equi-join on rank+offset — no nested-loop band join, no 1-partition window") {
    val plan = SparkEntry.queries("q_dedup_snm")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"rank-band pairing must be an equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"a window sneaked into the SNM plan (global ranks must come from zipWithIndex):\n$plan")
  }

  test("incremental IVF: batch assignment is a narrow projection (no exchange, no window)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Array(0L -> Seq.fill(64)(0.1), 1L -> Seq.fill(64)(-0.1))
    val plan = Similarity.assignCells(emb, "embedding", "vec_id", cents)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("SortExec"),
      s"frozen-centroid assignment must be scan + project only:\n$plan")
  }

  test("pagerank: iteration inputs are checkpointed scans, contributions combine map-side") {
    // The fixture graph sits under the r17 driver-local tier's edge
    // ceiling, so the GATE plans as a LocalTableScan + round projection
    // (asserted below). The shape gate here pins the DISTRIBUTED tier —
    // the 100 TB path — under a negative ceiling scope over the same
    // pinned co-pair edges the gate feeds it.
    val gatePlan = SparkEntry.queries("q_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(gatePlan.contains("LocalTableScan") &&
      !gatePlan.contains("Scan parquet"),
      s"small-graph pagerank gate should take the local tier:\n$gatePlan")
    val pairs = graft.operators.MarketBasket.coPairs(
      Tables.load(spark, sf, "lineitem"), "l_orderkey", "l_partkey",
      minPairs = 2)
    val sym = pairs.select(col("item_a").as("src"), col("item_b").as("dst"))
      .union(pairs.select(col("item_b"), col("item_a")))
    val plan = graft.operators.DriverRows.ceilingsAt(-1L)(
        graft.operators.PageRank.ranks(sym, "src", "dst", iters = 5))
      .queryExecution.executedPlan.toString()
    // the upstream co-purchase self-join must be pinned behind the
    // checkpoint barrier, not replayed per iteration: every edge/node/
    // degree reference is an RDD scan and no parquet scan remains
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"edge/node/degree inputs must be checkpointed RDD scans:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"iteration replays the upstream pair join (checkpoint barrier lost):\n$plan")
    // integer per-dst sums combine map-side
    assert(plan.contains("partial_sum"),
      s"dst aggregation lost its partial (map-side) phase:\n$plan")
    // the only nested-loop allowed is the 1-row node-count broadcast
    assert(!plan.contains("CartesianProduct"),
      s"cartesian stage in the pagerank plan:\n$plan")
    // (rank ⋈ edges is a src-keyed shuffle join by design: both sides
    // are corpus-node-sized at scale and the checkpointed inputs carry
    // no broadcast-eligible stats — asserting broadcast here would pin
    // the WRONG shape.)
  }

  test("cms join-cardinality estimate joins 768-cell sketches, never the raw keys") {
    // The estimator must never materialize or shuffle-join the raw key
    // streams: both sides collapse to depth×width cells first, and the
    // cell join is broadcast. (The exact audit twin joins GROUPED key
    // counts — also never the raw streams.)
    // (the final 1-row × 1-row crossJoin legitimately plans as a
    // broadcast nested loop — it joins two scalars, not data)
    val plan = SparkEntry.queries("q_join_card")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      s"cartesian stage in the cms join-cardinality plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch-cell join must be broadcast:\n$plan")
  }

  test("k-anonymity: QI classes partial-aggregate map-side; the percent window never sees the corpus") {
    val qe = SparkEntry.queries("q_kanon")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString()
    assert(plan.contains("partial_count"),
      s"QI class counts must partial-aggregate map-side:\n$plan")
    // The single-partition percent window is legal ONLY because it runs
    // on the k-histogram: both aggregates must sit between scan and window.
    assert(plan.indexOf("Window") < plan.indexOf("FileScan"),
      s"the percent window must run above (after) both aggregates:\n$plan")
  }

  test("mad outliers: one corpus exchange to daily counts; no join in the engine plan") {
    val plan = SparkEntry.queries("q_mad_outliers")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the mad-outliers plan:\n$plan")
    assert(plan.contains("partial_count"),
      s"daily counts must partial-aggregate map-side:\n$plan")
  }

  test("auc: scores group map-side; the rank window runs above the score-cardinality aggregate") {
    val plan = SparkEntry.queries("q_auc")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the auc plan:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-score class counts must partial-aggregate map-side:\n$plan")
    // The single-partition cumulative window is legal ONLY on the
    // distinct-score table — it must appear above the aggregate.
    assert(plan.indexOf("Window") < plan.indexOf("FileScan"),
      s"the cumulative window must run above the score aggregate:\n$plan")
  }

  test("label propagation: per-iteration shape is join + agg + bounded window — never cartesian") {
    val plan = SparkEntry.queries("q_label_prop")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop stage in the label-propagation plan:\n$plan")
  }

  test("markov transitions: type filter reaches the scan; one user-keyed exchange family") {
    // Gate the DISTRIBUTED half (markovRemoval's collect is the bounded
    // (channels+2)^2 transition matrix — coordinator metadata).
    val plan = graft.operators.Attribution.markovTransitions(
        Tables.load(spark, sf, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("view", "click", "signup"), "purchase")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [Or(In(event_type"),
      s"the participating-type filter must reach the scan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian stage in the markov-transition plan:\n$plan")
  }

  test("basket triples and ndcg: top-k is TakeOrdered, never a global sort") {
    val tri = SparkEntry.queries("q_basket_triples")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(tri.contains("TakeOrderedAndProject"),
      s"triple top-k must be TakeOrdered:\n$tri")
    val ndcg = SparkEntry.queries("q_ndcg")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(ndcg.contains("TakeOrderedAndProject"),
      s"ndcg top-k must be TakeOrdered:\n$ndcg")
    assert(!ndcg.contains("CartesianProduct"),
      s"cartesian in the ndcg plan (1-row crossJoins must broadcast):\n$ndcg")
  }

  test("corr matrix: ONE scan and ONE aggregate for all pairs — no join, no per-pair pass") {
    // The whole point of the moment formulation: k·(k−1)/2 pair
    // correlations from a single map-side-combinable aggregate. A join
    // or a second scan means the plan degenerated to per-pair passes.
    val qe = SparkEntry.queries("q_corr_matrix")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the corr-matrix plan:\n$plan")
    val scans = "FileScan|BatchScan".r.findAllIn(plan).size
    assert(scans == 1, s"corr matrix must read the table once, saw $scans scans:\n$plan")
    assert(plan.contains("partial_"),
      s"pair moments must partial-aggregate map-side:\n$plan")
  }

  test("welch t-test: ONE scan, ONE aggregate — no join, no window, map-side partials") {
    val plan = SparkEntry.queries("q_ttest_welch")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the t-test plan:\n$plan")
    assert(!plan.contains("Window"), s"window in the t-test plan:\n$plan")
    val scans = "FileScan|BatchScan".r.findAllIn(plan).size
    assert(scans == 1, s"t-test must read the table once, saw $scans scans:\n$plan")
    assert(plan.contains("partial_"),
      s"the six sums must partial-aggregate map-side:\n$plan")
  }

  test("ks test: scores group map-side; both windows run above the distinct-value aggregate") {
    val plan = SparkEntry.queries("q_ks_test")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the ks plan:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-value class counts must partial-aggregate map-side:\n$plan")
    // Single-partition windows are legal ONLY on the distinct-value
    // table — they must appear above the aggregate (the auc posture).
    assert(plan.indexOf("Window") < plan.indexOf("FileScan"),
      s"the cumulative window must run above the value aggregate:\n$plan")
  }

  test("experiment aggregates (cuped/did/holt): ONE scan, no join, no window") {
    for (q <- Seq("q_cuped", "q_did", "q_holt")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Join"), s"join in the $q plan:\n$plan")
      assert(!plan.contains("Window"), s"window in the $q plan:\n$plan")
      val scans = "FileScan|BatchScan".r.findAllIn(plan).size
      assert(scans == 1, s"$q must read the table once, saw $scans:\n$plan")
      assert(plan.contains("partial_"),
        s"$q sums must partial-aggregate map-side:\n$plan")
    }
  }

  test("trimmed means: no join; the cut-rank window runs above the distinct-value aggregate") {
    val plan = SparkEntry.queries("q_trimmed")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the trimmed plan:\n$plan")
    assert(plan.indexOf("Window") < plan.indexOf("FileScan"),
      s"the per-group window must run above the value aggregate:\n$plan")
  }

  test("target encoding: the category stats join back by BROADCAST — the corpus is never shuffled by category") {
    val qe = SparkEntry.queries("q_target_encode")(spark, sf).queryExecution
    qe.executedPlan.execute()
    val plan = qe.executedPlan.toString()
    val finalP = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan; case i => plan.substring(0, i)
    }
    assert(finalP.contains("BroadcastHashJoin"),
      s"category join must broadcast:\n$finalP")
    assert(!finalP.contains("SortMergeJoin") && !finalP.contains("ShuffledHashJoin"),
      s"corpus shuffled by category:\n$finalP")
  }

  test("iterative graph ops (kcore/ppr): never cartesian") {
    for (q <- Seq("q_kcore", "q_ppr")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct"),
        s"cartesian stage in the $q plan:\n$plan")
    }
  }

  test("phash near-dup: the fingerprint stage runs once; banded join, never cartesian") {
    val qe = SparkEntry.queries("q_mm_phash_dedup")(spark, sf).queryExecution
    qe.executedPlan.execute() // finalize AQE so reuse is visible
    val plan = qe.executedPlan.toString()
    val finalP = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan; case i => plan.substring(0, i)
    }
    assert(!finalP.contains("CartesianProduct") &&
      !finalP.contains("BroadcastNestedLoopJoin"),
      s"nested-loop stage in the phash near-dup plan:\n$finalP")
    // The mapPartitions fingerprint stage must be computed ONCE and its
    // exchange reused by every consumer (within-group pairs, banding,
    // membership expansion) — the minhash sig-reuse lesson.
    val serializes = "SerializeFromObject".r.findAllIn(finalP).size
    assert(serializes == 1,
      s"expected one fingerprint evaluation, found $serializes:\n$finalP")
  }

  test("quality top-p% / token quantiles: rank and group totals share ONE window exchange") {
    for (q <- Seq("q_quality_topp", "q_token_quantiles")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Join"), s"join crept into the $q plan:\n$plan")
      // rank + per-group total must come from the same hash-partitioned
      // exchange: one shuffle total (plus none for the final agg, which
      // reuses the window partitioning)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected ONE group-keyed exchange in $q, found $exchanges:\n$plan")
    }
  }

  test("regression metrics: the MAE pass joins category stats by BROADCAST") {
    val qe = SparkEntry.queries("q_reg_metrics")(spark, sf).queryExecution
    qe.executedPlan.execute()
    val plan = qe.executedPlan.toString()
    val finalP = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan; case i => plan.substring(0, i)
    }
    assert(finalP.contains("BroadcastHashJoin"),
      s"category stats must broadcast back:\n$finalP")
    assert(!finalP.contains("SortMergeJoin") && !finalP.contains("ShuffledHashJoin"),
      s"corpus shuffled by category in q_reg_metrics:\n$finalP")
  }

  test("poisson bootstrap: all replicates from ONE scan and ONE aggregate — no join, no window") {
    val plan = SparkEntry.queries("q_bootstrap_ci")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"join in the bootstrap plan:\n$plan")
    assert(!plan.contains("Window"), s"window in the bootstrap plan:\n$plan")
    val scans = "FileScan".r.findAllIn(plan).size
    assert(scans == 1, s"expected ONE scan, found $scans:\n$plan")
  }

  test("mahalanobis: moments broadcast back; top-k is TakeOrdered, never a global sort") {
    val qe = SparkEntry.queries("q_mahalanobis")(spark, sf).queryExecution
    qe.executedPlan.execute()
    val plan = qe.executedPlan.toString()
    val finalP = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan; case i => plan.substring(0, i)
    }
    assert(finalP.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$finalP")
    assert(!finalP.contains("SortMergeJoin") && !finalP.contains("ShuffledHashJoin"),
      s"the 1-row moment frame must broadcast:\n$finalP")
  }

  test("adamic-adar: equi-join wedges, no cartesian/nested-loop; top-k is TakeOrdered") {
    val plan = SparkEntry.queries("q_adamic_adar")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop stage in the adamic-adar plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$plan")
  }

  test("embedding stats (alignment/group-sim): no window, no sort — aggregates only") {
    for (q <- Seq("q_emb_alignment", "q_emb_group_sim")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"), s"window crept into $q:\n$plan")
      // group-sim's pairwise stage joins the GROUPS-sized folded frame —
      // never a corpus-side sort-merge
      assert(!plan.contains("SortMergeJoin"),
        s"corpus-side sort-merge join in $q:\n$plan")
    }
  }

  test("graph cap audit and confident joint: ONE corpus scan family, no corpus re-shuffle") {
    // q_graph_cap: everything reduces to the degree table then one agg
    val capPlan = SparkEntry.queries("q_graph_cap")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!capPlan.contains("Window") && !capPlan.contains("CartesianProduct"),
      s"unexpected stage in q_graph_cap:\n$capPlan")
    // q_confident_joint: class thresholds broadcast back — the corpus is
    // never shuffled by label
    val qe = SparkEntry.queries("q_confident_joint")(spark, sf).queryExecution
    qe.executedPlan.execute()
    val cjPlan = qe.executedPlan.toString()
    val finalP = cjPlan.indexOf("== Initial Plan ==") match {
      case -1 => cjPlan; case i => cjPlan.substring(0, i)
    }
    assert(!finalP.contains("SortMergeJoin") && !finalP.contains("ShuffledHashJoin"),
      s"corpus shuffled for the threshold join in q_confident_joint:\n$finalP")
  }
}
