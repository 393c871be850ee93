package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the scale-critical operators: the properties
  * the VERDICT flagged (no cartesian products on the canonical near-dup
  * path, no wide-payload LSH shuffles, no single-task global windows) are
  * pinned here so regressions fail the build, not the next audit.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // pinned queries persist intermediates at plan-build time; release them
  // after every test so cache registrations don't leak across assertions
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally graft.ops.OrderedOps.clearPins()

  /** Physical joins INCLUDING those inside pinned (cached) subplans — the
    * pin discipline moves scale-critical joins behind InMemoryRelation
    * boundaries that a plain collect cannot see through. */
  private def physJoins(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.joins.BaseJoinExec] =
    p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => Seq(j)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        physJoins(s.relation.cachedPlan)
      // AQE wraps subplans in a LEAF node a plain collect cannot enter
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        physJoins(a.inputPlan)
    }.flatten

  test("dedup_lsh_verified has no cartesian/broadcast-nested-loop join") {
    val p = executedPlan("dedup_lsh_verified")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_ppjoin: prefix-posting candidates are an equi-join, no " +
       "cartesian/BNLJ anywhere") {
    val p = executedPlan("dedup_ppjoin")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_minhash_lsh band join does not shuffle shingle arrays") {
    // the band self-join now lives inside the pinned candidate cache —
    // search through the InMemoryRelation boundary; its output must not
    // carry shingle data (neither string arrays nor hash sets), only
    // ids/bands/keys
    val qe = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).queryExecution
    val bandJoin = physJoins(qe.executedPlan)
      .filter(_.toString.contains("bkey"))
    assert(bandJoin.nonEmpty)
    bandJoin.foreach { j =>
      assert(!j.output.exists(a => a.name == "sh" || a.name == "h"),
        j.output.map(_.name).mkString(","))
    }
  }

  test("agg_argmin_argmax plan is window-free (pure hash aggregate)") {
    val p = executedPlan("agg_argmin_argmax")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("agg_groupby_q1 pushes filter and prunes columns at the scan") {
    val p = executedPlan("agg_groupby_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("filt_query_local binds @locals as literals that push down to the scan") {
    val p = executedPlan("filt_query_local")
    // the @cutoff/@kmax/@statuses bindings must appear as plan LITERALS
    // reaching the scan, proving QueryLocals substitution happens before
    // Catalyst sees the plan (PushedFilters renders truncated — assert the
    // untruncated Filter node plus the pushdown prefix)
    assert(p.contains("> 120000.5)"), p)
    assert(p.contains("IN (O,F)"), p)
    assert(p.contains("<= 4000)"), p)
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThan(o_totalp"), p)
  }

  test("sort_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = executedPlan("sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_inner broadcasts the dimension side") {
    val p = executedPlan("join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("io_bucketed_join join+aggregate are exchange-free (bucketed scans)") {
    val df = SparkEntry.queries("io_bucketed_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // bucketed scans on the join/grouping key: neither the join nor the
    // groupBy may introduce a hash-partition shuffle (the only allowed
    // exchange is the final orderBy's range partitioning)
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("join_skew_salted equals the plain join result") {
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("join_skew_salted")(spark, sf).collect()
    val plain = Tables.lineitem(spark, sf).filter(col("l_orderkey") <= 5000)
      .join(Tables.supplier(spark, sf), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy("nationkey").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("join_range_bucketed is an equi-join, not a nested loop") {
    val p = executedPlan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("join_asof is window-composed: no join operator, no row explosion") {
    for (name <- Seq("join_asof", "join_asof_forward", "join_asof_nearest")) {
      val p = executedPlan(name)
      assert(!p.contains("Join"), s"$name: $p")
      assert(p.contains("Window"), s"$name: $p")
    }
  }

  test("cat_codes_roundtrip never shuffles the fact side (broadcast dict)") {
    val p = executedPlan("cat_codes_roundtrip")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("series_aligned_binop aligns with ONE full-outer shuffle join") {
    val qe = SparkEntry.queries("series_aligned_binop")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType.toString
    }
    assert(joins == Seq("FullOuter"), joins.mkString(","))
  }

  test("dedup_contamination routes the benchmark set through a broadcast join") {
    // the corpus side must never shuffle: the benchmark shingle set is the
    // build side of a BroadcastHashJoin, and no sort-merge join appears
    val p = executedPlan("dedup_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sim_ivf_search candidate join is an equi-join on the cell id") {
    val qe = SparkEntry.queries("sim_ivf_search")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // at least one equi-join keyed on cid (the probe→cell candidate join);
    // only the k-row centroid routing joins may be non-equi
    assert(joins.exists(_.condition.exists(_.toString.contains("cid"))),
      joins.map(_.condition).mkString(","))
  }

  test("win_topk_per_group plans WindowGroupLimit (map-side k-per-group prune)") {
    val p = executedPlan("win_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("text_tfidf_topk plans WindowGroupLimit and broadcasts the corpus count") {
    val p = executedPlan("text_tfidf_topk")
    // per-doc top-k pruned map-side; the scalar N and term-df joins never
    // shuffle the token stream beyond the two counting aggregations
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_semantic: candidate generation is an equi-join on (cid, bkey)") {
    val p = executedPlan("dedup_semantic")
    // the only non-equi join is the corpus x 8-centroid broadcast assignment;
    // pairing and verification are hash equi-joins
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("sim_ivfpq_search: candidates equi-join on cid, ADC scores via broadcast LUT") {
    val p = executedPlan("sim_ivfpq_search")
    // the only nested-loop joins are the corpus/query x tiny-centroid
    // broadcasts; the candidate bound (cid) and the LUT scoring
    // (qid, s, code) are hash equi-joins — no raw vectors in the score join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pipeline_corpus_prep: dedup is one aggregation, all joins broadcast") {
    // the min_by survivor aggregation means no sort-merge join anywhere:
    // the only corpus-scale exchange is the digest groupBy
    val p = executedPlan("pipeline_corpus_prep")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_bpe_pair_counts top-k is a TakeOrdered, pair explosion is vocab-side") {
    val p = executedPlan("text_bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the char-pair Generate must sit ABOVE the word-frequency aggregate
    // (explosion over the vocab table, whose HashAggregate prints BELOW it
    // in the tree), not directly on the corpus scan
    val genIdx = p.indexOf("Generate explode(transform(sequence(1")
    assert(genIdx >= 0, p)
    assert(p.indexOf("HashAggregate", genIdx) > genIdx, p)
  }

  test("text_pii_redact and text_chunk_stride shuffle only for the output sort") {
    for (name <- Seq("text_pii_redact", "text_chunk_stride")) {
      val p = executedPlan(name)
      // pii_redact deliberately widens a single-row-group scan with ONE
      // round-robin repartition so its 6-regex chain parallelizes
      // (ScanParallel, r19) — allow exactly that exchange kind beyond the
      // output sort; any extra DATA-keyed exchange still fails.
      val exchanges = "Exchange".r.findAllIn(p).length
      val widen = "Exchange RoundRobinPartitioning".r.findAllIn(p).length
      assert(exchanges - widen <= 1 && widen <= 1,
        s"$name has $exchanges exchanges ($widen round-robin widen):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("dedup_lines joins lines to the DF table on the line key (equi-join)") {
    val qe = SparkEntry.queries("dedup_lines")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rel_q3 pushes all three filters to the scans and TakeOrders the limit") {
    val p = SparkEntry.queries("rel_q3_shipping_priority")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    for (pf <- Seq("GreaterThan(l_shipdate", "LessThan(o_orderdate",
                   "EqualTo(c_mktsegment,BUILDING)"))
      assert(p.contains(pf), s"missing pushed filter $pf:\n$p")
  }

  test("rel_q5 broadcasts the folded dim chain and pushes both filters") {
    val qe = SparkEntry.queries("rel_q5_local_supplier")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // region→nation and the (supplier × nation × region) dim ride broadcasts;
    // only the customer⋈orders and lineitem-probe joins may shuffle
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    for (pf <- Seq("EqualTo(r_name,ASIA)", "GreaterThanOrEqual(o_orderdate",
                   "LessThan(o_orderdate"))
      assert(p.contains(pf), s"missing pushed filter $pf:\n$p")
  }

  test("rel_q18 aggregates lineitem BELOW the joins and TakeOrders the limit") {
    val qe = SparkEntry.queries("rel_q18_large_orders")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // the HAVING-filtered aggregate must sit under the join, not above it:
    // find a Join whose child subtree contains the quantity Aggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val joinsWithAggBelow = qe.optimizedPlan.collect {
      case j: Join if j.children.exists(_.collectFirst {
        case a: Aggregate if a.aggregateExpressions.exists(_.toString.contains("qty")) => a
      }.nonEmpty) => j
    }
    assert(joinsWithAggBelow.nonEmpty,
      s"expected the qty aggregate below a join:\n${qe.optimizedPlan}")
  }

  test("rel_q21 folds both EXISTS probes into one aggregate: 2 lineitem scans") {
    val qe = SparkEntry.queries("rel_q21_waiting_supplier")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // the textbook EXISTS/NOT-EXISTS formulation scans the fact 3x and
    // shuffles it 3x; the rewrite must scan lineitem exactly twice (l1 +
    // the per-order stats aggregate), keep the probe as a SEMI join, and
    // ride broadcasts for the supplier×nation dim
    // (string count, not tree collect: AdaptiveSparkPlanExec hides its
    // input plan from TreeNode.collect)
    val lineitemScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(lineitemScans === 2,
      s"expected exactly 2 lineitem scans, got $lineitemScans:\n$p")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the late-rows filter reaches the scan
    assert(p.contains("EqualTo(l_returnflag,R)"), s"missing pushed filter:\n$p")
  }

  test("rel_q17 folds the correlated scalar subquery into one fact scan") {
    val qe = SparkEntry.queries("rel_q17_small_quantity")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // the textbook correlated-avg formulation scans lineitem twice and
    // joins fact to fact; the window rewrite must scan it ONCE, shrink it
    // through a broadcast SEMI join on the filtered part keys before the
    // only shuffle, and compute the threshold in a window over l_partkey
    val lineitemScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(lineitemScans === 1,
      s"expected exactly 1 lineitem scan, got $lineitemScans:\n$p")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // both part filters reach the part scan
    assert(p.contains("EqualTo(p_brand,Brand#4)"), s"missing pushed filter:\n$p")
    assert(p.contains("LessThan(p_size,15)"), s"missing pushed filter:\n$p")
  }

  test("io_zorder_key plan stays in one codegen stage up to the final sort") {
    // pure integer projection: no joins, no aggregates, no window
    val p = executedPlan("io_zorder_key")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("pipeline_domain_mix: bucketed two-phase prefix sum, offsets broadcast") {
    val qe = SparkEntry.queries("pipeline_domain_mix")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // phase-1 offsets ride a broadcast join back onto the rows
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-scale window partitions by (source, bucket) — never by
    // source alone, which would funnel each domain through one task
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec.map(_.toString)
    }
    assert(windows.exists(ps => ps.size == 2 &&
      ps.exists(_.contains("source")) && ps.exists(_.contains("bucket"))), windows.toString)
  }

  test("dedup_span_ngrams: flag join is an equi-join on the span hash, ids-only") {
    val qe = SparkEntry.queries("dedup_span_ngrams")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val flagJoin = joins.filter(_.condition.exists(_.toString.contains("shid")))
    assert(flagJoin.nonEmpty)
    // no join output may carry token arrays or shingle text — hashes and
    // positions only cross the wire
    flagJoin.foreach { j =>
      assert(!j.output.exists(a => a.name == "toks" || a.name == "g"),
        j.output.map(_.name).mkString(","))
    }
  }

  test("emb_mean_pool_norm: per-label norms broadcast back onto the pooled rows") {
    val p = executedPlan("emb_mean_pool_norm")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("filt_sample_fixed_k prunes to k rows per group map-side (WindowGroupLimit)") {
    val p = executedPlan("filt_sample_fixed_k")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("io_parquet_nested pushes the nested-struct filter to the reader") {
    val p = executedPlan("io_parquet_nested")
    assert(p.contains("EqualTo(meta.lang,en)"), p)
  }

  // Queries where a cartesian/nested-loop join is the DOCUMENTED intent,
  // with the reason it is acceptable. Everything else must plan equi-joins.
  private val cartesianExempt: Map[String, String] = Map(
    "join_cross" -> "the cross-join operator itself is under test",
    "join_conditional" -> "non-equi predicate join over two broadcastable dims",
    "sim_bruteforce_topk" -> "exact ANN baseline: corpus x broadcast query set",
    "sim_ivf_assign" -> "corpus x broadcast centroid set (k centroids, k tiny)",
    "sim_ivf_search" -> "corpus/query x broadcast centroid set for cell routing; the candidate join itself is an equi-join on cid",
    "sim_ivfpq_search" -> "corpus/query x broadcast centroid set for IVF routing; candidates equi-join on cid, ADC scoring equi-joins the broadcast LUT on (qid, s, code)",
    "sort_searchsorted" -> "attaches one broadcast aggregate row to every row",
    "reshape_qcut" -> "attaches one broadcast quantile-edges row to every row",
    "reshape_transpose" -> "documented small-data contract (driver-side shape)",
    "dedup_semantic" -> "corpus x broadcast centroid set for cell assignment; the candidate join itself is an equi-join on (cid, bkey)",
    "text_tfidf_topk" -> "attaches one broadcast corpus-count row to every (doc, term)",
    "text_bigram_lm_score" -> "attaches one broadcast vocab-size row to every bigram",
    "agg_scale_minmax" -> "attaches one broadcast (min, max) row to every fact row",
    "filt_sample_weighted" -> "attaches one broadcast total-weight row to every row",
    "text_bpe_train" -> "per-round 1-row winner + symbol-count scalars broadcast onto the vocab-sized relation",
    "text_bpe_encode" -> "attaches the ONE broadcast merge-table row to the vocab-sized relation (like a centroid set)",
    "text_bpe_fertility" -> "same one-row merge-table broadcast; the corpus-side vocabulary join is an equi-join on word"
  )

  test("repo-wide sweep: no undocumented cartesian/nested-loop joins") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (cartesianExempt.contains(name)) None
      else {
        val p = executedPlan(name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty,
      s"queries planning cartesian/BNLJ without an exemption: $offenders")
  }

  test("every query registers an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("ScanParallel.widenBy refuses an empty key list and hash-widens " +
       "a single-partition input by its keys") {
    val one = spark.range(0, 1000).toDF().coalesce(1)
    intercept[IllegalArgumentException] {
      graft.ops.ScanParallel.widenBy(one)
    }
    val p = graft.ops.ScanParallel.widenBy(one,
      org.apache.spark.sql.functions.col("id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(id"), p)
    assert(!p.contains("RoundRobinPartitioning"), p)
  }
}
