package graft

import graft.engine.Registry

/** Physical-plan regression guards: the plan shapes the 100 TB design
  * depends on must survive refactors. Each assertion pins a property
  * that PlanAudit verified manually. */
class PlanPropertiesSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).build(spark, sf).queryExecution.executedPlan.toString

  test("filter_basic pushes its predicates into the parquet scan") {
    val p = plan("filter_basic")
    // toString truncates the full filter list; presence of a non-empty
    // PushedFilters block is the guard (full list verified in PlanAudit)
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(800))
    assert(p.contains("StartsWith(l_linestatus"), p.take(800))
  }

  test("join_broadcast plans a BroadcastHashJoin (no shuffle of either dim)") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("win_topk_group gets WindowGroupLimit pushdown") {
    val p = plan("win_topk_group")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("agg_sum_group is a 2-phase hash aggregate (map-side partials)") {
    val p = plan("agg_sum_group")
    assert(p.contains("partial_sum"), p.take(800))
    assert(p.contains("HashAggregate"))
  }

  test("tfidf_keywords' top-3 filter rides WindowGroupLimit") {
    assert(plan("tfidf_keywords").contains("WindowGroupLimit"))
  }

  test("delay_board's fuzzy match runs per passage row, with no join or cartesian") {
    val p = plan("delay_board")
    // the day's calls are a broadcast index the match UDF reads
    // (Transit.callIndex / pickCall), so the passage batch is neither
    // joined nor shuffled before the latest-state fold (over this
    // local fixture the optimizer even folds the match into the scan)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(1200))
    // the latest-cycle fold is the associative struct-max, not a
    // window sort over polling history
    assert(p.contains("partial_max"), p.take(1200))
  }

  test("station_board_next compiles to TakeOrderedAndProject over the state (no global sort)") {
    val p = plan("station_board_next")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    // last-cycle-wins is the struct-max agg, not a ranking window
    assert(p.contains("partial_max"), p.take(1200))
    assert(!p.contains("WindowExec"), p.take(1200))
  }

  test("dedup_containment is a filter+projection over the bucketed sink_shingle_pairs read (no cartesian, no rebuild)") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // r16: the df-capped inverted-index self-join lives in the
    // once-per-session sink build (shinglePairTable); the declared
    // query must read the bucketed table, not re-run the 2-phase
    // count chain
    assert(p.contains("graft_sink_shingle_pairs"), p.take(1200))
    assert(!p.contains("partial_count"), p.take(1200))
  }

  test("merge_scd2 shares ONE hash exchange across both windows and the agg") {
    // hashpartitioning(user_id) from the first window must satisfy the
    // (user_id, version, event_type) groupBy AND the byVersion window —
    // a second hash exchange means the run-assembly got re-shuffled
    val p = plan("merge_scd2")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(900)}")
  }

  test("contamination_check broadcasts the eval holdout (no corpus-shingle shuffle join)") {
    val p = plan("contamination_check")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
  }

  test("pack_sequences: the corpus-level window is sharded, not single-partition") {
    // the two-phase prefix sum's whole point: only the |shards|-row
    // offsets cumsum may run in one partition; the window over the doc
    // table must carry a partition spec. The naive global-ORDER-BY
    // formulation would show one unpartitioned WindowExec over the scan.
    import org.apache.spark.sql.execution.window.WindowExec
    val p0 = Registry.byName("pack_sequences").build(spark, sf)
      .queryExecution.executedPlan
    // AQE wraps the real plan; collect() does not descend into it
    val p = p0 match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case x => x
    }
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.size == 2, s"expected 2 windows, got ${wins.size}")
    val (unpart, part) = wins.partition(_.partitionSpec.isEmpty)
    assert(part.size == 1, "doc-level window lost its shard partitioning")
    assert(unpart.size == 1)
    // the unpartitioned one must sit above an aggregate (bounded input)
    assert(unpart.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.nonEmpty, "single-partition window is not over the subtotal aggregate")
  }

  test("vocab_coverage + skew_diagnose: ranked windows sit above aggregates") {
    // the global rank/cumsum windows in both profiles are bounded-
    // table windows (|vocab| rows / |keys| rows — never raw scans),
    // and the top-N cut must ride WindowGroupLimit
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("vocab_coverage", "skew_diagnose")) {
      val p0 = Registry.byName(q).build(spark, sf)
        .queryExecution.executedPlan
      val p = p0 match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case x => x
      }
      val unpart = p.collect { case w: WindowExec => w }
        .filter(_.partitionSpec.isEmpty)
      assert(unpart.nonEmpty, s"$q: expected an unpartitioned rank window")
      unpart.foreach { w =>
        assert(w.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty, s"$q: rank window is not over an aggregate")
      }
      // on an UNPARTITIONED window Catalyst compiles the rank filter
      // to Local/GlobalLimit or TakeOrderedAndProject pushed below
      // the window consumer (single-partition analogs of
      // WindowGroupLimit) — accept any of the three
      val ps = p.toString
      assert(ps.contains("WindowGroupLimit") || ps.contains("LocalLimit") ||
        ps.contains("TakeOrderedAndProject"),
        s"$q: top-N cut not limit-pushed")
    }
  }

  test("peak_concurrency: the sweep-line window is sharded, not single-partition") {
    // same contract as pack_sequences: the only unpartitioned window
    // may touch the bounded per-hour subtotal table, never the edge
    // stream itself
    import org.apache.spark.sql.execution.window.WindowExec
    val p0 = Registry.byName("peak_concurrency").build(spark, sf)
      .queryExecution.executedPlan
    val p = p0 match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case x => x
    }
    val wins = p.collect { case w: WindowExec => w }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, s"expected 1 unpartitioned window, got ${unpart.size}")
    assert(unpart.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.nonEmpty, "offsets cumsum is not over the subtotal aggregate")
  }

  test("dedup_edit_nn: NN keep-1 rides WindowGroupLimit") {
    assert(plan("dedup_edit_nn").contains("WindowGroupLimit"))
  }

  test("text_pii_redact plans no hash exchange (map-only scrub)") {
    val p = plan("text_pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction should be shuffle-free:\n${p.take(900)}")
  }

  test("split_train_val is map-only: no hash shuffle, one range sort") {
    val p = plan("split_train_val")
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
    assert(p.contains("Exchange rangepartitioning"), p.take(800))
  }

  test("emb_quantize's window and aggregation share one hash exchange") {
    val p = plan("emb_quantize")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected the vec_id exchange to serve window AND agg, got $hashExchanges:\n${p.take(800)}")
  }

  test("no similarity operator falls back to a cartesian product") {
    for (q <- Seq("dedup_near", "simhash_near", "vec_cosine_pairs",
        "ngram_jaccard", "ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n${p.take(800)}")
    }
  }

  test("sink_partitioned: the type filter prunes partitions at the scan") {
    // build() round-trips the write; the read side's scan must carry
    // the event_type predicate as a PartitionFilter (directory prune),
    // NOT as a data filter over all partitions
    val p = plan("sink_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p.take(1200))
    assert(p.contains("purchase"), p.take(1200))
  }

  test("sql_tpch_q3: SQL-text path plans pushdown + broadcast + TakeOrdered like the DSL would") {
    val p = plan("sql_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // both date predicates must reach their parquet scans
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("LessThan(o_orderdate"), p.take(2000))
    assert(p.contains("GreaterThan(l_shipdate"), p.take(2000))
  }

  test("emb_gram: two-phase object-hash aggregate over a pruned single-column scan") {
    val p = plan("emb_gram")
    // partial buffers per partition, ONE exchange, final merge — the
    // mergeable-Gram shape; a regression to single-phase would ship
    // rows instead of 16 KB buffers
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      "scan must read ONLY the embedding column")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("plan sweep: no declared query plans a cartesian or unexpected loop join") {
    // The 100 TB kill-switch, applied to the WHOLE surface: a
    // CartesianProduct anywhere, or a BroadcastNestedLoopJoin whose
    // broadcast side is not PROVABLY BOUNDED, means some refactor
    // turned an equi join into an all-pairs scan.
    //
    // Adjudication is STRUCTURAL (r11, VERDICT: the r10 name list had
    // grown to ~25 entries, every one of them the same "broadcast side
    // is a grouping-key-free aggregate or a bounded literal table"
    // pattern — a rename hazard, and a new operator's 1-row broadcast
    // needed a hand-written entry every round): each BNLJ's broadcast
    // subtree is walked for a provable row bound — a grouping-free
    // aggregate is 1 row by construction, a LocalRelation/Range is its
    // literal size, unary nodes preserve-or-reduce (Expand multiplies
    // by its projection count), joins bound by product, unions by sum;
    // any unbounded leaf (a file scan) makes the side unbounded and
    // the BNLJ a violation. A nested loop over a provably-constant
    // side is a constant, not a scan — and now PROVED so per plan,
    // per run, with nothing to rename out of coverage.
    //
    // Named exceptions — loop joins by SEMANTICS, not by constant:
    // join_cross is a bounded dim×dim cross join; join_like is a
    // contains-predicate join against a broadcast token list;
    // ann_topk is the brute-force exact-recall BASELINE (broadcast
    // query set against every vector is its defining semantics;
    // ann_ivf is the bucketed equi-join scale path measured against
    // it); ann_recall_curve's exact arm IS that baseline; ann_kmeans
    // and ann_pq EMBED that same baseline in their recall verdicts
    // (the <100-query set and the ≤128-row codebooks are bounded by
    // construction, but they sit behind localCheckpoint `Scan
    // ExistingRDD` leaves the structural walker cannot see through;
    // every 1-row-aggregate BNLJ in those same plans IS structurally
    // proven).
    // rank_ndcg embeds ann_topk's brute-force baseline verbatim (the
    // fixed 16-query broadcast against every candidate is the exact
    // ranker its NDCG is defined over — same semantics exemption).
    val bnljBySemantics =
      Set("join_cross", "join_like", "ann_topk", "ann_recall_curve",
        "ann_kmeans", "ann_pq", "rank_ndcg", "rank_mrr")
    // Provable upper bound on a broadcast subtree's row count;
    // None = unbounded (some leaf scales with data).
    val BnljBroadcastBound = 4096L
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.{ExpandExec, LocalTableScanExec, RangeExec, UnionExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    def maxRows(p: SparkPlan): Option[Long] = p match {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty =>
        Some(1L)
      case l: LocalTableScanExec => Some(l.rows.size.toLong)
      case r: RangeExec => Some(r.numElements.min(BigInt(Long.MaxValue)).toLong)
      case re: ReusedExchangeExec => maxRows(re.child)
      case lim: org.apache.spark.sql.execution.BaseLimitExec =>
        Some(lim.limit.toLong)
      case cl: org.apache.spark.sql.execution.CollectLimitExec =>
        Some(cl.limit.toLong)
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        Some(t.limit.toLong)
      case u: UnionExec =>
        val cs = u.children.map(maxRows)
        if (cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
      case e: ExpandExec =>
        maxRows(e.child).map(_ * e.projections.size)
      case j: BaseJoinExec =>
        // inner/cross bound = product; outer forms add at most each
        // side once — l·r + l + r covers every join type
        for (l <- maxRows(j.left); r <- maxRows(j.right))
          yield l * r + l + r
      case _ if p.children.size == 1 => maxRows(p.children.head)
      case _ => None
    }
    // Collect ALL violations before asserting (r10, ADVICE): the r9
    // form asserted inside the foreach, so the first violator masked
    // every query registered after it — one bad plan could hide others.
    val violations = Registry.all.flatMap { d =>
      val p0 = Registry.byName(d.name).build(spark, sf)
        .queryExecution.executedPlan
      val exec = p0 match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case x => x
      }
      val cart =
        if (exec.toString.contains("CartesianProduct"))
          Some(s"${d.name} plans CartesianProduct:\n${exec.toString.take(600)}")
        else None
      val bnlj =
        if (bnljBySemantics(d.name)) None
        else {
          val bad = exec.collect { case j: BroadcastNestedLoopJoinExec => j }
            .flatMap { j =>
              val side =
                if (j.buildSide == BuildLeft) j.left else j.right
              maxRows(side) match {
                case Some(n) if n <= BnljBroadcastBound => None
                case bound => Some(
                  s"${d.name} plans a BroadcastNestedLoopJoin whose " +
                    s"broadcast side is not provably bounded " +
                    s"(bound=$bound):\n${side.toString.take(600)}")
              }
            }
          if (bad.isEmpty) None
          else Some(bad.mkString("\n---\n"))
        }
      cart.toSeq ++ bnlj.toSeq
    }
    assert(violations.isEmpty,
      s"${violations.size} plan violation(s):\n${violations.mkString("\n---\n")}")
  }

  test("scan_parquet projection reaches the reader (4-column ReadSchema)") {
    val p = plan("scan_parquet")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_shipdate"),
      s"projection not pruned: $read")
  }

  test("last_state aggregates without a window sort (associative struct-max)") {
    val p = plan("last_state")
    assert(!p.contains("Window"), "last_state should not need WindowExec")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("subquery_scalar decorrelates to an aggregate + join (no per-row subquery)") {
    val p = plan("subquery_scalar")
    assert(p.contains("HashAggregate"), s"expected decorrelated aggregate:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"correlated subquery degenerated to a loop join:\n${p.take(800)}")
  }

  test("join_range under count(): sort eliminated, hash join on the equi key") {
    // r2 bench flagged join_range as a 2x regression with unchanged
    // code. PlanAudit showed the count() plan (what Bench times) is
    // correct — equi hash join on orderkey with the interval range as
    // residual condition, the oracle-only global sort optimized away,
    // scans pruned to 2 columns each — so the slow sample was run
    // variance, not plan shape. This pins that plan.
    val counted = Registry.byName("join_range").build(spark, sf)
      .groupBy().count()
    val p = counted.queryExecution.executedPlan.toString
    assert(!p.contains("Sort "), s"global sort not eliminated under count():\n${p.take(800)}")
    assert(p.contains("HashJoin"), s"expected a hash join on the equi key:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"range join degenerated to a loop join:\n${p.take(800)}")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!read.contains("l_extendedprice"), s"column pruning lost: $read")
  }

  test("set_except_all / set_intersect_all rewrite to ReplicateRows, not a join of duplicates") {
    // the scaleNote's claim: multiset set-ops ship one row per
    // DISTINCT key (count aggregates) and re-expand survivors with
    // Generate(ReplicateRows) — if a refactor degraded this to raw
    // row-level processing the Generate disappears
    for (q <- Seq("set_except_all", "set_intersect_all")) {
      val p = plan(q)
      assert(p.contains("replicaterows".toLowerCase) ||
        p.toLowerCase.contains("replicaterows"),
        s"$q lost the ReplicateRows rewrite:\n${p.take(800)}")
    }
  }

  test("win_distinct_running runs both windows on ONE user_id exchange") {
    val p = plan("win_distinct_running")
    // flag window keys (user_id, event_type); running window keys
    // (user_id) — Spark satisfies the second from the first exchange,
    // so exactly one hash exchange appears (plus the output range sort)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected 1 hash exchange (shared by both windows), got $hashEx:\n${p.take(1200)}")
  }

  test("interval_coverage: window and aggregate share the user_id exchange") {
    val p = plan("interval_coverage")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected 1 hash exchange (window + agg on user_id), got $hashEx:\n${p.take(1200)}")
  }

  test("path_patterns tops out in TakeOrderedAndProject (no global sort of paths)") {
    val p = plan("path_patterns")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("cdc_apply broadcasts the change feed (snapshot never shuffles)") {
    val p = plan("cdc_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"update/delete feed must broadcast against the snapshot:\n${p.take(1200)}")
  }

  test("sample_consistent is map-only: the hash predicate runs inside the scan stage") {
    val p = plan("sample_consistent")
    // the operator's whole point: a pure per-row predicate — no hash
    // shuffle anywhere (the only exchange is the presentation sort's
    // range partitioning from the declared orderBy)
    assert(!p.contains("hashpartitioning"),
      s"sampling must not hash-shuffle:\n${p.take(1200)}")
    assert(p.contains("md5"), p.take(1200))
  }

  test("sql_tpch_q4's correlated EXISTS decorrelates to ONE semi join (no per-row subquery)") {
    val p = plan("sql_tpch_q4")
    assert(p.contains("LeftSemi"),
      s"EXISTS must plan as a semi join:\n${p.take(1200)}")
    // the value correlation (shipdate vs orderdate+60d) must ride the
    // join, not a nested-loop: no BroadcastNestedLoopJoin anywhere
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("sql_tpch_q16's NOT IN plans the null-aware single-column anti join") {
    val p = plan("sql_tpch_q16")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("expand") || p.contains("Expand") || p.contains("partial"),
      s"distinct-count must run two-phase:\n${p.take(1200)}")
  }

  test("sink_layout_hilbert: the square predicate pushes to the read-back scan") {
    // the write side's whole purpose is that these pushed range
    // filters can skip row groups via the curve-tightened x/y stats
    // (LayoutSinkSpec measures the skip; this pins the pushdown that
    // enables it)
    val p = plan("sink_layout_hilbert")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(1200))
    // the toString truncates the pushed list; the x bounds are visible
    // there, the y bounds in the DataFilters — both must reach the scan
    assert(p.contains("GreaterThanOrEqual(x,32"), p.take(1600))
    assert(p.contains("LessThanOrEqual(x,47"), p.take(1600))
    assert(p.contains("DataFilters: [") && p.contains("<= 79)"), p.take(1600))
  }

  test("sql_tpch_q17's correlated scalar subquery decorrelates to ONE aggregate-join") {
    val p = plan("sql_tpch_q17")
    // RewriteCorrelatedScalarSubquery: the per-part average is one
    // partial_avg aggregate over lineitem grouped by l_partkey,
    // joined back on the equi key — never a per-row inner query
    assert(p.contains("partial_avg") || p.contains("avg("),
      s"expected the decorrelated per-part aggregate:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"scalar subquery degenerated to a loop join:\n${p.take(1500)}")
    // no in-expression scalar-subquery execution survives optimization
    assert(!p.contains("scalar-subquery"),
      s"per-row scalar subquery survived decorrelation:\n${p.take(1500)}")
  }

  test("sql_lateral's correlated ORDER BY+LIMIT decorrelates to one window, never a loop") {
    val p = plan("sql_lateral")
    // DecorrelateInnerQuery must rewrite the per-row top-2 into ONE
    // row_number window over orders partitioned by the correlation
    // key, joined back — a naive engine nested-loops |outer| probes
    assert(p.contains("Window"),
      s"expected the decorrelated rank window:\n${p.take(1500)}")
    assert(p.contains("row_number"),
      s"expected row_number in the rank window:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LATERAL degenerated to a loop join:\n${p.take(1500)}")
  }

  test("sql_tpch_q21's double correlation decorrelates to one semi + one anti join") {
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi"),
      s"EXISTS must plan as a semi join:\n${p.take(1500)}")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must plan as an anti join:\n${p.take(1500)}")
    // the two-table outer reference (l1.l_orderkey + o_orderdate)
    // must ride the anti join's condition, never a loop join
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlation degenerated to a loop join:\n${p.take(1500)}")
  }

  test("sql_tpch_q13 keeps the outer join outer and pushes the ON filter to orders") {
    val p = plan("sql_tpch_q13")
    // the ON-clause predicate filters the null-producing side only,
    // so it pushes to the orders scan while the join stays LeftOuter
    // (a WHERE would have collapsed it to Inner and dropped
    // zero-order customers)
    assert(p.contains("LeftOuter"),
      s"outer join must survive planning:\n${p.take(1500)}")
    assert(p.contains("1-URGENT"),
      s"ON filter must prune orders before the join:\n${p.take(1500)}")
  }

  test("sql_tpch_q19 extracts the equi key from the OR join condition (hash join, no loop)") {
    val p = plan("sql_tpch_q19")
    assert(p.contains("HashJoin"),
      s"expected a hash join on the extracted p_partkey = l_partkey:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunctive join degenerated to a loop join:\n${p.take(1500)}")
  }

  test("sql_cte_setop plans both set ops as distinct-key joins/aggregates") {
    val p = plan("sql_cte_setop")
    // EXCEPT → left-anti, INTERSECT → left-semi, each over
    // aggregated (distinct) keys — never row-level scans
    assert(p.contains("LeftAnti"), s"EXCEPT must plan anti:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"), s"INTERSECT must plan semi:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"), p.take(1500))
  }

  test("sql_tpch_q22: one-shot scalar threshold + anti join (no per-row subqueries)") {
    val p = plan("sql_tpch_q22")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must plan as an anti join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }
}
