package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2/§4.3): the plans must stay
  * the ones that scale — filters/projections reaching the parquet scan,
  * dimension joins broadcasting, top-k fusing, aggregates running
  * partial/final. A regression here is a 100 TB performance bug even
  * when results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("p2 filter is pushed into the parquet scan") {
    val p = plan("p2_filter_where")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThan(l_quantity") || p.contains("IsNotNull(l_quantity")), p)
  }

  test("p2 projection prunes to the 3 selected columns at the scan") {
    val p = plan("p2_filter_where")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), read)
  }

  test("j1 dimension joins broadcast (no shuffle of the fact table for dims)") {
    val p = plan("j1_inner_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("o4 top-k fuses to TakeOrderedAndProject (no total sort)") {
    val p = plan("o4_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortExec"), p)
  }

  test("q1 aggregation is partial+final (map-side combine)") {
    val p = plan("q1_pricing")
    assert(p.contains("partial_") || p.contains("HashAggregate"), p)
    // two HashAggregate levels: partial then final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q1 runs inside whole-stage codegen") {
    // AQE: codegen spans only materialize in the final plan, so execute
    val df = SparkEntry.queries("q1_pricing")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("q14 broadcasts part and pushes the shipdate range to the scan") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), p)
  }

  test("q2 correlated min decorrelates (aggregate+join, no per-row subquery)") {
    val p = plan("q2_min_cost_supp")
    // Catalyst must rewrite the correlated scalar MIN into a grouped
    // aggregate joined on l_partkey — a surviving per-row subquery or
    // cartesian is the 100 TB cliff this pin guards
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p) // supplier/part dims broadcast
  }

  test("nn_cosine_topk broadcasts the query side (no candidate shuffle)") {
    val p = plan("nn_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("asof join runs the custom exec, not a join explosion") {
    // the DataFrame queries and the served oracle texts (the marked ON
    // that GraftExtensions resolves) plan the same operator
    val gw = graft.engine.Gateway.open(spark, sf)
    val plans = Seq("j7_asof_join", "j7_asof_inner").map(plan) ++
      Seq("j7_asof_join", "ev_attribution").map(n =>
        gw.sql(SparkEntry.oracleSql(n)).queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(p.contains("AsOfJoin"), p) // graft.plans.AsOfJoinExec
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop") &&
        !p.contains("Window"), p)
    }
  }

  test("served ASOF shuffles only the right-side columns the query reads") {
    // the right exchange carries the key, ts and the two payload columns
    // the SELECT reads, as in the DataFrame twin — not all six of events
    val gw = graft.engine.Gateway.open(spark, sf)
    val stages = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def rightExchangeWidth(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val asof = stages.collectFirst(df.queryExecution.executedPlan) {
        case a: graft.plans.AsOfJoinExec => a
      }.get
      stages.collectFirst(asof.right) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.output.size
      }.get
    }
    val served = rightExchangeWidth(gw.sql(SparkEntry.oracleSql("j7_asof_join")))
    val twin = rightExchangeWidth(SparkEntry.queries("j7_asof_join")(spark, sf))
    assert((served, twin) == ((4, 4)))
  }

  test("dd_exact is a single shuffle (window on digest), no self-join") {
    val df = SparkEntry.queries("dd_exact")(spark, sf)
    df.collect()
    // AQE toString repeats the plan (initial + final): count only final
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), p)
    // exchanges: one for the window partitioning, one for the final sort
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("ev_sessionize: both windows and the session rollup share ONE hash shuffle") {
    val df = SparkEntry.queries("ev_sessionize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one hashpartitioning(user_id) serves lag + running-sum + groupBy
    // (user_id alone satisfies the (user_id, session_id) clustering);
    // the other two exchanges are the output tail: the r18 preSort hash
    // exchange (so the final ORDER BY's range sampling re-reads shuffle
    // files instead of re-running both windows + the rollup) and the
    // range partitioning itself
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("pipe_funnel: dedup window shuffles the digest, report broadcasts") {
    val df = SparkEntry.queries("pipe_funnel")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the window partition key is the md5 digest, never the text column
    val winLine = p.linesIterator.find(_.contains("row_number()")).getOrElse("")
    assert(winLine.contains("_w0"), winLine) // projected md5, not clean/text
    assert(p.contains("BroadcastHashJoin"), p) // 5-row report side
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("pipe_embed_dedup: candidates shuffle on the bucket, no corpus self-cross") {
    val df = SparkEntry.queries("pipe_embed_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the only pair generator is the banded equi-join (hot-bucket
    // capped); the corpus must never self-cross
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p) // CacheOnce'd cand/verified reused
  }

  test("pipe_compact: no cartesian pair explosion, cached relations reused") {
    val df = SparkEntry.queries("pipe_compact")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // candidate pairs come from the banded equi-join, never a cross
    // product of documents (the guarantee the LSH layout exists to
    // provide) — the report's one-row aggregate joins broadcast (BNLJ),
    // they never plan as CartesianProduct
    assert(!p.contains("CartesianProduct"), p)
    // exact survivors + shingles + bands are CacheOnce'd (multi-consumer)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q18: one lineitem pass — the HAVING aggregate is the output total; top-k fused") {
    val p = plan("q18_large_orders")
    // r11: the semi-join + re-scan + re-aggregate shape cost a second
    // 60M-row lineitem shuffle (6.2 GB of tier-2 spill); the qualifying
    // totals join back 1:1 instead — lineitem must appear ONCE
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the heavy-hitter aggregate is partial+final (map-side combine)
    assert(p.contains("partial_sum"), p)
  }

  test("vector dot/cosine compile into whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.table("embeddings")
      .select(graft.engine.GraftColumns.cosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("w6 GROUPS emulation has no unpartitioned row-scale window") {
    // the single-partition cliff: a WindowExec whose partition spec is
    // empty processes ALL rows on one task. w6's dense_rank phase must be
    // partitioned (by year) — only tiny aggregate relations may be global,
    // and those run through joins, not windows.
    val df = SparkEntry.queries("w6_groups_frame")(spark, sf)
    df.collect()
    // AQE hides children: AdaptiveSparkPlanExec and materialized
    // QueryStageExec are leaves — descend into them explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }).flatMap(flatten)
    val windows = flatten(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a window for the dense_rank phase")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned WindowExec in w6 plan: $w")
    }
  }

  test("j10 positional join stays in the SQL layer (no RDD zip round-trip)") {
    val df = SparkEntry.queries("j10_positional_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ExistingRDD"), s"RDD scan leaked into j10 plan:\n$p")
    assert(p.contains("Window"), p)
  }

  test("nn_ivf_topk plan build launches no Spark job (no driver count)") {
    // index build (k-means) is offline by design — warm the memo first
    // so the assertion measures the ONLINE query path only
    SparkEntry.queries("nn_ivf_topk")(spark, sf)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = SparkEntry.queries("nn_ivf_topk")(spark, sf)
      df.queryExecution.executedPlan // force full planning
      Thread.sleep(200) // listener events are async; let the bus drain
      assert(jobs == 0, s"plan construction ran $jobs job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("band join shuffles on the bucket key, no nested loop") {
    val df = SparkEntry.queries("j6_band_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("tx_decontaminate probes a broadcast benchmark set, corpus never self-joins") {
    val df = SparkEntry.queries("tx_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the benchmark shingle set is the small side by construction —
    // the corpus-side probe must be a broadcast hash join, never a
    // shuffle of the corpus shingles against themselves
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipe_domain_mix: window and report share ONE lang shuffle, text never moves") {
    val df = SparkEntry.queries("pipe_domain_mix")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // hashpartitioning(lang) serves both the running-total window and
    // the groupBy report; the only other exchange is the final sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    // the shuffled projection carries metadata columns only — the
    // document text is pruned before the exchange
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("source"), read) // pruned to doc_id/lang/text
  }

  test("dd_components: closure joins stay on equi-keys, no cartesian") {
    val df = SparkEntry.queries("dd_components")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tx_span_dedup: grams shuffle as digests, spans fold per-row, no cartesian") {
    val df = SparkEntry.queries("tx_span_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // the only generator is the gram-position explode (printed once per
    // InMemoryTableScan site of the cached gram relation); the
    // window→token expansion and the span/kept algebra are per-row
    // higher-order functions, never a second explode
    val gens = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.nonEmpty && gens.forall(_.contains("explode(sequence(1,")), p)
    // the cached gram relation is (doc_id, i, h) — token arrays pruned
    // before any exchange
    assert(!p.linesIterator.exists(l =>
      l.contains("InMemoryTableScan") && l.contains("toks")), p)
  }

  test("pipe_span_clean: report collapses the stitch — no presentation sort") {
    val df = SparkEntry.queries("pipe_span_clean")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
    // the span stage's per-doc orderBy must be eliminated under the
    // aggregate (a surviving range exchange would global-sort 5M rows
    // to feed a 1-row report)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("tx_repetition is a pure map: no window, no bigram shuffle") {
    // the TopBigram kernel keeps the whole signal per-row — the only
    // exchange is the presentation sort. A Window or a second Exchange
    // here means the explode+groupBy formulation regressed back in.
    val df = SparkEntry.queries("tx_repetition")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("Generate"), p) // no explode of bigrams
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("tx_entropy is a pure map: no per-char explode, no shuffle") {
    // the CharStats kernel keeps the whole signal per-row — the
    // declarative oracle spelling explodes one row per CHARACTER; a
    // Generate or hash exchange here means it regressed back in.
    val df = SparkEntry.queries("tx_entropy")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("Generate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("a10: sketch and exact distinct share the scan, single aggregate tree") {
    val df = SparkEntry.queries("a10_approx_distinct")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // partial+final aggregation (map-side combine) and one scan only
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1, p)
  }

  test("ev_funnel: all three stage windows and the user rollup share ONE shuffle") {
    val df = SparkEntry.queries("ev_funnel")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one hashpartitioning(user_id) serves t1/t2/t3 windows AND the
    // groupBy(user_id); the only other exchange is the final one-row agg
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tx_tfidf_terms: two-stage top-k, no per-language global sort of the vocab") {
    val df = SparkEntry.queries("tx_tfidf_terms")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // bucket-local row_number prunes to ≤10·32 rows BEFORE the per-lang
    // window — two Window operators, and the corpus-sized relation is
    // never range/hash-partitioned on lang alone ahead of the prune
    assert("row_number".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ev_retention: per-user pre-collapse, no COUNT(DISTINCT) expand") {
    val df = SparkEntry.queries("ev_retention")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the rollup input is one row per (cohort, user) with two booleans;
    // a distinct-aggregate Expand would triple it (877 MB spill at the
    // 100× tier before this shape)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tx_bigram_lm: distributed model joins, no cartesian, scratch cached once") {
    val df = SparkEntry.queries("tx_bigram_lm")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the vocab-size scalar rides a broadcast (1 row); the bigram/term
    // model joins are key-partitioned — nothing nested-loops the corpus
    assert(!p.contains("CartesianProduct"), p)
    // CacheOnce'd bigram stream feeds both the count agg and the score
    // join without recomputing the explode
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q6 collapses to a pushed-filter scan + partial/final agg, no joins") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), p)
    assert(p.contains("l_discount") && p.contains("l_quantity"), p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q17 correlated scalar avg decorrelates (grouped agg + join)") {
    val p = plan("q17_small_qty_revenue")
    // the per-part average must become a grouped aggregate joined back
    // on l_partkey — a surviving per-row subquery re-scans lineitem per
    // row, the canonical decorrelation cliff
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 3, p) // inner avg + outer sum
  }

  test("q19 disjunctive predicate still drives the equi-join (no nested loop)") {
    val p = plan("q19_disjunctive")
    // the common p_partkey = l_partkey conjunct must be extracted as the
    // join key — the OR-of-ANDs evaluates as a post-join filter
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("ev_anomaly: per-type stats broadcast back onto the daily relation") {
    val df = SparkEntry.queries("ev_anomaly")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the |types|-row moment aggregate must broadcast — a sort-merge
    // join would re-shuffle the daily relation for a handful of rows
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("pipe_mix_sample: map-side partial group-limit prunes before the stratum shuffle") {
    val df = SparkEntry.queries("pipe_mix_sample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the two-phase top-k: Catalyst's WindowGroupLimit(Partial) must sit
    // below the lang exchange (each map forwards ≤ cap rows per stratum
    // — the skew bound), with the Final limit + window above it
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(p.contains("Final"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("nn_label_knn: chunk-blocked cell join, codegen top-k agg, no pair sort") {
    val df = SparkEntry.queries("nn_label_knn")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the quadratic enumeration must ride the (label, chunk) equi-join
    // — C× more shuffle keys than cells, per-task buffering bounded by
    // cell/C; an unkeyed nested loop is the 100 TB cliff
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the per-vector top-3 is the fixed-width TopKEdgeAgg inside
    // HashAggregate — a Window/WindowGroupLimit here means the pair
    // relation is being SORTED again (10.5 GB of tier-2 spill when it
    // was); the partial aggregate runs map-side in the join partitions
    assert(p.contains("topk_edge"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "), p)
    // exactly the two pair-side repartitions + the final-agg exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("nn_label_knn_ivf: projection assignment, codegen top-k agg, no pair sort") {
    val df = SparkEntry.queries("nn_label_knn_ivf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // list assignment is the codegen'd IvfNearest projection — no
    // corpus × centroid join may appear
    assert(p.contains("ivf_nearest"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // same reduction shape as the exact path: TopKEdgeAgg, no pair sort
    assert(p.contains("topk_edge"), p)
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("q7: shipdate pushed to the lineitem scan, nations/supplier broadcast, partial agg") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), p)
    // both nation copies + supplier build broadcast-hash sides; the
    // pair filter prunes each nation SCAN to the two names (Catalyst
    // derives it from the post-join disjunction)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("NATION_3") && p.contains("NATION_7"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q13: double aggregation is partial+final at BOTH levels, outer join keyed") {
    val p = plan("q13_cust_distribution")
    // level 1 groups on c_custkey, level 2 on the count itself — four
    // HashAggregates total (partial+final each); a single-level plan
    // would funnel every customer row through one task at scale
    assert("HashAggregate".r.findAllIn(p).size >= 3, p)
    assert(p.contains("LeftOuter"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q15: the max-revenue scalar broadcasts back (no re-shuffle of the CTE)") {
    val df = SparkEntry.queries("q15_top_supplier")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // revenue0's one-row max joins back via broadcast; supplier dim
    // broadcasts; the per-supplier aggregate is partial+final
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("round-9 llm ops: keep_longest is one window shuffle; train_split one agg; source_stats broadcasts top-lang back") {
    val kl = plan("dd_keep_longest")
    // cluster ranking + member count share ONE ck-keyed exchange
    assert("Exchange hashpartitioning\\(ck".r.findAllIn(kl).size == 1, kl)
    assert(!kl.contains("CartesianProduct"), kl)
    val ts = plan("pipe_train_split")
    assert(ts.contains("partial_count") || ts.contains("partial_sum"), ts)
    assert(!ts.contains("Join"), ts) // pure projection + agg
    val df = SparkEntry.queries("tx_source_stats")(spark, sf)
    df.collect()
    val ss = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(ss.contains("partial_"), ss)
    // the 20-row top-lang relation joins back broadcast, never by
    // shuffling the stats side
    assert(ss.contains("BroadcastHashJoin"), ss)
  }

  test("q8: part filter prunes via broadcast semi-shape, conditional agg partial+final") {
    val p = plan("q8_market_share")
    // the STANDARD-part keys broadcast onto lineitem BEFORE the wide
    // rollup; date range pushes to the orders scan; one partial agg
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q22: anti join stays keyed; the one-row threshold broadcasts") {
    val df = SparkEntry.queries("q22_idle_rich_customers")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("LeftAnti"), p)
    // the threshold aggregate is one row: its join to customer must be
    // a broadcast nested-loop/cross of a SINGLE row (cheap), never a
    // shuffle of customer against it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q9: part prune broadcasts onto lineitem; profit agg partial+final; no cartesian") {
    val p = plan("q9_product_profit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q11: HAVING's global scalar plans as a one-time subquery, not per group") {
    val df = SparkEntry.queries("q11_important_stock")(spark, sf)
    df.collect()
    val qe = df.queryExecution
    val p = qe.executedPlan.toString.split("== Initial Plan ==")(0)
    // the threshold is a scalar subquery evaluated once...
    assert(qe.optimizedPlan.toString.contains("scalar-subquery"), qe.optimizedPlan)
    // ...and the grouped side aggregates partial+final with broadcast dims
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q12: shipdate range pushed to the lineitem scan; both CASE sums in ONE agg pass") {
    val p = plan("q12_shipmode_priority")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), p)
    // one partial/final pair computes both conditional counts — a
    // second aggregate would mean two passes over the joined slice
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q16: NOT IN plans as an anti join on the broadcast supplier side") {
    val p = plan("q16_parts_supplier_cnt")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q20: both INs collapse to semi joins around the grouped HAVING — no re-execution") {
    val p = plan("q20_promotion_suppliers")
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  /** CLASS guard for the forced-broadcast bug family (round-12 verdict):
    * a `broadcast()` hint OVERRIDES the size threshold, so hinting an
    * SF-proportional relation is a latent 100 TB OOM even when every
    * measured tier is fine. This spec walks EVERY declared query's
    * analyzed plan and fails if a broadcast hint wraps a subtree that
    * is not provably bounded. "Provably bounded" =
    *  - leaf relations only from fixed-cardinality tables (nation 25,
    *    region 5 — set by the schema, not the scale factor), or
    *  - the subtree passes through an Aggregate / Limit / Sample
    *    (output reduced to group/limit cardinality), or
    *  - a Filter bounds a dense unique key by literals (vec_id < 5), or
    *  - literal leaves (LocalRelation / OneRowRelation / Range), or
    *  - the `__measured_broadcast__` alias — the contract marker that
    *    the hint was applied only after a runtime size measurement
    *    against autoBroadcastJoinThreshold (TextOps.contaminationHits).
    * Anything else — in particular `broadcast(s.table("part"))` — fails
    * here at fixture scale, where stats alone could never catch it.
    */
  test("no declared query force-broadcasts an SF-proportional relation") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.functions.col

    val boundedTables = Set("nation", "region")
    // dense unique row keys: a literal comparison caps the row count
    val keyCols = Set("vec_id", "doc_id")

    def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case other => other
    }
    def isLit(e: Expression): Boolean = stripCast(e).isInstanceOf[Literal]
    def keyAttr(e: Expression): Boolean = stripCast(e) match {
      case a: AttributeReference => keyCols(a.name)
      case _ => false
    }
    def keyBounding(cond: Expression): Boolean = cond.exists {
      case LessThan(a, l) => keyAttr(a) && isLit(l)
      case LessThanOrEqual(a, l) => keyAttr(a) && isLit(l)
      case EqualTo(a, l) => (keyAttr(a) && isLit(l)) || (keyAttr(l) && isLit(a))
      case In(a, vs) => keyAttr(a) && vs.forall(isLit)
      case _ => false
    }

    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: Sample => true
      case sa: SubqueryAlias if boundedTables(sa.alias) => true
      case sa: SubqueryAlias if sa.alias.startsWith("__measured_broadcast") => true
      case f: Filter if keyBounding(f.condition) => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case _: Range => true
      case l: LeafNode => false // a base-table scan, never neutralized
      case other => other.children.forall(bounded)
    }

    def brHints(p: LogicalPlan): Seq[ResolvedHint] = p.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }

    // self-check: the detector must FLAG a blind hint on an
    // SF-proportional dim and must SEE hints at all — otherwise the
    // sweep below would pass vacuously
    graft.engine.Tables.register(spark, sf)
    val blind = brHints(org.apache.spark.sql.functions
      .broadcast(spark.table("part")).join(
        spark.table("lineitem"), col("p_partkey") === col("l_partkey"))
      .queryExecution.analyzed)
    assert(blind.nonEmpty && blind.forall(h => !bounded(h.child)),
      "detector failed to flag a blind broadcast(part) hint")
    val fine = brHints(org.apache.spark.sql.functions
      .broadcast(spark.table("nation")).join(
        spark.table("supplier"), col("n_nationkey") === col("s_nationkey"))
      .queryExecution.analyzed)
    assert(fine.nonEmpty && fine.forall(h => bounded(h.child)),
      "detector wrongly flags the bounded nation hint")

    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    var hintsSeen = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      val analyzed = fn(spark, sf).queryExecution.analyzed
      brHints(analyzed).foreach { h =>
        hintsSeen += 1
        if (!bounded(h.child))
          offenders += s"$name force-broadcasts an unbounded relation:\n${h.child.treeString}"
      }
    }
    // the suite deliberately hints nation/region + one-row scalars in
    // many queries; seeing none would mean the walk itself broke
    assert(hintsSeen >= 10, s"only $hintsSeen broadcast hints seen — walk broken?")
    assert(offenders.isEmpty, offenders.mkString("\n---\n"))
  }

  test("q21: single-pass rewrite — lineitem scanned once, window reuses the join partitioning") {
    val p = plan("q21_waiting_suppliers")
    // the r10 semi+anti plan sort-merged THREE lineitem scans (8.8 GB
    // tier-2 spill); the rewrite reads the fact table exactly once
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"), p)
    // per-order counts come from a Window over the GROUPED relation,
    // and both reuse the join's l_orderkey hash partitioning: no
    // exchange may appear between the join and the window
    assert(p.contains("Window"), p)
    // lineitem + orders join inputs + the final s_name agg = 3; a 4th
    // would mean the groupBy or window re-shuffled the joined relation
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // ---- per-statement fixed cost: literal-stable codegen ----------------

  private lazy val gw = graft.engine.Gateway.open(spark, sf)

  /** Rows of `q` and the Janino compile time its run added. */
  private def compiled(q: String): (Seq[org.apache.spark.sql.Row], Long) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val before = CodeGenerator.compileTime
    val rows = gw.sql(q).collect().toSeq
    (rows, CodeGenerator.compileTime - before)
  }

  private def paramLiterals(p: org.apache.spark.sql.execution.SparkPlan) =
    p.collect { case f: org.apache.spark.sql.execution.FilterExec =>
      f.condition.collect { case x: graft.engine.expressions.ParamLiteral => x }
    }.flatten

  test("statements that differ only in a filter constant reuse one compiled class") {
    val orders = gw.sql("SELECT * FROM orders").collect().toSeq
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("o_orderkey")
    val keys = orders.map(key).sorted
    val point = "SELECT * FROM orders WHERE o_orderkey = %d"
    val range = "SELECT * FROM orders WHERE o_orderkey >= %d ORDER BY o_orderkey LIMIT 5"
    for (k <- Seq(keys(3), keys(10), keys(20))) {
      val (rows, _) = compiled(point.format(k))
      assert(rows == orders.filter(key(_) == k), k)
      val (top, _) = compiled(range.format(k))
      assert(top == orders.filter(key(_) >= k).sortBy(key).take(5), k)
    }
    val k = keys(30)
    val (rows, pointMs) = compiled(point.format(k))
    val (top, rangeMs) = compiled(range.format(k))
    assert(rows == orders.filter(key(_) == k) && top == orders.filter(key(_) >= k).sortBy(key).take(5))
    assert((pointMs, rangeMs) == ((0L, 0L)))
    assert(paramLiterals(gw.sql(point.format(k)).queryExecution.executedPlan).nonEmpty)

    // the nation-region aggregate is an AQE plan: its stages are planned
    // one at a time, and the rule runs in each
    val nation = gw.sql("SELECT n_nationkey, n_regionkey FROM nation").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    val region = gw.sql("SELECT r_regionkey, r_name FROM region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    val agg = "SELECT r_name, count(*) AS nations, max(n_nationkey) AS max_key " +
      "FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "WHERE n_nationkey >= %d GROUP BY r_name ORDER BY r_name"
    def expected(k: Long) = nation.filter(_._1 >= k).groupBy(n => region(n._2)).toSeq
      .sortBy(_._1).map { case (r, ns) => Seq(r, ns.length.toLong, ns.map(_._1).max) }
    def answer(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => Seq(r.getString(0), r.getLong(1), r.get(2).toString.toLong))
    assert(gw.sql(agg.format(3)).queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    for (k <- Seq(3, 7)) assert(answer(compiled(agg.format(k))._1) == expected(k), k)
    val (aggRows, aggMs) = compiled(agg.format(11))
    assert(answer(aggRows) == expected(11) && aggMs == 0L)
  }

  test("ParamLiteral prints like Literal: a point lookup's executed plan text is unchanged") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.engine.expressions.ParamLiteral
    val p = gw.sql("SELECT * FROM orders WHERE o_orderkey = 42").queryExecution.executedPlan
    assert(paramLiterals(p).map(_.toString) == Seq("42"))
    val asLiterals = p.transformAllExpressions { case x: ParamLiteral => Literal(x.value, x.dataType) }
    assert(paramLiterals(asLiterals).isEmpty)
    assert(p.toString == asLiterals.toString)
    assert(p.toString.contains("= 42)"), p)
    // and compares like Literal: NaN equals NaN
    val nan = ParamLiteral(Double.NaN, org.apache.spark.sql.types.DoubleType)
    assert(nan == nan.copy() && nan.hashCode == nan.copy().hashCode)
  }

  test("ParamLiteral covers exactly the types Literal writes into generated source") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.types._
    val types = Seq(BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
      DoubleType, DateType, TimestampType, TimestampNTZType, YearMonthIntervalType(),
      DayTimeIntervalType(), TimeType(6), StringType, DecimalType(10, 2), BinaryType,
      CalendarIntervalType)
    for (t <- types) {
      val ctx = new CodegenContext
      Literal.default(t).genCode(ctx)
      assert(graft.engine.expressions.ParamLiteral.inlinedByLiteral(t) == ctx.references.isEmpty, t)
    }
  }

  test("ParamLiteral filters answer like Literal at the edge values, with and without codegen") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    val s = spark.newSession()
    // FilterExec alone decides: no parquet row-group skipping
    s.conf.set("spark.sql.parquet.filterPushdown", "false")
    val date = Seq("1970-01-01", "2024-02-29", "2024-03-01", "1999-12-31", "2100-01-01")
      .map(java.sql.Date.valueOf)
    val ts = (1 to 5).map(i => java.sql.Timestamp.valueOf(s"2024-01-0$i 10:00:00.123456"))
    val ntz = (1 to 5).map(i => java.time.LocalDateTime.of(2024, 1, i, 10, 0))
    val cols = Seq[(Int, Long, Int, Double, Float, Byte, Short, Boolean)](
      (0, Long.MinValue, Int.MinValue, Double.NaN, Float.NaN, Byte.MinValue, Short.MinValue, true),
      (1, 0L, 0, -0.0, -0.0f, 0, 0, false),
      (2, 42L, 42, 0.0, 1.5f, Byte.MaxValue, Short.MaxValue, false),
      (3, Long.MaxValue, Int.MaxValue, Double.PositiveInfinity, Float.PositiveInfinity, 1, 1, true),
      (4, -1L, -1, Double.NegativeInfinity, Float.NegativeInfinity, -1, -1, false))
    val rows = cols.map { case (id, l, i, d, f, t, sh, b) =>
      Row(id, l, i, d, f, t, sh, b, date(id), ts(id), ntz(id))
    }
    val schema = StructType(Seq("id" -> IntegerType, "l" -> LongType, "i" -> IntegerType,
      "d" -> DoubleType, "f" -> FloatType, "t" -> ByteType, "s" -> ShortType,
      "b" -> BooleanType, "dt" -> DateType, "ts" -> TimestampType, "ntz" -> TimestampNTZType)
      .map { case (n, t) => StructField(n, t) })
    val dir = java.nio.file.Files.createTempDirectory("paramlit").resolve("t").toString
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(dir)
    val t = s.read.parquet(dir)
    def c(cond: org.apache.spark.sql.Column, ids: Int*) = (cond, ids.toSet)
    val cases = Seq(
      c(col("l") === lit(Long.MinValue), 0), c(col("l") > lit(Long.MinValue), 1, 2, 3, 4),
      c(col("i") === lit(Int.MaxValue), 3), c(col("i") < lit(Int.MaxValue), 0, 1, 2, 4),
      c(col("d") === lit(Double.NaN), 0), c(col("d") === lit(-0.0), 1, 2),
      c(col("d") > lit(0.0), 0, 3), c(col("d") === lit(Double.PositiveInfinity), 3),
      c(col("d") < lit(Double.NegativeInfinity)),
      c(col("d") >= lit(Double.NegativeInfinity), 0, 1, 2, 3, 4),
      c(col("f") === lit(Float.NaN), 0), c(col("f") === lit(1.5f), 2),
      c(col("f") <=> lit(-0.0f), 1), c(col("f") < lit(Float.PositiveInfinity), 1, 2, 4),
      c(col("t") === lit(Byte.MinValue), 0), c(col("s") === lit(Short.MaxValue), 2),
      c(col("dt") === lit(date(1)), 1), c(col("dt") > lit(date(1)), 2, 4),
      c(col("ts") === lit(ts(1)), 1), c(col("ntz") <= lit(ntz(1)), 0, 1),
      c(col("b") > lit(false), 0, 3), c(col("l").isin(42L, Long.MaxValue, 7L), 2, 3),
      c(col("dt").isin(date(0), date(4)), 0, 4))
    val modes = Seq(Map.empty[String, String],
      Map("spark.sql.codegen.wholeStage" -> "false"),
      Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes; (cond, ids) <- cases) {
      mode.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val df = t.where(cond).select("id")
        withClue(s"$cond under $mode: ") {
          assert(paramLiterals(df.queryExecution.executedPlan).nonEmpty)
          assert(df.collect().map(_.getInt(0)).toSet == ids)
        }
      } finally mode.keys.foreach(s.conf.unset)
    }
  }
}
