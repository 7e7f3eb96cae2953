package graft

import org.apache.spark.sql.functions.{col, concat_ws, count, crc32, lit, sha2, sum, when}

/** Plan-quality invariants as regression tests: the physical plans that
  * make queries scale must not silently regress. Checks mirror the
  * `.explain` audit: filter pushdown, column pruning, broadcast dims,
  * top-k without global sort, equi-join (not nested-loop) for theta joins,
  * single shuffle for keyed dedup.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q02: filter is pushed into the parquet scan") {
    assert(plan("q02_filter").contains("PushedFilters: [IsNotNull(o_totalprice)"))
  }

  test("q01: scan reads only projected columns") {
    val p = plan("q01_scan")
    assert(p.contains("ReadSchema") && !p.contains("o_comment") &&
      !p.contains("l_comment"))
  }

  test("events: ts predicates push into the parquet scan") {
    // The µs-native read path maps events.ts straight to TimestampType
    // with no conversion expression in front of it, so a time-range
    // predicate prunes row groups AT THE SCAN — the property the legacy
    // raw-long DIV-1000 path (ns-era fixtures) had to give up. At 100 TB
    // this is the difference between reading a day and reading a month.
    val p = Tables(spark, sfDir, "events")
      .filter(col("ts") >= "2024-01-10" && col("event_type") === "click")
      .select(col("event_id"), col("ts"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts.*"),
      s"ts predicate not pushed:\n$p")
  }

  test("q04: dimension joins broadcast, never shuffle the fact side") {
    val p = plan("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q10/q19/q32: top-k compiles to TakeOrderedAndProject, no global sort") {
    assert(plan("q10_join_multiway").contains("TakeOrderedAndProject"))
    assert(plan("q19_topk").contains("TakeOrderedAndProject"))
    assert(plan("q32_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("q08: theta join keeps an equi-key (no cartesian/nested-loop)") {
    val p = plan("q08_join_theta")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q30: keyed dedup costs exactly one hash-partition shuffle") {
    val p = plan("q30_dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q33: language-ID profile join is a broadcast HASH join, not BNLJ") {
    val p = plan("q33_langid")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q44: as-of join is ONE key shuffle + window, never a join node") {
    val p = plan("q44_asof_join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q44_asof_split: data fill is keyed by (key, split); no NLJ anywhere") {
    val p = plan("q44_asof_split")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the data-sized window must carry the split in its partition key —
    // a key-only window over the union would re-create the hot-key task
    assert("hashpartitioning\\(user_id#\\d+L?, __split".r.findFirstIn(p)
      .isDefined, s"no (key, split)-keyed exchange:\n$p")
  }

  test("q31_neardup/q30_simhash: the dedup key expression is evaluated once") {
    // a NULL filter on the derived key would be pushed below its
    // projection, evaluating the tokenize-and-hash lineage twice
    Seq("q31_neardup" -> "md5(", "q30_simhash" -> "simhash(").foreach {
      case (q, key) =>
        val p = plan(q)
        assert(java.util.regex.Pattern.quote(key).r.findAllIn(p).size == 1,
          s"$q must evaluate $key exactly once:\n$p")
    }
  }

  test("q46: grouped top-k costs exactly one hash-partition shuffle") {
    val p = plan("q46_topk_grouped")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q45: range join stays an equi-join on (key, bucket), no NLJ") {
    val p = plan("q45_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q47: salted join stays an equi-join on (key, salt), no NLJ") {
    val p = plan("q47_salted_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q33_pack: packing shuffles by chunk, never one global window task") {
    // the only unpartitioned window must be over the per-chunk summary
    // (n_chunks rows), i.e. downstream of the groupBy — the row-level
    // window must carry a partition key
    val p = plan("q33_pack")
    assert(p.contains("Window ["), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1, p)
  }

  test("q48: CDC merge costs exactly one keyed shuffle (union + window)") {
    val p = plan("q48_upsert")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "MERGE must not degrade to a join: " + p)
  }

  test("q32_kmeans: assignment stage is join-free and window-free") {
    // centroids are embedded as literals (kmeansAssign), so the final
    // assignment must be a pure projection + sort — a Join or Window here
    // means the literal-centroid design regressed to a shuffle shape
    val p = plan("q32_kmeans")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q11: aggregation is partial+final inside whole-stage codegen") {
    val df = SparkEntry.queries("q11_agg_hash")(spark, sfDir)
    assert(plan("q11_agg_hash").contains("partial_sum"))
    // codegen spans only appear once AQE finalizes the plan; collect()
    // executes THIS QueryExecution (df.write would build a fresh one)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*("), s"no codegen spans:\n$finalPlan")
  }

  test("q54: weighted sample is TakeOrderedAndProject, no global sort/RNG") {
    val p = plan("q54_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sampling must not global-sort the corpus: " + p)
    assert(!p.toLowerCase.contains("rand"), "selection must be hash-derived: " + p)
  }

  test("q52: quantile thresholds broadcast back, data side never shuffles on the join") {
    val p = plan("q52_quantile_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q53: key skew totals broadcast one row, no unpartitioned window") {
    val p = plan("q53_key_skew")
    assert(!p.contains("Window"), "totals must not be a global window: " + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
        || p.contains("BroadcastHashJoin"),
      "expected the one-row totals to join via broadcast: " + p)
  }

  test("q56: mix interleave windows per source, never one global task") {
    val p = plan("q56_mix")
    // the keyed window shuffles by source; only the final declared-query
    // presentation ORDER BY may range-partition
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("q60: unpivot is a map-side Expand — no shuffle, no join") {
    val p = plan("q60_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), "melt must not join: " + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "melt must not hash-shuffle: " + p)
  }

  test("q61/q62: islands and SCD2 shuffle only on their key") {
    for (q <- Seq("q61_islands", "q62_scd2")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join: $p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must never funnel to one task: $p")
    }
  }

  test("q68: grouped kNN is a blocked equi-join, never cartesian/BNLJ") {
    val p = plan("q68_knn")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q66: triangle joins stay equi-keyed, never cartesian/BNLJ") {
    val p = plan("q66_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q64: URL canonicalization is per-row codegen + one keyed agg") {
    val p = plan("q64_url_dedup")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "canonical-URL dedup is one hash shuffle: " + p)
  }

  test("q85: EWMA is one keyed window shuffle — no join, no global sort task") {
    val p = plan("q85_ewma")
    assert(!p.contains("Join"), p)
    // the only unpartitioned exchange allowed is the final ORDER BY's range
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window [") ||
      p.contains("windowspecdefinition(user_id"), p)
  }

  test("q86: PSI totals broadcast one row back — bins never re-shuffle") {
    val p = plan("q86_psi")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p) // 1-row totals ride a broadcast
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q96/q98: interval-overlap and hierarchy joins stay equi-keyed") {
    for (q <- Seq("q96_overlap_join", "q98_hierarchy")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q99/q101/q103: keyed windows only — no join, no data-sized global sort") {
    for (q <- Seq("q99_sessionize", "q101_neg_sample", "q103_moving_median")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      // exactly one hash shuffle (the keyed window); the trailing range
      // exchange is the declared ORDER BY
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q shuffles more than its window key:\n$p")
    }
  }

  test("q104: skyline never becomes the O(n²) dominance self-join") {
    val p = plan("q104_skyline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // fixture tables are far below the production size gates — open them
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // a broadcast-able creation side skips the bloom (broadcast already
      // prunes); production dims at 100 TB are NOT broadcast-able — model
      // that by disabling size-based broadcast for this plan
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(spark, sfDir, "lineitem")
      val o = Tables(spark, sfDir, "orders")
        .where(col("o_totalprice") > 400000) // selective creation side
      val p = li.join(o.hint("MERGE"), li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("bloom"),
        "expected a runtime bloom filter on the lineitem scan:\n" + p)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("join strategy hints are honored (SHUFFLE_HASH / MERGE)") {
    val e = SparkEntry.queries("q01_scan")(spark, sfDir) // any lineitem frame
    val o = Tables(spark, sfDir, "orders")
    val sh = e.join(o.hint("SHUFFLE_HASH"),
      e("l_orderkey") === o("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sh.contains("ShuffledHashJoin"), sh)
    val sm = e.join(o.hint("MERGE"), e("l_orderkey") === o("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sm.contains("SortMergeJoin"), sm)
  }

  test("q114/q115/q116: bucketed pair generators stay equi-joins — " +
      "no cartesian, no nested loop") {
    Seq("q114_geo_cell", "q115_docsim", "q116_fifo").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join:\n$p")
    }
  }

  test("q113: both allocation windows share ONE keyed exchange") {
    val p = plan("q113_alloc")
    // join shuffles both inputs; the two window passes add exactly one
    // more hash exchange on the order key (they share partitioning)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"expected join(2) + shared window(1) exchanges, " +
      s"got $n:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q119/q133: window-identity queries never single-partition the " +
      "table (every window is keyed)") {
    Seq("q119_weighted_median", "q133_stock_clamp").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q moved the table through one task:\n$p")
    }
  }

  test("q145: BM25 corpus stats broadcast; top-k is TakeOrderedAndProject") {
    val p = plan("q145_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-20 must not be a full sort:\n$p")
    // the 1-row (N, avgdl) stats and the |queryTerms|-row df table join
    // as broadcasts — the corpus-sized side must never shuffle for them
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q146: RRF fuses bounded lists — no unbounded global window") {
    val p = plan("q146_rrf")
    // the only single-partition stages sit above the 100-row limits
    // (dense rank over a candidate list), never over the corpus: the
    // corpus-sized aggregations below remain hash-partitioned
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty, p)
  }

  test("q157: the shingle-distinct exchange is computed once and reused") {
    // The one-pass claim: `sizes` (per-source shingle counts) and `inter`
    // (pairwise intersection counts) both hang off the SAME distinct
    // (source, shingle) frame. If exchange reuse breaks, the corpus is
    // re-shingled and re-deduplicated twice — at 100 TB that doubles the
    // dominant explode+distinct cost. The physical plan must carry a
    // ReusedExchange pointing back at the distinct's shuffle.
    // AQE resolves reuse at runtime (the initial plan prints
    // isFinalPlan=false with plain Exchanges), so execute and read the
    // re-planned tree: reuse materializes as a ReusedQueryStage (or a
    // ReusedExchange when AQE is off) over the distinct's shuffle.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q157_corpus_sim")(spark, sfDir)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan
      .collectFirst { case a: AdaptiveSparkPlanExec => a }
      .map(_.executedPlan.toString)
      .getOrElse(df.queryExecution.executedPlan.toString)
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"),
      s"shingle-distinct exchange not reused — corpus shingled twice:\n$p")
    // the only nested-loop join allowed is the tiny distinct-sources pair
    // generator (bounded by |sources|², dozens of rows); the shingle
    // intersection itself must stay an equi-keyed aggregation
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q167/q165/q171: blocklist stays scan-shaped; stat tables broadcast") {
    // blocklist scoring is a pure per-row projection: the only exchange
    // allowed is the final presentation sort — a hash shuffle here means
    // the HOF filter fell out of codegen into an aggregate somewhere
    // (the AQE pre-execution printout shows no WholeStageCodegen spans,
    // so the scan shape — projections only, no hash exchange — is the
    // assertable property; the HOF filter is builtin-codegen by design)
    val pBlock = plan("q167_blocklist")
    assert(!pBlock.contains("Exchange hashpartitioning"),
      s"blocklist scoring must not shuffle:\n$pBlock")
    assert(!pBlock.contains("BatchEvalPython") && !pBlock.contains("UDF"),
      pBlock)
    // quantile-norm targets (10 rows) and IQR fences (|event_types| rows)
    // must come back over the fact side as broadcasts, never a sort-merge
    val pQn = plan("q165_quantile_norm")
    assert(pQn.contains("BroadcastHashJoin") && !pQn.contains("SortMergeJoin"),
      pQn)
    val pIqr = plan("q171_iqr_outliers")
    assert(pIqr.contains("BroadcastHashJoin") &&
      !pIqr.contains("SortMergeJoin"), pIqr)
  }

  test("AQE splits a skewed join partition (OptimizeSkewedJoin fires)") {
    // The hot-key commentary at q55_boilerplate / q70_pmi promises AQE's
    // skew-join handles stop-word-grade key skew; this proves the rewrite
    // actually fires under production-shaped skew. One key carries ~50k
    // wide rows (one shuffle partition far over factor x median); after
    // execution the ADAPTIVE final plan must carry the skew=true join —
    // thresholds are scaled to fixture bytes, the SHAPE is the production
    // one (AQE decides from runtime map-output sizes either way).
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // fixture-scale stand-ins for the 256MB/64MB production gates
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      // the small build side must not short-circuit to broadcast: at
      // corpus scale neither side of a stop-word join is broadcast-able
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // payload must be incompressible: skew detection reads COMPRESSED
      // map-output sizes, and a constant-pad payload deflates to nothing
      val skewed = spark.range(0, 51000).select(
        when(col("id") < 50000, lit(0L)).otherwise(col("id") - 49999)
          .as("k"),
        concat_ws("", sha2(col("id").cast("string"), 256),
          sha2((col("id") + 1).cast("string"), 256)).as("payload"))
      val dim = spark.range(0, 1200).select(col("id").as("k"),
        (col("id") * 7).as("attr"))
      // crc32(payload)+attr needs BOTH sides above the join, so pruning
      // cannot drop the wide payload below the shuffle (an earlier draft
      // aggregated attr only and the "skewed" side shuffled 8-byte keys)
      val joined = skewed.join(dim, "k")
        .agg(count(lit(1)).as("n"),
          sum(crc32(col("payload")) + col("attr")).as("s"))
      // collect(), not head(): head() runs a SEPARATE limit-1 plan and
      // leaves this QueryExecution un-executed (isFinalPlan=false forever)
      assert(joined.collect()(0).getLong(0) == 51000L)
      // the top-level toString keeps showing the initial plan; the
      // re-planned tree lives inside the adaptive node after execution
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val adaptive = joined.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      assert(adaptive.nonEmpty, "no AdaptiveSparkPlan node: " +
        joined.queryExecution.executedPlan.toString)
      val p = adaptive.get.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not rewrite the skewed exchange:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q178: winsor bounds broadcast back; fact side never re-shuffles") {
    val p = plan("q178_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side re-shuffled:\n$p")
  }

  test("q179: batch drift joins on the shingle key, no cartesian") {
    val p = plan("q179_batch_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"batch pairing must ride the shingle equi-join:\n$p")
  }

  test("q182: lang-mix profile join is a broadcast HASH join, not BNLJ") {
    val p = plan("q182_lang_mix")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q185: sweep-line window is DAY-keyed, never one global task") {
    // a Window node prints as `Window [exprs], [partition], [order]` —
    // an unpartitioned one has an empty middle list, which would move
    // every boundary point to a single task
    val p = plan("q185_concurrency")
    assert(p.contains("Window"), p)
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\], \\[.*"),
      s"unpartitioned window found:\n$p")
  }

  test("q194: source-pair JSD rides the tok equi-join, no cartesian") {
    // the pair frame must come from the tok-keyed join (|sources|²-bounded
    // fanout per token); a cartesian/BNLJ here is the doc×doc product the
    // design exists to avoid
    val p = plan("q194_jsd")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"JSD pairing must ride the tok equi-join:\n$p")
  }

  test("q197: median/MAD thresholds broadcast back to the part side") {
    val p = plan("q197_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side re-shuffled:\n$p")
  }

  test("q188: half top-20s are TakeOrderedAndProject, windows post-limit") {
    // the r13 shape ranked via row_number over the FULL vocab-sized
    // frequency table in one task; the fix cuts each half to 20 rows
    // with per-partition heaps FIRST. Both halves must compile to
    // TakeOrderedAndProject, and every (bounded, 20-row) rank window
    // must sit ABOVE its half's TakeOrderedAndProject in the tree —
    // i.e. no Window may appear after the LAST TakeOrderedAndProject,
    // which is where a vocab-sized window input would print
    val p = plan("q188_rank_churn")
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2,
      s"both half top-20s must be TakeOrderedAndProject:\n$p")
    val lastTop = p.lastIndexOf("TakeOrderedAndProject")
    assert(p.indexOf("Window", lastTop) < 0,
      s"a Window consumes pre-limit (vocab-sized) input:\n$p")
  }

  test("q219/q220: series top-k is TakeOrderedAndProject; day windows only") {
    // the drawdown/CUSUM scans may window ONLY the calendar-bounded
    // daily rollup; their final cut must be per-partition heaps, never a
    // global sort of the ranked frame
    Seq("q219_drawdown", "q220_cusum").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.matches("(?s).*\\bSort \\[[^\\]]*\\], true,.*") ||
        !p.contains("GlobalLimit"), s"$q global sort:\n$p")
    }
  }

  test("q214: lag pairs ride the rn equi-join with a broadcast lag list") {
    // the 3-row lag list broadcasts (BNLJ over 3 rows is the cheap and
    // intended shape); the daily×daily pairing itself must be an
    // EQUI-join on rn, never a cartesian of the day frame with itself
    val p = plan("q214_acf")
    assert(!p.contains("CartesianProduct"), s"day-frame cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"rn pairing must be an equi-join:\n$p")
  }

  test("q217: per-customer trend is pure keyed aggregation — no window") {
    val p = plan("q217_cust_trend")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q226: flow matrix — dims broadcast, facts equi-join, no BNLJ") {
    val p = plan("q226_nation_flow")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"non-equi join in flow matrix:\n$p")
  }

  test("q227: cross-source dup pairs ride the fingerprint equi-join") {
    val p = plan("q227_cross_source_dups")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dup pairing must be the h equi-join:\n$p")
  }

  test("q198: both KS ECDFs ride the chunked prefix-scan") {
    // the data-sized cumulative counts must run as __chunk-PARTITIONED
    // windows (prefixSumExclusive's shape: the only unpartitioned window
    // it owns is over the one-row-per-chunk carry frame); a plan without
    // any __chunk-keyed window means the ECDF fell back to one global
    // task over all distinct order totals
    val p = plan("q198_ks_test")
    assert(p.contains("partitionby(__chunk") ||
      p.matches("(?s).*Window \\[[^\\]]*\\], \\[__chunk[^\\]]*\\], \\[.*"),
      s"no __chunk-partitioned window — chunked scan missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q235: RFM buckets are scan-shaped — broadcast thresholds, no window") {
    // the nine quartile thresholds must come back as a broadcast 1-row
    // frame; a global ntile/row_number window over the customer set
    // would single-partition it at scale
    val p = plan("q235_rfm")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
  }

  test("q236: dup trend rides the fingerprint equi-join, text never joins") {
    val p = plan("q236_dup_trend")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dup attribution must be a fingerprint equi-join:\n$p")
  }

  test("q237/q239: pure hash aggregation — no window, no generate, no join") {
    Seq("q237_len_hist", "q239_discount_grid").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q window:\n$p")
      assert(!p.contains("Generate"), s"$q exploded:\n$p")
      assert(!p.contains("Join"), s"$q joined:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("q238: retention is two keyed aggregates + one equi-join, no window") {
    val p = plan("q238_retention")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cohort attach must be the user_id equi-join:\n$p")
  }

  test("q241/q242/q245: keyed aggregation shapes, no global window") {
    Seq("q241_monthly_bands", "q242_new_returning",
      "q245_label_balance").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q window:\n$p")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$q:\n$p")
    }
  }

  test("q243: dormancy gap windows by CUSTOMER, never one partition") {
    val p = plan("q243_reactivation")
    assert(p.matches("(?s).*Window \\[[^\\]]*\\], \\[o_custkey[^\\]]*\\].*") ||
      p.contains("partitionby(o_custkey") || p.contains("[o_custkey"),
      s"gap window must be customer-keyed:\n$p")
  }

  test("q247: churn audit reads feeds, never windows or shuffles a table") {
    // the change-feed readout must stay O(batch): per-version feed
    // aggregates + one bounded row count, unioned — no window function
    // anywhere and no table-sized shuffle join (the only joins are the
    // 1-row aggregate crossJoins, which broadcast)
    val p = plan("q247_cdc_churn")
    assert(!p.contains("Window"), s"q247 must not window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q247 must not shuffle-join (1-row frames broadcast):\n$p")
  }

  test("q248: grid is one hash aggregate; peak window is dow-keyed") {
    val p = plan("q248_dow_hour_grid")
    assert(p.contains("HashAggregate"), s"q248 needs a hash aggregate:\n$p")
    // the total is a 1-row broadcast, never a shuffle join
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row total must broadcast:\n$p")
    // the peak window partitions by isodow (≤24 rows per partition) —
    // a data-sized single-partition window would be the wrong shape
    assert(p.matches("(?s).*Window \\[[^\\]]*\\], \\[isodow[^\\]]*\\].*"),
      s"peak window must be isodow-keyed:\n$p")
  }

  test("q244: purity probes BROADCAST over the corpus scan") {
    // the brute-force verification tier must broadcast the probe set —
    // a shuffled corpus×probe join (or a corpus self-shuffle) would be
    // the wrong 100 TB shape for a bounded probe sample
    val p = plan("q244_knn_purity")
    assert(p.contains("BroadcastExchange"), s"probes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast product:\n$p")
  }
}
