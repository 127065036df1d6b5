package graft

/** Physical-plan regression guards: the scale properties the queries are
  * designed around must survive refactors — filters reaching the parquet
  * scan, projections pruning the read schema, fixed-size dims being
  * broadcast, and the hot aggregation path staying in WholeStageCodegen.
  */
class PlanSpec extends SparkSpec {

  /** Final (post-AQE) physical plan: materialize first, or the string is
    * the pre-execution plan without codegen stages.
    */
  private def plan(name: String): String = {
    val df = Queries.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q1 pushes the shipdate filter into the scan and prunes columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "q1 must not read unused columns")
    // '*(n)' prefixes mark WholeStageCodegen stages in the compact plan
    assert(p.contains("*("), p)
  }

  test("sql entry point resolves to the same pushed-down plan as the DSL q1") {
    val p = plan("sql_q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "SQL-text q1 must push the shipdate filter like the DSL twin:\n" + p)
    assert(!p.contains("l_orderkey"), "SQL-text q1 must not read unused columns")
    assert(p.contains("*("), p)
  }

  test("bloom prefilter probes via broadcast equi-join on the bit position") {
    val p = plan("agg_bloom_prefilter")
    // membership is a broadcast EQUI-join on the bit position (the
    // ≤m-row bit table broadcasts); the only nested-loop joins allowed
    // are the final 1-row count crossJoins. No cartesian anywhere.
    assert(p.contains("BroadcastHashJoin"),
      "the bit table must broadcast against the probe positions:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q6 pushes every predicate into the scan and reads only needed columns") {
    val p = plan("q6_forecast_revenue")
    // the PushedFilters list is elided in toString past ~100 chars — the
    // leading entries plus the exact 4-column ReadSchema pin the rest
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q3 pushes all three dimension filters into their scans") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("q5 broadcasts the constant-size nation/region dims") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("q4 decorrelates the EXISTS to a semi join with the date filter pushed down") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), "correlated EXISTS must become a semi join:\n" + p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q13 keeps the priority predicate inside the left join, not a post-filter") {
    val p = plan("q13_customer_distribution")
    assert(p.contains("LeftOuter"), p)
    // the <> predicate belongs to the orders side scan/join, so the
    // customer side retains its null-extended rows
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
  }

  test("q18 decorrelates the IN to a semi join and pushes only needed columns") {
    val p = plan("q18_large_volume")
    assert(p.contains("LeftSemi"), "IN (group-having subquery) must become a semi join:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not be a global sort:\n" + p)
  }

  test("q19's disjunctive join extracts the equi-key — hash join, no cartesian") {
    val p = plan("q19_disjunctive_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "the common l_partkey = p_partkey key must be extracted:\n" + p)
  }

  test("q20 decorrelates the grouped-HAVING IN to a semi join") {
    val p = plan("q20_heavy_shippers")
    assert(p.contains("LeftSemi"), p)
  }

  test("q21 plans both the EXISTS (semi) and NOT EXISTS (anti) against lineitem") {
    val p = plan("q21_sole_late_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q22 plans the anti join with the totalprice filter pushed to orders") {
    val p = plan("q22_idle_rich_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThan(o_totalprice"), p)
  }

  test("q2 decorrelates the scalar MIN to an aggregate join, no per-row subquery") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("min("), "the correlated MIN must become a grouped aggregate:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LessThanOrEqual(p_size,10)"),
      "the size filter must reach the part scan:\n" + p)
  }

  test("q7 broadcasts both pre-filtered nation lookups") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p)
    // the pair filter must reach the nation scans, not run post-join
    assert(p.contains("In(n_name, [NATION_6,NATION_9])"), p)
  }

  test("q9 pushes the name LIKE into the part scan") {
    val p = plan("q9_product_profit")
    assert(p.contains("StringContains(p_name,bolt)"),
      "the %bolt% pattern must reach the part scan as a contains pushdown:\n" + p)
  }

  test("q11 plans the HAVING threshold as a one-row subquery, not a rescan join") {
    val p = plan("q11_important_stock")
    assert(p.contains("Subquery") || p.contains("subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("EqualTo(n_name,NATION_9)"),
      "the nation filter must reach its scan:\n" + p)
  }

  test("q16's NOT IN plans as a null-aware anti join") {
    val p = plan("q16_supplier_count")
    assert(p.contains("LeftAnti"), "NOT IN must become an anti join:\n" + p)
    assert(p.contains("LessThan(s_acctbal,0.0)"),
      "the complaints filter must reach the supplier scan:\n" + p)
  }

  test("hash split assigns scan-locally and prunes to the three used columns") {
    val p = plan("curate_hash_split")
    assert(!p.contains("Window") && !p.contains("Join"),
      "split assignment must be a pure per-row hash, no window/join:\n" + p)
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint,doc_id:bigint>") ||
      p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"), p)
  }

  test("label balancing broadcasts the 1-row global min, no empty-partition window") {
    val p = plan("curate_balance_labels")
    assert(p.contains("BroadcastExchange"), p)
    // every window must be keyed on (label, hash-bucket) — HashRank's
    // two-phase rank. A window keyed on label ALONE drags each label's
    // full membership onto one reducer; an empty-partition window
    // drags the whole corpus through one task
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val keyed = "windowspecdefinition\\(label[^,]*, _b".r.findAllIn(p).size
    assert(specs > 0 && keyed >= 1,
      s"the rank window must key on (label, _b) ($keyed of $specs):\n" + p)
    assert(!p.contains("windowspecdefinition()"),
      "empty-partition window present:\n" + p)
  }

  test("per-source quota aggregates map-side partials, not a corpus window") {
    val p = plan("curate_quota_per_source")
    // the TopK aggregator: partial ObjectHashAggregate per partition
    // keeps <= quota rows before the source-keyed shuffle — a
    // row_number window would move the whole corpus onto |sources|
    // reducers and sort it there
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("row_number"),
      "quota must not rank via a corpus-wide window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("partitioned-layout scan prunes statically on the partition column") {
    val p = plan("lake_pruned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    assert(p.contains("= purchase)"), p)
    assert(!p.contains("PushedFilters: [IsNotNull(event_type"),
      "the partition filter must prune directories, not rows:\n" + p)
  }

  test("dim-filtered join prunes the partitioned scan dynamically (DPP)") {
    val p = plan("lake_dpp_join")
    assert(p.contains("dynamicpruningexpression"),
      "the scan must take its partition list from the broadcast dim:\n" + p)
  }

  test("IVF pruned read takes its cell list from the probe table at runtime") {
    val p = plan("sim_ivf_pruned_read")
    assert(p.contains("dynamicpruningexpression"),
      "the cell-partitioned index scan must prune to the probed cells:\n" + p)
  }

  test("composed IVF-PQ paths never go quadratic and broadcast the LUT side") {
    // the scale contract of the composition: candidates come from the
    // probe/assignment equi-join (never an all-pairs product), and every
    // k-bounded side (probes, LUT, query vectors) ships by broadcast —
    // a regression to a shuffled LUT join would put a corpus-sized
    // exchange on the ADC path
    for (name <- Seq("sim_ivfpq_search", "sim_ivfpq_residual")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name must not plan a cartesian product:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name must broadcast its k-bounded sides:\n$p")
    }
  }

  test("gated bucketed join plans without any exchange when broadcast is off") {
    // pin the at-scale case (both sides too big to broadcast, bucketed
    // scan forced) — the layout the bucketing exists for
    Confs.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val df = Queries.queries("join_bucketed_colocated")(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // the final orderBy exchanges once (range partitioning for the
      // sort); the JOIN itself must not — no shuffle on the join key
      assert(!p.contains("hashpartitioning(o_orderkey"),
        "the co-bucketed join must not shuffle its key:\n" + p)
    }
  }

  test("z-order bucket assignment is scan-local: no window, no join") {
    val p = plan("lake_zorder_stats")
    assert(!p.contains("Window") && !p.contains("Join"),
      "static curve ranges must assign buckets in the scan:\n" + p)
  }

  test("SCD2 windows are keyed on the dimension key") {
    val p = plan("scd2_dimension_history")
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val keyed = "windowspecdefinition\\(c_custkey".r.findAllIn(p).size
    assert(specs > 0 && specs == keyed,
      s"unkeyed window spec present ($keyed/$specs keyed):\n" + p)
  }

  test("pagination plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("ref_pagination")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Kneser-Ney's global top-20 contexts ride TakeOrderedAndProject, no cartesian") {
    val p = plan("text_kneser_ney_bigram")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 context selection must be the distributed top-k:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "the 1-row N join must broadcast, never a cartesian:\n" + p)
  }

  test("minhash LSH computes signatures with the native expression, never a cross join") {
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("minhash_md5"), p)
    assert(!p.contains("CartesianProduct"), "candidates must come from the band join")
    assert(p.contains("InMemoryTableScan"), "band table must be cached for the self-join")
  }

  test("hot-band guard rides the band-join exchanges instead of adding its own") {
    // the group-size window partitions on the SAME (band, mh) key the
    // candidate join hashes on, so ENSURE_REQUIREMENTS satisfies the
    // join from the window's exchange: exactly one hashpartitioning(band
    // per join side (2 total), one window per side — a regression to a
    // separately-shuffled pre-count would show 3+ band exchanges
    val p = plan("dedup_minhash_lsh").split("== Initial Plan ==")(0)
    val bandEx = "hashpartitioning\\(band".r.findAllIn(p).size
    assert(bandEx <= 2, s"expected <=2 band exchanges, got $bandEx:\n$p")
    val wins = "windowspecdefinition\\(band".r.findAllIn(p).size
    assert(wins <= 2, s"expected <=2 group-size windows, got $wins")
    assert(p.contains("gsz"), "the guard must be present in the plan")
  }

  test("cosine near-dup: native sign_bits signatures, banded join, cached rescore boundary") {
    // r11: the gate reads the memoized pair ARTIFACT; the plan pins move
    // to the BUILD plan (the shared LSH engine over the planted corpus),
    // explained directly through the package-private entry points.
    val raw = graft.vector.SimilarityQueries.plantedRaw(spark, sf0001)
    val build = graft.vector.SimilarityQueries.lshPairCosines(raw)
    build.collect()
    val p = build.queryExecution.executedPlan.toString
    graft.CacheTracker.releaseAll()
    assert(p.contains("sign_bits"), p)
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the (band, key) join, not a cross product")
    // two InMemoryTableScans: the corpus projection and the prefiltered
    // candidate set (the boundary that stops exact-kernel re-evaluation)
    assert(p.contains("InMemoryTableScan"), p)
    // the gate itself is the artifact READ path: a parquet scan with the
    // threshold filter, no kernel re-evaluation
    val g = plan("sim_cosine_neardup")
    assert(g.contains("Scan parquet") && !g.contains("sign_bits"),
      "gate must read the memoized pair artifact:\n" + g)
  }

  test("interval overlap joins on the grid cell, never a cartesian plan") {
    val p = plan("join_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "pairs must come from the bucket-grid equi-join:\n" + p)
  }

  test("maxsim screens with dot_double; exact kernels only touch screened survivors") {
    val p = plan("sim_maxsim_multivector")
    assert(p.contains("Broadcast"), "query side must broadcast:\n" + p)
    // The corpus-sized q×d matrix is scored by the double screen — the
    // exact-decimal kernels (16 pair dots + 8 norms, ×2 AQE prints)
    // must sit ABOVE the candidate join, fed by the persisted screen
    // (InMemoryTableScan), never against the raw corpus scan.
    assert("dot_double".r.findAllIn(p).nonEmpty,
      "the corpus-wide screen must run the IEEE dot_double kernel:\n" + p)
    val dots = "dot_exact_dec".r.findAllIn(p).size
    assert(dots >= 16 && dots <= 48,
      s"expected <= (16 pair + 8 norm) × 2 prints dot_exact_dec kernels, " +
        s"found $dots:\n$p")
    assert(p.contains("InMemoryTableScan"),
      "screen/verdict persist barrier missing:\n" + p)
  }

  test("bm25 takes its top-20 without a global sort and broadcasts df/stats") {
    val p = plan("text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not materialize a corpus sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "df and corpus stats must broadcast against tf:\n" + p)
  }

  test("hamming knn scans packed longs with codegen'd integer distance") {
    val p = plan("sim_hamming_knn")
    assert(p.contains("Broadcast"), "the 5-query side must broadcast:\n" + p)
    assert(p.contains("bit_count"),
      "the distance must be XOR+popcount arithmetic, not a char loop:\n" + p)
    // no exact-decimal kernel anywhere: this tier is integer-only
    assert(!p.contains("dot_exact_dec"), p)
  }

  test("brute-force and quantized kNN broadcast the 5-row query side") {
    Seq("sim_knn_brute", "sim_quantized_knn").foreach { q =>
      val p = plan(q)
      assert(p.contains("Broadcast"), s"$q must broadcast the query vectors:\n$p")
    }
  }

  test("hybrid search broadcasts df/stats/query sides; posting join is hash, not cartesian") {
    val p = plan("sim_hybrid_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      "the lexical half must join on the term key:\n" + p)
  }

  test("IVF assignment broadcasts the centroid set on both phases") {
    val p = plan("sim_ivf_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("RRF fusion: posting join is hash on the term key, no cartesian") {
    val p = plan("sim_rrf_fusion")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      "the lexical candidate join must ride the term key:\n" + p)
  }

  test("DSIR scores through a broadcast of the 256-row weight table") {
    val p = plan("curate_dsir_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // top-k selection must be the distributed TakeOrderedAndProject,
    // never a global row_number window over the doc universe
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), "global window over the corpus:\n" + p)
  }

  test("decayed-counts top-50 bounds before ranking") {
    val p = plan("events_decayed_counts")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("span corruption and MLM masking stay single-shuffle per doc") {
    // one posexplode + windows/agg sharing the doc_id exchange — the
    // per-row masking must never introduce a join
    Seq("curate_span_corruption", "curate_mlm_masking").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Join"), s"$n grew a join:\n" + p)
      assert(p.contains("Generate"), s"$n lost its posexplode:\n" + p)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // The complement of the explicit salting in join_skew_salted: when
    // skew is only discovered at runtime, AQE must split the oversized
    // partition instead of letting one task straggle. Thresholds are
    // pinned low to trigger on a synthesized 90%-one-key corpus.
    Confs.withConf(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      import org.apache.spark.sql.functions.{when => sqlWhen, _}
      val skewed = spark.range(40000)
        .select(sqlWhen($"id" % 10 =!= 0, lit(0L)).otherwise($"id").as("k"),
          $"id".as("payload"))
      val dim = spark.range(200).select($"id".as("k"), lit("x").as("tag"))
      val df = skewed.join(dim, "k").agg(count(lit(1)))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE must mark and split the skewed partition:\n" + p)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB a selective dim filter on one side of a SHUFFLE join
    // should become a bloom filter applied inside the fact scan
    // (runtime row-level filtering — the non-partitioned sibling of
    // DPP). The optimizer's size thresholds are tuned for real tables,
    // so pin them down to observe the rewrite on the test corpus.
    // creation side must be UNDER its threshold (default 10MB — the
    // filtered orders easily are); the APPLICATION side must be OVER
    // its minimum scan size, which only a pinned 0 satisfies here;
    // broadcast off forces the shuffle join the rewrite targets
    Confs.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      val li = Tables(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity")
      val ord = Tables(spark, sf0001, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select("o_orderkey")
      val df = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .agg(org.apache.spark.sql.functions.sum($"l_quantity"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        "the urgent-orders bloom filter must reach the lineitem side:\n" + p)
    }
  }

  test("q15 computes the revenue view in one lineitem scan (cached + broadcast max)") {
    // the SQL scalar-subquery form runs the revenue aggregation — and
    // the fact scan under it — twice (subqueries are separate query
    // executions; ReuseExchange cannot cross them). The global max is a
    // broadcast 1-row aggregate over the CACHED revenue view — an
    // empty-partition window would drag the supplier-cardinality table
    // through one reducer at scale
    val p = plan("q15_top_supplier").split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "q15 must scan lineitem at most once (cached revenue):\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both max and filter sides must read the cached revenue view:\n" + p)
    assert(!p.contains("windowspecdefinition()"),
      "no empty-partition window:\n" + p)
  }

  test("q11 reuses the natl aggregation exchange between HAVING subquery and output") {
    // sf0.001 has no NATION_9 rows and AQE collapses the plan to
    // EmptyRelation, so pin the reuse at sf0.01
    val df = Queries.queries("q11_important_stock")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "the partsupp-style aggregation must be planned once and reused:\n" + p)
  }

  test("curate_validate_constraints fuses all fact rules into one lineitem scan") {
    // the report rows explode out of the cross-joined 1-row aggregates
    // precisely because the earlier union-of-references shape re-planned
    // (and column-pruned) each branch's aggregate into a different
    // subtree ReuseExchange could not dedupe — doubling the fact scan.
    // Pin the scan counts so a regression back to that shape is loud:
    // lineitem once; orders twice (its own aggregate + the FK-join
    // broadcast side), NOT three times
    val p = plan("curate_validate_constraints").split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      "the validation report must scan lineitem exactly once:\n" + p)
    assert("orders\\.parquet".r.findAllIn(p).length <= 2,
      "orders must be scanned at most twice (aggregate + FK dim side):\n" + p)
  }

  test("text lang-id/quality tokenize once: each regexp runs once per scan") {
    // CollapseProject re-inlines projected expressions, so without the
    // Generate barriers every per-language feature re-evaluates the
    // interpreted regexp+split tokenizer (~12x per row). Count the
    // regexp_replace occurrences in the executed plan: lang_id has one
    // (the \s+ normalizer); quality_score has two DISTINCT regexps
    // (\s+ normalizer, [^a-z] alpha filter), each exactly once.
    // AQE's toString prints the Initial Plan after the Final — count
    // occurrences in the final (executed) section only
    def regexpCount(name: String): Int =
      "regexp_replace".r
        .findAllIn(plan(name).split("== Initial Plan ==")(0)).length
    assert(regexpCount("text_lang_id") == 1,
      "text_lang_id must evaluate the tokenizer exactly once")
    assert(regexpCount("text_quality_score") == 2,
      "text_quality_score must evaluate each of its two regexps once")
  }

  test("heavy hitters: sketch partials per partition, candidates broadcast") {
    val full = plan("text_heavy_hitters")
    val p = full.split("== Initial Plan ==")(0)
    // the MG typed Aggregator must partial-aggregate (each partition →
    // one ≤m-entry summary BEFORE the exchange) — ObjectHashAggregate
    // appears in both partial and final roles. Search the WHOLE plan
    // string: AQE stage reuse can elide the broadcast subtree from the
    // final-plan section and print it only under the initial plan
    // (r12, after the weighted-stream persist changed stage sharing).
    assert("ObjectHashAggregate".r.findAllIn(full).length >= 2,
      "MG sketch must map-side partial-aggregate:\n" + full)
    // the ≤16-row candidate set joins broadcast; the token stream is
    // never on the build side and never cartesian
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("weighted sample is a top-k, not a global sort") {
    val p = plan("curate_weighted_sample").split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      "A-ES sampling must run per-partition top-k + k-row merge:\n" + p)
    assert(!p.contains("Sort ["),
      "no global sort may appear — top-k only:\n" + p)
  }

  test("skew report takes each dataset's top-3 keys as a limit, not a global rank") {
    val p = plan("curate_skew_report").split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      "top-3 keys must be per-partition top-k + 3-row merge:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "keyed counts must persist once (stats + top-3 both read them):\n" + p)
    // the only Window allowed is the 3-row rank ABOVE the limit; a rank
    // window BELOW a limit-free scan of counts would re-introduce the
    // single-reducer sort of every distinct key
    val winIdx = p.indexOf("Window [row_number()")
    val topIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && topIdx >= 0 && winIdx < topIdx,
      "row_number must sit above the TakeOrderedAndProject:\n" + p)
  }

  test("vocab shift takes each side's top-100 as a limit over persisted counts") {
    val p = plan("text_vocab_shift").split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 vocab must be per-partition top-k, never a vocab-wide sort:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "per-side term counts must persist once (top-K + OOV + totals):\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("drift monitor broadcasts grid and totals, no cartesian") {
    val p = plan("curate_drift_psi").split("== Initial Plan ==")(0)
    // the 10-bin grid and the per-type totals ride broadcast joins; the
    // events scan feeds exactly the partial count aggregates
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("quality classifier: persisted features, broadcast 1-row weights") {
    val p = plan("text_quality_classifier").split("== Initial Plan ==")(0)
    // every GD round cross-joins the broadcast weight row against the
    // persisted feature matrix — the corpus itself must never shuffle
    // (the only exchange feeds the 5-number gradient/metric aggregate)
    assert(p.contains("InMemoryTableScan"),
      "feature matrix must be persisted across rounds:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "weights must broadcast to the scan:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom point lookup prunes the layout scan to candidate files at runtime") {
    val p = plan("lake_bloom_index")
    assert(p.contains("dynamicpruningexpression"),
      "the fid-partitioned layout scan must take its file list from the " +
        "bloom candidates:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangle count: cached oriented edges, equi-joins only") {
    val p = plan("graph_triangle_count")
    assert(!p.contains("CartesianProduct"),
      "the two-hop join must stay equi-keyed:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the oriented edge table is read three times — it must be cached:\n" + p)
  }

  test("triangle orientation: degree table checkpointed once, joins runtime-broadcast") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val df = graft.pipeline.CurationQueries.orientByDegree(und)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the degree table carries NO broadcast hint (it scales with the
    // node count — a forced hint cannot degrade at 10^9 nodes); at
    // this scale the runtime must still CHOOSE broadcast for both
    // lookups, which is the graceful path the hint would foreclose
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj == 2,
      s"both degree lookups must plan as broadcast joins here (got $bhj):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      "small-scale orientation must not shuffle-sort or go cartesian:\n" + p)
    // eager localCheckpoint materializes the degree agg exactly once:
    // both lookups scan the checkpointed RDD, nothing re-aggregates
    assert(!p.contains("HashAggregate"),
      "degree table must be computed once (localCheckpoint), not " +
        "re-aggregated per join:\n" + p)
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2,
      "both lookups must read the one checkpointed degree table:\n" + p)
  }

  test("jsonl quarantine parses each line exactly once, no self-join") {
    val df = Queries.queries("ref_jsonl_quarantine")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one from_json behind the Generate barrier: class + both fields all
    // derive from the single parsed struct (the r12 triple-parse is the
    // regression this pins against — at ingest scale it is 3x the money)
    val n = "from_json".r.findAllIn(p).size
    assert(n == 1, s"expected exactly ONE from_json in the plan, got $n:\n$p")
    assert(!p.contains("Join"),
      "single-parse quarantine needs no self-join to recover fields:\n" + p)
  }

  test("embedding outliers: 1-row mean and stats frames broadcast, no cartesian") {
    val df = Queries.queries("curate_embedding_outliers")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // both 1-row sides carry explicit broadcast hints; the corpus-side
    // scan must never degrade to CartesianProduct if a refactor drops one
    assert(!p.contains("CartesianProduct"),
      "1-row mean/stats side lost its broadcast hint:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row frames should attach via broadcast nested-loop:\n" + p)
    graft.CacheTracker.releaseAll()
  }

  test("exact-substring dedup: cached grams, doc-keyed merge window, no cartesian") {
    val p = plan("dedup_exact_substring")
    assert(!p.contains("CartesianProduct"),
      "duplicated spans must come from the gram equi-join:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the gram table is read by both the dup-agg and the join-back — " +
        "it must be cached:\n" + p)
    assert(p.contains("windowspecdefinition(doc_id"),
      "the interval union must merge via a doc_id-keyed window:\n" + p)
  }

  test("line dedup: chunk hashes scan-local, df join rides the hash exchange") {
    val p = plan("text_line_dedup").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"),
      "chunk table feeds both the df aggregate and the join-back:\n" + p)
    // df groupBy and join-back both hash on the chunk fingerprint; a
    // regression to a separately-keyed pre-count would add exchanges
    val hEx = "hashpartitioning\\(h#".r.findAllIn(p).size
    assert(hEx <= 2, s"expected <=2 chunk-hash exchanges, got $hEx:\n$p")
  }

  test("semantic dedup: native kernels at both stages, no cartesian pair blowup") {
    val p = plan("dedup_semantic")
    assert(p.contains("dot_double"),
      "the pair screen must use the native double kernel:\n" + p)
    assert(p.contains("dot_exact_dec"),
      "the verdict must use the exact decimal kernel:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the cell equi-join (broadcast centroid " +
        "cross-joins plan as BroadcastNestedLoopJoin):\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "members and screened pairs must be cached:\n" + p)
    // the pair join must key on (cell, rank-bucket), with the bucket
    // pairs generated by the explode — a regression to a bare cell
    // equi-join would rebuild the |cell|^2/2 intermediate the hot-cell
    // gate exists to prevent (the window filter alone is NOT the bound;
    // the join key is)
    assert("""hashpartitioning\(cell#\d+, g#""".r.findFirstIn(p).nonEmpty ||
        """\[cell#\d+, g#\d+""".r.findFirstIn(p).nonEmpty,
      "pair join must key on (cell, g):\n" + p)
    assert(p.contains("explode"),
      "the rank-bucket side must double via explode:\n" + p)
  }

  test("url dedup: pruned 2-column scan, map-side partials, no window") {
    val p = plan("dedup_url_canonical")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "URL derivation must prune the documents scan to (doc_id, source):\n" + p)
    // canonicalization is map-only; the ONLY wide ops are the canonical
    // groupBy (partial + final ObjectHashAggregate) and the output sort
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "canonical grouping must map-side partial-aggregate:\n" + p)
    assert(!p.contains("Window ["),
      "no window may appear — dedup is one aggregation:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn labeling screens with dot_double behind a persist barrier") {
    val p = plan("sim_knn_label_assign")
    assert(p.contains("dot_double"),
      "the pool x batch pass must be the IEEE screen:\n" + p)
    assert(p.contains("dot_exact_dec"),
      "the verdict must use the exact decimal kernel:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "screen/verdict persist barrier missing:\n" + p)
    assert(p.contains("Broadcast"),
      "the fixed query batch must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dbscan rides the banded-LSH edge engine, never all-pairs") {
    // the edge engine itself (shared with sim_cosine_neardup): native
    // sign-LSH banding, double screen, exact verdict, no cross product
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.transform
    val raw = Tables(s, sf0001, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val edges = graft.vector.SimilarityQueries.lshPairCosines(raw)
      .filter($"cosine" >= 0.98)
    edges.collect()
    val pe = edges.queryExecution.executedPlan.toString
    graft.CacheTracker.releaseAll()
    assert(pe.contains("sign_bits"),
      "edges must come from the shared sign-LSH banding:\n" + pe)
    // the dot_double screen lives inside the persisted candidate cache
    // (same visibility as the sim_cosine_neardup pin); the exact
    // verdict kernel must be the one deciding above it
    assert(pe.contains("dot_exact_dec"),
      "the verdict must use the exact decimal kernel:\n" + pe)
    assert(pe.contains("InMemoryTableScan"),
      "screen/verdict persist barrier missing:\n" + pe)
    assert(!pe.contains("CartesianProduct"),
      "candidates must come from the (band, key) equi-join:\n" + pe)
    // the gate's output phase: degrees/roles ride the persisted edge
    // set (InMemoryTableScan) and checkpointed CC leaves — the exact
    // kernels are paid once in the edge job, never re-run here
    val p = plan("sim_dbscan_cluster")
    assert(p.contains("InMemoryTableScan"),
      "edge set must persist (degree pass + core-core projection):\n" + p)
    // (the kernel names still appear inside the InMemoryRelation's
    // cached-plan print — the scan itself is what the phase reads)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shard assignment: pruned scan, argmax by aggregation, no per-doc window") {
    val p = plan("curate_shard_assign")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      "rendezvous hashing must prune the documents scan to 2 columns:\n" + p)
    assert(!p.contains("Window ["),
      "the per-doc argmax must be max-of-struct, never a rank window:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the 16-row report is read twice and must persist:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cusum: persisted domain-sized counts, pruned scan, per-type windows") {
    val p = plan("events_cusum_changepoint")
    assert(p.contains("InMemoryTableScan"),
      "the (type, day) count table is read three times and must persist:\n" + p)
    // inside the cached plan: the events scan reads only (ts, event_type)
    // — ts's decoded type is corpus-dependent (the TESTDATA nanos/micros
    // drift), so pin the column set, not the timestamp flavor
    assert(p.contains("ReadSchema: struct<ts:") &&
      p.contains(",event_type:string>"),
      "the events scan must prune to the two used columns:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("containment dedup: cached shingles + bands, candidates from the band equi-join") {
    val p = plan("dedup_shingle_containment")
    assert(p.contains("InMemoryTableScan"),
      "shingle sets and band keys are read multiply and must persist:\n" + p)
    assert(p.contains("minhash_md5") || p.contains("word_shingles"),
      "signatures must come from the native kernels:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the (band, key) equi-join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rake: one persisted phrase table, broadcast word stats, top-50 as a limit") {
    val p = plan("text_rake_keywords")
    assert(p.contains("TakeOrderedAndProject"),
      "the report must be a top-k, not a global sort:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the kept-phrase table is read twice and must persist:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary-sized word stats must broadcast into phrase scoring:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winnowing: one doc-keyed window pass, pruned scan, no cartesian") {
    val p = plan("text_winnowing_fingerprint")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "the documents scan must prune to (doc_id, text):\n" + p)
    // the frame min and the per-doc count ride doc_id-keyed windows —
    // no global (unpartitioned) window may appear
    assert(!p.contains("Window [") ||
      !p.contains("windowspecdefinition()"),
      "no unpartitioned window:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("decontamination: broadcast eval grams, doc-keyed spans, no cartesian") {
    val p = plan("curate_decontaminate_spans")
    assert(p.contains("BroadcastHashJoin"),
      "the eval gram set must broadcast into the position scan:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "nothing here should shuffle-join — eval grams are broadcast:\n" + p)
  }

  test("substring spans: gram-keyed pair join, top-100 as TakeOrderedAndProject") {
    val p = plan("dedup_substring_spans")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-100 must not be a global sort:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      "the pair join must ride the gram equi-key:\n" + p)
  }

  test("13-gram decontamination: broadcast eval set, verdict keyed on doc") {
    val p = plan("curate_decontaminate_ngrams")
    assert(p.contains("BroadcastHashJoin"),
      "the eval 13-gram set must broadcast into the corpus gram stream:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("phrase search: broadcast phrase terms, no cartesian") {
    val p = plan("text_phrase_search")
    assert(p.contains("BroadcastHashJoin"),
      "the query-sized phrase-term table must broadcast into the token stream:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("length batching: corpus rank windows partition by length, never global") {
    val p = plan("curate_length_batching")
    // the per-doc row_number must partition by n_toks (bounded groups);
    // the only unpartitioned window allowed runs over the length histogram
    assert("windowspecdefinition\\(n_toks#\\d+, doc_id#\\d+L? ASC".r
      .findFirstIn(p).isDefined,
      "the corpus row_number must partition by n_toks:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("edit distance: persisted corpus text, equi-keyed candidates, no cartesian") {
    val p = plan("dedup_edit_distance")
    assert(p.contains("InMemoryTableScan"),
      "the shingle+text frame is read three times and must persist:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "candidates must ride the (band, mh) equi-key:\n" + p)
  }

  test("cross-modal ANN: bin-keyed candidates only, no cartesian") {
    val p = plan("multimodal_crossmodal_ann")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "audio->image candidates must ride the probed-bin equi-key:\n" + p)
  }

  test("pq distortion: persisted slices, broadcast codebook, M-row report") {
    val p = plan("sim_pq_distortion")
    assert(p.contains("InMemoryTableScan"),
      "the sliced subspaces are read twice and must persist:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the k*M-row codebook must broadcast into the residual pass:\n" + p)
    assert(p.contains("dot_exact_dec"),
      "residual sums must use the exact decimal kernel:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t-closeness: broadcast segment grid, one cell-key aggregation path") {
    val p = plan("curate_t_closeness")
    assert(p.contains("InMemoryTableScan"),
      "the cell table is read three times and must persist:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Broadcast"),
      "the domain-sized global distribution must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("autocorrelation prunes to ts and partial-aggregates hourly counts") {
    val p = plan("events_autocorrelation")
    assert(p.contains("ReadSchema: struct<ts"),
      "the events scan must read only the timestamp column:\n" + p)
    // hourly counts: partial + final HashAggregate around one exchange;
    // everything after is domain-sized (hours), incl. the single lead
    // window — the quantile-bins precedent
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "hourly counting must map-side partial-aggregate:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Broadcast"),
      "the 1-row stats frame must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sql twins resolve to the IDENTICAL canonicalized physical plan") {
    // the strongest form of the entry-point claim: Catalyst resolves
    // the SQL text and the DSL to the same logical plan, so the
    // executed plans are equal up to expression ids — measured true
    // for q1 and the window twin (the as-of twin is a deliberate
    // re-expression: union-window SQL vs the DSL composition)
    for ((d, q) <- Seq(("q1_pricing_summary", "sql_q1_pricing"),
        ("window_top3_per_nation", "sql_window_top3"))) {
      val a = Queries.queries(d)(spark, sf0001)
      val b = Queries.queries(q)(spark, sf0001)
      a.collect(); b.collect()
      assert(a.queryExecution.executedPlan.canonicalized ==
        b.queryExecution.executedPlan.canonicalized,
        s"$q diverged from $d's physical plan")
    }
  }

  test("sql dedup twin: native minhash under the parser, capped equi-join") {
    // r17: the twin reads the shared shingledCorpus artifact (so
    // word_shingles no longer appears in this gate's plans — its build
    // is the DSL family's, pinned by the shared oracle) and stages the
    // band table behind a persist hook; minhash_md5 must still resolve
    // through the SQL parser in that staged statement's plan.
    val p = plan("sql_dedup_minhash")
    // analyzed (not optimized/executed): cache substitution replaces
    // the staged statement's tree with InMemoryRelation later, but the
    // analyzed view expansion keeps the parsed expression visible
    val bp = spark.table("graft_bandt_mh").queryExecution
      .analyzed.toString
    assert(bp.contains("minhash_md5"),
      "the native minhash kernel must resolve through the SQL parser:\n" + bp)
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the (band, mh) equi-join:\n" + p)
    // executed: the staged statement is served from its persisted
    // relation, on its own and inside the final statement's WITH body
    // (a WITH in the staged text once made that lookup miss)
    val bandScan = "InMemoryRelation \\[doc_id#\\d+L, band#\\d+, mh#\\d+\\]".r
    assert(bandScan.findFirstIn(p).isDefined,
      "the candidate self-join must read the persisted band table:\n" + p)
    val staged = spark.table("graft_bandt_mh").queryExecution.executedPlan.toString
    assert(bandScan.findFirstIn(staged).isDefined,
      "graft_bandt_mh must be served from its persisted relation:\n" + staged)
    assert(!staged.contains("CartesianProduct"), staged)
  }

  test("sql interval twin: grid explode feeds an equi-join, no cartesian") {
    val p = plan("sql_interval_overlap")
    assert(p.contains("Generate"),
      "both interval sides must explode onto the grid:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "the overlap must ride the grid-cell equi-join:\n" + p)
  }

  test("sql knn twin: native exact kernel, broadcast query side") {
    val p = plan("sql_knn_brute")
    assert(p.contains("dot_exact_dec"),
      "the exact decimal kernel must resolve through the SQL parser:\n" + p)
    assert(p.contains("Broadcast"),
      "the 5-row query side must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "nothing here should shuffle-sort-join:\n" + p)
  }

  test("jdbc source pushes filters into the database scan") {
    // the filters-reach-the-scan invariant the parquet side pins above,
    // on the JDBC read direction (r11 VERDICT #7): a filtered read of
    // the upserted Derby table must show the predicate as PushedFilters
    // on the JDBCRelation scan — shipped to the database as WHERE, not
    // evaluated Spark-side after a full-table pull — and the projection
    // must prune the fetched column list.
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._
    val url = s"jdbc:derby:${graft.Scratch.dir}/jdbc_plan_" +
      s"${graft.Scratch.runToken};create=true"
    JdbcUpsertSink.ensureTable(url, JdbcUpsertSink.DerbyUpsert)
    JdbcUpsertSink.write(
      graft.sources.Gen.locations(spark, 200).as[graft.model.Location],
      url, parallelism = 2, dialect = JdbcUpsertSink.DerbyUpsert)
    val df = spark.read.jdbc(url, "locations", new java.util.Properties())
      .filter($"country" === "Japan")
      .select($"locid", $"country")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Derby reports uppercase identifiers; the '*' prefix marks the
    // filter as fully handled by the source (no residual Spark filter)
    assert(p.contains("PushedFilters:") && p.contains("*EqualTo(COUNTRY,Japan)"),
      "the country predicate must reach the JDBC scan:\n" + p)
    assert(!p.toLowerCase.contains("locname"),
      "unused columns must not be fetched over JDBC:\n" + p)
    assert(!p.contains("Filter ("),
      "no residual Spark-side filter should remain:\n" + p)
  }
}
