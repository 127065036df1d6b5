package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact._

/** Join shapes Spark has no dedicated operator for — as-of (time-travel)
  * join and pure range join — plus the remaining grouping surface
  * (GROUPING SETS, approximate distinct).
  *
  * The as-of join follows the composition route (SURVEY.md §2 "custom
  * operators" preference (a)): tag both sides, union, and carry the most
  * recent right-side row forward with last(ignoreNulls) over a
  * (key, time)-ordered window. That is ONE shuffle on the key — the same
  * cost as the sort-merge join a native as-of operator would need — and
  * avoids the O(left × right-per-key) blowup of the naive inequality
  * join. DuckDB's native ASOF JOIN is the oracle.
  */
object AdvancedJoins {
  import Queries.Q

  /** For every purchase event: the user's most recent click at or before
    * the purchase (classic as-of). Right side is deduped to one click per
    * (user, instant) so the as-of pick is well-defined in any engine.
    */
  val asofPurchaseClick: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val dd = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val clicks = ev.filter($"event_type" === "click")
      .withColumn("rn", row_number().over(dd)).filter($"rn" === 1)
      .select($"user_id", $"ts", $"value", lit(0).as("tag"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("double").as("value"),
        lit(1).as("tag"), $"event_id".as("purchase_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_ts",
        last(when($"tag" === 0, $"ts"), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when($"tag" === 0, $"value"), ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"purchase_id", $"ts", $"click_ts", $"click_value")
      .orderBy($"purchase_id")
  }

  val asofSql: String =
    """WITH c0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts
      |                       ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts, value FROM c0 WHERE rn = 1),
      |p AS (SELECT user_id, event_id AS purchase_id, ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.purchase_id, p.ts,
      |  c.ts AS click_ts, c.value AS click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  /** Backward as-of with a STALENESS TOLERANCE — the financial-data
    * as-of variant ("match the latest quote, but never one older than
    * 30 minutes"): identical single-shuffle union-window as
    * [[asofPurchaseClick]], with the matched click DISCARDED (nulled,
    * not dropped — the purchase row survives unmatched) when
    * purchase_ts − click_ts exceeds the 30-minute bound. Δt compares
    * in exact integer microseconds; the emitted `delta_us` is null
    * exactly when the match is. Oracle: DuckDB's native backward ASOF
    * with the same integer CASE.
    */
  val asofTolerance: Q = (s, dir) => {
    import s.implicits._
    val tolUs = 1800000000L // 30 min
    val ev = Tables(s, dir, "events")
    val dd = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val clicks = ev.filter($"event_type" === "click")
      .withColumn("rn", row_number().over(dd)).filter($"rn" === 1)
      .select($"user_id", $"ts", $"value", lit(0).as("tag"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("double").as("value"),
        lit(1).as("tag"), $"event_id".as("purchase_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_ts",
        last(when($"tag" === 0, $"ts"), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when($"tag" === 0, $"value"), ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .withColumn("delta_us",
        expr("unix_micros(cast(ts as timestamp)) - " +
          "unix_micros(cast(click_ts as timestamp))"))
      .select($"user_id", $"purchase_id", $"ts",
        when($"delta_us" <= tolUs, $"click_ts").as("click_ts"),
        when($"delta_us" <= tolUs, $"click_value").as("click_value"),
        when($"delta_us" <= tolUs, $"delta_us").as("delta_us"))
      .orderBy($"purchase_id")
  }

  val asofToleranceSql: String =
    """WITH c0 AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, ts
      |                       ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts, value FROM c0 WHERE rn = 1),
      |p AS (SELECT user_id, event_id AS purchase_id, ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.purchase_id, p.ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
      |       THEN c.ts END AS click_ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
      |       THEN c.value END AS click_value,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
      |       THEN epoch_us(p.ts) - epoch_us(c.ts) END AS delta_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  /** Pure range join: orders falling in the first week of each 1996
    * month. The interval table is constant-size → broadcast nested loop;
    * the fact side streams through once.
    */
  val rangePromoWeeks: Q = (s, dir) => {
    import s.implicits._
    val promos = s.range(1).select(explode(sequence(
        lit("1996-01-01").cast("timestamp"),
        lit("1996-12-01").cast("timestamp"),
        expr("INTERVAL 1 MONTH"))).as("promo_start"))
      .select($"promo_start".cast("timestamp_ntz").as("promo_start"))
      .withColumn("promo_end", $"promo_start" + expr("INTERVAL 7 DAYS"))
    Tables(s, dir, "orders")
      .join(broadcast(promos),
        $"o_orderdate" >= $"promo_start" && $"o_orderdate" < $"promo_end")
      .groupBy($"promo_start")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
      .orderBy($"promo_start")
  }

  val rangePromoSql: String =
    s"""WITH promos AS (
       |  SELECT unnest(generate_series(TIMESTAMP '1996-01-01',
       |    TIMESTAMP '1996-12-01', INTERVAL 1 MONTH)) AS promo_start)
       |SELECT promo_start, COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM orders JOIN promos
       |  ON o_orderdate >= promo_start
       | AND o_orderdate < promo_start + INTERVAL 7 DAY
       |GROUP BY promo_start ORDER BY promo_start""".stripMargin

  /** GROUPING SETS — the general form rollup/cube specialize; the SQL
    * text is identical in both engines (issued via spark.sql on a view).
    */
  val groupingSets: Q = (s, dir) => {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(groupingSetsBody("orders_gs"))
  }

  private def groupingSetsBody(table: String): String =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM $table
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
       |  (o_orderstatus, o_orderpriority))
       |ORDER BY status, priority""".stripMargin

  val groupingSetsSql: String = groupingSetsBody("orders")

  /** Approximate distinct (HyperLogLog) next to the exact counts it
    * approximates. HLL sketches are implementation-specific, so the
    * approx values themselves can't cross-engine match — instead the
    * hash-checked output is the exact counts plus a 5%-error-bound flag
    * computed against each engine's own sketch. Both engines' HLL
    * implementations hold well under 5% at these cardinalities, so the
    * flags are deterministically 1 and the row hash-matches.
    *
    * Two single-row aggregates joined by a (broadcast) cross join, the
    * shape of [[hllSketchMerge]]: one takes the two exact counts, the
    * other the two sketches. In one aggregate, RewriteDistinctAggregates
    * feeds every non-distinct aggregate through the DISTINCT `Expand`,
    * so each of the ~16.7k distinct groups at sf0.01 held its own sketch
    * buffers (a 425.8 MiB shuffle estimate, a 1.8 MiB task binary).
    *
    * The sketch is DataSketches HLL at lgK = [[approxDistinctLgK]]: 2^14
    * buckets, rsd ≈ 1.04/√16384 ≈ 0.8%, in ONE binary buffer.
    * `approx_count_distinct(x, 0.01)` is HLL++ at the same p = 14 but
    * lays its registers out as 1,639 long buffer columns per sketch in a
    * non-codegen HashAggregate, a cost paid per buffer, not per row (it
    * got slower, not faster, on 4 partitions). Traced perfbench gate_mix
    * (seed 11, 4 vCPU): the gate 3.8 s → 0.3 s, task CPU 5,036 → 97 ms,
    * shuffle 2.49 → 0.13 MB. Don't trade precision below lgK 14 for
    * time: the default 0.05 rsd already missed the 5% flag on sf0.001's
    * 1473 orderkeys.
    */
  val approxDistinct: Q = (s, dir) => {
    import s.implicits._
    def within5pct(est: String, exact: String) =
      (abs(col(est) - col(exact)).cast("double") / col(exact) <= 0.05).cast("int")
    approxDistinctCounts(s, dir).select($"exact_orders", $"exact_parts",
      within5pct("est_orders", "exact_orders").as("orders_within_5pct"),
      within5pct("est_parts", "exact_parts").as("parts_within_5pct"))
  }

  /** DataSketches HLL precision of [[approxDistinct]] (log2 of buckets). */
  private[graft] val approxDistinctLgK = 14

  /** One row: the exact distinct counts of `l_orderkey` / `l_partkey`
    * (`exact_orders`, `exact_parts`) beside their lgK-14 sketch
    * estimates (`est_orders`, `est_parts`).
    */
  private[graft] def approxDistinctCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val est = li.agg(
      hll_sketch_estimate(hll_sketch_agg($"l_orderkey", approxDistinctLgK))
        .as("est_orders"),
      hll_sketch_estimate(hll_sketch_agg($"l_partkey", approxDistinctLgK))
        .as("est_parts"))
    li.agg(countDistinct($"l_orderkey").as("exact_orders"),
        countDistinct($"l_partkey").as("exact_parts"))
      .crossJoin(broadcast(est))
  }

  /** Bucketed tables provisioned once per (JVM, sf dir): both fact
    * sides land pre-hashed into 8 buckets on the join key, so the join
    * below needs NO exchange — the write-time partitioning that turns
    * every subsequent key-join into a local zipper at 100 TB. The
    * PlanSpec twin pins the zero-Exchange property; the gate here pins
    * the VALUES against the plain-join oracle (bucketing must never
    * change semantics, only the shuffle).
    */
  private val bucketedFor = scala.collection.mutable.Set[String]()

  private def ensureBucketed(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = synchronized {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (to, tl) = (s"b_orders_$tag", s"b_lineitem_$tag")
    if (!bucketedFor.contains(tag)) {
      import s.implicits._
      graft.operators.Bucketing.resetTable(s, to)
      graft.operators.Bucketing.resetTable(s, tl)
      graft.operators.Bucketing.writeBucketed(
        Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
        to, "o_orderkey", 8)
      graft.operators.Bucketing.writeBucketed(
        Tables(s, dir, "lineitem")
          .select($"l_orderkey".as("o_orderkey"), $"l_quantity"),
        tl, "o_orderkey", 8)
      bucketedFor += tag
    }
    (to, tl)
  }

  val bucketedColocated: Q = (s, dir) => {
    import s.implicits._
    val (to, tl) = ensureBucketed(s, dir)
    graft.operators.Bucketing.colocatedJoin(s, to, tl, "o_orderkey")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("total_qty"))
      .orderBy($"o_custkey")
  }

  val bucketedColocatedSql: String =
    s"""SELECT o_custkey, COUNT(*) AS n_lines,
       |  ${sqlDsum("l_quantity")} AS total_qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** HLL sketch ALGEBRA, not just estimation: per-slice sketches built
    * independently (as partitions/days would at scale), merged with
    * hll_union_agg, then estimated — the mergeability that lets a
    * 100 TB pipeline maintain distinct counts incrementally instead of
    * re-scanning. Gated like [[approxDistinct]]: the hash-stable output
    * is the exact count plus a per-engine flag that its own
    * sketch-merge path lands within 5% of its own exact value (DuckDB
    * has no exposed sketch type; its approx_count_distinct merges
    * internally — same contract, different surface).
    */
  val hllSketchMerge: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val merged = broadcast(
      orders.groupBy(($"o_orderkey" % 5).as("slice"))
        .agg(hll_sketch_agg($"o_custkey").as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est")))
    orders.agg(countDistinct($"o_custkey").as("exact_custs"))
      .crossJoin(merged)
      .select($"exact_custs",
        (abs($"est" - $"exact_custs").cast("double") / $"exact_custs" <= 0.05)
          .cast("int").as("merged_within_5pct"))
  }

  val hllSketchMergeSql: String =
    """SELECT COUNT(DISTINCT o_custkey) AS exact_custs,
      |  CAST(CAST(abs(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) AS DOUBLE)
      |    / COUNT(DISTINCT o_custkey) <= 0.05 AS INT) AS merged_within_5pct
      |FROM orders""".stripMargin

  val approxDistinctSql: String =
    """SELECT
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  CAST(CAST(abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey)) AS DOUBLE)
      |    / COUNT(DISTINCT l_orderkey) <= 0.05 AS INT) AS orders_within_5pct,
      |  CAST(CAST(abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey)) AS DOUBLE)
      |    / COUNT(DISTINCT l_partkey) <= 0.05 AS INT) AS parts_within_5pct
      |FROM lineitem""".stripMargin

  /** Approximate percentiles gated like [[approxDistinct]]: the sketch
    * algorithms differ per engine (Spark: Greenwald-Khanna variant;
    * DuckDB: t-digest), so the gate hashes the EXACT percentiles plus a
    * per-engine flag that its own sketch lands within 1% of its own
    * exact value — the error contract a 100 TB single-pass percentile
    * (no full sort) actually promises.
    */
  val approxPercentile: Q = (s, dir) => {
    import s.implicits._
    val ap = expr("percentile_approx(l_extendedprice, array(0.5D, 0.95D), 10000)")
    val ex = expr("percentile(l_extendedprice, array(0.5D, 0.95D))")
    Tables(s, dir, "lineitem")
      .agg(count(lit(1)).as("n"), ap.as("ap"), ex.as("ex"))
      .select($"n",
        round(element_at($"ex", 1), 6).as("exact_p50"),
        round(element_at($"ex", 2), 6).as("exact_p95"),
        (abs(element_at($"ap", 1) - element_at($"ex", 1)) /
          element_at($"ex", 1) <= 0.01).cast("int").as("p50_within_1pct"),
        (abs(element_at($"ap", 2) - element_at($"ex", 2)) /
          element_at($"ex", 2) <= 0.01).cast("int").as("p95_within_1pct"))
  }

  val approxPercentileSql: String =
    """SELECT COUNT(*) AS n,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
      |  CAST(abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
      |    / quantile_cont(l_extendedprice, 0.5) <= 0.01 AS INT) AS p50_within_1pct,
      |  CAST(abs(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))
      |    / quantile_cont(l_extendedprice, 0.95) <= 0.01 AS INT) AS p95_within_1pct
      |FROM lineitem""".stripMargin

  /** Entity resolution (fuzzy join) — matching records whose keys are
    * DIRTY, the data-integration operator no exact join covers: a
    * "dirty" feed of customer names (one digit of the 9-digit suffix
    * deterministically corrupted to 'x' at position custkey%6+1) is
    * re-linked to the clean table WITHOUT an O(n²) comparison.
    *
    * Blocking is deletion-neighborhood style, designed for this
    * corpus's adversarially low-entropy keys (sequential zero-padded
    * ids — naive prefix/q-gram blocking degenerates into one giant
    * block): split the digit suffix into thirds; the corruption always
    * lands in thirds 1-2, so each record emits TWO block keys, md5 of
    * the suffix with third 1 (resp. 2) removed — a matching pair
    * always shares the key that removes the damaged third, and both
    * keys keep the high-entropy low digits, so block sizes stay O(1)
    * as the table grows. Candidates = one equi-join on the key (one
    * shuffle), then the exact Levenshtein verify runs on candidates
    * only — the LSH-dedup discipline applied to joining.
    */
  val fuzzyMatch: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer").select($"c_custkey", $"c_name")
    val clean = cust.select($"c_custkey".as("id"), $"c_name".as("name"))
    val dirty = cust
      .withColumn("pos", (pmod($"c_custkey", lit(6)) + 1).cast("int"))
      .selectExpr("c_custkey + 1000000 AS id",
        "concat(substr(c_name, 1, 9), substr(c_name, 10, pos - 1), 'x', " +
          "substr(c_name, 10 + pos, 9 - pos)) AS name")
    def keyed(df: org.apache.spark.sql.DataFrame) = {
      val d = substring(col("name"), 10, 9)
      df.select(col("id"), col("name"),
        explode(array(
          md5(concat(lit("b1|"), substring(d, 4, 6))),
          md5(concat(lit("b2|"), substring(d, 1, 3),
            substring(d, 7, 3))))).as("bkey"))
    }
    keyed(clean).toDF("clean_id", "clean_name", "bkey")
      .join(keyed(dirty).toDF("dirty_id", "dirty_name", "bkey"), "bkey")
      .select($"clean_id", $"dirty_id",
        levenshtein($"clean_name", $"dirty_name").as("dist"))
      .distinct()
      .filter($"dist" <= 1)
      .orderBy($"clean_id", $"dirty_id")
  }

  val fuzzyMatchSql: String =
    """WITH clean AS (
      |  SELECT c_custkey AS id, c_name AS name FROM customer),
      |dirty AS (
      |  SELECT c_custkey + 1000000 AS id,
      |    concat(substr(c_name, 1, 9), substr(c_name, 10, pos - 1), 'x',
      |      substr(c_name, 10 + pos, 9 - pos)) AS name
      |  FROM (SELECT *, CAST(c_custkey % 6 + 1 AS INT) AS pos FROM customer)),
      |ck AS (
      |  SELECT id AS clean_id, name AS clean_name, unnest(ARRAY[
      |    md5('b1|' || substr(substr(name, 10, 9), 4, 6)),
      |    md5('b2|' || substr(substr(name, 10, 9), 1, 3)
      |      || substr(substr(name, 10, 9), 7, 3))]) AS bkey
      |  FROM clean),
      |dk AS (
      |  SELECT id AS dirty_id, name AS dirty_name, unnest(ARRAY[
      |    md5('b1|' || substr(substr(name, 10, 9), 4, 6)),
      |    md5('b2|' || substr(substr(name, 10, 9), 1, 3)
      |      || substr(substr(name, 10, 9), 7, 3))]) AS bkey
      |  FROM dirty),
      |cand AS (
      |  SELECT DISTINCT clean_id, dirty_id,
      |    CAST(levenshtein(clean_name, dirty_name) AS INT) AS dist
      |  FROM ck JOIN dk USING (bkey))
      |SELECT clean_id, dirty_id, dist FROM cand
      |WHERE dist <= 1 ORDER BY clean_id, dirty_id""".stripMargin

  /** Interval-OVERLAP join (range × range — the general case
    * [[rangePromoWeeks]]' point-in-range specializes): per-(user, day)
    * activity intervals joined to per-(event_type, hour) incident
    * windows wherever the two time spans intersect. Both sides SCALE
    * with the corpus, so neither is broadcastable at 100 TB and Spark
    * has no native interval join — the scale plan is the bucket-grid
    * equi-join: each interval explodes into the 1-hour grid cells it
    * covers, cells join by key, and each overlapping pair is emitted
    * EXACTLY ONCE by keeping only the cell containing the LATER of the
    * two interval starts (any overlapping pair shares that cell — it
    * lies inside both intervals — and no other emits it, so no distinct
    * pass is needed). Candidate work is Σ interval-length/grid — linear
    * in total interval mass, never |A|·|B|; the grid size is the
    * selectivity knob. Intervals are half-open [s, e) on exact epoch
    * micros, integer-only throughout. The oracle runs the plain
    * inequality join (DuckDB's IEJoin) — a different algorithm, so the
    * gate pins the overlap semantics, not the plan.
    */
  /** The bucket-grid overlap core: joins interval table `a` (columns
    * `as_`, `ae` + carry-through keys) to `b` (columns `bs`, `be` +
    * keys) on every pair whose half-open [s, e) spans intersect, each
    * pair EXACTLY ONCE. Extracted so OverlapProps can pin equivalence
    * with the brute-force inequality join on adversarial interval sets
    * (touching endpoints, nested spans, grid-straddling) at several
    * grid sizes.
    */
  private[graft] def overlapPairs(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      gridUs: Long): org.apache.spark.sql.DataFrame = {
    val aExp = a.withColumn("g", explode(
      sequence(expr(s"as_ div $gridUs"), expr(s"(ae - 1) div $gridUs"))))
    val bExp = b.withColumn("g", explode(
      sequence(expr(s"bs div $gridUs"), expr(s"(be - 1) div $gridUs"))))
    aExp.join(bExp, Seq("g"))
      .filter(col("as_") < col("be") && col("bs") < col("ae") &&
        col("g") === expr(s"greatest(as_, bs) div $gridUs"))
  }

  val intervalOverlap: Q = (s, dir) => {
    import s.implicits._
    val hourUs = 3600L * 1000000L
    val dayUs = 24L * hourUs
    val ev = Tables(s, dir, "events")
      .select($"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val a = ev.groupBy($"user_id", expr(s"us div $dayUs").as("day"))
      .agg(min($"us").as("as_"), (max($"us") + 1L).as("ae"))
    val b = ev.groupBy($"event_type", expr(s"us div $hourUs").as("hr"))
      .agg(min($"us").as("bs"), (max($"us") + 1L).as("be"))
    overlapPairs(a, b, hourUs)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  val intervalOverlapSql: String = {
    val hourUs = 3600L * 1000000L
    val dayUs = 24L * hourUs
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |a AS (SELECT user_id, us // $dayUs AS day,
       |        MIN(us) AS a_s, MAX(us) + 1 AS ae FROM ev GROUP BY 1, 2),
       |b AS (SELECT event_type, us // $hourUs AS hr,
       |        MIN(us) AS bs, MAX(us) + 1 AS be FROM ev GROUP BY 1, 2)
       |SELECT event_type, COUNT(*) AS n_pairs,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM a JOIN b ON a_s < be AND bs < ae
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Count-min sketch with md5 hash rows — the third mergeable sketch
    * beside HLL ([[hllSketchMerge]]) and Misra-Gries
    * (`text_heavy_hitters`): 4 hash rows × 512 counters estimate any
    * term's frequency as min over rows of its counter, with one-sided
    * error (est ≥ exact always; overflow bounded by Σcounts/512 per
    * row). Because the hashes are the md5 KeyHash recipe, the WHOLE
    * sketch is bit-identical across engines and the gate hash-matches
    * the actual estimates — a stronger contract than HLL's
    * within-tolerance flag (DuckDB exposes no sketch state; here the
    * sketch IS plain aggregation state).
    *
    * Scale shape: the sketch build is one groupBy over (row, bucket) —
    * ≤ 2048 cells regardless of corpus size, map-side combined, and
    * mergeable across slices/days by construction (sum of matrices).
    * Probes (the corpus top-10 terms, computed exactly for the
    * comparison column) join the tiny matrix on (row, bucket).
    */
  val countminProbe: Q = (s, dir) => {
    import s.implicits._
    import graft.text.TextAnalysis
    val W = 512
    val rowIdx = 0 until 4
    // one md5 per token, 4 disjoint 16-bit slices as the hash family.
    // CAUTION (r12 measured): CSE does NOT reach into explode(array(…))
    // generator inputs — this bucketCols shape pays d digests/element
    // under a Generate, so it is used ONLY for the 10 probe terms
    // below; the corpus-scale sketch build projects the digest once
    // and slices it (KeyHash.bucketRowOfDigest).
    def bucketCols(term: org.apache.spark.sql.Column) =
      explode(array(rowIdx.map(r =>
      struct(lit(r).as("r"),
        graft.functions.KeyHash.bucketRow("cm|", term, r, W).as("b"))): _*))
    // repartition the one-file documents scan BEFORE the explode: the
    // per-row digest/tokenize work otherwise runs on the scan's single
    // input partition (r12 measured: sketch build 1.0 → 0.5 s at sf0.1;
    // at production scale the scan has thousands of partitions and the
    // exchange is a no-op cost-wise)
    val toks = graft.CacheTracker.persistTracked(
      Tables(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(TextAnalysis.tokens($"text")).as("term"))
        .filter(length($"term") > 1))
    // digest projected ONCE, sliced per row — CSE does not reach into
    // generator inputs, so the bucketCols form pays d digests/element
    // here (fine for the 10 probe terms below, not for the corpus)
    val cm = toks
      .select(md5(concat(lit("cm|"), $"term".cast("string"))).as("dg"))
      .select(explode(array(rowIdx.map(r =>
        struct(lit(r).as("r"),
          graft.functions.KeyHash.bucketRowOfDigest($"dg", r, W).as("b"))): _*))
        .as("x"))
      .groupBy($"x.r".as("r"), $"x.b".as("b")).agg(count(lit(1)).as("cnt"))
    val probes = toks.groupBy($"term").agg(count(lit(1)).as("exact"))
      .orderBy($"exact".desc, $"term").limit(10)
    probes.select($"term", $"exact", bucketCols($"term").as("x"))
      .select($"term", $"exact", $"x.r".as("r"), $"x.b".as("b"))
      .join(cm, Seq("r", "b"))
      .groupBy($"term", $"exact").agg(min($"cnt").as("est"))
      .select($"term", $"exact", $"est",
        ($"est" - $"exact").as("overestimate"))
      .orderBy($"exact".desc, $"term")
  }

  val countminProbeSql: String = {
    import graft.text.TextAnalysis
    def bCase(tbl: String) =
      graft.functions.KeyHash.sqlBucketRow("cm|", s"$tbl.term", "j", 512)
    s"""WITH tok AS MATERIALIZED (
       |  SELECT term FROM (
       |    SELECT unnest(${TextAnalysis.sqlTokens("text")}) AS term
       |    FROM documents)
       |  WHERE length(term) > 1),
       |cm AS MATERIALIZED (
       |  SELECT r, b, COUNT(*) AS cnt FROM (
       |    SELECT j AS r, ${bCase("tok")} AS b
       |    FROM tok CROSS JOIN range(0, 4) t(j))
       |  GROUP BY r, b),
       |probes AS (
       |  SELECT term, COUNT(*) AS exact FROM tok
       |  GROUP BY term ORDER BY exact DESC, term LIMIT 10),
       |pk AS (
       |  SELECT term, exact, j AS r, ${bCase("probes")} AS b
       |  FROM probes CROSS JOIN range(0, 4) t(j))
       |SELECT term, exact, MIN(cnt) AS est,
       |  MIN(cnt) - exact AS overestimate
       |FROM pk JOIN cm USING (r, b)
       |GROUP BY term, exact ORDER BY exact DESC, term""".stripMargin
  }

  /** Bloom-filter pre-join screen — the broadcast-Bloom semi-join a
    * 100 TB fact⋈dim join runs BEFORE the shuffle: build a 16384-bit /
    * 4-hash Bloom filter over a selective order-key subset (md5 slices
    * via [[graft.functions.KeyHash.bucketRow]] — one digest per key,
    * deterministic in any engine), probe every distinct fact key, and
    * report the exact screen quality (true members, false positives,
    * fp ppm). Membership tests ride a key-partitioned equi-join on the
    * bit position — never a per-row scan of the bit array — so the
    * probe side is one shuffle of |keys|·k rows; the bit table
    * (≤ m rows) broadcasts. The filter's contract (no false negatives)
    * is structural: every build key's positions are in the bit table,
    * so n_pass ≥ n_true always; the gate's fp count pins the measured
    * precision both engines must agree on exactly.
    */
  val bloomPrefilter: Q = (s, dir) => {
    import s.implicits._
    val M = 16384
    val K = 4
    def positions(key: org.apache.spark.sql.Column) =
      explode(array((0 until K).map(r =>
        graft.functions.KeyHash.bucketRow("bloom|", key, r, M)): _*))
    // selective build side: ~1/14 of orders (status F, key % 7 == 0)
    val build = graft.CacheTracker.persistTracked(
      Tables(s, dir, "orders")
        .filter($"o_orderstatus" === "F" && $"o_orderkey" % 7 === 0)
        .select($"o_orderkey".as("k")).distinct())
    val bits = graft.CacheTracker.persistTracked(
      build.select(positions($"k").as("bit")).distinct())
    val probes = graft.CacheTracker.persistTracked(
      Tables(s, dir, "lineitem").select($"l_orderkey".as("k")).distinct())
    val pass = probes.select($"k", positions($"k").as("bit"))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("bit"), "left")
      .groupBy($"k").agg(sum(coalesce($"hit", lit(0))).as("nhit"))
      .filter($"nhit" === K).select($"k")
      .transform(graft.CacheTracker.persistTracked)
    val trues = pass.join(build, Seq("k"), "left_semi")
    val counts = build.agg(count(lit(1)).as("n_build_keys"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(probes.agg(count(lit(1)).as("n_probe_keys")))
      .crossJoin(pass.agg(count(lit(1)).as("n_pass")))
      .crossJoin(trues.agg(count(lit(1)).as("n_true")))
    counts.select($"n_build_keys", $"n_bits_set", $"n_probe_keys",
      $"n_pass", $"n_true", ($"n_pass" - $"n_true").as("n_false_pos"),
      expr("(1000000 * (n_pass - n_true)) div (n_probe_keys - n_true)")
        .as("fp_ppm"))
  }

  val bloomPrefilterSql: String = {
    def pos(tbl: String) =
      graft.functions.KeyHash.sqlBucketRow("bloom|", s"$tbl.k", "j", 16384)
    s"""WITH build AS MATERIALIZED (
       |  SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0),
       |bits AS MATERIALIZED (
       |  SELECT DISTINCT ${pos("build")} AS bit
       |  FROM build CROSS JOIN range(0, 4) t(j)),
       |probes AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS k FROM lineitem),
       |pp AS (
       |  SELECT probes.k, ${pos("probes")} AS bit
       |  FROM probes CROSS JOIN range(0, 4) t(j)),
       |pass AS MATERIALIZED (
       |  SELECT k FROM pp LEFT JOIN bits USING (bit)
       |  GROUP BY k HAVING SUM(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 4),
       |tr AS (SELECT pass.k FROM pass SEMI JOIN build ON pass.k = build.k),
       |c AS (
       |  SELECT (SELECT COUNT(*) FROM build) AS n_build_keys,
       |    (SELECT COUNT(*) FROM bits) AS n_bits_set,
       |    (SELECT COUNT(*) FROM probes) AS n_probe_keys,
       |    (SELECT COUNT(*) FROM pass) AS n_pass,
       |    (SELECT COUNT(*) FROM tr) AS n_true)
       |SELECT n_build_keys, n_bits_set, n_probe_keys, n_pass, n_true,
       |  n_pass - n_true AS n_false_pos,
       |  (1000000 * (n_pass - n_true)) // (n_probe_keys - n_true) AS fp_ppm
       |FROM c""".stripMargin
  }

  /** FORWARD as-of join — the label-assignment direction
    * ([[asofPurchaseClick]] looks backward): each click matched to the
    * EARLIEST purchase at or after it per user. Same single-sort
    * union-window formulation (one shuffle on user_id, no join at
    * all): purchases dedup to one row per (user, ts) by max event_id,
    * then a forward-looking `first(..., ignoreNulls)` over
    * (ts, tag) — clicks tag 0 sort before purchases at the same
    * instant, so a same-timestamp purchase matches (ts ≤ semantics).
    * The oracle is DuckDB's native forward ASOF (`c.ts <= p.ts`).
    */
  val asofForwardClickPurchase: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val dd = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val purchases = ev.filter($"event_type" === "purchase")
      .withColumn("rn", row_number().over(dd)).filter($"rn" === 1)
      .select($"user_id", $"ts", lit(1).as("tag"),
        $"event_id".as("purchase_id"), lit(null).cast("long").as("click_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(0).as("tag"),
        lit(null).cast("long").as("purchase_id"), $"event_id".as("click_id"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("p_ts",
        first(when($"tag" === 1, $"ts"), ignoreNulls = true).over(w))
      .withColumn("p_id",
        first(when($"tag" === 1, $"purchase_id"), ignoreNulls = true).over(w))
      .filter($"tag" === 0)
      .select($"user_id", $"click_id", $"ts".as("click_ts"),
        $"p_ts".as("next_purchase_ts"), $"p_id".as("next_purchase_id"))
      .orderBy($"click_id")
  }

  val asofForwardSql: String =
    """WITH p0 AS (
      |  SELECT user_id, ts, event_id AS purchase_id,
      |    row_number() OVER (PARTITION BY user_id, ts
      |                       ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |p AS (SELECT user_id, ts, purchase_id FROM p0 WHERE rn = 1),
      |c AS (SELECT user_id, event_id AS click_id, ts
      |      FROM events WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, c.ts AS click_ts,
      |  p.ts AS next_purchase_ts, p.purchase_id AS next_purchase_id
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
      |ORDER BY click_id""".stripMargin

  /** Nearest as-of — the third direction beside backward and forward:
    * each click pairs with the purchase of MINIMAL |Δt| in either
    * direction, ties to the earlier (backward) purchase. One shuffle on
    * user_id carries BOTH directions: the click∪purchase union is
    * sorted twice inside the same partitioning (ascending tag order for
    * the forward window, purchase-first for the backward one), so the
    * plan is exchange + two sorts — never a join, the scale-safe as-of
    * formulation shared with the sibling gates. Purchases are deduped
    * per (user, ts) exactly as the forward gate does, and Δt compares
    * in exact integer microseconds (`delta_us` is signed: negative =
    * matched backward).
    */
  val asofNearestClickPurchase: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val dd = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val purchases = ev.filter($"event_type" === "purchase")
      .withColumn("rn", row_number().over(dd)).filter($"rn" === 1)
      .select($"user_id", $"ts", lit(1).as("tag"),
        $"event_id".as("purchase_id"), lit(null).cast("long").as("click_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(0).as("tag"),
        lit(null).cast("long").as("purchase_id"), $"event_id".as("click_id"))
    val u = clicks.unionByName(purchases)
      .withColumn("us", unix_micros($"ts".cast("timestamp")))
    // forward: click sorts before a same-ts purchase, frame looks ahead
    val wF = Window.partitionBy($"user_id").orderBy($"us", $"tag")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // backward: purchase sorts first at equal ts, frame looks back —
    // a same-ts purchase is visible to BOTH directions (Δ = 0)
    val wB = Window.partitionBy($"user_id").orderBy($"us", $"tag".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def fwd(c: org.apache.spark.sql.Column) =
      first(when($"tag" === 1, c), ignoreNulls = true).over(wF)
    def bwd(c: org.apache.spark.sql.Column) =
      last(when($"tag" === 1, c), ignoreNulls = true).over(wB)
    val annotated = u
      .withColumn("n_us", fwd($"us")).withColumn("n_id", fwd($"purchase_id"))
      .withColumn("n_ts", fwd($"ts"))
      .withColumn("p_us", bwd($"us")).withColumn("p_id", bwd($"purchase_id"))
      .withColumn("p_ts", bwd($"ts"))
      .filter($"tag" === 0)
    val pickPrev = $"n_us".isNull ||
      ($"p_us".isNotNull && ($"us" - $"p_us") <= ($"n_us" - $"us"))
    annotated.select($"user_id", $"click_id", $"ts".as("click_ts"),
        when(pickPrev, $"p_id").otherwise($"n_id").as("purchase_id"),
        when(pickPrev, $"p_ts").otherwise($"n_ts").as("purchase_ts"),
        when(pickPrev, $"p_us" - $"us").otherwise($"n_us" - $"us")
          .as("delta_us"))
      .orderBy($"click_id")
  }

  val asofNearestSql: String =
    """WITH p0 AS (
      |  SELECT user_id, ts, event_id AS purchase_id,
      |    row_number() OVER (PARTITION BY user_id, ts
      |                       ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |p AS (SELECT user_id, ts, purchase_id FROM p0 WHERE rn = 1),
      |c AS (SELECT user_id, event_id AS click_id, ts
      |      FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT c.user_id, c.click_id, c.ts, p.ts AS p_ts,
      |    p.purchase_id AS p_id
      |  FROM c ASOF LEFT JOIN p
      |    ON c.user_id = p.user_id AND c.ts >= p.ts),
      |f AS (
      |  SELECT c.click_id, p.ts AS n_ts, p.purchase_id AS n_id
      |  FROM c ASOF LEFT JOIN p
      |    ON c.user_id = p.user_id AND c.ts <= p.ts)
      |SELECT b.user_id, b.click_id, b.ts AS click_ts,
      |  CASE WHEN f.n_ts IS NULL OR (b.p_ts IS NOT NULL AND
      |         (epoch_us(b.ts) - epoch_us(b.p_ts))
      |           <= (epoch_us(f.n_ts) - epoch_us(b.ts)))
      |       THEN b.p_id ELSE f.n_id END AS purchase_id,
      |  CASE WHEN f.n_ts IS NULL OR (b.p_ts IS NOT NULL AND
      |         (epoch_us(b.ts) - epoch_us(b.p_ts))
      |           <= (epoch_us(f.n_ts) - epoch_us(b.ts)))
      |       THEN b.p_ts ELSE f.n_ts END AS purchase_ts,
      |  CASE WHEN f.n_ts IS NULL OR (b.p_ts IS NOT NULL AND
      |         (epoch_us(b.ts) - epoch_us(b.p_ts))
      |           <= (epoch_us(f.n_ts) - epoch_us(b.ts)))
      |       THEN epoch_us(b.p_ts) - epoch_us(b.ts)
      |       ELSE epoch_us(f.n_ts) - epoch_us(b.ts) END AS delta_us
      |FROM b JOIN f USING (click_id)
      |ORDER BY click_id""".stripMargin

  /** Market-basket frequent pairs (a-priori level 2): part pairs
    * co-purchased within an order, support-counted corpus-wide, the
    * classic affinity primitive. The pair generator is the
    * within-order self-join on the (persisted) distinct item set —
    * bounded by ORDER SIZE (≤ 7 lines in this schema), so candidates
    * are Σ C(|order|, 2), linear in orders — never a parts×parts
    * blowup; the support count is one shuffle on the pair key and the
    * report is a TakeOrderedAndProject top-100. Deterministic total
    * order (support desc, then both part keys).
    */
  val frequentPairs: Q = (s, dir) => {
    import s.implicits._
    // read by both sides of the within-order self-join. r17 (verdict
    // item 6, guide §2.4 "two operations keyed the same way share one
    // exchange"): repartition on l_orderkey FIRST — hash(l_orderkey)
    // co-locates every row of an order, so the (orderkey, partkey)
    // distinct completes partition-locally with NO second exchange,
    // and the self-join on l_orderkey reuses the persisted frame's
    // partitioning on both sides (plan: 4 Exchanges → 2 — the
    // repartition and the pair-key aggregation; values unchanged,
    // distinct/join/count are partitioning-invariant).
    val items = graft.CacheTracker.persistTracked(
      Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey")
        .repartition($"l_orderkey")
        .distinct())
    items.alias("a").join(items.alias("b"), Seq("l_orderkey"))
      .where($"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("part_a"), $"b.l_partkey".as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
      .orderBy($"support".desc, $"part_a", $"part_b").limit(100)
  }

  val frequentPairsSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey)
      |SELECT part_a, part_b, COUNT(*) AS support
      |FROM pairs GROUP BY part_a, part_b
      |HAVING COUNT(*) >= 2
      |ORDER BY support DESC, part_a, part_b LIMIT 100""".stripMargin

  /** KMV (k-minimum-values) sketches with SET-INTERSECTION estimation
    * (Beyer et al. 2007; the theta-sketch family's core idea) — the
    * sketch HLL cannot provide: HLL unions but never intersects, while
    * KMV's k smallest hash values of each set merge into a union
    * sketch whose members can be TESTED against both input sketches,
    * yielding a Jaccard/intersection estimator. Here: the
    * positive-balance customer set vs the has-ordered customer set
    * (genuinely different sets — the corpus' event-user and
    * per-language-token candidates measured DEGENERATE: every user
    * does every event type and all five langs share one 31-token
    * synthetic vocabulary), k = 64, hash = the house 48-bit md5 slice
    * (deterministic — both engines build bit-identical sketches, so
    * the gate hashes the sketch CONTENT, not a tolerance).
    * Output (one row): the k-th smallest hash of each sketch (the
    * estimator denominators — distinct(S) ≈ (k−1)·2^48 / h_k, left as
    * exact integers per the house ratio rule), the union-sketch member
    * count found in both input sketches (the intersection numerator),
    * and the EXACT distinct/intersection counts beside them — the
    * two-pass sketch-gate pattern (the sketch is the operator, the
    * exact recompute is the quality reference; KmvSpec pins the
    * estimates within ±50% of exact on this corpus).
    *
    * Scale shape: two distinct-aggregates to per-set hash sets, each
    * top-k via orderBy+limit (TakeOrderedAndProject — the sketch build
    * IS a distributed top-k), 64-row broadcast joins for membership,
    * and the exact reference counts as plain distinct aggregations.
    */
  val kmvIntersect: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.KeyHash
    val ha = graft.CacheTracker.persistTracked(
      Tables(s, dir, "customer").filter($"c_acctbal" > 0)
        .select(KeyHash.hash48("kmv|", $"c_custkey").as("h")).distinct())
    val hb = graft.CacheTracker.persistTracked(
      Tables(s, dir, "orders").select($"o_custkey").distinct()
        .select(KeyHash.hash48("kmv|", $"o_custkey").as("h")).distinct())
    val k = 64
    val skA = broadcast(ha.orderBy($"h").limit(k))
    val skB = broadcast(hb.orderBy($"h").limit(k))
    val skU = broadcast(
      skA.unionByName(skB).distinct().orderBy($"h").limit(k))
    val common = skU.join(skA, "h").join(skB, "h")
      .agg(count(lit(1)).as("n_common"))
    val hks = skA.agg(max($"h").as("hk_a"))
      .crossJoin(skB.agg(max($"h").as("hk_b")))
      .crossJoin(skU.agg(max($"h").as("hk_u")))
    val exact = ha.agg(count(lit(1)).as("exact_a"))
      .crossJoin(hb.agg(count(lit(1)).as("exact_b")))
      .crossJoin(ha.join(hb, "h").agg(count(lit(1)).as("exact_inter")))
    hks.crossJoin(common).crossJoin(exact)
      .select(lit(k).as("k"), $"hk_a", $"hk_b", $"hk_u", $"n_common",
        $"exact_a", $"exact_b", $"exact_inter")
  }

  val kmvIntersectSql: String = {
    import graft.functions.KeyHash
    val hc = KeyHash.sqlHash48("kmv|", "c_custkey")
    val ho = KeyHash.sqlHash48("kmv|", "o_custkey")
    s"""WITH ha AS (
       |  SELECT DISTINCT $hc AS h FROM customer WHERE c_acctbal > 0),
       |hb AS (
       |  SELECT DISTINCT $ho AS h FROM (
       |    SELECT DISTINCT o_custkey FROM orders)),
       |ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
       |skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
       |sku AS (SELECT DISTINCT h FROM (
       |    SELECT h FROM ska UNION ALL SELECT h FROM skb)
       |  ORDER BY h LIMIT 64),
       |common AS (
       |  SELECT COUNT(*) AS n_common FROM sku
       |  JOIN ska USING (h) JOIN skb USING (h)),
       |hks AS (
       |  SELECT (SELECT MAX(h) FROM ska) AS hk_a,
       |         (SELECT MAX(h) FROM skb) AS hk_b,
       |         (SELECT MAX(h) FROM sku) AS hk_u),
       |exact AS (
       |  SELECT (SELECT COUNT(*) FROM ha) AS exact_a,
       |         (SELECT COUNT(*) FROM hb) AS exact_b,
       |         (SELECT COUNT(*) FROM ha JOIN hb USING (h)) AS exact_inter)
       |SELECT CAST(64 AS INT) AS k, hk_a, hk_b, hk_u, n_common,
       |  exact_a, exact_b, exact_inter
       |FROM hks CROSS JOIN common CROSS JOIN exact""".stripMargin
  }

  val all: Map[String, (Q, Option[String])] = Map(
    "agg_kmv_intersect" -> (kmvIntersect, Some(kmvIntersectSql)),
    "agg_frequent_pairs" -> (frequentPairs, Some(frequentPairsSql)),
    "join_asof_nearest" ->
      (asofNearestClickPurchase, Some(asofNearestSql)),
    "join_asof_forward" ->
      (asofForwardClickPurchase, Some(asofForwardSql)),
    "agg_countmin_probe" -> (countminProbe, Some(countminProbeSql)),
    "agg_bloom_prefilter" -> (bloomPrefilter, Some(bloomPrefilterSql)),
    "join_interval_overlap" -> (intervalOverlap, Some(intervalOverlapSql)),
    "join_fuzzy_match" -> (fuzzyMatch, Some(fuzzyMatchSql)),
    "join_bucketed_colocated" -> (bucketedColocated, Some(bucketedColocatedSql)),
    "join_asof_purchase_click" -> (asofPurchaseClick, Some(asofSql)),
    "join_asof_tolerance" -> (asofTolerance, Some(asofToleranceSql)),
    "join_range_promo_weeks" -> (rangePromoWeeks, Some(rangePromoSql)),
    "agg_grouping_sets" -> (groupingSets, Some(groupingSetsSql)),
    "agg_hll_sketch_merge" -> (hllSketchMerge, Some(hllSketchMergeSql)),
    "agg_approx_distinct" -> (approxDistinct, Some(approxDistinctSql)),
    "agg_approx_percentile" -> (approxPercentile, Some(approxPercentileSql))
  )
}
