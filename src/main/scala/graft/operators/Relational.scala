package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Ranking
import graft.sources.Tables

/** Relational/analytics core: the engine-foundation queries and bench
  * headliners.
  *
  * Oracle-determinism rules (SURVEY.md §5): every double aggregation goes
  * through DECIMAL (exact rational arithmetic, identical in Spark and
  * DuckDB) and is cast to double only at the end; dates/timestamps are
  * emitted as strings; every top-k has a total-order tiebreak.
  */
object Relational {

  /** Cast to a small exact decimal. Money columns fit (12,2); rate columns
    * (discount/tax) fit (5,2). Keeping precision tight keeps products within
    * decimal(38) so neither engine rounds.
    */
  private def dec(c: Column, p: Int = 12, s: Int = 2): Column =
    c.cast(DecimalType(p, s))

  /** (1 - l_discount) as exact decimal(5,2). */
  private def discFactor: Column =
    (lit(1) - dec(col("l_discount"), 5, 2)).cast(DecimalType(5, 2))

  /** (1 + l_tax) as exact decimal(5,2). */
  private def taxFactor: Column =
    (lit(1) + dec(col("l_tax"), 5, 2)).cast(DecimalType(5, 2))

  /** TPC-H Q1-style pricing summary: single hash-aggregate, map-side
    * partial agg, filter pushed to the parquet scan. Scales as one shuffle
    * keyed on (returnflag, linestatus) — 6 groups, trivially skew-free.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        // Round the exact decimal sum to scale 2 BEFORE the double cast:
        // above ~9e15 the unscaled decimal exceeds 2^53 and engines differ
        // in how they round decimal→double (one- vs two-step), so a scale-6
        // sum diverges by 1 ulp at ~10× sf0.1. Scale 2 keeps the unscaled
        // value exactly double-representable to ~9e13 in VALUE terms.
        round(sum(dec(col("l_extendedprice")) * discFactor), 2).cast("double").as("sum_disc_price"),
        round(sum(dec(col("l_extendedprice")) * discFactor * taxFactor), 2).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"), 5, 2)).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style: top-10 orders by revenue. lineitem⋈orders shuffles on
    * orderkey; customer side reduces to a key set and is broadcast. At 100 TB
    * the agg keys on o_orderkey (high cardinality) — AQE coalesces; the
    * top-10 is a TakeOrdered, no global sort materialized.
    */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1999-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // Reduce the orders side by the customer filter BEFORE lineitem sees
    // it (r15): inner joins commute, so filtering orders to the BUILDING
    // segment first shrinks the broadcast relation ~5× and lineitem
    // probes one hash table instead of two — identical output, strictly
    // less build + probe work at any scale.
    val bldOrd = ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    li.join(bldOrd, li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * discFactor).cast("double").as("revenue"))
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue per nation for one region, customer and
    * supplier in the same nation. region/nation/supplier are broadcast
    * (small dims); the only real shuffles are orders⋈lineitem on orderkey
    * and the final 25-group agg.
    */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // round-to-2 before the cast: see q1Agg's 2^53 note
      .agg(round(sum(dec(col("l_extendedprice")) * discFactor), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q4-style: order counts per priority for orders with at least
    * one line item shipped after the order date — the correlated-EXISTS
    * shape, planned as a LEFT SEMI join so the lineitem side deduplicates
    * during the join build (never materializing the multiplicity) and the
    * probe carries only (orderkey, orderdate). Counts are integer-exact.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1996-07-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // EXISTS(l_shipdate > o_orderdate) ⟺ max(l_shipdate) per orderkey >
    // o_orderdate (r15): pre-aggregating lineitem to one (orderkey,
    // max_ship) row per order shrinks the semi side ~4× before the join
    // and the max combines map-side — the join then carries order-count
    // rows instead of lineitem-count rows. NULL shipdates drop out of max
    // exactly as they never satisfied the EXISTS comparison.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("max_ship"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("max_ship") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q15-style: the top-revenue supplier(s) for one quarter — the
    * argmax-over-aggregate shape. Revenue is one suppkey-keyed decimal
    * agg; the maximum reduces map-side to a single row that is BROADCAST
    * back for the equality filter (never a single-partition window over
    * the agg), and the supplier dim is broadcast for the name join.
    * Decimal equality is exact, so ties surface deterministically.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // rev is checkpointed (r15): the max-broadcast branch and the equality
    // filter both consume it, and Spark re-executes the shared subtree per
    // branch — i.e. TWO full lineitem scans + aggs for one supplier-sized
    // frame. Materializing the (suppkey, total_rev) agg makes it one pass.
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
              col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * discFactor).as("total_rev"))
      .localCheckpoint(true)
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.join(broadcast(mx), col("total_rev") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q6-style: pure filter+sum — the predicate-pushdown showcase.
    * All four predicates reach the parquet scan (PushedFilters); one row out,
    * no shuffle beyond the final partial-agg merge.
    */
  def q6FilterAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
              col("l_shipdate") < lit("1997-01-01") &&
              col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
              col("l_quantity") < 24)
      .agg(
        round(sum(dec(col("l_extendedprice")) * dec(col("l_discount"), 5, 2)), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q13-style: the customer order-count distribution — how many
    * customers placed k orders, INCLUDING the zero bucket (customer LEFT
    * JOIN orders). The double-aggregate shape: a custkey-keyed count
    * (map-side combined), then a count-of-counts over the tiny histogram
    * domain. Integer-exact.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    // r15 (opt round, guide §2.3 "aggregate before you shuffle"): orders
    // pre-aggregates to (custkey, count) with map-side combine BEFORE the
    // left join, so the join carries one row per ordering customer
    // instead of one row per order — the old form shuffled every order
    // row through the join only to count it afterwards. Customers with
    // no orders surface as the null-count side of the left join and
    // coalesce to the zero bucket, exactly the old count(o_orderkey)=0.
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val withZero = Tables.customer(spark, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
    withZero.groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** TPC-H Q18-style: large orders — orders whose line items total ≥ 300
    * units (the HAVING-on-aggregate shape), top-10 by quantity. The
    * lineitem agg keys on orderkey; HAVING prunes before the orders join
    * (the big side shrinks first); the result is a TakeOrdered head with
    * a deterministic orderkey tiebreak. Quantity sums are decimal-exact.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") >= 300)
    big.join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(10)
  }

  /** SURVEY §2 `q_orders_growth`: monthly revenue with month-over-month
    * growth — the lag-window time-series shape. Revenue is one
    * month-keyed decimal agg (map-side combined); the lag window orders
    * the MONTH table, which is bounded (one row per month, like
    * curation_budget's quality bands), so the single-partition window
    * frame never sees the fact table. Growth divides exact-decimal-cast
    * doubles, IEEE-identical across engines; the first month is NULL on
    * both.
    */
  def qOrdersGrowth(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
    m.withColumn("prev", lag(col("revenue"), 1).over(Window.orderBy(col("month"))))
      .select(col("month"), col("revenue"), col("n_orders"),
        round((col("revenue") - col("prev")) / col("prev"), 6).as("mom_growth"))
  }

  /** SURVEY §2 `q_events_dau_wau`: daily and trailing-7-day active users —
    * the product-analytics pair next to funnel/retention. DAU is a
    * distinct-(user, day) count; WAU materializes each active (user, day)
    * into the 7 observation days it covers (the q_events_sliding
    * union trick, as an explode) and distinct-counts per observation day.
    * Integer-exact; both aggs shuffle on bounded keys (day, user×day).
    */
  def qEventsDauWau(spark: SparkSession, dir: String): DataFrame = {
    // act is checkpointed (r15): the dau and wau branches both consume the
    // distinct (user, day) frame, and unmaterialized each branch re-ran
    // the corpus scan + distinct shuffle. One activity pass; the
    // materialized frame is the distinct activity set — the same trade as
    // the approx twin's daily sketches, at (user × day) instead of day
    // granularity. (A fused single-agg form — explode with the offset and
    // count-distinct twice over one frame — was measured and rejected:
    // the two-distinct Expand doubles the exploded shuffle and timed
    // 0.87 s vs 0.67 s for the branch shape at sf0.1.)
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .localCheckpoint(true)
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
  }

  /** HLL accuracy knob for [[qEventsDauWauApprox]]: 2^14 registers,
    * rsd = 1.04/√2^14 ≈ 0.8% (3σ ≈ 2.4%), ~16 KB per daily sketch.
    */
  val DauWauLgK = 14

  /** SURVEY §2 `q_events_dau_wau_approx`: the sketch-based serving twin of
    * [[qEventsDauWau]], built on MERGEABLE per-day HLL sketches
    * (DataSketches `hll_sketch_agg`). The exact operator shuffles every
    * distinct (user, day) and re-materializes each activity row ×7 for
    * the trailing window; here the corpus is read ONCE into one
    * constant-size sketch per day (no distinct pre-pass — HLL absorbs
    * duplicates map-side), DAU is the sketch estimate, and WAU is a
    * 7-day `hll_union_agg` over the ~n_days sketch rows — set union is
    * exactly what HLL merges compute, so the window costs per-DAY work,
    * not per-event work. This is the serving design every 100 TB
    * observability store uses: daily sketches persisted once, ANY
    * trailing window (7/28/90-day) derived by merge without touching
    * events again. Register hashing is engine-specific → rows-only gate;
    * RelationalSpec pins the relative error vs the exact twin.
    */
  def qEventsDauWauApprox(spark: SparkSession, dir: String): DataFrame = {
    // One corpus pass → ~n_days rows of (day, 16 KB sketch). Checkpointed
    // because both branches consume it (the dedupNgram groups convention;
    // the materialized frame is KB-sized).
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), DauWauLgK).as("sk"))
      .localCheckpoint(true)
    val dau = daily.select(col("day"), hll_sketch_estimate(col("sk")).as("dau_approx"))
    val wau = daily
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("day"), col("sk"))
      .select(date_add(col("day"), col("k")).as("day"), col("sk"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_approx"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau_approx"), col("wau_approx"))
  }

  /** Heavy-hitter knobs shared by the exact and sketch twins: top-K users
    * per trailing window, and the frequent-items sketch capacity. 65536
    * tracked slots ≥ the distinct-user count per trailing window at every
    * GATE SF — sized above sf1's measured 15,000 users/window (the r8
    * 8192 sizing saturated there and broke the pinned exact-agreement
    * contract) with ~4× headroom, at ~1 MB per daily sketch. When a
    * deployment's window cardinality exceeds it anyway, the count
    * guarantee degrades gracefully to +n/maxItemsTracked and
    * [[graft.VerifyApprox]] switches to the saturated-mode criterion
    * (presence of every item above the error floor + estimate dominance)
    * instead of exact agreement.
    */
  val HeavyHittersK = 5
  val HeavyHittersMaxTracked = 65536

  /** SURVEY §2 `q_events_heavy_hitters`: for each day, the top-K
    * event-generating users over the TRAILING 7 days — "who is hammering
    * the system this week", the rate-limiting / abuse-triage companion of
    * [[qEventsDauWau]]. Exact AUDIT form: per-(day, user) counts (one
    * map-side-combined shuffle), each ×7 into the trailing windows it
    * serves (the dau/wau expansion), re-agg, then a per-day top-K rank —
    * Spark 4's WindowGroupLimit prunes each day's partition to K rows
    * before the sort, so the window never materializes a full per-day
    * ranking at scale. The per-day candidate set is still every user
    * active in the window — at 100 TB the serving path is the sketch twin
    * [[qEventsHeavyHittersApprox]]. Deterministic tie-break (user_id asc)
    * keeps the oracle exact.
    */
  def qEventsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Ranking.topKPer(heavyHittersTrailing(spark, dir), HeavyHittersK,
        col("day"), col("n_events").desc, col("user_id"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rk").as("rank"), col("user_id"), col("n_events"))

  /** The exact twin's pre-rank frame: TRUE trailing-7-day event counts per
    * (day: date, user_id), real corpus days only. Shared with
    * [[graft.VerifyApprox]]'s saturated-mode heavy-hitter check, which
    * needs every window count (not just the top-K) to bound the sketch's
    * estimates.
    */
  private[graft] def heavyHittersTrailing(spark: SparkSession, dir: String): DataFrame = {
    // perDay is checkpointed (r15): the trailing expansion AND the
    // real-days guard both consume it, and unmaterialized the broadcast
    // branch re-ran the full (day, user) aggregation over the raw stream
    // just to list distinct days. One corpus pass; the materialized frame
    // is the aggregated per-(day, user) count table — the same
    // space-for-recompute trade the approx twin's daily sketches pin.
    val perDay = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"), col("user_id")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val trailing = perDay
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("day"),
        col("user_id"), col("c"))
      .select(date_add(col("day"), col("k")).as("day"), col("user_id"), col("c"))
      .groupBy(col("day"), col("user_id")).agg(sum(col("c")).as("n_events"))
    // The ×7 expansion invents days past the corpus end; keep real days only.
    val realDays = perDay.select(col("day")).distinct()
    trailing.join(broadcast(realDays), Seq("day"))
  }

  /** SURVEY §2 `q_events_heavy_hitters_approx`: the sketch-based SERVING
    * twin of [[qEventsHeavyHitters]], on MERGEABLE frequent-items sketches
    * (DataSketches via `approx_top_k_accumulate` / `_combine` /
    * `_estimate`). The corpus is read ONCE into one bounded-size sketch
    * per day (counts combine map-side; no per-(day, user) shuffle rows),
    * and each trailing window is a 7-sketch `approx_top_k_combine` — so
    * ANY window (7/28/90-day) derives from the same persisted daily
    * sketches without touching events again, the dau_wau_approx design
    * with counts instead of cardinalities. Guarantee when the sketch
    * saturates: Spark's estimate step reads the DataSketches sketch with
    * NO_FALSE_POSITIVES, so every reported item is a REAL heavy hitter
    * with estimate ∈ [true, true + eps] where eps = 3.5·n/maxMapSize
    * (maxMapSize = next-pow2(maxTracked/0.75)), and a saturated window
    * may report FEWER than K rows — only the items confidently above the
    * eviction error (an absent item's true count is ≤ 2·eps, or it ranks
    * below the k-th reported estimate + eps). Sketch internals are
    * engine-specific → rows-only gate; RelationalSpec pins exact
    * agreement with the exact twin at test SF (non-saturated ⇒ exact) and
    * the saturated bound on a synthetic skewed stream;
    * [[graft.VerifyApprox]] checks the regime-appropriate contract per
    * window.
    */
  def qEventsHeavyHittersApprox(spark: SparkSession, dir: String): DataFrame =
    qEventsHeavyHittersApprox(spark, dir, HeavyHittersMaxTracked)

  /** [[qEventsHeavyHittersApprox]] with an explicit sketch capacity — the
    * spec/VerifyApprox hook for forcing the SATURATED regime on gate-SF
    * data (tiny `maxTracked`) without needing a corpus wider than the
    * production capacity.
    */
  private[graft] def qEventsHeavyHittersApprox(spark: SparkSession, dir: String,
      maxTracked: Int): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(expr(s"approx_top_k_accumulate(user_id, $maxTracked)").as("st"))
      .localCheckpoint(true)
    val combined = daily
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("day"), col("st"))
      .select(date_add(col("day"), col("k")).as("day"), col("st"))
      .groupBy(col("day"))
      .agg(expr(s"approx_top_k_combine(st, $maxTracked)").as("st"))
    combined.join(broadcast(daily.select(col("day")).distinct()), Seq("day"))
      .select(col("day"),
        posexplode(expr(s"approx_top_k_estimate(st, $HeavyHittersK)")))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("user_id"),
        col("col.count").as("n_events"))
  }

  /** SURVEY §2 `q_events_percentiles`: exact per-type value percentiles
    * (p50/p95/p99 with linear interpolation) — the standard observability
    * query over an event stream. Rank positions come from cumulative
    * counts over (event_type, DISTINCT value) — the chunk_stats pattern —
    * so ties collapse before the per-key window; the windows partition by
    * event_type (no global single-partition sort). Named limit: with few
    * event types the per-key cumulative window still concentrates each
    * type's distinct values in one task — exact percentiles over a
    * continuous column fundamentally need a per-key ordered pass. This is
    * the oracle-exact AUDIT form (run on a slice); at 100 TB the serving
    * path is `approx_percentile` (t-digest), whose per-key state is a
    * constant-size sketch merged map-side.
    */
  def qEventsPercentiles(spark: SparkSession, dir: String): DataFrame = {
    // NULL guard: Spark orders NULLs first in ASC windows, DuckDB last —
    // filter before the cumulative window so both engines see the same frame.
    val byVal = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ps = Seq("50" -> 0.50, "95" -> 0.95, "99" -> 0.99)
    var cum = byVal
      .withColumn("cum_end", sum(col("c")).over(w))
      .withColumn("cum_start", col("cum_end") - col("c"))
      .withColumn("cnt", sum(col("c")).over(Window.partitionBy(col("event_type"))))
    ps.foreach { case (nm, p) =>
      cum = cum.withColumn(s"k$nm", (col("cnt") - 1).cast("double") * p)
    }
    val aggs =
      Seq(max(col("cnt")).as("n_events"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max")) ++
      ps.flatMap { case (nm, _) => Seq(
        max(when(col("cum_start") <= floor(col(s"k$nm")) &&
          floor(col(s"k$nm")) < col("cum_end"), col("value"))).as(s"lo$nm"),
        max(when(col("cum_start") <= ceil(col(s"k$nm")) &&
          ceil(col(s"k$nm")) < col("cum_end"), col("value"))).as(s"hi$nm"),
        max(col(s"k$nm")).as(s"kk$nm"))
      }
    cum.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("event_type"), col("n_events"),
        round(col("v_min"), 6).as("v_min"), round(col("v_max"), 6).as("v_max")) ++
        ps.map { case (nm, _) =>
          round(col(s"lo$nm") + (col(s"hi$nm") - col(s"lo$nm")) *
            (col(s"kk$nm") - floor(col(s"kk$nm"))), 6).as(s"p$nm")
        }: _*)
  }

  /** SURVEY §2 `q_events_percentiles_approx`: the sketch-based SERVING twin
    * of [[qEventsPercentiles]]. `percentile_approx` aggregates a
    * constant-size quantile sketch per event_type (Spark's implementation is
    * Greenwald-Khanna; it fills the same role as a t-digest): partial
    * sketches build map-side and merge associatively, so the per-key state
    * through the shuffle is O(accuracy), independent of row count — this is
    * the 100 TB path, closing the named per-key ordered-pass limit of the
    * exact form. Rank-error guarantee: each returned value's true rank is
    * within n/accuracy of the target rank (accuracy = 10000 → ±0.01% of
    * rows). No DuckDB oracle can replay a GK sketch bit-for-bit, so this
    * query is gated rows-only by the driver; RelationalSpec pins the
    * approximation against the exact operator's empirical CDF instead.
    */
  def qEventsPercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("mn"), max(col("value")).as("mx"),
        percentile_approx(col("value"),
          array(lit(0.50), lit(0.95), lit(0.99)), lit(10000)).as("ps"))
      .select(col("event_type"), col("n_events"),
        round(col("mn"), 6).as("v_min"), round(col("mx"), 6).as("v_max"),
        round(col("ps")(0), 6).as("p50"),
        round(col("ps")(1), 6).as("p95"),
        round(col("ps")(2), 6).as("p99"))
  }

  /** Top-3 parts per brand by retail price: rank-over-partition. Single
    * shuffle on p_brand; a WindowGroupLimit (Spark 4) prunes to 3 rows per
    * group before the sort at scale.
    */
  def qWindowTopk(spark: SparkSession, dir: String): DataFrame =
    Ranking.topKPer(Tables.part(spark, dir), 3,
        col("p_brand"), col("p_retailprice").desc, col("p_partkey"))
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
              col("p_retailprice"), col("rk"))

  /** Tumbling 1-hour window aggregation over events (batch form of the
    * streaming pipeline in graft.streaming). Epoch-aligned hourly buckets ==
    * date_trunc('hour'). One shuffle on (hour, event_type).
    */
  def qEventsWindow(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // decimal-exact sum rounded to scale 6 before the double cast —
        // scale 10 crosses the 2^53 unscaled threshold at ~1e6 in VALUE
        // terms, scale 6 holds to ~9e9 (see q1Agg's 2^53 note)
        round(sum(col("value").cast(DecimalType(25, 10))), 6).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Sliding 1-hour window with a 30-minute slide (each event lands in two
    * windows) — the batch form of the streaming sliding agg. Spark's
    * `window(ts, '1 hour', '30 minutes')` replicates rows per window;
    * one shuffle on (window, event_type).
    */
  /** SURVEY §2 `q_events_asof`: AS-OF JOIN — for every click, the user's
    * latest purchase at-or-before the click (the time-series join Spark
    * has no native operator for; the brief's canonical custom-operator
    * example). Expressed Spark-first as UNION + carry-forward window:
    * tag both sides, sort per user by (ts, side, id), carry the last
    * right-side row forward with `last(..., ignoreNulls)`, keep left
    * rows. ONE shuffle keyed on user_id, no per-key quadratic join —
    * the scale-correct shape (a join `r.ts <= l.ts` explodes as L×R per
    * user; the oracle uses that form, this never does). Ties: same-ts
    * purchase counts (side orders right before left); among equal-ts
    * purchases the max event_id wins — mirrored in the oracle's rank.
    */
  def qEventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val tagged = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"),
        lit(1).as("side"), lit(null).cast("double").as("r_value"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit(0).as("side"), col("value").as("r_value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE struct carry, not one last() per field: ignoreNulls must skip
    // only non-purchase rows, and a purchase whose VALUE is genuinely
    // NULL is still the match — three independent last(field) calls would
    // skip past it for the value while the id/ts point at it, serving a
    // value from an OLDER purchase (found by the hostile-input lane).
    tagged
      .withColumn("m",
        last(when(col("side") === 0,
          struct(col("event_id"), col("ts"), col("r_value"))),
          ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("m.event_id").as("match_event_id"),
        date_format(col("m.ts"), "yyyy-MM-dd HH:mm:ss").as("match_ts_s"),
        col("m.r_value").as("match_value"))
  }

  val RangeJoinWindowUs: Long = 3600L * 1000000L // trailing hour, micros

  /** SURVEY §2 `q_events_range_join`: RANGE JOIN — per click, count/sum of
    * the same user's purchases inside the trailing hour [ts−1h, ts]. The
    * naive form is an inequality join (L×R rows per user before
    * filtering); here both sides union into ONE user-keyed stream and a
    * RANGE window (`rangeBetween(−1h, 0)` over epoch-micros) aggregates
    * the right side per left row — one shuffle, state bounded by the
    * window width. Same-timestamp purchases are inside the range by
    * definition (range frames ignore row order).
    */
  def qEventsRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val tagged = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"),
        lit(1).as("side"), lit(null).cast("double").as("r_value"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit(0).as("side"), col("value").as("r_value")))
      .withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-RangeJoinWindowUs, 0)
    tagged
      .withColumn("n_recent_purchases",
        sum(when(col("side") === 0, 1L).otherwise(0L)).over(w))
      .withColumn("sum_recent_value",
        round(coalesce(sum(when(col("side") === 0, col("r_value"))).over(w), lit(0.0)), 6))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("n_recent_purchases"), col("sum_recent_value"))
  }

  def qEventsSliding(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(25, 10))), 6).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Semi-structured enrichment: parse the JSON `props` payload
    * (get_json_object is codegen'd — no UDF, no full json4s parse), bucket
    * the extracted key, aggregate per (event_type, bucket). Narrow parse +
    * one shuffle; at scale the JSON never leaves the executor as anything
    * but the extracted column.
    */
  def qEventsEnrich(spark: SparkSession, dir: String): DataFrame = {
    // try_cast, not cast: get_json_object already yields NULL on malformed
    // JSON or a missing key, but a NON-NUMERIC key value reaches the cast,
    // and under ANSI mode a plain cast turns one bad row into a query
    // error. Dirty semi-structured rows degrade to the NULL bucket.
    val k = get_json_object(col("props"), "$.k").try_cast("long")
    Tables.events(spark, dir)
      .withColumn("k", k)
      .groupBy(col("event_type"), (col("k") / 10).cast("long").as("k_decile"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(25, 10))), 6).cast("double").as("sum_value"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
  }

  /** Gap-based sessionization (30-min inactivity): lag + running sum over a
    * per-user window. One shuffle on user_id; state per user is a single
    * pass — the same shape Structured Streaming's session windows use.
    */
  def qEventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** Funnel step window: the next stage must land within this many
    * MICROSECONDS of the previous stage's first event (24 hours) — an
    * unbounded funnel saturates on long-lived users; "within T" is the
    * product-analytics norm.
    */
  val FunnelWindowUs: Long = 86400L * 1000000L

  /** SURVEY §2 `q_events_funnel`: windowed conversion funnel
    * view → click → purchase — per user, the first view, the first click
    * strictly after it within [[FunnelWindowUs]], the first purchase
    * strictly after that within the window; one row of stage counts +
    * conversion rates. Three user-keyed min-aggs chained by joins (each
    * stage's frame is per-user, i.e. shrinking), no window function over
    * the raw stream — the standard product-analytics funnel at warehouse
    * scale.
    */
  def qEventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // Each stage frame (≤ one row per user) is eagerly checkpointed (r15):
    // stage k+1 joins stage k AND the final count job reads all three, so
    // unmaterialized the chained lineage re-scans the event stream SIX
    // times for three stages (v is re-derived inside c, v and c inside p,
    // then all of it again under the count union). Checkpointing makes
    // each stage one corpus pass — the qEventsDauWauApprox daily-sketch
    // convention; at 100 TB three passes instead of six is the win, and
    // the materialized frames are user-keyed aggregates, not raw events.
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      .localCheckpoint(true)
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view") &&
        unix_micros(col("ts")) <= unix_micros(col("t_view")) + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      .localCheckpoint(true)
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click") &&
        unix_micros(col("ts")) <= unix_micros(col("t_click")) + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      .localCheckpoint(true)
    // Stage counts are BOUNDED scalars (≤ one row per user upstream, one
    // number out) — collected like the vec_quantize range table, so an
    // empty stage still yields the one-row report (a grouped agg over an
    // empty frame would emit zero rows and kill the join). One union-count
    // JOB for all three stages (three separate count() actions paid two
    // extra rounds of job overhead for the same total compute); a stage
    // missing from the result map is empty.
    val counts = v.select(lit("v").as("st"))
      .union(c.select(lit("c").as("st")))
      .union(p.select(lit("p").as("st")))
      .groupBy(col("st")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    Seq((counts.getOrElse("v", 0L), counts.getOrElse("c", 0L), counts.getOrElse("p", 0L)))
      .toDF("n_view", "n_click", "n_purchase")
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        when(col("n_view") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_click").cast("double") / col("n_view").cast("double"), 6))
          .as("view_to_click"),
        when(col("n_click") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_purchase").cast("double") / col("n_click").cast("double"), 6))
          .as("click_to_purchase"))
  }

  /** SURVEY §2 `q_events_retention`: cohort retention — users grouped by
    * first-activity day (their cohort), counted on each later active day
    * as a day offset. The activity set is the DISTINCT (user, day) frame
    * (one shuffle), cohorts one user-keyed min — the warehouse retention
    * triangle.
    */
  def qEventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val active = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // cohort from the DISTINCT activity frame, not the raw stream (r15):
    // min over a user's distinct active days equals min over all their
    // events, and deriving it here lets both branches share one exchange
    // (the (user, day) distinct) instead of scanning the corpus twice.
    val cohort = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_users"))
  }

  /** SURVEY §2 `q_events_anomaly`: daily-volume anomaly detection — the
    * z-score of each (event_type, day) count against that type's daily
    * mean/stddev, flagged at |z| > 2 (the standard ops-dashboard outlier
    * query). The daily frame is one agg (types × days rows — tiny even at
    * 100 TB of raw events); per-type moments come from exact INTEGER sums
    * (count, Σc, Σc²) so the double math downstream is bit-identical on
    * both engines; stats broadcast back onto the daily frame.
    */
  def qEventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    // daily is checkpointed (r15): the stats broadcast and the z-score
    // join both consume it, and unmaterialized each branch re-scanned the
    // raw stream. The frame is types × days rows — KB-sized at any scale.
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sm"),
        sum(col("c") * col("c")).as("sq"))
    val mean = col("sm").cast("double") / col("n")
    val std = sqrt(col("sq").cast("double") / col("n") - mean * mean)
    val z = (col("c").cast("double") - mean) / std
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("c").as("n_events"),
        when(std === 0.0, lit(0.0)).otherwise(round(z, 6)).as("z"),
        when(std === 0.0, lit(false)).otherwise(abs(z) > 2.0).as("is_anomaly"))
  }
}
