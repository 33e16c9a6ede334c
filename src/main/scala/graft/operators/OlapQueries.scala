package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** OLAP join / window / set-op surface. The reference's only join is
  * the lateral UNNEST (SURVEY.md §2.3) — these queries prove the
  * standard OLAP surface the engine inherits from Spark, shaped for
  * scale: dimension tables are broadcast (no shuffle of the fact
  * table), fact-fact joins shuffle on the join key once, and top-k is
  * rank-then-filter, never a global collect.
  */
object OlapQueries {

  /** Star-schema equi-join: revenue by nation. lineitem⋈orders is the
    * only big-big join (shuffle on orderkey; AQE handles skew);
    * customer/nation/region ride along as broadcasts so the fact rows
    * never move again. At 100 TB the dims stay < broadcast threshold
    * (customer excepted — Spark falls back to shuffle automatically if
    * it outgrows the hint).
    */
  def starJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")
  }

  /** Top-k with a broadcast dim join: 20 highest-revenue parts.
    * Catalyst fuses orderBy+limit into TakeOrderedAndProject — each
    * partition keeps 20 rows, the driver merges; no global sort.
    */
  def topPartsByRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val part = Tables.load(spark, sfDir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("p_partkey"))
      .limit(20)
  }

  /** Window functions over event sequences (SURVEY.md §2.5's suggested
    * form): per-user ordering with row_number, lag, and a running sum
    * — one shuffle on user_id, then a per-partition sort.
    */
  def eventWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, sfDir, "events")
      .select(
        col("user_id"), col("event_id"), col("value"),
        row_number().over(w).as("rn"),
        lag("value", 1).over(w).as("prev_value"),
        round(sum("value").over(runW), 4).as("running_value"))
      .orderBy("user_id", "event_id")
  }

  /** Set operations: nations that have both customers and suppliers
    * (INTERSECT) vs customer-only nations (EXCEPT), tagged and
    * unioned. Spark plans these as aggregates/semi-joins — broadcast
    * at this dim size.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val custNations = Tables.load(spark, sfDir, "customer")
      .select(col("c_nationkey").as("nationkey"))
    val suppNations = Tables.load(spark, sfDir, "supplier")
      .select(col("s_nationkey").as("nationkey"))
    val both = custNations.intersect(suppNations)
      .select(lit("both").as("tag"), col("nationkey"))
    val custOnly = custNations.except(suppNations)
      .select(lit("cust_only").as("tag"), col("nationkey"))
    both.union(custOnly).orderBy("tag", "nationkey")
  }

  /** ROLLUP aggregation: subtotals + grand total over
    * (returnflag, linestatus). Grouping-null labels are coalesced to
    * '(all)' so the oracle hash-compare never sorts raw nulls.
    */
  def rollupQuantities(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** Semi/anti joins: customers with vs without orders. Both plan as
    * one shuffle (or broadcast of the keys side) — never a full join
    * materialization.
    */
  def semiAntiCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val ordKeys = Tables.load(spark, sfDir, "orders").select("o_custkey")
    val withOrders = cust.join(ordKeys, cust("c_custkey") === ordKeys("o_custkey"),
      "left_semi").agg(count(lit(1)).as("n_customers"))
      .select(lit("with_orders").as("tag"), col("n_customers"))
    val withoutOrders = cust.join(ordKeys, cust("c_custkey") === ordKeys("o_custkey"),
      "left_anti").agg(count(lit(1)).as("n_customers"))
      .select(lit("without_orders").as("tag"), col("n_customers"))
    withOrders.union(withoutOrders).orderBy("tag")
  }

  /** Top-N per group (rank + filter): each customer's 3 largest
    * orders. The rank prunes inside each partition after one shuffle
    * on the grouping key — the scalable form of per-group top-k.
    */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  /** [[topOrdersPerCustomer]] re-planned through the bounded
    * [[graft.functions.TopKRows]] aggregate: identical rows (same
    * oracle SQL), but the window's shuffle-and-sort of every order is
    * replaced by partial aggregation — each map task reduces its slice
    * to ≤ 3 rows per customer before the exchange, and no sort runs
    * over the fact table. The rank is recovered from the aggregate's
    * best-first output order.
    */
  def topOrdersPerCustomerAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(graft.functions.TopKFunctions.topk_rows(
        col("o_totalprice"), col("o_orderkey"),
        struct(col("o_orderkey"), col("o_totalprice")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"),
        col("col.o_orderkey").as("o_orderkey"),
        col("col.o_totalprice").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy("o_custkey", "rk")

  /** Exact interpolated percentiles per group, ROUTED by the
    * cardinality estimator ([[Percentiles.percentilesByGroupRouted]]):
    * one HLL estimation pass sends each measure down the plan that
    * survives its shape — quantity (NDV ~50 at any corpus size) takes
    * the NDV-sized counts machinery, near-unique price cents take the
    * per-group `percentile()` list while the corpus is smaller than
    * its value domain and flip to the counts machinery beyond the
    * crossover. Both routes interpolate `quantile_cont`-identically
    * on the fixed-point grid, so the answer is route-invariant.
    */
  def quantityPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Percentiles.{Measure, round4}
    // NO hand-passed hints: the router consults PERSISTED catalog
    // statistics (GraftAnalyze's sketch ANALYZE, auto-run once per
    // session on first need) — an analyzed lineitem routes every
    // measure with ZERO estimation jobs, the estimator's catalog half
    // making the physical-plan call end to end.
    val rows = Percentiles.percentilesByGroupRoutedRows(
      Tables.load(spark, sfDir, "lineitem"), "l_returnflag", Seq(
        Measure("qty", col("l_quantity"), 1L,
          Seq("p50_qty" -> 0.5, "p95_qty" -> 0.95)),
        Measure("price", col("l_extendedprice"), 100L,
          Seq("p50_price" -> 0.5))))
    // pivot-to-wide + 4 dp round + sort on the driver: the report is
    // 3 groups × 3 targets, not a job
    val wide = rows.groupBy(_._1).toSeq.map { case (g, ts) =>
      val m = ts.map(t => t._2 -> t._3).toMap
      (g, round4(m("p50_qty")), round4(m("p95_qty")),
        round4(m("p50_price")))
    }.sortBy(_._1)
    spark.createDataFrame(spark.sparkContext.parallelize(wide, 1))
      .toDF("l_returnflag", "p50_qty", "p95_qty", "p50_price")
  }

  /** CUBE over (orderstatus, orderpriority): all 4 grouping
    * combinations in one pass — grouping-null labels coalesced for the
    * oracle, as in [[rollupQuantities]].
    */
  def cubeOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum("o_totalprice"), 2).as("total_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("total_price"), col("n"))
      .orderBy("orderstatus", "orderpriority")

  /** Calendar rollup: orders per month (date_trunc both engines agree
    * on) — the date-dimension slice of the OLAP surface.
    */
  def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("month")

  /** Sessionization (gaps-and-islands): per-user sessions split at
    * 30-minute inactivity gaps, one window pass — new-session flags
    * via lag, session ids via running sum, then a per-session
    * aggregate. Entirely portable SQL (µs integer arithmetic), so the
    * oracle replays it; the streaming twin is `session_window`.
    */
  def userSessions(spark: SparkSession, sfDir: String): DataFrame =
    userSessionsPlan(Tables.load(spark, sfDir, "events"))

  /** The lazy sessionization plan over an events frame — separate so
    * the skew harness can drive it with a hot-user fixture.
    */
  private[graft] def userSessionsPlan(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gapUs = 30L * 60 * 1000000
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag("us", 1).over(byUser) > gapUs ||
          lag("us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max("us") - min("us")).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** TOP SESSION-OPENING PATHS — sequence mining over sessionized
    * events (the n-step extension of q113's one-step transition
    * matrix): the first three event types of every session (q39's
    * 30-minute gap rule), counted corpus-wide.
    *
    * Paths build per session with bounded state: the per-session
    * event list collects inside a (user, session)-grouped aggregate —
    * session-sized, never corpus-sized — ordered deterministically by
    * (ts µs, event_id) via sort_array on structs (collect_list alone
    * has no order guarantee), sliced to 3 before the tiny path-count
    * shuffle. Top-k is TakeOrderedAndProject on the path-NDV frame.
    */
  def topPaths(spark: SparkSession, sfDir: String,
      pathLen: Int = 3, topK: Int = 10): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gapUs = 30L * 60 * 1000000
    val sessioned = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag("us", 1).over(byUser) > gapUs ||
          lag("us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessioned
      .groupBy("user_id", "session_id")
      .agg(collect_list(struct(col("us"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(concat_ws(">", slice(transform(sort_array(col("evs")),
        e => e.getField("event_type")), 1, pathLen)).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path"))
      .limit(topK)
  }

  /** TPC-H Q5-shaped local-supplier-volume query: the six-table join
    * (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with
    * the "local" twist — revenue counts only where the customer's
    * nation equals the supplier's nation, a cross-branch equality that
    * lands as an extra join predicate, not a post-filter. Join
    * strategy by size class: nation/region are hinted broadcasts
    * (true dims at any SF); customer and supplier carry no hint, so
    * Catalyst/AQE broadcasts them while they fit and degrades to
    * shuffle joins when a real corpus outgrows the threshold — the
    * fact-side shuffles (l_orderkey, then o_custkey) are the only
    * unavoidable exchanges at 100 TB. Both selective filters (region
    * name, one order year) push into the scans.
    */
  def localSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val cust = Tables.load(spark, sfDir, "customer")
    val supp = Tables.load(spark, sfDir, "supplier")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
      .filter(col("r_name") === "ASIA")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** TPC-H Q3-shaped shipping-priority query: segment-filtered
    * customer ⋈ orders ⋈ lineitem, revenue per order, top 10. The
    * realistic mixed-selectivity OLAP probe: two pushed-down filters,
    * a broadcastable filtered dim, one fact-fact shuffle.
    */
  def shippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1999-01-01").cast("timestamp")
    val cust = Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") < cutoff)
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** Deterministic systematic sample (M2's production form): keep rows
    * whose key hashes into the sample band — reproducible across
    * engines and runs, unlike rand(). The downsampling primitive of a
    * training-data pipeline.
    */
  def systematicSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .filter(pmod(col("event_id") * lit(2654435761L), lit(100)) < 10)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")

  /** Event-time tumbling window (SURVEY.md §2.10): hourly aggregate
    * over `ts` — the batch twin of the Structured Streaming query in
    * graft.streaming (identical semantics; the oracle runs the batch
    * form).
    */
  def hourlyEventStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("hour_start", "event_type")

  /** Sliding (overlapping) tumbling-window twin of q20: 2-hour windows
    * every hour via [[graft.streaming.EventStreams.slidingAgg]] — the
    * SAME transform object the streaming path runs (StreamingSpec
    * proves stream ≡ batch), ordered here for the oracle. The oracle
    * replays the two-window assignment as a self-union, which is what
    * Spark's window() expansion saves.
    */
  def slidingEventStats(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStreams
      .slidingAgg(Tables.load(spark, sfDir, "events"))
      .orderBy("win_start", "event_type")

  /** Time-range sliding window: each event's trailing-1-hour mean and
    * count over its user's stream — a RANGE frame over event-time µs,
    * not a ROWS frame, so the window is defined by the clock, and ties
    * on the same microsecond share one frame (order within a tie can
    * never change the answer — the determinism RANGE buys over ROWS).
    * One shuffle on user_id + per-partition sort; the frame bound is
    * arithmetic on the sorted run, no second pass.
    */
  def timeWindowAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-hourUs, Window.currentRow)
    Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("avg_1h", round(avg("value").over(w), 4))
      .orderBy("event_id")
  }

  /** Pivot (long → wide): per-user event-type counts as columns. The
    * pivot values are DECLARED, not discovered — at 100 TB the
    * two-jobs-to-find-the-columns form (`pivot(col)` with no value
    * list) is an extra full scan; with the list, this is one partial-
    * aggregating shuffle exactly like any group-by, and absent
    * combinations surface as NULL → coalesced to 0 so the wide row is
    * dense. The oracle replays it as count(*) FILTER columns.
    */
  def pivotEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")
  }

  /** First occurrence per (user, event_type) — "keep the earliest
    * record per key", the batch twin of the streaming first-seen dedup
    * ([[graft.streaming.EventStreams.firstSeenStream]]; StreamingSpec
    * proves stream ≡ batch). One argmin aggregate: `min` over a
    * (ts, event_id, value) struct is the lexicographic minimum, so the
    * tie-break on equal timestamps is the unique event_id —
    * deterministic in any engine, unlike dropDuplicates. Map-side
    * partial min makes the shuffle one row per key per partition.
    */
  def firstEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("f"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("f.ts")).as("first_ts_us"),
        col("f.event_id").as("first_event_id"),
        col("f.value").as("first_value"))
      .orderBy("user_id", "event_type")

  /** Click→purchase attribution: for each purchase, the count and
    * value of the same user's clicks in the trailing `windowMinutes`.
    * The join key is the user-id EQUALITY — the time bound is a
    * post-join predicate — so this plans as one shuffle on user_id
    * (never a nested-loop over time), and per-user event counts are
    * small enough that the within-user pairing is cheap at any corpus
    * size; a skewed power-user key is AQE's problem, not a plan
    * rewrite. The batch twin of the stream-stream interval join
    * ([[graft.streaming.EventStreams]] attribution stream; watermarks
    * bound the same window state-side).
    */
  def purchaseAttribution(spark: SparkSession, sfDir: String,
      windowMinutes: Int = 60): DataFrame =
    purchaseAttributionPlan(Tables.load(spark, sfDir, "events"),
      windowMinutes)

  /** The lazy attribution plan over an events frame — separate so the
    * skew harness can drive it with a hot-user fixture.
    */
  private[graft] def purchaseAttributionPlan(ev: DataFrame,
      windowMinutes: Int): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    purchases
      .join(clicks, col("user_id") === col("c_user") &&
        col("c_ts") <= col("ts") &&
        col("c_ts") > col("ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        "left")
      .groupBy(col("user_id"), col("event_id"), col("ts"), col("value"))
      .agg(count(col("c_ts")).as("n_clicks_1h"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value"), 4).as("value"), col("n_clicks_1h"))
      .orderBy("user_id", "event_id")
  }

  /** TPC-H Q17 shape — revenue lost to small-quantity orders: line
    * items under `frac` of their part's average quantity. The
    * correlated `avg` is a window partitioned by l_partkey: ONE scan
    * of lineitem and one shuffle, where the textbook correlated
    * subquery (and Catalyst's decorrelation of it) scans the fact
    * table twice and joins. Per-part groups are bounded, so the
    * window never sees a corpus-ordered sort.
    */
  def smallQuantityRevenue(spark: SparkSession, sfDir: String,
      frac: Double = 0.2): DataFrame = {
    val perPart = Window.partitionBy("l_partkey")
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(perPart))
      .filter(col("l_quantity") < lit(frac) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** TPC-H Q18 shape — large-quantity orders: orders whose total line
    * quantity exceeds `minQty`, with their customer, largest first.
    * The HAVING aggregate shuffles compact (orderkey, partial-sum)
    * pairs — map-side combine reduces each task's slice to one row per
    * order before the exchange — and only the tiny survivor set joins
    * back to orders (same key, so AQE can plan it off the aggregate's
    * partitioning) and to customer (unhinted: broadcast while it fits,
    * shuffle when a real corpus outgrows the threshold). Top-100 is
    * TakeOrderedAndProject — never a global sort.
    */
  def largeOrders(spark: SparkSession, sfDir: String,
      minQty: Double = 150.0): DataFrame = {
    val bigOrders = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    ord.join(bigOrders, ord("o_orderkey") === bigOrders("l_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q14 shape — promotion revenue share: the percentage of one
    * month's discounted revenue from PROMO-type parts. One pushed-down
    * date range confines the fact scan, the part dim broadcasts, and
    * both sums ride a single conditional aggregate — one scan, zero
    * fact shuffles.
    */
  def promoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-02-01").cast("timestamp")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
    val part = Tables.load(spark, sfDir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
        sum(rev), 4).as("promo_pct"))
  }

  /** TPC-H Q19 shape — disjunctive predicate join: revenue from line
    * items matching any of three (brand, quantity-band, size-band)
    * clauses. The OR-of-ANDs mixes columns from both sides, so it
    * cannot split into per-side pushdowns — it evaluates as the join's
    * residual filter inside one broadcast hash join on partkey; the
    * fact table is scanned once and never shuffled.
    */
  def disjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val part = Tables.load(spark, sfDir, "part")
    val clause1 = col("p_brand") === "Brand#4" &&
      col("l_quantity").between(1, 11) && col("p_size").between(1, 5)
    val clause2 = col("p_brand") === "Brand#19" &&
      col("l_quantity").between(10, 20) && col("p_size").between(1, 10)
    val clause3 = col("p_brand") === "Brand#2" &&
      col("l_quantity").between(20, 30) && col("p_size").between(1, 15)
    li.join(broadcast(part),
        li("l_partkey") === part("p_partkey") && (clause1 || clause2 || clause3))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
  }

  /** TPC-H Q22 shape — well-funded idle customers: above-average
    * balance, no order since `since`, grouped by market segment. The
    * global average is a one-row aggregate broadcast back over the
    * customer scan (a 1-row BroadcastNestedLoopJoin — the scalar-
    * subquery pattern, constant cost at any scale); the "no recent
    * order" test is a left-anti join against the date-pruned order
    * keys, never a NOT IN materialization.
    */
  def idleRichCustomers(spark: SparkSession, sfDir: String,
      since: String = "1999-01-01"): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(avg("c_acctbal").as("avg_bal"))
    val recent = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q4 shape — orders with a late shipment, counted by
    * priority: one year of orders semi-joined to line items shipping
    * more than `lateDays` after the order date. EXISTS plans as a
    * left-semi hash join on orderkey (the date comparison is its
    * residual), so each order contributes at most once no matter how
    * many lines are late, and nothing wider than (orderkey, shipdate)
    * shuffles on the fact side.
    */
  def priorityWaitingOrders(spark: SparkSession, sfDir: String,
      lateDays: Int = 240): DataFrame = {
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_shipdate")
    ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > ord("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 — the forecasting-revenue-change query verbatim: one
    * tight conjunctive filter (date range, discount band, quantity
    * cap) over the fact scan, one global sum. Every predicate is
    * scan-pushable (parquet row-group min/max stats skip whole
    * chunks), the aggregate is a single partial-combined double — the
    * cheapest possible plan shape: zero joins, zero wide shuffles, one
    * row out at any corpus size.
    */
  def forecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** TPC-H Q12 shape — late-shipment priority accounting: for each
    * line status, how many late-shipped lines belong to high-priority
    * vs other orders. (The fixture has no l_shipmode/l_commitdate;
    * l_linestatus plays the shipmode role and, as in [[priorityWaitingOrders]],
    * "late" means shipped > lateDays after the order date.) One
    * orderkey-partitioned join of the two date columns, conditional
    * counts ride a single 2-group aggregate — the orders side carries
    * only (key, date, priority), never the wide row.
    */
  def lateLinePriority(spark: SparkSession, sfDir: String,
      lateDays: Int = 100): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linestatus", "l_shipdate")
    val ord = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_linestatus")
      .agg(
        count(when(high, 1)).as("high_line_count"),
        count(when(!high, 1)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting: the supplier
    * who was the ONLY late shipper in a finished multi-supplier order,
    * counted and ranked. The canonical form is a 4-way self-join
    * (EXISTS another supplier / NOT EXISTS another late supplier);
    * here both existentials collapse into a two-level orderkey-grouped
    * aggregate — per (order, supplier) lateness first, then
    * n_suppliers / n_late_suppliers / the sole late suppkey (valid
    * exactly when n_late = 1) — so the fact table shuffles ONCE
    * instead of four times, both levels share the orderkey hash
    * partitioning (no second exchange), and no COUNT(DISTINCT)
    * Expand ever multiplies the fact rows. The supplier dim
    * broadcasts onto the NDV-sized blame table.
    */
  def waitingSupplier(spark: SparkSession, sfDir: String,
      lateDays: Int = 100, topK: Int = 50): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perSupp = li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS")).as("was_late"))
    val perOrder = perSupp
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        count(when(col("was_late"), 1)).as("n_late"),
        max(when(col("was_late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    val blamed = perOrder
      .groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
    val supp = Tables.load(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name")
    blamed.join(broadcast(supp), "s_suppkey")
      .select("s_name", "numwait")
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(topK)
  }

  /** TPC-H Q1 — the pricing summary report verbatim: eight aggregates
    * per (returnflag, linestatus) over one date-filtered fact scan.
    * The canonical columnar-scan benchmark: predicate pushed to the
    * parquet reader, every aggregate map-side combinable, grouping
    * cardinality ~6 — the shuffle carries a handful of partial-agg
    * rows per task at any corpus size.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(disc), 2).as("sum_disc_price"),
        round(sum(disc * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Cohort retention: users bucketed by their first-activity week,
    * counted as active at each week offset since — the standard
    * product-analytics retention triangle (weekly grain: both engines
    * truncate weeks to Monday, and the offset is exact day arithmetic
    * /7 between week starts). Two aggregates and one equality join on
    * user_id: per-user first week (map-side argmin), distinct (user,
    * week) activity, join, count by (cohort, offset). No windows, no
    * self-join over time — the week math is column arithmetic after
    * the join.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
    val cohorts = ev.groupBy("user_id").agg(min("w").as("cohort"))
    ev.distinct()
      .join(cohorts, "user_id")
      .groupBy(col("cohort"),
        (datediff(col("w"), col("cohort")) / 7).cast("int")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "week_offset")
  }

  /** The ranking-window surface in one pass: ntile quartiles,
    * percent_rank, cume_dist, lead, and first/nth value over the full
    * partition frame — every rank flavor SQL analytics leans on,
    * sharing ONE shuffle on user_id and one per-partition sort
    * (Catalyst fuses same-spec window functions into a single
    * WindowExec). Per-user partitions are bounded, so no global-order
    * window exists at any corpus size; event_id makes every ordering
    * tie-free and both engines agree exactly.
    */
  def windowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cdist"),
        lead("value", 1).over(w).as("next_value"),
        first("value").over(full).as("first_value"),
        nth_value(col("value"), 3).over(full).as("third_value"))
      .orderBy("user_id", "event_id")
  }

  /** TPC-H Q7 shape — volume shipping between a nation pair: revenue
    * flowing either direction between two named nations, by supplier
    * nation, customer nation, and ship year. The two nation dims
    * broadcast onto supplier and customer (themselves broadcast-sized
    * next to the facts), so the only big-big work is
    * lineitem⋈orders on orderkey — one fact shuffle; the pair
    * predicate evaluates on broadcast-joined columns before the
    * aggregate. Group cardinality is |pairs|×|years| — tiny forever.
    */
  def volumeShipping(spark: SparkSession, sfDir: String,
      nationA: String = "NATION_3", nationB: String = "NATION_19"): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val supp = Tables.load(spark, sfDir, "supplier")
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    val n1 = nat.select(col("n_nationkey").as("s_nkey"),
      col("n_name").as("supp_nation"))
    val n2 = nat.select(col("n_nationkey").as("c_nkey"),
      col("n_name").as("cust_nation"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(n1), supp("s_nationkey") === col("s_nkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(n2), cust("c_nationkey") === col("c_nkey"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape — market share: the fraction of one region's
    * customer revenue supplied by one nation, per year. Same join
    * skeleton as Q7 (one fact shuffle on orderkey, every dim a
    * broadcast); the share is a conditional aggregate over the joined
    * rows, so numerator and denominator ride the same pass.
    */
  def marketShare(spark: SparkSession, sfDir: String,
      suppNation: String = "NATION_3", region: String = "EUROPE"): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val supp = Tables.load(spark, sfDir, "supplier")
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
    val nSupp = nat.select(col("n_nationkey").as("s_nkey"),
      col("n_name").as("supp_nation"))
    val nCust = nat.select(col("n_nationkey").as("c_nkey"),
      col("n_regionkey").as("c_rkey"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(nSupp), supp("s_nationkey") === col("s_nkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nCust), cust("c_nationkey") === col("c_nkey"))
      .join(broadcast(reg.filter(col("r_name") === region)),
        col("c_rkey") === col("r_regionkey"))
      .groupBy(year(col("l_shipdate")).as("l_year"))
      .agg(round(
        sum(when(col("supp_nation") === suppNation, rev).otherwise(lit(0.0))) /
        sum(rev), 4).as("mkt_share"))
      .orderBy("l_year")
  }

  /** TPC-H Q9 shape — product-line profit by supplier nation and year
    * over a name-pattern part subset. The fixture has no partsupp
    * table, so supply cost is proxied from the part dim
    * (p_retailprice × quantity × 0.5) — the plan shape is the point:
    * the LIKE filter prunes the part dim BEFORE it broadcasts, the
    * fact scans once, and profit is column arithmetic inside one
    * aggregate.
    */
  def productProfit(spark: SparkSession, sfDir: String,
      pattern: String = "%widget%"): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val supp = Tables.load(spark, sfDir, "supplier")
    val nat = Tables.load(spark, sfDir, "nation")
    val part = Tables.load(spark, sfDir, "part")
      .filter(col("p_name").like(pattern))
    val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.5) * col("p_retailprice") * col("l_quantity")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).as("o_year"))
      .agg(round(sum(amount), 2).as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  /** TPC-H Q10 shape — returned-item reporting: the 20 customers who
    * returned the most revenue in a two-quarter window. Date range
    * pushes to the orders scan, the returnflag residual to lineitem's;
    * lineitem⋈orders shuffles on orderkey once, customer+nation
    * broadcast, and the top-20 is TakeOrderedAndProject.
    */
  def returnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed k non-urgent orders, INCLUDING the zero bucket.
    * The left outer join keeps orderless customers (count(o_orderkey)
    * counts only matches — the outer-join-then-count idiom); the
    * second aggregate reduces NDV-sized (custkey, count) pairs to a
    * ~dozen-row histogram. Two shuffles, both on keys that shrink.
    */
  def orderCountDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
    val perCust = cust.join(ord,
        cust("c_custkey") === ord("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** TPC-H Q15 shape — top supplier(s): suppliers whose quarterly
    * revenue equals the maximum. The per-supplier revenue view
    * aggregates the date-pruned fact once (supplier NDV rows); the
    * max is a 1-row broadcast back over that view (the scalar-subquery
    * plan), and ties all surface — no arbitrary pick. The revenue that
    * feeds the =max equality accumulates as DECIMAL: each row's double
    * product rounds to 6 digits deterministically in both engines, and
    * decimal summation is exact and order-free — so the winner set
    * can't flip on partial-aggregation order the way a rounded double
    * sum could.
    */
  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    val revenue = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("rev_exact"))
    val maxRev = revenue.agg(max("rev_exact").as("max_rev"))
    val supp = Tables.load(spark, sfDir, "supplier")
    revenue.crossJoin(broadcast(maxRev))
      .filter(col("rev_exact") === col("max_rev"))
      .join(broadcast(supp), col("l_suppkey") === supp("s_suppkey"))
      // round the DECIMAL, then cast — rounding after the double cast
      // reintroduces the half-boundary divergence q111 documents
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_exact"), 2).cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q2 shape — groupwise-min join-back: for each small part,
    * the line items that achieved its minimum unit price (ALL ties
    * surface, which is why this is a join-back and not an argmin
    * struct). The per-part min aggregate and the join-back both hash
    * on l_partkey, so the second exchange reuses the first's
    * partitioning; the part dim prunes on p_size BEFORE it broadcasts.
    * Equality on the computed double is safe across engines: each row's
    * division and the min comparison are order-free IEEE ops, so both
    * engines qualify exactly the same rows.
    */
  def cheapestShipment(spark: SparkSession, sfDir: String,
      maxSize: Int = 5): DataFrame = {
    val part = Tables.load(spark, sfDir, "part")
      .filter(col("p_size") <= maxSize)
      .select("p_partkey", "p_name")
    // prune the fact to qualifying parts BEFORE the min aggregate —
    // the per-part min is unaffected by other parts, so both passes
    // (aggregate and join-back) only touch qualifying lines
    val li = Tables.load(spark, sfDir, "lineitem")
      .join(broadcast(part.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val minP = li.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min("unit_price").as("min_price"))
    li.join(minP, li("l_partkey") === minP("m_partkey") &&
        li("unit_price") === minP("min_price"))
      .join(broadcast(part), li("l_partkey") === part("p_partkey"))
      // round via DECIMAL: rounding the double directly diverges from
      // DuckDB when the value sits on a half-boundary of the 4th digit
      // (seen at sf0.1: 111.10075 → .1007 vs .1008); both engines
      // rounding the SAME 6-digit decimal agree always
      .groupBy(col("p_partkey"), col("p_name"),
        round(col("min_price").cast("decimal(18,6)"), 4).cast("double")
          .as("min_unit_price"))
      .agg(count(lit(1)).as("n_min_lines"),
        min("l_suppkey").as("min_suppkey"))
      .orderBy("p_partkey")
  }

  /** Native session windows (the engine primitive under q39's
    * gaps-and-islands spelling), through the SAME transform the stream
    * runs ([[graft.streaming.EventStreams.sessionAgg]] — StreamingSpec
    * proves stream ≡ batch): `session_window` merges events within the
    * 30-minute gap inside the aggregate operator itself — no lag
    * window, no running-sum pass. Session end is last-event + gap
    * (exclusive), so an event landing exactly on the boundary opens a
    * NEW session — the oracle replays that with a >= gap break test.
    */
  def sessionWindowStats(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStreams
      .sessionAgg(Tables.load(spark, sfDir, "events"))
      .orderBy("user_id", "start_us")

  /** Event-sequence transition counts — the Markov-chain view of the
    * event stream: each user's ts-ordered events yield (prev → next)
    * type pairs, counted corpus-wide. One shuffle on user_id for the
    * lag window (per-user partitions bound the sort at any corpus
    * size), then a |types|²-cardinality aggregate that map-side
    * combines to almost nothing. event_id breaks ts ties so both
    * engines see the same sequence.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("prev_type", "next_type")
  }

  /** Conversion funnel: users advance view → click → purchase, each
    * stage ordered by the user's FIRST timestamp of that type. One
    * conditional-min aggregate per stage in a single scan+shuffle
    * (min over (ts, event_id) structs — deterministic on ties), then
    * a per-stage ordered-progress count over the per-user rows. The
    * result is |stages| rows; no joins, no windows.
    */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"${t}_ts")
    val perUser = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
    perUser.agg(
      count(col("view_ts")).as("n_view"),
      count(when(col("click_ts") >= col("view_ts"), 1)).as("n_view_click"),
      count(when(col("click_ts") >= col("view_ts") &&
        col("purchase_ts") >= col("click_ts"), 1)).as("n_full_funnel"))
  }

  /** Per-segment revenue trend by closed-form OLS — the
    * non-iterative member of the trainer family: slope/intercept of
    * monthly revenue per market segment from the five classic
    * sufficient statistics (n, Σx, Σx², Σy, Σxy), fitted in TWO
    * aggregates and zero passes more. Level 1 reduces the fact table
    * to (segment × month) cells — revenue summed in DECIMAL so the
    * cell values are partition-order exact — and level 2 reduces
    * cells to one sufficient-statistics row per segment; the x side
    * (month index) stays in integer arithmetic, exact in any engine.
    * The 4 dp slope rounding absorbs the float noise of the Σxy
    * reduction (~1e-6 against a 5e-5 quantum). The level statistic is
    * the CENTERED one — mean monthly revenue — not the x=0 intercept:
    * extrapolating ~24000 month-indices out multiplies slope noise by
    * Σx and lands inside any reasonable rounding quantum (measured:
    * ±0.01 flips at sf0.01), while the mean is noise-free at 2 dp. At
    * 100 TB this is the template for any closed-form per-key model:
    * fit = aggregate, never iterate.
    */
  def revenueTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_mktsegment")
    val monthly = Tables.load(spark, sfDir, "orders")
      .select("o_custkey", "o_orderdate", "o_totalprice")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        // x is shifted near the data's epoch: slope is shift-invariant,
        // but Σxy noise scales with |x| — raw ~24000 month indices push
        // the 4 dp rounding margin at sf0.1; shifted |x| ≲ 10² doesn't
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) -
          lit(23940)).as("mi"))
      // the cell value stays DECIMAL end-to-end; the double rendering
      // feeds only the OLS cross-moments, where 4 dp rounding absorbs
      // summation noise
      .agg(sum(col("o_totalprice").cast("decimal(20,2)")).as("ydec"))
      .withColumn("y", col("ydec").cast("double"))
    monthly.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("mi")).as("sx"),
        sum(col("mi") * col("mi")).as("sxx"),
        // Σy carried as an exact DECIMAL sum — a double Σ of cells is
        // partition-order noisy, which could flip the half-cent floor
        // below on a true .005 tie; only Σxy needs floating point
        sum(col("ydec")).as("sydec"),
        sum(col("mi") * col("y")).as("sxy"))
      .select(col("segment"), col("n").as("n_months"),
        // a single-cell segment has zero x-variance: slope is
        // undefined — NULL in both engines, never NaN-vs-NULL
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n") * col("sxy") -
              col("sx") * col("sydec").cast("double")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 4))
          .as("slope"),
        // tie-proof 2 dp HALF_UP: sydec·100 is an exact integer-valued
        // DECIMAL (cents < 2^53 — one deterministic cast to double),
        // so floor(cents/n + 0.5)/100 is the same bits in any engine —
        // round(double, 2) disagrees across engines exactly at .005
        // ties
        (floor((col("sydec") * 100).cast("double") / col("n") +
          lit(0.5)) / 100).as("avg_monthly_rev"))
      .orderBy("segment")
  }

  /** SCD2 interval compaction — the change-log → slowly-changing-
    * dimension build: each user's event stream collapses to validity
    * intervals [valid_from, valid_to) of their state (event_type),
    * keeping only rows where the state actually CHANGED; the open
    * current state has NULL valid_to. Both windows (change detection
    * lag, interval-close lead) share one (user, (ts, event_id))
    * partitioning+ordering, so the fact shuffles and sorts ONCE —
    * per-user state, never a corpus-wide window. The (ts, event_id)
    * tie-break makes the compaction deterministic under same-instant
    * events. This is the standard warehouse dimension-history
    * operator (type-2 SCD) expressed as two stacked windows.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "event_type")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "valid_from")
  }

  /** TPC-H Q16 shape — supplier breadth per part attribute: how many
    * distinct eligible suppliers ship each (brand, type, size)
    * combination, excluding a flagged-supplier blacklist. (The fixture
    * has no partsupp, so lineitem's (l_partkey, l_suppkey) pairs ARE
    * the who-supplies-what relation, and — no s_comment — the
    * complaint blacklist is proxied by low account balance.) Both the
    * qualifying part dim and the blacklist broadcast, so the fact scan
    * is pruned map-side BEFORE its only shuffle: the 4-column distinct
    * (attrs, suppkey), whose partial aggregation dedups map-side. The
    * count-distinct is spelled distinct-then-count — no Expand ever
    * multiplies fact rows — and output is bounded by
    * |brand|·|type|·|size| at any corpus size.
    */
  def partSupplierCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.load(spark, sfDir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val flagged = Tables.load(spark, sfDir, "supplier")
      .filter(col("s_acctbal") < 1000).select("s_suppkey")
    Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
        asc("p_size"))
  }

  /** TPC-H Q20 shape — dominant suppliers of a part family: suppliers
    * who shipped more than `share` of some large-family part's total
    * quantity in one year. (No partsupp availqty in the fixture, so
    * Q20's "excess stock" test becomes its dual — a market-dominance
    * test against the nested per-part total.) The fact scan is pruned
    * by the pushed date range and the broadcast part family before its
    * single shuffle onto (partkey, suppkey); the nested aggregate —
    * per-part totals — is a window over the already-NDV-sized
    * aggregate, not a second pass over facts; the supplier dim then
    * semi-joins against the tiny broadcast winner set.
    */
  def dominantSuppliers(spark: SparkSession, sfDir: String,
      namePrefix: String = "large", year: Int = 1996,
      share: Double = 0.5): DataFrame = {
    val family = Tables.load(spark, sfDir, "part")
      .filter(col("p_name").startsWith(namePrefix)).select("p_partkey")
    // DECIMAL keeps the share comparison order-free and cross-engine
    // exact (the q107/q111 discipline): double partial sums would make
    // a near-boundary (supplier, part) pair partition-order dependent
    val perSupp = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(broadcast(family), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("qty"))
    val dominant = perSupp
      .withColumn("total",
        sum(col("qty")).over(Window.partitionBy("l_partkey")))
      .filter(col("qty") >
        lit(share).cast("decimal(11,6)") * col("total"))
      .select("l_suppkey").distinct()
    Tables.load(spark, sfDir, "supplier")
      .join(broadcast(dominant), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_name")
  }

  /** TPC-H Q11 shape — important stock of one nation's suppliers: parts
    * whose summed shipped value from that nation exceeds `permille`/1000
    * of the nation's total (no partsupp in the fixture, so lineitem's
    * discounted price plays ps_supplycost·ps_availqty's value role;
    * reference anchor: trainer.py:91-118's hand-sized importance
    * table). The nation's suppliers broadcast onto one fact scan; the
    * per-part values aggregate in DECIMAL (partition-order exact), are
    * persisted at part-NDV size, and the grand total is a second
    * aggregate OVER THAT CACHE — the fact never scans twice and no
    * corpus-wide window materializes. The share test is pure integer-
    * scaled DECIMAL (value·1000 > total·permille), so both engines
    * qualify identical parts; output is mathematically ≤ 1000/permille
    * rows at ANY corpus size (at most that many parts can each hold
    * more than permille/1000 of the total), so the materialize-then-
    * unpersist report pattern is scale-safe.
    */
  def importantPartValues(spark: SparkSession, sfDir: String,
      nationName: String = "NATION_19", permille: Int = 1): DataFrame = {
    val natKey = Tables.load(spark, sfDir, "nation")
      .filter(col("n_name") === nationName).select("n_nationkey")
    val supp = Tables.load(spark, sfDir, "supplier")
      .join(broadcast(natKey), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val value = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    val perPart = Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === supp("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(value).as("value_exact"))
      .persist()
    val total = perPart.agg(sum("value_exact").as("total_exact"))
    val out = perPart.crossJoin(broadcast(total))
      .filter(col("value_exact") * lit(1000) >
        col("total_exact") * lit(permille))
      .select(col("l_partkey").as("p_partkey"),
        round(col("value_exact"), 2).cast("double").as("part_value"))
      .orderBy(desc("part_value"), asc("p_partkey"))
    val report = out.collect().toSeq
    perPart.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(report, 1), out.schema)
  }

  /** Time-series DENSIFICATION with last-observation-carried-forward:
    * daily revenue per market segment on a gapless (segment × day)
    * spine, empty days filled with the segment's previous observed
    * value (0.00 before the first observation, flagged `observed`).
    *
    * Scale shape: the fact table reduces map-side to the SPINE's
    * grain (segments × days — dimension-sized, never corpus-sized)
    * before any join; the spine itself is generated, not scanned
    * (`sequence` off a 1-row bounds aggregate × a distinct-segment
    * broadcast). The LOCF window partitions by segment and orders by
    * day, so every window partition is ≤ |days| rows regardless of
    * corpus size — a bounded sort, not the single-partition global
    * window this repo rejects everywhere.
    *
    * Revenue sums stay DECIMAL end-to-end (exact under any partition
    * order); the one double appears after rounding, so both engines
    * agree bit-for-bit.
    */
  def locfFill(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val rev = orders
      .join(broadcast(Tables.load(spark, sfDir, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val bounds = orders.agg(to_date(min("o_orderdate")).as("lo"),
      to_date(max("o_orderdate")).as("hi"))
    val days = bounds.select(explode(sequence(col("lo"), col("hi")))
      .as("day"))
    val segs = Tables.load(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("seg")).distinct()
    val spine = segs.crossJoin(days)
    val w = Window.partitionBy("seg").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(rev, Seq("seg", "day"), "left")
      .withColumn("observed", col("rev").isNotNull)
      .withColumn("rev_filled",
        coalesce(last("rev", ignoreNulls = true).over(w),
          lit(0).cast("decimal(18,2)")).cast("double"))
      .select(col("seg"), col("day"), col("rev_filled"), col("observed"))
      .orderBy("seg", "day")
  }

  /** χ² INDEPENDENCE test between event type and hour-of-day — the
    * categorical-association profile of an event stream (is traffic
    * mix time-of-day dependent?). Observed counts are one map-side
    * combined aggregate; the expected-count grid lives on a generated
    * (type × hour) spine (cross join of two distinct lists — empty
    * cells MUST contribute their expected mass, a groupBy over
    * observed cells alone understates χ²); marginals broadcast as
    * NDV-sized frames. Every count is an exact long; the one double
    * expression (n−e)²/e sums over ≤ |hours| cells per type before
    * the 4 dp round — quantum ≫ the 120-term summation jitter.
    */
  def chiSquare(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("t"), hour(col("ts")).as("h"))
    // the NDV-sized cell table is the ONLY thing derived from the
    // fact scan — persist it so marginals/total/spine all read the
    // ≤|types|·|hours| cache instead of re-scanning the corpus (the
    // unpersisted form planned SIX fact scans)
    val cells = ev.groupBy("t", "h").agg(count(lit(1)).as("n")).persist()
    val out = chiSquareReport(cells)
    val rows = out.collect().toSeq // |types|-row report; drop the cache
    cells.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** The χ² report over a (t, h, n) cell table — separate so plan
    * tests can inspect it against a literal cell frame.
    */
  private[graft] def chiSquareReport(cells: DataFrame): DataFrame = {
    val rowTot = cells.groupBy("t").agg(sum("n").as("rt"))
    val colTot = cells.groupBy("h").agg(sum("n").as("ct"))
    val total = cells.agg(sum("n").as("nn"))
    val spine = rowTot.select("t").crossJoin(colTot.select("h"))
    spine.join(cells, Seq("t", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .join(broadcast(rowTot), "t")
      .join(broadcast(colTot), "h")
      .crossJoin(broadcast(total))
      .withColumn("e", col("rt").cast("double") *
        col("ct").cast("double") / col("nn").cast("double"))
      .withColumn("contrib",
        (col("n").cast("double") - col("e")) *
          (col("n").cast("double") - col("e")) / col("e"))
      .groupBy(col("t").as("event_type"))
      .agg(max("rt").cast("long").as("n_events"),
        round(sum("contrib"), 4).as("chi2_part"))
      .orderBy("event_type")
  }

  /** POISSON BOOTSTRAP confidence interval — the distributed
    * bootstrap (resampling with replacement is a per-row Poisson(1)
    * weight, so B resamples run in ONE pass with no sampling shuffle):
    * a 95% CI for the mean order value from B hash-deterministic
    * resamples.
    *
    * Every source of randomness is a portable integer hash, so both
    * engines draw THE SAME resamples: u = hash(orderkey·B + b)/P,
    * Poisson(1) weight via inverse-CDF thresholds spelled as literal
    * doubles (never exp(-1) at runtime — libm), weighted sums in
    * exact quantized cents. The melt is ×B map-side and reduces to B
    * groups; the CI is a percentile over B resample means. Weights
    * truncate at 4 (P(X>4|λ=1) ≈ 0.004 — noted, immaterial for a CI).
    */
  def bootstrapCi(spark: SparkSession, sfDir: String,
      nResamples: Int = 32): DataFrame = {
    val P = 1000000007L
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val melted = orders
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(nResamples - 1))).as("b"))
      .withColumn("u",
        ((col("o_orderkey") * nResamples + col("b")) % lit(P) *
          lit(2654435761L) % lit(P)).cast("double") / lit(P).cast("double"))
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0L)
          .when(col("u") < 0.7357588823428847, 1L)
          .when(col("u") < 0.9196986029286058, 2L)
          .when(col("u") < 0.9810118431238462, 3L)
          .otherwise(4L))
    val means = melted.groupBy("b")
      .agg((sum(col("w") * col("cents")).cast("double") /
        sum(col("w")).cast("double")).as("m"))
    val base = orders.agg(count(lit(1)).as("n"),
      (sum("cents").cast("double") / count(lit(1)).cast("double"))
        .as("mean_cents"))
    means.agg(
        expr("percentile(m, 0.025)").as("lo"),
        expr("percentile(m, 0.975)").as("hi"))
      .crossJoin(broadcast(base))
      .select(col("n"),
        round(col("mean_cents") / 100.0, 2).as("mean_value"),
        round(col("lo") / 100.0, 2).as("ci_lo"),
        round(col("hi") / 100.0, 2).as("ci_hi"))
  }

  /** TIME-TO-CONVERSION percentiles — the funnel-latency report
    * (how long from a user's first 'view' to their first 'purchase'):
    * per-user first-touch times come from ONE conditional-min
    * aggregate over the fact scan (map-side combined, no window),
    * deltas are exact integer microseconds on the user-NDV-sized
    * frame, and the percentile report runs over that dimension-sized
    * frame (the q35/q96 discipline governs bigger delta domains).
    * Also reports the conversion rate among users who viewed.
    */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val firsts = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("us"))).as("first_view"),
      min(when(col("event_type") === "purchase", col("us")))
        .as("first_buy"))
      .filter(col("first_view").isNotNull)
    val deltas = firsts
      .withColumn("delta_s",
        when(col("first_buy") > col("first_view"),
          (col("first_buy") - col("first_view")) / lit(1000000L)))
    deltas.agg(
        count(lit(1)).as("n_viewers"),
        count(col("delta_s")).as("n_converted"),
        round(expr("percentile(delta_s, 0.25)"), 2).as("p25_s"),
        round(expr("percentile(delta_s, 0.50)"), 2).as("p50_s"),
        round(expr("percentile(delta_s, 0.90)"), 2).as("p90_s"))
      .select(col("n_viewers"), col("n_converted"),
        round(col("n_converted").cast("double") /
          col("n_viewers").cast("double"), 4).as("conversion_rate"),
        col("p25_s"), col("p50_s"), col("p90_s"))
  }

  /** GINI COEFFICIENT of customer revenue — the concentration
    * statistic of a revenue base (how unequal is spend?), via the
    * rank-weighted form G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over
    * revenues ascending.
    *
    * The global rank is the repo's sharded [[PrefixSum]] (cumsum of
    * ones over the composite key cents·M + custkey — order-preserving,
    * unique, integer), so NO corpus-wide window exists: ranking shards
    * by key range, each shard one task. The tie-break multiplier M is
    * DERIVED from the data — the smallest power of 10 above
    * max(custkey), read off the already-reduced customer-NDV frame
    * (collect-a-parameter) — so (cents, custkey) order is preserved at
    * ANY custkey domain, and a require() guards the composite key and
    * the rank·cents product against long overflow instead of a prose
    * claim. Revenue quantizes to cents per order before summing
    * (exact longs at any partition order); the customer frame is
    * NDV-sized — the fact table reduces map-side first.
    */
  def giniRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.load(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
      .persist() // NDV-sized; read for the parameter probe + the rank
    // parameter probe: one row off the reduced frame
    val p = rev.agg(max(col("o_custkey").cast("long")).as("mc"),
      max("cents").as("mx"), count(lit(1)).as("n")).head()
    val (maxCust, maxCents, nCust) =
      (p.getLong(0), p.getLong(1), p.getLong(2))
    var mult = 1L
    while (mult <= maxCust) mult *= 10
    require(maxCents <= (Long.MaxValue - maxCust) / mult,
      s"composite rank key overflows long: max cents $maxCents × " +
        s"multiplier $mult — rank via a struct-keyed sort instead")
    require(nCust <= Long.MaxValue / math.max(maxCents, 1L),
      "rank·cents overflows long")
    val keyed = rev.withColumn("k",
      col("cents") * lit(mult) + col("o_custkey"))
    val ranked = PrefixSum.withGlobalCumSum(keyed, "k", lit(1L), "rk",
      shardWidth = 1L << 30)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val out = ranked.agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("rk") * col("cents")).as("rs"))
      .select(col("n"),
        round(d(col("s")) / 100, 2).as("total_rev"),
        round(lit(2.0) * d(col("rs")) / (d(col("n")) * d(col("s"))) -
          (d(col("n")) + lit(1.0)) / d(col("n")), 6).as("gini"))
    val rows = out.collect().toSeq // 1-row report; release the cache
    rev.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** CO-PURCHASE ASSOCIATION RULES — support and lift for part pairs
    * appearing in the same order (the market-basket sibling of q139's
    * PMI: same exact-count skeleton, business-side metrics). Baskets
    * are DISTINCT (order, part) memberships; the pair stream is a
    * basket self-join keyed on the order — Σ C(|basket|, 2) rows,
    * bounded by basket size (TPC-H baskets are ~4 lines), map-side
    * combined to the pair-NDV before its exchange. Lift
    * = N·c_ab/(c_a·c_b) over exact longs with the double formula
    * spelled once.
    *
    * A-PRIORI prune: a pair cannot reach minSupport unless BOTH legs
    * do (c_ab ≤ min(c_a, c_b)), so baskets semi-join the qualifying
    * parts (margin ≥ minSupport) BEFORE the self-join — the pair
    * stream shrinks at no correctness cost, and the prune deepens
    * with minSupport exactly when the raw pair stream would explode.
    * The margins are computed once and reused as the lift
    * denominators (their values are unchanged by the prune: every
    * surviving pair's legs qualify by construction).
    */
  def copurchaseLift(spark: SparkSession, sfDir: String,
      minSupport: Int = 3, topK: Int = 20): DataFrame = {
    // ONE grouping exchange carries the raw (o, p) stream: collect_set
    // dedups each basket map-side INSIDE the aggregate — the earlier
    // spelling paid a distinct() exchange AND a repartition(o) exchange
    // for the same dedup+layout — and the cached frame is
    // order-NDV-sized (one row per basket). The order count, the
    // margins, and pair generation all read this cache.
    val adj = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o")
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .persist()
    val nOrders = adj.count() // one row per basket by construction
    val margins = adj.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
      .persist() // part-NDV sized; a-priori bound + lift denominators
    // two statistics steer the physical plan, off ONE tiny aggregate
    // over the cached NDV-sized margins: the max part id decides
    // whether pair keys can pack into one long (ids must stay below
    // 2³¹), and the qualifying-part count gates the broadcast hint on
    // the a-priori semi-join (a part domain in the tens of millions
    // must not be forced into every executor's memory — past the
    // bound the planner picks the join strategy itself)
    val mrow = margins.agg(coalesce(max(col("p")), lit(0L)),
      count(when(col("c") >= minSupport, 1))).head()
    val (maxPart, nQual) = (mrow.getLong(0), mrow.getLong(1))
    val out = copurchaseLiftPlanAdj(adj, margins, nOrders,
      minSupport, topK,
      packPairs = maxPart < (1L << 31),
      broadcastQualifying = nQual <= 10000000L)
    graft.plans.PlanProbe.dump("q147_copurchase_lift_internal", out)
    val rows = out.collect().toSeq
    adj.unpersist(false)
    margins.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** The lazy lift plan over pre-reduced baskets/margins frames —
    * separate so plan tests can assert the a-priori semi-join feeds
    * the pair generation before anything materializes. Baskets arrive
    * as (o, p) rows; the adjacency grouping happens here.
    */
  private[graft] def copurchaseLiftPlan(baskets: DataFrame,
      margins: DataFrame, nOrders: Long, minSupport: Int,
      topK: Int): DataFrame =
    copurchaseLiftPlanAdj(
      baskets.groupBy("o")
        .agg(sort_array(collect_set(col("p"))).as("ps")),
      margins, nOrders, minSupport, topK)

  /** The lift plan over a pre-grouped basket adjacency (o, ps: sorted
    * distinct parts) — the shape [[copurchaseLift]] caches.
    */
  private[graft] def copurchaseLiftPlanAdj(adj: DataFrame,
      margins: DataFrame, nOrders: Long, minSupport: Int,
      topK: Int, packPairs: Boolean = true,
      broadcastQualifying: Boolean = true): DataFrame = {
    val qualifying = margins.filter(col("c") >= minSupport).select("p")
    // a-priori prune at the basket-member grain: the explode rides the
    // adjacency's o-partitioning, the semi-join builds its hash table
    // from the part-NDV-sized qualifying set (broadcast when the
    // caller's qualifying-count statistic allows it — never a shuffle
    // of the members), so the re-group below adds no exchange
    val qhinted = if (broadcastQualifying) broadcast(qualifying)
      else qualifying
    val pruned = adj.select(col("o"), explode(col("ps")).as("p"))
      .join(qhinted, Seq("p"), "left_semi")
    // adjacency-explode pair generation (the q140 spelling): re-group
    // the pruned members — no exchange, the o-partitioning survived
    // the explode and the broadcast semi-join — then C(basket,2) pair
    // rows explode in-place; no self-join, each unordered pair once
    val regrouped = pruned.groupBy("o")
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    // the pair aggregate keys on ONE packed long (pa·2³² + pb — the
    // q140 wedge spelling) instead of a two-column key: the exchange
    // carries 8 key bytes per pair instead of 16 and the aggregate
    // stays on the codegen'd single-primitive hash path; pa/pb decode
    // AFTER the minSupport filter, on the surviving pair set only.
    // Callers whose part ids can reach 2³¹ pass packPairs = false and
    // take the two-column spelling — same result, wider key. Both
    // branches emit pa/pb as long, so the gate never changes the
    // output schema.
    val pairs = (if (packPairs) {
      regrouped
        .select(explode(PageRank.sortedPackedPairs(col("ps"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= minSupport)
        .select(shiftright(col("k"), 32).as("pa"),
          col("k").bitwiseAND(lit(0xFFFFFFFFL)).as("pb"),
          col("c_ab"))
    } else {
      regrouped
        .select(explode(PageRank.sortedPairs(col("ps"))).as("pr"))
        .select(col("pr.s1").cast("long").as("pa"),
          col("pr.s2").cast("long").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= minSupport)
    })
    pairs
      .join(margins.select(col("p").as("pa"), col("c").as("c_a")), "pa")
      .join(margins.select(col("p").as("pb"), col("c").as("c_b")), "pb")
      .select(col("pa"), col("pb"), col("c_ab"),
        round(lit(nOrders).cast("double") * col("c_ab").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double")), 4)
          .as("lift"))
      .orderBy(desc("lift"), asc("pa"), asc("pb"))
      .limit(topK)
  }

  /** WELCH'S t-TEST between two event cohorts — the A/B significance
    * primitive of event analytics, made engine-exact by QUANTIZING the
    * metric first: value → permille integers (round(v·1000), the q130
    * discipline), so n, Σx, Σx² are exact longs under any partition
    * order (a double Σx² over 10⁵ rows carries worst-case summation
    * error at the rounding quantum — quantization removes the problem
    * instead of rounding around it). The t statistic and
    * Welch–Satterthwaite df then run in doubles on six exact scalars.
    * One scan, one 2-group map-side-combined aggregate.
    */
  def welchTTest(spark: SparkSession, sfDir: String,
      typeA: String = "click", typeB: String = "view"): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("grp"),
        round(col("value") * 1000, 0).cast("long").as("v"))
    // Σv and Σv² accumulate in decimal(38,0): a long sum wraps silently
    // on overflow (non-ANSI) at ~10⁷ rows of permille values near 3·10⁴,
    // while the oracle sums into HUGEINT — decimal keeps both engines
    // exact at any n, and the cast to double at the end is identical.
    val m = ev.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum((col("v") * col("v")).cast("decimal(38,0)")).as("ss"))
    val a = m.filter(col("grp") === typeA)
      .select(col("n").as("na"), col("s").as("sa"), col("ss").as("ssa"))
    val b = m.filter(col("grp") === typeB)
      .select(col("n").as("nb"), col("s").as("sb"), col("ss").as("ssb"))
    def dbl(c: String) = col(c).cast("double")
    a.crossJoin(b)
      .withColumn("ma", dbl("sa") / dbl("na"))
      .withColumn("mb", dbl("sb") / dbl("nb"))
      .withColumn("va", (dbl("ssa") - dbl("sa") * dbl("sa") / dbl("na"))
        / (dbl("na") - lit(1.0)))
      .withColumn("vb", (dbl("ssb") - dbl("sb") * dbl("sb") / dbl("nb"))
        / (dbl("nb") - lit(1.0)))
      .withColumn("sea", col("va") / dbl("na"))
      .withColumn("seb", col("vb") / dbl("nb"))
      .select(col("na"), col("nb"),
        round(col("ma") / lit(1000.0), 4).as("mean_a"),
        round(col("mb") / lit(1000.0), 4).as("mean_b"),
        round((col("ma") - col("mb")) / sqrt(col("sea") + col("seb")), 4)
          .as("t_stat"),
        round((col("sea") + col("seb")) * (col("sea") + col("seb")) /
          (col("sea") * col("sea") / (dbl("na") - lit(1.0)) +
            col("seb") * col("seb") / (dbl("nb") - lit(1.0))), 2)
          .as("welch_df"))
  }

  /** IQR OUTLIER fences per group — Tukey's boxplot rule over exact
    * percentiles on fixed-point money (cents): q1/q3 by linear
    * interpolation on integers (exact rationals → identical doubles),
    * fences at 1.5·IQR, then one conditional aggregate counts the
    * tails. The quartiles are estimator-ROUTED
    * ([[Percentiles.percentilesByGroupRouted]]): below the SCALE.md
    * crossover (corpus smaller than the cents domain — these
    * fixtures) the per-group `percentile()` list runs; past it the
    * NDV-sized counts machinery takes over — no hand-picked plan.
    * The corpus reduces ONCE to a cached (group, cents) frame that
    * the estimation pass, the quartiles, and the tail census all
    * read — one fact scan total; the fences broadcast back as an
    * NDV-sized frame.
    */
  def iqrOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Percentiles.Measure
    // the Measure stays on the DERIVED integer-cents column (scale 1),
    // NOT on l_extendedprice at scale 100: the fence arithmetic below
    // runs in exact cents, and a scale-100 measure would hand back
    // dollars (cents/100.0 — a division the ×100 round trip cannot
    // always undo bit-exactly; r13 measured the oracle catching it).
    // The ROUTING statistics, though, CAN come from the raw column's
    // persisted catalog stats: cents = round(price·100) is injective
    // on 2-dp prices, so NDV(cents) = NDV(price) and max(cents) =
    // max(price)·100 exactly (the catalog max is exact) — the stats
    // re-key to the derived measure via statsOverride and the
    // estimation aggregate disappears from the plan while the fence
    // arithmetic keeps its exact integer cents.
    val targets = Seq("q1" -> 0.25, "q3" -> 0.75)
    val rawStats = Percentiles.statsFromCatalog(
      Tables.load(spark, sfDir, "lineitem"),
      Seq(Measure("cents", col("l_extendedprice"), 100L, targets)),
      "l_returnflag")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .persist() // quartiles + tail census, one scan
    val qrows = Percentiles.percentilesByGroupRoutedRows(li,
      "l_returnflag", Seq(Measure("cents", col("cents"), 1L, targets)),
      statsOverride = rawStats)
    // fence arithmetic on the driver (same IEEE op order the in-plan
    // spelling used); the NDV-sized fence frame then broadcasts back
    val fenceRows = qrows.groupBy(_._1).toSeq.map { case (g, ts) =>
      val m = ts.map(t => t._2 -> t._3).toMap
      val (q1, q3) = (m("q1"), m("q3"))
      (g, q1, q3, q1 - (q3 - q1) * 1.5, q3 + (q3 - q1) * 1.5)
    }
    val fences = spark.createDataFrame(
        spark.sparkContext.parallelize(fenceRows, 1))
      .toDF("l_returnflag", "q1", "q3", "lo", "hi")
    val out = li.join(broadcast(fences), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents").cast("double") < col("lo"), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("cents").cast("double") > col("hi"), 1L)
          .otherwise(0L)).as("n_high"),
        round(max("lo") / 100.0, 4).as("fence_lo"),
        round(max("hi") / 100.0, 4).as("fence_hi"))
      .orderBy("l_returnflag")
    graft.plans.PlanProbe.dump("q146_iqr_outliers_internal", out)
    val rows = out.collect().toSeq // small report; release the cache
    li.unpersist(false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** One-pass Pearson CORRELATION MATRIX over fact measures from
    * EXACT moments: each measure pair's (n, Σx, Σy, Σxy, Σx², Σy²)
    * accumulates as DECIMAL — quantities are integers, money is 2 dp,
    * so every product is an exact 4 dp decimal and the sums are
    * partition-order independent. The r formula then runs in doubles
    * on six exact scalars per pair — deterministic in any engine,
    * where the textbook `corr()` (double running sums) drifts with
    * partition order.
    *
    * Shape: one fact scan melts each row into its measure pairs
    * (map-side ×|pairs|), ONE map-side-combinable aggregate reduces to
    * |pairs| rows of moments. No corpus-sized state anywhere; adding a
    * measure adds a struct literal, not a pass.
    */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val measures = Seq(
      "qty" -> col("l_quantity").cast("decimal(18,2)"),
      "price" -> col("l_extendedprice").cast("decimal(18,2)"),
      "disc" -> col("l_discount").cast("decimal(18,2)"),
      "tax" -> col("l_tax").cast("decimal(18,2)"))
    // EVERY moment in ONE un-exploded aggregate — 15 decimal sums off
    // one scan, no 6× row amplification, no 6-group shuffle (a melted
    // first cut measured 5 s at sf0.1; this shape runs with the scan)
    val moments =
      Seq(count(lit(1)).as("n")) ++
      measures.map { case (nm, c) => sum(c).as(s"s_$nm") } ++
      measures.map { case (nm, c) => sum(c * c).as(s"ss_$nm") } ++
      (for {
        (i, (na, a)) <- measures.zipWithIndex.map(_.swap)
        (nb, b) <- measures.drop(i + 1)
      } yield sum(a * b).as(s"x_${na}_$nb"))
    val wide = li.agg(moments.head, moments.tail: _*)
    // assemble the 6 pair rows ABOVE the aggregate (a 1-row explode)
    val pairRows = for {
      (i, (na, _)) <- measures.zipWithIndex.map(_.swap)
      (nb, _) <- measures.drop(i + 1)
    } yield struct(lit(s"${na}_$nb").as("pair"),
      col(s"s_$na").as("sx"), col(s"s_$nb").as("sy"),
      col(s"x_${na}_$nb").as("sxy"),
      col(s"ss_$na").as("sxx"), col(s"ss_$nb").as("syy"))
    // moments → double BEFORE any combining arithmetic: decimal
    // multiplies at the precision-38 cap trigger engine-specific scale
    // reduction, while double arithmetic over six exact scalars is the
    // same IEEE sequence in both engines
    val n = col("n").cast("double")
    def d(c: String) = col(s"m.$c").cast("double")
    wide.select(col("n"), explode(array(pairRows: _*)).as("m"))
      .select(col("m.pair").as("pair"),
        round((n * d("sxy") - d("sx") * d("sy")) /
          sqrt((n * d("sxx") - d("sx") * d("sx")) *
            (n * d("syy") - d("sy") * d("sy"))), 6).as("r"))
      .orderBy("pair")
  }

  /** q159: CUSUM CHANGEPOINT monitor (Page's sequential test) over the
    * daily event volume — the pipeline-health operator that watches an
    * ingest metric for sustained level shifts, where a fixed threshold
    * misses slow drifts and a per-day z-test misses accumulation.
    * Both one-sided statistics run: S⁺ₜ = max(0, S⁺ₜ₋₁ + zₜ − κ) for
    * upward shifts and the mirrored S⁻ for drops; a day alarms when
    * either exceeds h.
    *
    * Engine-portable spelling, the trainer discipline applied to a
    * recursion: the recurrence has the CLOSED FORM Sₜ = Pₜ − min(0,
    * min_{j≤t} Pⱼ) over the prefix sums P of (z − κ), so the whole
    * monitor is two running-window passes (sum + prefix-min) over the
    * DAY-GRAIN series — the single-partition windows are
    * parameter-sized (days, not rows) by construction. Series
    * parameters (μ, σ) come from EXACT integer moments (n, Σx, Σx²
    * collected as longs; both engines then run the identical IEEE
    * expression), and every engine-crossing value is rounded by the
    * EXPLICIT half-up spelling floor(x·10⁶ + 0.5)/10⁶ — identical
    * arithmetic in any engine, no reliance on round() tie semantics.
    * Margins (|S − h| at the alarm compare) are fixture-measured far
    * above double noise.
    */
  def cusumDailyEvents(spark: SparkSession, sfDir: String,
      k: Double = 0.5, h: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rnd6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val daily = Tables.load(spark, sfDir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    // exact integer moments -> the one deterministic (mu, sigma)
    val m = daily.agg(count(lit(1)).as("n"), sum("n_events").as("sx"),
      sum(col("n_events") * col("n_events")).as("sxx")).head()
    val (n, sx, sxx) = (m.getLong(0), m.getLong(1), m.getLong(2))
    require(n >= 2, "CUSUM needs at least two days")
    val mu = sx.toDouble / n
    val sigma = math.sqrt(
      (sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = rnd6((col("n_events") - lit(mu)) / lit(sigma))
    // two window passes per side (prefix sum, then prefix min of its
    // clamp) — nested window expressions must live in separate
    // projections; min(least(P,0)) over the prefix IS min(0, min P)
    val withP = daily.withColumn("z", z)
      .withColumn("pu", sum(col("z") - lit(k)).over(w))
      .withColumn("pd", sum(-col("z") - lit(k)).over(w))
    withP
      .withColumn("cusum_up",
        rnd6(col("pu") - min(least(col("pu"), lit(0.0))).over(w)))
      .withColumn("cusum_down",
        rnd6(col("pd") - min(least(col("pd"), lit(0.0))).over(w)))
      .withColumn("alarm",
        col("cusum_up") > lit(h) || col("cusum_down") > lit(h))
      .select(col("day"), col("n_events"), col("z"),
        col("cusum_up"), col("cusum_down"), col("alarm"))
      .orderBy("day")
  }

  /** Pricing summary answered from a MATERIALIZED SUMMARY TABLE via
    * [[graft.plans.SummaryRewrite]] — the warehouse MV-routing
    * affordance: a (returnflag, linestatus, shipdate)-grain
    * pre-aggregate of lineitem is built and registered, and the
    * pricing aggregate (a shipdate filter + a COARSER group-by over
    * two of the three grain columns) is transparently rewritten to
    * read it. The oracle computes the same SQL from the RAW table, so
    * the hash-PASS is a proof of rewrite correctness, not just of the
    * aggregate: sums are declared as decimal casts (associative —
    * re-aggregating per-grain partials is value-exact), the average is
    * spelled sum/count so both legs route, and min/max re-aggregate
    * freely.
    *
    * The report is a handful of (flag, status) rows: it materializes
    * and the summary registration drops in a finally, so no OTHER
    * query in the session ever matches the router (registration is
    * scoped to this call — the suite's plans stay exactly what each
    * query declares). At 100 TB the summary is smaller than the fact
    * table by the rows-per-(flag,status,day) factor and is what every
    * qualifying dashboard aggregate reads instead of the raw scan.
    */
  def summaryPricing(spark: SparkSession, sfDir: String): DataFrame =
    withPricingSummary(spark, sfDir)(summaryPricingQuery(spark, sfDir))

  /** q173: the DERIVED-grain rollup through the same router — the
    * aggregate groups by `date_trunc('month', l_shipdate)`, an
    * expression OVER the day grain, so the rewrite's projection-alias
    * inlining and coarser re-aggregation both execute under the
    * oracle's hash check (the raw-table SQL in DuckDB must match the
    * summary-routed answer bit-for-bit).
    */
  def summaryMonthly(spark: SparkSession, sfDir: String): DataFrame =
    withPricingSummary(spark, sfDir) {
      Tables.load(spark, sfDir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(
          count(lit(1)).as("n_rows"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sum_qty"),
          round(min(col("l_extendedprice")), 4).as("min_price"),
          round(max(col("l_extendedprice")), 4).as("max_price"))
        .orderBy("month")
    }

  /** Run `query` with summary `name` registered, materializing its
    * small report (collect + re-parallelize pins the answer across
    * the finally-scoped drop). When the summary is ALREADY registered
    * — the bench pre-registers via [[mvBenchSetups]] so its timed
    * measurement is the ROUTED READ alone, never the one-off build —
    * both the create and the drop are skipped; Verify and ad-hoc
    * callers still get the self-contained create→query→drop
    * lifecycle.
    */
  private def withSummary(spark: SparkSession, name: String)(
      create: => Unit)(query: => DataFrame): DataFrame = {
    val pre = graft.plans.Summaries.has(name)
    if (!pre) create
    try {
      val out = query
      val rows = out.collect().toSeq // report-sized
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally if (!pre) graft.plans.Summaries.drop(name)
  }

  /** Register the lineitem pricing summary (q172/q173/q174/q181's
    * substrate). */
  private[graft] def registerPricingSummary(spark: SparkSession,
      sfDir: String): Unit =
    graft.plans.Summaries.create(
      Tables.load(spark, sfDir, "lineitem"), "lineitem_pricing",
      grain = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_base" -> "cast(l_extendedprice as decimal(18,2))"),
      // the opt-in Σx² leg: with it, the exact stddev/var family
      // routes too (q184) — stored as a plain decimal sum measure
      sumsqs = Seq("sumsq_qty" -> "cast(l_quantity as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"),
      // KMV sketch measure: the engine-portable supplier hash, so a
      // summary-ROUTED distinct estimate is DuckDB-replayable (q174)
      kmvs = Seq("kmv_supp" -> SupplierHashSql), kmvK = 64)

  private def withPricingSummary(spark: SparkSession, sfDir: String)(
      query: => DataFrame): DataFrame =
    withSummary(spark, "lineitem_pricing")(
      registerPricingSummary(spark, sfDir))(query)

  /** The SQL-replayable hash of q132's discipline (Knuth
    * multiplicative over the 1e9+7 field) — spelled once so the
    * summary measure and q174's query analyze IDENTICAL trees.
    */
  private val SupplierHashSql =
    "((l_suppkey % 1000000007) * 2654435761) % 1000000007"

  /** q174: approximate distinct suppliers per returnflag ANSWERED FROM
    * THE SUMMARY's stored KMV arrays — bottom-k is a mergeable summary
    * (the k smallest over a union lie in the union of per-part k
    * smallest), so the routed estimate equals the raw-scan estimate
    * EXACTLY, and the portable hash makes the whole thing
    * DuckDB-replayable: the oracle rebuilds the bottom-64 per flag
    * from the raw table and applies the same closed-form estimate.
    * The HLL twin (SummaryRewriteSpec) is spec-checked only — its
    * registers aren't SQL-expressible; THIS is the oracle-checked
    * member of the sketch-measure family.
    */
  def summaryKmvSuppliers(spark: SparkSession, sfDir: String): DataFrame =
    withPricingSummary(spark, sfDir) {
      Tables.load(spark, sfDir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          graft.functions.KmvFunctions
            .kmv_ndv(expr(SupplierHashSql), k = 64)
            .as("approx_suppliers"))
        .orderBy("l_returnflag")
    }

  /** q177: a fact⋈dim aggregate answered from a JOINED materialized
    * summary — the BigQuery-MV shape the single-table router can't
    * express. A (o_orderpriority, l_returnflag)-grain pre-aggregate of
    * lineitem ⋈ orders is built and registered
    * ([[graft.plans.Summaries.createJoined]]); the report query then
    * spells the SAME join + a grain filter + the grain group-by, and
    * [[graft.plans.SummaryRewrite]] routes it onto the summary — the
    * routed plan performs NO join and reads none of the raw tables
    * (scan-path-asserted in SummaryRewriteSpec). The oracle computes
    * the identical SQL from the RAW tables in DuckDB, so the hash-PASS
    * proves join-aware rewrite correctness end to end. At 100 TB this
    * is the strongest MV lever in the library: the rewrite deletes the
    * fact-table scan AND the fact-side join shuffle, the two dominant
    * costs of every fact⋈dim dashboard aggregate.
    */
  def summaryJoinPriority(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "li_orders_priority")(
      registerJoinPrioritySummary(spark, sfDir))(
      summaryJoinPriorityQuery(spark, sfDir))

  private[graft] def registerJoinPrioritySummary(spark: SparkSession,
      sfDir: String): Unit = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    graft.plans.Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey")),
      "li_orders_priority",
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_price" -> "cast(l_extendedprice as decimal(18,2))"))
  }

  /** q178: the joined summary's INCREMENTAL lifecycle under the
    * oracle — partial build over the historical fact slice (registers
    * UNROUTABLE), one refresh folding the joined delta (new fact rows
    * ⋈ dim: batch-sized, broadcastable at any corpus scale), routing
    * flips on, and the routed fact⋈dim aggregate must hash-match the
    * oracle's from-scratch join over the raw tables. This is the
    * day-2 cost story for the strongest MV lever: after the initial
    * build, keeping the join MV fresh costs O(new facts), never
    * O(fact table) — the refresh reads the summary and the delta
    * only.
    */
  def summaryJoinRefresh(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "li_orders_incr")(
      registerJoinRefreshSummary(spark, sfDir))(
      summaryJoinPriorityQuery(spark, sfDir))

  /** The q178 lifecycle: partial build over the historical fact slice
    * + one completing joined-delta refresh. */
  private[graft] def registerJoinRefreshSummary(spark: SparkSession,
      sfDir: String): Unit = {
    val cut = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    graft.plans.Summaries.createJoined(
      li.filter(col("l_shipdate") < cut)
        .join(ord, li("l_orderkey") === ord("o_orderkey")),
      "li_orders_incr",
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_price" -> "cast(l_extendedprice as decimal(18,2))"),
      partial = true)
    graft.plans.Summaries.refresh("li_orders_incr",
      li.filter(col("l_shipdate") >= cut)
        .join(ord, li("l_orderkey") === ord("o_orderkey")),
      complete = true)
  }

  /** q179: EXACT percentiles answered from a HISTOGRAM-grain summary —
    * the counts-route percentile plan ([[Percentiles]]) materialized
    * as an MV. A summary at (returnflag, quantity) grain is the
    * quantity histogram per flag (NDV-sized: ~150 rows however large
    * lineitem grows); `percentile(l_quantity, p)` routes onto it as
    * `percentile(l_quantity, p, __cnt)` (Spark's frequency-weighted
    * exact percentile walks the identical sorted sequence), and the
    * min / max / count / distinct-count legs ride the same grain rows
    * with no declared measure at all. The oracle replays everything
    * from the RAW table in DuckDB (`quantile_cont` is the same
    * rank-(n-1)p linear interpolation), so the hash-PASS proves the
    * frequency-weighted rewrite value-exact. At 100 TB this turns
    * every dashboard percentile over a bounded-NDV column from a
    * corpus scan + sort into a 150-row walk.
    */
  def summaryPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "li_qty_hist")(
      registerQtyHistSummary(spark, sfDir)) {
      Tables.load(spark, sfDir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_quantity")).as("n_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.95)"), 4).as("p95_qty"),
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"))
        .orderBy("l_returnflag")
    }

  private[graft] def registerQtyHistSummary(spark: SparkSession,
      sfDir: String): Unit =
    graft.plans.Summaries.create(
      Tables.load(spark, sfDir, "lineitem"), "li_qty_hist",
      grain = Seq("l_returnflag", "l_quantity"),
      sums = Nil)

  /** q181: ROLLUP routed through the MV — Spark lowers rollup/cube to
    * Aggregate ← Expand, and the router slides the pricing summary
    * under the Expand: every grouping set re-aggregates the ~7k
    * summary rows cnt-weighted instead of re-scanning lineitem once
    * per level. The oracle computes `GROUP BY ROLLUP` from the raw
    * table in DuckDB, so subtotal and grand-total rows (the
    * null-marked levels) are hash-checked too. At 100 TB a rollup
    * dashboard is otherwise the MOST expensive aggregate shape — the
    * Expand multiplies the fact scan by the number of levels.
    */
  def summaryRollup(spark: SparkSession, sfDir: String): DataFrame =
    withPricingSummary(spark, sfDir) {
      // the rolled-up levels' NULL markers coalesce to a sentinel
      // AFTER aggregation (above the routed Aggregate) — the compare
      // harness sorts row tuples and TPC-H flags are never null, so
      // the sentinel is unambiguous; gid pins each level's identity
      Tables.load(spark, sfDir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_rows"),
          round(expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
            .as("sum_qty"),
          round(min(col("l_extendedprice")), 4).as("min_price"),
          round(max(col("l_extendedprice")), 4).as("max_price"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("gid"), col("n_rows"), col("sum_qty"),
          col("min_price"), col("max_price"))
        .orderBy("flag", "status")
    }

  /** q180: the two routing families COMPOSED — exact percentiles over
    * a FACT⋈DIM join answered from a joined histogram-grain summary.
    * The (orderpriority, quantity)-grain summary of lineitem ⋈ orders
    * is both a join pre-computation (q177's lever) and a counts-route
    * histogram (q179's lever): `percentile(l_quantity, p)` grouped by
    * the dim attribute routes onto ~250 summary rows with no join and
    * no raw scan. The rewrite machinery is shared by construction
    * (grain routes know nothing about the summary's source shape), so
    * this query is the composition PROOF, oracle-replayed from the
    * raw join in DuckDB. At 100 TB: a per-dim-attribute percentile
    * dashboard goes from fact-scan + join + sort to a few hundred
    * rows per refresh cycle.
    */
  def summaryJoinPercentiles(spark: SparkSession,
      sfDir: String): DataFrame =
    withSummary(spark, "li_orders_hist")(
      registerJoinHistSummary(spark, sfDir)) {
      Tables.load(spark, sfDir, "lineitem")
        .join(Tables.load(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_rows"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"))
        .orderBy("o_orderpriority")
    }

  private[graft] def registerJoinHistSummary(spark: SparkSession,
      sfDir: String): Unit = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    graft.plans.Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey")),
      "li_orders_hist",
      grain = Seq("o_orderpriority", "l_quantity"),
      sums = Nil)
  }

  /** The lazy join-aggregate q177 routes — separate so the spec can
    * assert the optimized plan scans only the summary while the
    * registration is live.
    */
  private[graft] def summaryJoinPriorityQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .join(Tables.load(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") =!= lit("N"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr(
          "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
          .as("sum_qty"),
        round(expr(
          "cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"), 4)
          .as("sum_price"))
      .orderBy("o_orderpriority", "l_returnflag")

  /** The lazy aggregate the router rewrites — separate so PlanSpec can
    * inspect the optimized plan (summary scan, not lineitem) while the
    * registration is live.
    */
  private[graft] def summaryPricingQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
          4).as("sum_qty"),
        round(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_base"),
        round(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)") /
            count(lit(1)).cast("double"), 4).as("avg_price"),
        // the TRUE avg() — routes through its exact legs
        // (SUM(sum_qty) / SUM(__nn_sum_qty)); Spark's decimal avg is
        // the half-up 6-dp quotient, which the oracle replays with
        // integer arithmetic, so the double is bit-identical
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("avg_qty"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q183: the DEEP star — q78's TPC-H-Q5 six-table join (lineitem ⋈
    * orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region, INCLUDING the
    * cross-branch local-supplier equality c_nationkey = s_nationkey)
    * answered from ONE joined summary. q182 proved 3 tables; this is
    * the matcher's union-find connectivity gate and canonical edge
    * key at realistic dashboard depth: the query spells the join in a
    * DIFFERENT order and associativity (dims outward-in) than the
    * registration (fact outward), and both q78 filters (order-date
    * range, region name) are arbitrary expressions over GRAIN columns
    * (o_orderdate, r_name), so they re-apply on the summary. Routed,
    * the plan reads a ~(nation × date)-sized table instead of scanning
    * the fact table and running FIVE join shuffles — at 100 TB that
    * deletes every exchange a Q5 dashboard pays. Revenue is declared
    * as a decimal cast of the double product, so the per-row value is
    * the exact 4-dp rational both engines recover identically and the
    * decimal re-aggregation is value-exact (q172's discipline).
    */
  def summaryLocalVolume(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "li_q5_star")(
      registerLocalVolumeStarSummary(spark, sfDir))(
      localVolumeStarQuery(spark, sfDir))

  private[graft] def localVolumeStarQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val supp = Tables.load(spark, sfDir, "supplier")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
    // dims outward-in — the registration went fact outward
    reg.join(nat, nat("n_regionkey") === reg("r_regionkey"))
      .join(supp, supp("s_nationkey") === nat("n_nationkey"))
      .join(li, li("l_suppkey") === supp("s_suppkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr("cast(sum(cast(l_extendedprice * (1 - l_discount)" +
          " as decimal(18,4))) as double)"), 4).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  private[graft] def registerLocalVolumeStarSummary(spark: SparkSession,
      sfDir: String): Unit = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val supp = Tables.load(spark, sfDir, "supplier")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
    graft.plans.Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(nat, supp("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey")),
      "li_q5_star",
      // the date lands IN the grain (the histogram-grain pattern), so
      // any order-date range re-applies on the summary; r_name covers
      // the region filter; n_name is the dashboard's grouping
      grain = Seq("n_name", "r_name", "o_orderdate"),
      sums = Seq("rev" ->
        "cast(l_extendedprice * (1 - l_discount) as decimal(18,4))"))
  }

  /** q184: exact VARIANCE/STDDEV routed through the summary's sumsq
    * leg. Spark's own stddev/var is double Welford — partition-order
    * dependent low bits, so no summary arithmetic can reproduce it
    * and the router fails closed (spec-asserted). The engine's
    * `var_samp_exact` family keeps (n, Σx, Σx²) in unbounded
    * decimals with ONE final double quotient, so (a) the routed
    * re-aggregation over stored Σx/Σx²/non-null-n legs is
    * bit-identical, and (b) DuckDB replays the whole thing in scaled
    * integers (qty has 2dp → ×100 → HUGEINT sums are exact; the
    * oracle divides the same two doubles). Margins to the 4-dp
    * rounding grid measured ≥ 8.3e-3 across all outputs at all three
    * SFs — ten orders above the cross-engine int128→double
    * conversion noise (~1 ulp relative, ~1e-13 here).
    */
  def summaryVariance(spark: SparkSession, sfDir: String): DataFrame =
    withPricingSummary(spark, sfDir) {
      import graft.functions.ExactMomentsFunctions._
      val q = col("l_quantity").cast("decimal(18,2)")
      Tables.load(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          round(var_samp_exact(q), 4).as("var_qty"),
          round(var_pop_exact(q), 4).as("varp_qty"),
          round(stddev_samp_exact(q), 4).as("sd_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }

  /** q185: the DELTA-COMPENSATED MV read — the read-side half of the
    * freshness contract. A pricing summary is built over a COPY of
    * lineitem holding 80% of its rows; the remaining 20% are then
    * APPENDED as new parquet files, leaving the summary stale. Instead
    * of suspending (the pre-round-11 fail-closed behavior, still the
    * response to any in-place mutation), [[graft.plans.SummaryRewrite]]
    * routes the aggregate onto `merge(summary, partial-agg(new files
    * only))` — refresh's mergeable-measure algebra as a READ — so the
    * query reads the summary plus ONLY the appended files and answers
    * the POST-append truth (scan-path-asserted in SummaryRewriteSpec).
    * Because base ∪ delta is exactly the full table, the DuckDB oracle
    * is the same aggregate over raw `lineitem`. At 100 TB this is what
    * keeps a dashboard routed between the nightly load and the next
    * refresh: megabytes of summary plus the morning's delta, not a
    * re-scan of the fact table.
    */
  def summaryDeltaPricing(spark: SparkSession, sfDir: String): DataFrame = {
    val name = deltaDemoName(sfDir)
    val pre = graft.plans.Summaries.isRegistered(name)
    if (!pre) registerDeltaDemo(spark, sfDir)
    try {
      val out = deltaPricingQuery(spark, sfDir)
      val rows = out.collect().toSeq // report-sized
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally if (!pre) dropDeltaDemo(spark, sfDir)
  }

  private[graft] def deltaDemoName(sfDir: String): String =
    "lineitem_delta_" + new java.io.File(sfDir).getName + perProcess

  private[graft] def deltaDemoDir(sfDir: String): String =
    new java.io.File("spark-warehouse/graft_delta_demo/" +
      deltaDemoName(sfDir)).getAbsolutePath

  /** Build the demo fixture: write the 80% base, register the summary
    * over it, append the 20% tail as new files, and poke the freshness
    * memo (the external writer's metadata-refresh hook) so the next
    * lookup sees the appended files immediately instead of after the
    * TTL window.
    */
  private[graft] def registerDeltaDemo(spark: SparkSession,
      sfDir: String): Unit = {
    val name = deltaDemoName(sfDir)
    val dir = deltaDemoDir(sfDir)
    graft.plans.Summaries.drop(name)
    val li = Tables.load(spark, sfDir, "lineitem").select(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_orderkey")
    li.filter(col("l_orderkey") % 10 < 8)
      .write.mode("overwrite").parquet(dir)
    graft.plans.Summaries.create(spark.read.parquet(dir), name,
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_base" -> "cast(l_extendedprice as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"))
    li.filter(col("l_orderkey") % 10 >= 8)
      .write.mode("append").parquet(dir)
    graft.plans.Summaries.invalidate(name)
  }

  private def dropDeltaDemo(spark: SparkSession, sfDir: String): Unit = {
    graft.plans.Summaries.drop(deltaDemoName(sfDir))
    val p = new org.apache.hadoop.fs.Path(deltaDemoDir(sfDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  /** q187: the TWO-LEAF delta-compensated JOINED read — the nightly
    * load touches the fact AND a dim in the same window, and the
    * joined summary still serves. A summary over a copied
    * lineitem⋈orders star is built from 80% of the fact and 90% of
    * the dim; the remaining rows of BOTH leaves then land as appended
    * parquet files. Pre-round-11 the router failed closed here (two
    * appended leaves ⇒ raw scans until refresh); now
    * [[graft.plans.SummaryRewrite]]'s telescoped inclusion–exclusion
    * fold (Δli⋈ord₀ + (li₀+Δli)⋈Δord — each pair of raw rows exactly
    * once, every read pinned to the blessed file listing) rebuilds
    * the exact delta and the aggregate routes onto
    * `merge(summary, partial-agg(delta))`. Because base ∪ delta is
    * exactly the full tables, the DuckDB oracle is the plain
    * aggregate over raw lineitem ⋈ orders. At 100 TB the win over
    * the raw join survives: the Δdim cross terms broadcast (Δ is the
    * morning's files, not the corpus), so the fact leaf is scanned
    * once with a broadcast-hash probe instead of shuffling the full
    * join — and the summary covers everything older.
    */
  def summaryDeltaJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val name = deltaJoinDemoName(sfDir)
    val pre = graft.plans.Summaries.isRegistered(name)
    if (!pre) registerDeltaJoinDemo(spark, sfDir)
    try {
      val out = deltaJoinQuery(spark, sfDir)
      val rows = out.collect().toSeq // report-sized
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally if (!pre) dropDeltaJoinDemo(spark, sfDir)
  }

  private[graft] def deltaJoinDemoName(sfDir: String): String =
    "li_ord_delta_" + new java.io.File(sfDir).getName + perProcess

  private[graft] def deltaJoinDemoDir(sfDir: String): String =
    new java.io.File("spark-warehouse/graft_delta_demo/" +
      deltaJoinDemoName(sfDir)).getAbsolutePath

  /** Build the two-leaf fixture: 80% of the fact and 90% of the dim
    * as the base, register the joined summary, append the tails of
    * BOTH leaves, and poke the freshness memo (the external writer's
    * metadata-refresh hook).
    */
  private[graft] def registerDeltaJoinDemo(spark: SparkSession,
      sfDir: String): Unit = {
    val name = deltaJoinDemoName(sfDir)
    val liDir = new java.io.File(deltaJoinDemoDir(sfDir), "li")
      .getAbsolutePath
    val ordDir = new java.io.File(deltaJoinDemoDir(sfDir), "ord")
      .getAbsolutePath
    graft.plans.Summaries.drop(name)
    val li = Tables.load(spark, sfDir, "lineitem").select(
      "l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(spark, sfDir, "orders").select(
      "o_orderkey", "o_orderpriority")
    li.filter(col("l_orderkey") % 10 < 8)
      .write.mode("overwrite").parquet(liDir)
    ord.filter(col("o_orderkey") % 10 =!= 3)
      .write.mode("overwrite").parquet(ordDir)
    graft.plans.Summaries.createJoined(
      spark.read.parquet(liDir).join(spark.read.parquet(ordDir),
        col("l_orderkey") === col("o_orderkey")),
      name,
      grain = Seq("o_orderpriority", "l_returnflag"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"))
    li.filter(col("l_orderkey") % 10 >= 8)
      .write.mode("append").parquet(liDir)
    ord.filter(col("o_orderkey") % 10 === 3)
      .write.mode("append").parquet(ordDir)
    graft.plans.Summaries.invalidate(name)
  }

  private def dropDeltaJoinDemo(spark: SparkSession,
      sfDir: String): Unit = {
    graft.plans.Summaries.drop(deltaJoinDemoName(sfDir))
    val p = new org.apache.hadoop.fs.Path(deltaJoinDemoDir(sfDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  /** q188: the FILTERED (partial-by-predicate) materialized view —
    * the summary is declared `WHERE l_quantity > 30` (a grain-column
    * predicate, the warehouse filtered-MV form: most dashboards
    * aggregate a slice, not the table), built over only that slice,
    * and serves exactly the queries whose own filters IMPLY the
    * declaration. The benched query filters `l_quantity > 35` — a
    * STRICTLY STRONGER range, so routing goes through the
    * subsumption gate's containment reasoning, not mere equality;
    * the query's filter then re-applies verbatim on the summary's
    * grain rows (scan-path- and fail-closed-asserted in
    * SummaryRewriteSpec). The oracle recomputes the aggregate over
    * the raw filtered table. At 100 TB this is the last-90-days
    * dashboard lever: the summary holds the slice's grain rows only
    * — a fraction of even the unfiltered summary — and the fact scan
    * disappears for every subsumed query.
    */
  def summaryFiltered(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "lineitem_hiqty")(
      registerFilteredSummary(spark, sfDir))(
      summaryFilteredQuery(spark, sfDir))

  private[graft] def registerFilteredSummary(spark: SparkSession,
      sfDir: String): Unit =
    graft.plans.Summaries.create(
      Tables.load(spark, sfDir, "lineitem"), "lineitem_hiqty",
      grain = Seq("l_returnflag", "l_linestatus", "l_quantity"),
      sums = Seq("sum_base" -> "cast(l_extendedprice as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"),
      where = Some("l_quantity > 30"))

  private[graft] def summaryFilteredQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 35)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_base"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q189: the mergeable QUANTILE-SKETCH MV measure — approximate
    * percentiles routed through a summary whose grain does NOT carry
    * the value column. Where q179/q180 route percentiles through
    * histogram grains (exact, but the grain explodes when the value
    * domain is near-unique — money columns), the summary here stores
    * a bottom-k (priority, value) pair sketch per grain row
    * ([[graft.functions.QskSketchAgg]]): priority = the
    * engine-portable Knuth hash of the unique line key, value = the
    * price in cents (exact scaled integers). Pair-set union +
    * re-truncation is LOSSLESS, so the routed nearest-rank estimate
    * (quantile_sketch_est rewritten to quantile_sketch_union over the
    * stored states) is bit-identical to sketching the raw rows — and
    * the DuckDB oracle replays the ENTIRE sketch in plain SQL
    * (`DISTINCT pri,v ORDER BY pri,v LIMIT k`, then nearest-rank
    * row_number selection), the q132/q174 portable-hash discipline.
    * At 100 TB: the percentile dashboard reads O(k·grain-rows) longs
    * instead of scanning the fact table — the t-digest/KLL warehouse
    * pattern, in an exactly-replayable form.
    */
  def summaryQuantileSketch(spark: SparkSession,
      sfDir: String): DataFrame =
    withSummary(spark, "lineitem_qsk")(
      registerQskSummary(spark, sfDir))(
      qskQuery(spark, sfDir))

  private[graft] val QskPriSql =
    "pmod(l_orderkey * 10 + l_linenumber, 1000000007) * " +
      "2654435761 % 1000000007"
  private[graft] val QskValSql =
    "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"

  private[graft] def registerQskSummary(spark: SparkSession,
      sfDir: String): Unit =
    graft.plans.Summaries.create(
      Tables.load(spark, sfDir, "lineitem"), "lineitem_qsk",
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      qsks = Seq("qsk_price" -> (QskPriSql, QskValSql)), qskK = 256)

  private[graft] def qskQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.functions.QskFunctions._
    Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        quantile_sketch_est(expr(QskPriSql), expr(QskValSql), 256, 0.5)
          .as("p50_cents"),
        quantile_sketch_est(expr(QskPriSql), expr(QskValSql), 256, 0.9)
          .as("p90_cents"),
        quantile_sketch_est(expr(QskPriSql), expr(QskValSql), 256, 0.99)
          .as("p99_cents"))
      .orderBy("l_returnflag")
  }

  /** q190: MULTIPLE summaries per source with best-match routing —
    * the warehouse contract that a table carries many MVs and the
    * planner picks. The lineitem source here holds BOTH the full
    * pricing summary (q172's, grain flag×status×shipdate) and the
    * filtered high-quantity slice (q188's, WHERE l_quantity > 30);
    * the query filters `l_quantity > 35`, which only the SLICE can
    * serve (the pricing grain lacks l_quantity), and the rewrite
    * selects it — preference order: a subsumed filtered slice first
    * (the smallest qualifying build), then coarser grains
    * (spec-asserted in SummaryRewriteSpec's best-match test; the
    * explainer names the chosen summary). The oracle recomputes from
    * the raw slice. At 100 TB this is MV portfolio management: the
    * dashboard's slice summary and the full-history one coexist, and
    * every query reads the cheapest qualifying substrate.
    */
  def summaryBestMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val pre1 = graft.plans.Summaries.isRegistered("lineitem_pricing")
    val pre2 = graft.plans.Summaries.isRegistered("lineitem_hiqty")
    if (!pre1) registerPricingSummary(spark, sfDir)
    if (!pre2) registerFilteredSummary(spark, sfDir)
    try {
      val out = bestMatchQuery(spark, sfDir)
      val rows = out.collect().toSeq // report-sized
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally {
      if (!pre2) graft.plans.Summaries.drop("lineitem_hiqty")
      if (!pre1) graft.plans.Summaries.drop("lineitem_pricing")
    }
  }

  private[graft] def bestMatchQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 35)
      .groupBy("l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_base"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
      .orderBy("l_linestatus")

  /** q192: read-after-REBLESS — the compaction-survival story. A copy
    * of lineitem is written as many small files, summarized, then
    * COMPACTED IN PLACE ([[Layout.compact]] + swap — the nightly
    * OPTIMIZE every table format runs). The freshness gate cannot
    * tell a content-preserving rewrite from real drift, so routing
    * suspends; [[graft.plans.Summaries.rebless]] re-aggregates the
    * compacted source at the summary's grain, verifies set-equality
    * against the stored summary, and re-records the fingerprint
    * WITHOUT rebuilding — the query here then routes onto the
    * untouched generation (SummaryRewriteSpec asserts the plan; the
    * query path reports a degraded route on stderr). The copy
    * is the full table, so the oracle is the plain aggregate over raw
    * lineitem. At 100 TB this is the difference between "OPTIMIZE ran
    * last night" costing zero MV work and costing a full rebuild of
    * every summary on the table.
    */
  def summaryRebless(spark: SparkSession, sfDir: String): DataFrame = {
    val name = reblessDemoName(sfDir)
    val pre = graft.plans.Summaries.has(name)
    if (!pre) registerReblessDemo(spark, sfDir)
    try {
      val q = reblessQuery(spark, sfDir)
      val rows = q.collect().toSeq // report-sized
      // the whole point: the post-rebless read is summary-only
      val scans = executedScanPaths(q)
      if (!summaryOnly(scans)) System.err.println(
        s"[q192] degraded route: expected summary scans only, got $scans")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), q.schema)
    } finally if (!pre) dropReblessDemo(spark, sfDir)
  }

  private[graft] def reblessDemoName(sfDir: String): String =
    "li_rebless_" + new java.io.File(sfDir).getName + perProcess

  private[graft] def reblessDemoDir(sfDir: String): String =
    new java.io.File("spark-warehouse/graft_rebless_demo/" +
      reblessDemoName(sfDir)).getAbsolutePath

  /** Build the rebless fixture: a small-files copy of lineitem,
    * summarized, COMPACTED IN PLACE (the nightly OPTIMIZE), then
    * verified + re-blessed — leaving a FRESH summary over the
    * compacted files without any rebuild.
    */
  private[graft] def registerReblessDemo(spark: SparkSession,
      sfDir: String): Unit = {
    val name = reblessDemoName(sfDir)
    val dir = reblessDemoDir(sfDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.plans.Summaries.drop(name)
    fs.delete(p, true)
    Tables.load(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice")
      .repartition(8).write.parquet(dir)
    graft.plans.Summaries.create(spark.read.parquet(dir), name,
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty" -> "cast(l_quantity as decimal(18,2))"),
      mins = Seq("min_price" -> "l_extendedprice"),
      maxs = Seq("max_price" -> "l_extendedprice"))
    // in-place small-files compaction, then swap into place
    val out = dir + "__opt"
    Layout.compact(spark, dir, out)
    fs.delete(p, true)
    fs.rename(new org.apache.hadoop.fs.Path(out), p)
    graft.plans.Summaries.invalidate(name)
    require(graft.plans.Summaries.rebless(name),
      "rebless must verify a content-preserving compaction")
  }

  private[graft] def dropReblessDemo(spark: SparkSession,
      sfDir: String): Unit = {
    graft.plans.Summaries.drop(reblessDemoName(sfDir))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(reblessDemoDir(sfDir)), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      reblessDemoDir(sfDir) + "__opt"), true)
  }

  /** q193: the SQL-DDL-managed MV — `CREATE MATERIALIZED VIEW` builds
    * the summary (no Scala API anywhere in the lifecycle), the read
    * routes onto it (plan-asserted in SummaryRewriteSpec; the query
    * path reports a degraded route on stderr), `DROP MATERIALIZED
    * VIEW` revokes in the teardown. The grain (l_linenumber,
    * l_linestatus) is disjoint from every other lineitem summary's,
    * so the best-match router can only be serving this query from
    * the DDL-created build. Routing preserves values exactly, so the oracle is the
    * same aggregate over raw lineitem.
    */
  def summarySqlDdl(spark: SparkSession, sfDir: String): DataFrame = {
    val name = sqlDdlDemoName(sfDir)
    val pre = graft.plans.Summaries.has(name)
    if (!pre) registerSqlDdlDemo(spark, sfDir)
    try {
      val q = sqlDdlQuery(spark, sfDir)
      val rows = q.collect().toSeq // grain-sized report
      // the DDL-created summary must serve this read
      val scans = executedScanPaths(q)
      if (!summaryOnly(scans)) System.err.println(
        s"[q193] degraded route: expected summary scans only, got $scans")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), q.schema)
    } finally if (!pre) dropSqlDdlDemo(spark, sfDir)
  }

  /** q193's read: plain SQL over the raw lineitem path, which the
    * DDL-created summary serves.
    */
  private[graft] def sqlDdlQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT l_linenumber, l_linestatus,
         |  count(*) AS n_rows,
         |  round(cast(sum(cast(l_quantity AS decimal(18,2)))
         |    AS double), 4) AS sum_qty,
         |  round(min(l_extendedprice), 4) AS min_price
         |FROM parquet.`$sfDir/lineitem.parquet`
         |GROUP BY l_linenumber, l_linestatus
         |ORDER BY l_linenumber, l_linestatus""".stripMargin)

  private[graft] def sqlDdlDemoName(sfDir: String): String =
    "li_ddl_" + new java.io.File(sfDir).getName.replace('.', '_') +
      perProcess

  private[graft] def registerSqlDdlDemo(spark: SparkSession,
      sfDir: String): Unit =
    spark.sql(
      s"""CREATE MATERIALIZED VIEW ${sqlDdlDemoName(sfDir)} AS
         |SELECT l_linenumber, l_linestatus,
         |  count(*) AS n_rows,
         |  sum(cast(l_quantity AS decimal(18,2))) AS sum_qty,
         |  min(l_extendedprice) AS min_price
         |FROM parquet.`$sfDir/lineitem.parquet`
         |GROUP BY l_linenumber, l_linestatus""".stripMargin).collect()

  private[graft] def dropSqlDdlDemo(spark: SparkSession,
      sfDir: String): Unit =
    spark.sql("DROP MATERIALIZED VIEW IF EXISTS " +
      sqlDdlDemoName(sfDir)).collect()

  /** q191: the DELETE-compensated MV read — the retention story. A
    * copy of lineitem is written with one slice (l_orderkey % 10 = 7)
    * isolated in its own file; the summary (with its per-(grain,
    * file) cube sidecar, built in the same source scan) registers
    * over the full copy; then the slice's file is DELETED — the daily
    * retention job. Pre-round-12 any removal suspended routing; now
    * [[graft.plans.SummaryRewrite]] routes invertible aggregates onto
    * `merge(summary, negate(cube rows of the deleted file))`, reading
    * the summary plus the CUBE only — the deleted data is gone, which
    * is exactly why the cube recorded its partials while it existed
    * (no source re-scan at all; SummaryRewriteSpec asserts the plan
    * shape). The query dumps first and diagnoses second: a read that
    * routed anywhere else still returns its rows, with the degraded
    * route reported on stderr.
    * The oracle replays the post-delete truth as the raw aggregate
    * WHERE l_orderkey % 10 <> 7. At 100 TB: retention lands daily,
    * and the dashboard keeps reading megabytes instead of dropping to
    * a fact-table scan until the weekly rebuild.
    */
  def summaryDeleteComp(spark: SparkSession, sfDir: String): DataFrame = {
    val name = deleteDemoName(sfDir)
    val pre = graft.plans.Summaries.isRegistered(name)
    if (!pre) registerDeleteDemo(spark, sfDir)
    try {
      val q = deleteCompQuery(spark, sfDir)
      val rows = q.collect().toSeq // report-sized
      val scans = executedScanPaths(q)
      if (!deleteCompRouted(scans)) System.err.println(
        s"[q191] degraded route: expected summary + cube scans only, " +
          s"got $scans")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), q.schema)
    } finally if (!pre) dropDeleteDemo(spark, sfDir)
  }

  /** Whether a read's scans are all under the summary store — the
    * route the lifecycle queries q191–q193 exist to exercise.
    */
  private[graft] def summaryOnly(scans: Seq[String]): Boolean =
    scans.nonEmpty && scans.forall(_.contains("graft_summaries"))

  /** Whether a delete-compensated read's scans are the summary and
    * its cube sidecar only — q191's route.
    */
  private[graft] def deleteCompRouted(scans: Seq[String]): Boolean =
    summaryOnly(scans) && scans.exists(_.contains("_files"))

  /** File-scan root paths of an already-executed frame, descending
    * through AQE's runtime structure — the self-check the lifecycle
    * queries run on their own plans.
    */
  private def executedScanPaths(
      q: org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(n: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      n +: (n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => n.children.flatMap(walk)
      })
    }
    walk(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
  }

  /** Suffix of every `*DemoName`: a demo fixture's summary spec and
    * copied table are CWD-relative, so two JVMs in one directory (a
    * bench beside a Verify) must never rebuild or drop each other's
    * copy.
    */
  private[graft] val perProcess: String =
    "_p" + ProcessHandle.current().pid()

  private[graft] def deleteDemoName(sfDir: String): String =
    "li_delcomp_" + new java.io.File(sfDir).getName + perProcess

  private[graft] def deleteDemoDir(sfDir: String): String =
    new java.io.File("spark-warehouse/graft_delete_demo/" +
      deleteDemoName(sfDir)).getAbsolutePath

  /** Build the retention fixture: base rows + the doomed slice in its
    * own file, summary (and cube) over the full copy, then delete the
    * slice's file and poke the freshness memo.
    */
  private[graft] def registerDeleteDemo(spark: SparkSession,
      sfDir: String): Unit = {
    val name = deleteDemoName(sfDir)
    val dir = deleteDemoDir(sfDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.plans.Summaries.drop(name)
    fs.delete(p, true)
    val li = Tables.load(spark, sfDir, "lineitem").select(
      "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_orderkey")
    li.filter(col("l_orderkey") % 10 =!= 7).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    val before = files()
    li.filter(col("l_orderkey") % 10 === 7)
      .coalesce(1).write.mode("append").parquet(dir)
    val doomed = files() -- before
    graft.plans.Summaries.create(spark.read.parquet(dir), name,
      grain = Seq("l_returnflag", "l_linestatus"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_base" -> "cast(l_extendedprice as decimal(18,2))"))
    doomed.foreach(f =>
      require(new java.io.File(dir, f).delete(), s"cannot delete $f"))
    graft.plans.Summaries.invalidate(name)
  }

  private[graft] def dropDeleteDemo(spark: SparkSession,
      sfDir: String): Unit = {
    graft.plans.Summaries.drop(deleteDemoName(sfDir))
    val p = new org.apache.hadoop.fs.Path(deleteDemoDir(sfDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  private[graft] def deleteCompQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    spark.read.parquet(deleteDemoDir(sfDir))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr(
          "cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
          4).as("sum_qty"),
        round(expr(
          "cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_base"),
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  private[graft] def reblessQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    spark.read.parquet(reblessDemoDir(sfDir))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr(
          "cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
          4).as("sum_qty"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")

  private[graft] def deltaJoinQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val liDir = new java.io.File(deltaJoinDemoDir(sfDir), "li")
      .getAbsolutePath
    val ordDir = new java.io.File(deltaJoinDemoDir(sfDir), "ord")
      .getAbsolutePath
    spark.read.parquet(liDir)
      .join(spark.read.parquet(ordDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
          4).as("sum_qty"),
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("avg_qty"))
      .orderBy("o_orderpriority", "l_returnflag")
  }

  private[graft] def deltaPricingQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    spark.read.parquet(deltaDemoDir(sfDir))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
          4).as("sum_qty"),
        round(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_base"),
        // the TRUE avg() — its exact legs re-aggregate through the
        // compensated substrate like any other sum/count measure
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("avg_qty"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q182: STAR-schema MV routing — a THREE-table inner equi-join
    * (customer ⋈ orders ⋈ lineitem) answered from one joined summary,
    * the general star form of q177's fact⋈dim lever (the shape TPC-H
    * Q5-style dashboards hit). The query deliberately spells the join
    * in a DIFFERENT order and associativity than the registration —
    * the registry key is the canonical sorted path + edge set, so any
    * equivalent join tree routes — filters on a grain column, and
    * mixes count / exact decimal sums / a true AVG (composing the AVG
    * legs with the star substrate). The routed plan performs NO joins
    * and reads none of the three raw tables (scan-path-asserted in
    * SummaryRewriteSpec); the oracle recomputes everything from the
    * raw three-way join in DuckDB. At 100 TB this deletes the fact
    * scan and BOTH join shuffles of every qualifying star aggregate —
    * the strongest routing lever in the library.
    */
  def summaryStarSegment(spark: SparkSession, sfDir: String): DataFrame =
    withSummary(spark, "li_ord_cust_star")(
      registerStarSummary(spark, sfDir))(
      summaryStarQuery(spark, sfDir))

  /** The lazy star aggregate q182 routes — separate so PlanSpec /
    * Plans can inspect the optimized plan (one summary scan, no joins,
    * none of the three raw tables) while the registration is live.
    */
  private[graft] def summaryStarQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val ord = Tables.load(spark, sfDir, "orders")
    val li = Tables.load(spark, sfDir, "lineitem")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .filter(col("c_mktsegment") =!= lit("MACHINERY"))
      .groupBy("c_mktsegment", "l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        round(expr(
          "cast(sum(cast(l_quantity as decimal(18,2))) as double)"), 4)
          .as("sum_qty"),
        avg(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("avg_qty"),
        round(expr(
          "cast(sum(cast(l_extendedprice as decimal(18,2))) as double)"),
          4).as("sum_price"))
      .orderBy("c_mktsegment", "l_returnflag")
  }

  private[graft] def registerStarSummary(spark: SparkSession,
      sfDir: String): Unit = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    graft.plans.Summaries.createJoined(
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey")),
      "li_ord_cust_star",
      grain = Seq("c_mktsegment", "l_returnflag"),
      sums = Seq(
        "sum_qty" -> "cast(l_quantity as decimal(18,2))",
        "sum_price" -> "cast(l_extendedprice as decimal(18,2))"))
  }

  /** Bench pre-registration hooks for the MV family: query name →
    * setup (runs the one-off summary build) returning its teardown.
    * The bench invokes the setup OUTSIDE the timer around every
    * sample, and [[withSummary]] skips its inline create/drop when
    * the summary is already registered — so BENCH numbers for these
    * queries measure the ROUTED READ, the lever the queries exist to
    * demonstrate, never the build scan (~90% of the old conflated
    * reading). Verify takes no setup and keeps the self-contained
    * create→query→drop lifecycle, so the oracles are unchanged.
    */
  def mvBenchSetups: Map[String, (SparkSession, String) => () => Unit] = {
    def hook(name: String, reg: (SparkSession, String) => Unit)
        : (SparkSession, String) => () => Unit =
      (s, d) => {
        // a setup that fails after PARTIALLY registering (e.g. a
        // register-then-refresh pair dying in the refresh) must not
        // leak its half-built summary into the rest of the bench run
        try reg(s, d)
        catch { case t: Throwable =>
          try graft.plans.Summaries.drop(name)
          catch { case _: Throwable => () }
          throw t
        }
        () => graft.plans.Summaries.drop(name)
      }
    val pricing = hook("lineitem_pricing", registerPricingSummary)
    Map(
      "q172_summary_pricing" -> pricing,
      "q173_summary_monthly" -> pricing,
      "q174_summary_kmv" -> pricing,
      "q181_summary_rollup" -> pricing,
      "q184_summary_variance" -> pricing,
      "q188_summary_filtered" ->
        hook("lineitem_hiqty", registerFilteredSummary),
      "q189_summary_quantile_sketch" ->
        hook("lineitem_qsk", registerQskSummary),
      // the DDL build is untimed setup; the timed number is the
      // routed read, like every summary query
      "q193_summary_sql_ddl" -> ((s: SparkSession, d: String) => {
        try registerSqlDdlDemo(s, d)
        catch { case t: Throwable =>
          try dropSqlDdlDemo(s, d) catch { case _: Throwable => () }
          throw t
        }
        () => dropSqlDdlDemo(s, d)
      }),
      // the retention fixture (copy + isolate + delete) is WRITE-TIME;
      // the timed number is the delete-compensated routed read alone
      "q191_summary_delete_comp" -> ((s: SparkSession, d: String) => {
        try registerDeleteDemo(s, d)
        catch { case t: Throwable =>
          try dropDeleteDemo(s, d) catch { case _: Throwable => () }
          throw t
        }
        () => dropDeleteDemo(s, d)
      }),
      // the fixture build (small-files copy + compact + rebless) is
      // WRITE-TIME maintenance; the timed number is the post-rebless
      // routed read alone
      "q192_summary_rebless" -> ((s: SparkSession, d: String) => {
        try registerReblessDemo(s, d)
        catch { case t: Throwable =>
          try dropReblessDemo(s, d) catch { case _: Throwable => () }
          throw t
        }
        () => dropReblessDemo(s, d)
      }),
      // TWO summaries pre-registered on one source: the timed read is
      // the best-match routed read (the filtered slice)
      "q190_summary_best_match" -> ((s: SparkSession, d: String) => {
        try {
          registerPricingSummary(s, d)
          registerFilteredSummary(s, d)
        } catch { case t: Throwable =>
          try graft.plans.Summaries.drop("lineitem_pricing")
          catch { case _: Throwable => () }
          try graft.plans.Summaries.drop("lineitem_hiqty")
          catch { case _: Throwable => () }
          throw t
        }
        () => {
          graft.plans.Summaries.drop("lineitem_hiqty")
          graft.plans.Summaries.drop("lineitem_pricing")
        }
      }),
      "q183_summary_star6" ->
        hook("li_q5_star", registerLocalVolumeStarSummary),
      "q177_summary_join" ->
        hook("li_orders_priority", registerJoinPrioritySummary),
      "q178_summary_join_refresh" ->
        hook("li_orders_incr", registerJoinRefreshSummary),
      "q179_summary_percentiles" ->
        hook("li_qty_hist", registerQtyHistSummary),
      "q180_summary_join_percentiles" ->
        hook("li_orders_hist", registerJoinHistSummary),
      "q182_summary_star" ->
        hook("li_ord_cust_star", registerStarSummary),
      // bucketed CTAS runs once per JVM (catalog-idempotent), outside
      // the timer; the tables persist across samples (no-op teardown)
      // so the measured number is the co-located join alone
      "q186_bucketed_join" -> ((s: SparkSession, d: String) => {
        Layout.ensureBucketedTables(s, d)
        () => ()
      }),
      // the range-clustered copy is a WRITE-TIME cost
      // (fingerprint-validated, rebuilt only when the source
      // changes); the timed number is the row-group-skipping scan
      "q194_sorted_scan" -> ((s: SparkSession, d: String) => {
        Layout.ensureSortedLineitem(s, d)
        () => ()
      }),
      "q195_zorder_scan" -> ((s: SparkSession, d: String) => {
        Layout.ensureZorderedLineitem(s, d)
        () => ()
      }),
      // the IVF index is a WRITE-TIME cost (fingerprint-validated,
      // rebuilt only when the corpus changes); the timed number is
      // the partition-pruned probe alone
      "q28_ivf_topk" -> ((s: SparkSession, d: String) => {
        Similarity.ensureIvfIndex(s, d)
        () => ()
      }),
      // the delta demo's summary name is SF-suffixed (its source is a
      // per-SF copy), so the hook resolves the name per call
      "q185_summary_delta" -> ((s: SparkSession, d: String) => {
        val name = deltaDemoName(d)
        try registerDeltaDemo(s, d)
        catch { case t: Throwable =>
          try graft.plans.Summaries.drop(name)
          catch { case _: Throwable => () }
          throw t
        }
        () => graft.plans.Summaries.drop(name)
      }),
      "q187_summary_delta_join" -> ((s: SparkSession, d: String) => {
        val name = deltaJoinDemoName(d)
        try registerDeltaJoinDemo(s, d)
        catch { case t: Throwable =>
          try graft.plans.Summaries.drop(name)
          catch { case _: Throwable => () }
          throw t
        }
        () => graft.plans.Summaries.drop(name)
      }))
  }
}
