package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The relational operator suite (SURVEY.md §2.12, Q1–Q16) plus the flagship
  * star-rollup (Q17) that exercises the reference's whole ETL shape
  * (`/root/reference/src/loadAnalyticsDB.PractII.VarmaA.R:311-428` semantics,
  * re-expressed as one declarative Spark plan).
  *
  * Determinism discipline (shared with the DuckDB oracle):
  *   - every result carries a total ORDER BY over a unique key prefix;
  *   - measure sums go through DECIMAL(18,4) so summation order can't move
  *     the value, then ROUND(..,2) and cast to DOUBLE so output types match
  *     the oracle exactly;
  *   - derived ints are cast to the same width on both sides.
  */
object Relational {

  /** Exact decimal sum — order-insensitive across partitions. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4)))

  /** Round an exact decimal aggregate to 2 dp and emit as DOUBLE. */
  private def money(c: Column): Column = round(c, 2).cast("double")

  /** Shared p_name classification cascade (q10 + q17 + the TpchStar
    * analytics fixture must stay in lockstep with each other and all their
    * DuckDB oracles). */
  private[graft] def pnameBucket(c: Column): Column =
    when(c.like("a%") || c.like("b%"), "AB")
      .when(c.like("c%"), "C")
      .otherwise("OTHER")

  // ---------------------------------------------------------------- Q1 [S1,P1,P2]
  /** Scan + projection + predicate; filter and 3-column projection reach the
    * parquet reader (PushedFilters / ReadSchema). */
  def q01ScanFilter(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")

  // ---------------------------------------------------------------- Q2 [A1,A7,A8,O1]
  /** Grouped rollup — the reference's core A1 aggregate shape (partial+final
    * hash aggregate; one shuffle on the group keys). */
  def q02AggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(dsum(col("l_quantity"))).as("sum_qty"),
        money(dsum(col("l_extendedprice"))).as("sum_base"),
        money(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc"),
        count(lit(1)).as("cnt"),
        round(dsum(col("l_extendedprice")).cast("double") / count(lit(1)), 2)
          .as("ratio_of_sums"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------- Q3 [J1,J5,J6]
  /** 3-way equi-join chain (mirrors subscribers→postal2city→cities,
    * loadAnalyticsDB R:252-260). nation/region are tiny → Catalyst picks
    * broadcast hash joins; the only shuffle is the final group-by. */
  def q03JoinChain(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("customers"),
        money(dsum(col("c_acctbal"))).as("total_bal"))
      .orderBy("r_name", "n_name")
  }

  // ---------------------------------------------------------------- Q4 [A2,A5]
  /** Exact grouped COUNT DISTINCT (the declared `unique_user_count`
    * semantic, SURVEY §5.2). */
  def q04CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("orders"),
        countDistinct(col("o_custkey")).as("uniq_custs"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------- Q5 [A6,O2]
  /** Group + order + limit top-k → Spark plans TakeOrderedAndProject, so the
    * full sorted result never materializes. */
  def q05TopK(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_name"))
      .agg(money(dsum(col("o_totalprice"))).as("revenue"))
      .orderBy(desc("revenue"), asc("c_name"))
      .limit(10)
  }

  // ---------------------------------------------------------------- Q6 [W1]
  /** Argmax-per-group via row_number — the "peak day per sport" idiom
    * (BusinessAnalysis Rmd:440-447); tie-break pinned to the key order the
    * reference's `which.max` (first index) implies. */
  def q06ArgmaxWindow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val grouped = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(desc("cnt"), asc("o_orderpriority"))
    grouped
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- Q7 [R1,A9]
  /** Pivot long→wide (dcast sport~year analog, Rmd:126-136). Pivot values
    * are pinned so Spark skips the extra distinct-values job; empty cells
    * are 0 like the oracle's SUM(CASE..). */
  def q07PivotYears(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .groupBy(col("o_orderpriority"))
      .pivot("yr", Seq(1999, 2000, 2001))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("1999"), lit(0L)).as("y1999"),
        coalesce(col("2000"), lit(0L)).as("y2000"),
        coalesce(col("2001"), lit(0L)).as("y2001"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------- Q8 [F2]
  /** Date-part derivation = the dim_date row build (loadAnalyticsDB
    * R:209-218): yyyyMMdd int date_id, ISO week, Sunday=1 day-of-week. */
  def q08DateParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_id"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mon"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"))
      .orderBy("o_orderkey")
      .limit(100)

  // ---------------------------------------------------------------- Q9 [F3]
  /** Dense date spine between min/max — `seq(by="day")` analog
    * (loadAnalyticsDB R:204). sequence+explode keeps it in-plan (no driver
    * loop), so the spine builds wherever the bounds row lives. */
  def q09DateSpine(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .agg(
        min(to_date(col("o_orderdate"))).as("d1"),
        max(to_date(col("o_orderdate"))).as("d2"))
      .select(explode(expr("sequence(d1, d2, interval 1 day)")).as("d"))
      .orderBy("d")

  // ---------------------------------------------------------------- Q10 [F4,J3]
  /** Prefix-classification cascade (sport inference analog, loadAnalyticsDB
    * R:272-285) as a native when/like expression — fully codegen'd, no UDF. */
  def q10PrefixBucket(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "part")
      .withColumn("bucket", pnameBucket(col("p_name")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  // ---------------------------------------------------------------- Q11 [J7,P3]
  /** Anti-join orphan accounting — the reference's counted-drop quality gate
    * (loadAnalyticsDB R:335-359). */
  def q11AntiJoinOrphans(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
  }

  // ---------------------------------------------------------------- Q12 [P4,A9]
  /** Null-fill + conditional aggregate (quality audit, loadAnalyticsDB
    * R:366-367, 738-744). */
  def q12NullAudit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        money(sum(coalesce(col("value").cast(DecimalType(18, 4)), lit(0)))).as("total_value"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("nulls"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- Q13 [U1,S7]
  /** Union-then-aggregate == the reference's two-source additive load
    * (SQLite ∪ CSV, loadAnalyticsDB R:290-602): associativity of the A1
    * aggregate means one plan replaces 24 micro-batch upserts. */
  def q13UnionRollup(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val unioned = l.filter(col("l_orderkey") % 2 === 0)
      .unionByName(l.filter(col("l_orderkey") % 2 === 1))
    unioned
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        money(dsum(col("l_quantity"))).as("qty"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- Q14 [A11,P6]
  /** Scalar-subquery parameterization ("most recent year", Rmd:216-227) kept
    * fully in-plan via a broadcast 1-row aggregate join — no driver action. */
  def q14ScalarSubqueryWeekly(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .withColumn("o_yr", year(col("o_orderdate")))
    val mx = o.agg(max(col("o_yr")).as("max_yr"))
    o.join(broadcast(mx), col("o_yr") === col("max_yr"))
      .groupBy(weekofyear(col("o_orderdate")).as("wk"))
      .agg(count(lit(1)).as("orders"))
      .orderBy("wk")
  }

  // ---------------------------------------------------------------- Q15 [W2]
  /** Year-over-year growth via lag window (Rmd:196-203). The unpartitioned
    * window runs over the per-year aggregate — a handful of rows — so the
    * single-partition sort is not a scale hazard. */
  def q15YoyLag(spark: SparkSession, dir: String): DataFrame = {
    val byYear = Tables(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("yr")
    byYear
      .withColumn("prev", lag(col("cnt"), 1).over(w))
      .select(
        col("yr"),
        col("cnt"),
        round((col("cnt") - col("prev")) * 100.0 /
          when(col("prev") === 0, null).otherwise(col("prev")), 1)
          .as("yoy_pct"))
      .orderBy("yr")
  }

  // ---------------------------------------------------------------- Q16 [§2.10]
  /** Tumbling daily event-time window, batch form. The Structured Streaming
    * variant (graft.streaming) must produce exactly these rows on a closed
    * input — asserted in StreamingSpec. */
  def q16DailyTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("uniq_users"),
        money(dsum(col("value"))).as("total_value"))
      .orderBy("day", "event_type")

  // ---------------------------------------------------------------- Q17 (flagship)
  /** The reference's whole ETL, one declarative plan on the TPC-H analog:
    * big fact source (lineitem≈streaming_txns) enriched by broadcast dims
    * (customer→nation ≈ user→country chain; part ≈ assets with the prefix
    * cascade as inference fallback), rolled up to a daily
    * (date, country, bucket) grain with exact distinct users and the stored
    * ratio-of-sums average (loadAnalyticsDB R:369-381, 610-618).
    * orders/customer co-shuffle on their keys; nation is hint-broadcast (25
    * rows at ANY scale factor); part is left to AQE — it grows with SF, and
    * a forced hint is never demoted, so at 100× scale it would OOM the
    * executors instead of falling back to a shuffle join. */
  def q17EtlStarRollup(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = Tables(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val n = Tables(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), pnameBucket(col("p_name")).as("bucket"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(to_date(col("l_shipdate")).as("d"), col("n_name"), col("bucket"))
      .agg(
        count(lit(1)).as("transaction_count"),
        countDistinct(col("o_custkey")).as("unique_user_count"),
        money(dsum(col("l_quantity"))).as("total_qty"),
        round(dsum(col("l_quantity")).cast("double") / count(lit(1)), 2)
          .as("avg_qty_per_txn"))
      .orderBy("d", "n_name", "bucket")
  }

  // ---------------------------------------------------------------- Q18 (JSON)
  /** JSON extraction on the events props column (semi-structured payloads —
    * beyond the reference surface, SURVEY §2.8 note). get_json_object is a
    * native expression; the path never leaves codegen. */
  def q18JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- Q19 (sessions)
  /** Gap-based sessionization of the events stream (30-minute inactivity
    * gap) — see graft.streaming.Sessionize for the three forms. */
  def q19Sessionization(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.batchSessions(Tables(spark, dir, "events"))

  // ---------------------------------------------------------------- Q20 (as-of)
  /** Point-in-time enrichment: each event picks up the order-day total of
    * the user's most recent order ON OR BEFORE the event date — the as-of
    * join every feature-store / training-label pipeline needs ("the value
    * as it was known then", no future leakage). The right side is
    * pre-aggregated to one row per (customer, day) so "most recent" is
    * well-defined. See [[Temporal.asofJoin]] for why this plans as one
    * window pass, not a nested-loop join. */
  def q20AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("okey"), to_date(col("o_orderdate")).as("od"))
      .agg(money(dsum(col("o_totalprice"))).as("day_total"))
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    Temporal.asofJoin(ev, ord, "user_id", "okey", "d", "od",
        valueCols = Seq("od", "day_total"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- Q21 (range)
  /** Interval containment: each shipment matched to every 60-day order
    * window of the same customer containing its ship date — the
    * point-in-validity-interval join (SCD lookups, campaign attribution,
    * session-to-event assignment). See [[Temporal.rangeJoin]] for the
    * bin-bucketed equi-join form that keeps this off the nested-loop path. */
  def q21RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val ship = Tables(spark, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("ship_id"),
        col("o_custkey").as("skey"), to_date(col("l_shipdate")).as("d"))
    val win = o.select(col("o_orderkey").as("win_id"), col("o_custkey").as("wkey"),
      to_date(col("o_orderdate")).as("lo"),
      date_add(to_date(col("o_orderdate")), 60).as("hi"))
    Temporal.rangeJoin(ship, win, "skey", "wkey", "d", "lo", "hi", binDays = 64)
      .select(col("ship_id"), col("win_id"), col("skey"), col("d"), col("lo"))
      .orderBy("ship_id", "win_id")
  }

  // ---------------------------------------------------------------- Q22 (rollup)
  /** Multi-level subtotals in ONE pass: ROLLUP(year, priority) computes the
    * detail rows, per-year subtotals, and the grand total in a single
    * aggregate (the reference computes each level as a separate query;
    * grouping sets are the warehouse-native form). GROUPING flags
    * disambiguate subtotal rows from genuine nulls. */
  def q22Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"),
        col("o_totalprice"))
      .rollup("yr", "o_orderpriority")
      .agg(
        grouping("yr").cast("int").as("g_yr"),
        grouping("o_orderpriority").cast("int").as("g_pri"),
        count(lit(1)).as("n"),
        money(dsum(col("o_totalprice"))).as("revenue"))
      .select(col("yr"), col("o_orderpriority"), col("g_yr"), col("g_pri"),
        col("n"), col("revenue"))
      .orderBy("g_yr", "g_pri", "yr", "o_orderpriority")

  // ---------------------------------------------------------------- Q28 (cube)
  /** Full grouping-sets lattice over a JOINED input: CUBE(nation, year)
    * computes detail, both one-dimension margins, and the grand total in
    * one aggregate — the cross-tab every BI layer asks the warehouse for.
    * The nation dim broadcasts onto the orders↔customer join; the cube
    * itself is one grain shuffle (Spark expands the 4 grouping sets
    * map-side, so the input is scanned once, not once per set — the same
    * single-pass argument as q22's ROLLUP, which this completes).
    *
    * Expressed through `groupingSets` with the explicit 4-set lattice:
    * `Dataset.cube` (string or Column form) trips Spark 4.1's
    * DetectAmbiguousSelfJoin false-positive whenever the cube's child
    * contains a join (the Expand re-references join-side attrs);
    * `groupingSets` plans the identical Aggregate+Expand without the
    * spurious ambiguity. */
  def q28Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("nation"), col("yr")), Seq(col("nation")),
          Seq(col("yr")), Seq()),
        col("nation"), col("yr"))
      .agg(
        grouping("nation").cast("int").as("g_nation"),
        grouping("yr").cast("int").as("g_yr"),
        count(lit(1)).as("n"),
        money(dsum(col("o_totalprice"))).as("revenue"))
      .orderBy("g_nation", "g_yr", "nation", "yr")

  // ---------------------------------------------------------------- Q29 (deciles)
  /** Customer-spend decile profile: NTILE(10) over per-customer totals,
    * then per-decile counts and spend mass — the segmentation table
    * marketing/BI reads off the warehouse. Spend is summed as
    * DECIMAL(18,4) so the rank order is exact and engine-independent
    * (a double sum's partition-order drift could flip adjacent ranks);
    * ties break on the customer key.
    *
    * Scale shape: the global NTILE is a total order over the
    * PRE-AGGREGATED customer frame — but customers GROW with the corpus,
    * so `ntile(10).over(Window.orderBy(...))` would still funnel every
    * customer through one task (the t33/q34 single-task class; caught by
    * the PlanAuditSpec window sweep once AQE-wrapped plans were
    * unwrapped). The global rank instead rides
    * [[Prefix.cumSumTwoPhase]] (range-partition by (spend, custkey),
    * per-slice counts, broadcast offsets) and the NTILE bucket is derived
    * arithmetically from (rank, n) with the standard remainder rule —
    * first n mod 10 buckets one row larger — which is exactly the SQL
    * NTILE the oracle runs. Spend is summed as DECIMAL(18,4) so the rank
    * order is exact and engine-independent; ties break on the key. */
  def q29SpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(dsum(col("o_totalprice")).as("spend"))
      .withColumn("one", lit(1L))
    val ranked = Prefix
      .cumSumTwoPhase(spend, Nil, Seq("spend", "o_custkey"), "one")
      .withColumnRenamed("cum", "rn")
    ranked
      .crossJoin(broadcast(ranked.agg(max(col("rn")).as("n"))))
      // NTILE(k): q = n div k, r = n mod k; buckets 1..r hold q+1 rows,
      // buckets r+1..k hold q. (The otherwise-branch `div q` is reached
      // only when rn > r·(q+1), which requires q ≥ 1 — no division by
      // zero under ANSI.)
      .withColumn("q", expr("n div 10"))
      .withColumn("r", expr("n % 10"))
      .withColumn("decile",
        when(col("rn") <= (col("q") + 1) * col("r"),
          expr("(rn - 1) div (q + 1) + 1"))
          .otherwise(expr("r + (rn - r * (q + 1) - 1) div q + 1"))
          .cast("int"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_customers"),
        money(sum(col("spend"))).as("total_spend"),
        money(min(col("spend"))).as("min_spend"),
        money(max(col("spend"))).as("max_spend"))
      .orderBy("decile")
  }

  // ---------------------------------------------------------------- Q30 (funnel)
  /** The funnel flag chain shared by q30 (stage counts) and q34 (time to
    * convert): per event, whether a view happened strictly earlier
    * (`viewed_before`), whether THIS click qualifies (`click_ok`), and
    * whether THIS purchase qualifies (`purchase_ok` — a qualifying click
    * strictly earlier). Two window passes over the SAME (user_id) spec =
    * one shuffle; `ms` rides along for duration arithmetic. */
  private def funnelFlags(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val earlier = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("viewed_before",
        max(when(col("event_type") === "view", 1).otherwise(0)).over(earlier))
      .withColumn("click_ok",
        when(col("event_type") === "click" && col("viewed_before") === 1, 1)
          .otherwise(0))
      .withColumn("clicked_before", max(col("click_ok")).over(earlier))
      .withColumn("purchase_ok",
        when(col("event_type") === "purchase" && col("clicked_before") === 1, 1)
          .otherwise(0))
  }

  /** Sequential conversion funnel over the event stream: users who
    * viewed, then clicked STRICTLY AFTER a view, then purchased strictly
    * after that click — order matters, which is what separates a funnel
    * from three independent filters (a purchase before any view must not
    * count). Implemented as chained running flags over ONE per-user
    * window (two window passes, same partition spec → a single shuffle
    * on user_id; each stage's flag looks only at STRICTLY EARLIER rows
    * via ROWS UNBOUNDED PRECEDING..1 PRECEDING, with event_id breaking
    * ts ties deterministically). The per-user reduction then collapses
    * to one counts row — the same funnel shape ClickHouse's
    * windowFunnel / warehouse funnel queries compute. */
  def q30EventFunnel(spark: SparkSession, dir: String): DataFrame = {
    funnelFlags(Tables(spark, dir, "events")).groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
        max(col("click_ok")).as("s2"),
        max(col("purchase_ok")).as("s3"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("s1").cast("long")).as("n_viewed"),
        sum(col("s2").cast("long")).as("n_clicked_after_view"),
        sum(col("s3").cast("long")).as("n_purchased_after_click"))
      .select(col("n_users"), col("n_viewed"), col("n_clicked_after_view"),
        col("n_purchased_after_click"),
        round(col("n_purchased_after_click").cast("double") / col("n_viewed"), 4)
          .as("view_to_purchase_rate"))
  }

  // ---------------------------------------------------------------- Q31 (cohort)
  /** Weekly cohort-retention triangle: users grouped by first-activity
    * week (Monday-truncated), then for each cohort the count still active
    * N weeks later and the retention rate vs the cohort's own size — the
    * classic subscription/engagement report q30's funnel feeds into.
    * Shape: ONE shuffle on user_id collects each user's distinct active
    * weeks as a sorted bounded array (≤ calendar weeks, partial-aggregated
    * map-side), so first week and per-week activity come out of the same
    * exchange; the only other shuffle is the tiny (cohort, weeks_since)
    * grain. Cohort size rides a window over the already-tiny triangle
    * (|weeks|² rows) instead of a self-join. */
  def q31CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Tables(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("week"))).as("weeks"))
    val sinceFirst = byUser
      .select(col("user_id"), col("weeks").getItem(0).as("cohort_week"),
        explode(col("weeks")).as("week"))
      .withColumn("weeks_since",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
    val triangle = sinceFirst
      .groupBy("cohort_week", "weeks_since")
      .agg(count(lit(1)).as("n_active"))
    triangle
      .withColumn("cohort_size",
        sum(when(col("weeks_since") === 0, col("n_active")).otherwise(0L))
          .over(Window.partitionBy("cohort_week")))
      .select(col("cohort_week"), col("weeks_since"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 4)
          .as("retention"))
      .orderBy("cohort_week", "weeks_since")
  }

  // ---------------------------------------------------------------- Q32 (MERGE)
  /** ANSI MERGE exercised end to end on the orders table with a
    * deterministic change batch derived from the table itself — every
    * branch fires: keys ≡ 0..9 (mod 1000) are UPDATED (+100000 price),
    * 10..12 are INSERTED as fresh negative keys (guaranteed absent),
    * 13..15 are DELETED. The post-merge per-status count/total summary is
    * the oracle-checked witness that exactly the right rows moved. See
    * [[Merge.merge]] for the single-anti-join plan shape. */
  def q32MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir, "orders")
    val m = col("o_orderkey") % 1000
    val updates = t.filter(m < 10)
      .withColumn("o_totalprice", col("o_totalprice") + 100000)
      .withColumn("is_delete", lit(false))
    val inserts = t.filter(m >= 10 && m < 13)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("is_delete", lit(false))
    val deletes = t.filter(m >= 13 && m < 16)
      .withColumn("is_delete", lit(true))
    val batch = updates.unionByName(inserts).unionByName(deletes)
    Merge.merge(t, batch, Seq("o_orderkey"),
        deleteWhen = Some(col("is_delete")), dropCols = Seq("is_delete"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        money(dsum(col("o_totalprice"))).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Shared nearest-rank order-statistic machinery (q33/q34): a
    * (partCols, value) HISTOGRAM annotated with each distinct value's
    * rank span [lo_rn, hi_rn] and the group size n — exact quantiles
    * without interpolation (engine-hostile: 1-ulp FP divergence was
    * measured to flip clamp counts) and without sorting raw rows (the
    * windows run over distinct values only). */
  private def histogramRanks(df: DataFrame, partCols: Seq[String],
      valueCol: String): DataFrame = {
    val hist = df.groupBy((partCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("c"))
    if (partCols.isEmpty) {
      // ungrouped: `Window.orderBy(value)` would funnel every DISTINCT
      // value through one task — and distinct durations/values grow with
      // observation span (a year-long lookback ≈ 31 M distinct seconds),
      // the exact t33 single-task pattern. The Blelloch two-phase scan
      // ([[Prefix.cumSumTwoPhase]]) computes the same cumulative count
      // range-partitioned by value, and the 1-row grand total rides a
      // broadcast instead of an empty-frame window.
      val cum = Prefix.cumSumTwoPhase(hist, Nil, Seq(valueCol), "c")
        .withColumnRenamed("cum", "hi_rn")
      // grand total = the last running sum; aggregating the scan output
      // (whose partitioned RDD is persisted) avoids re-running the
      // histogram groupBy for a second pass
      cum.withColumn("lo_rn", col("hi_rn") - col("c") + 1)
        .crossJoin(broadcast(cum.agg(max(col("hi_rn")).as("n"))))
    } else {
      // grouped: groups are numerous and individually bounded (years,
      // flags), so the per-group window parallelizes correctly
      val wOrd = Window.partitionBy(partCols.map(col): _*).orderBy(valueCol)
      val wAll = Window.partitionBy(partCols.map(col): _*)
      hist
        .withColumn("hi_rn", sum(col("c")).over(wOrd))
        .withColumn("lo_rn", col("hi_rn") - col("c") + 1)
        .withColumn("n", sum(col("c")).over(wAll))
    }
  }

  /** The value whose rank span covers the nearest-rank position
    * ⌊q(n−1)⌋+1 — an aggregate over a [[histogramRanks]] frame. */
  private def nearestRankPick(q: Double, valueCol: String): Column =
    max(when((floor(lit(q) * (col("n") - 1)).cast("long") + 1)
      .between(col("lo_rn"), col("hi_rn")), col(valueCol)))

  // ---------------------------------------------------------------- Q34 (latency)
  /** Time-to-convert distribution for the q30 funnel's converting users:
    * seconds from FIRST view to FIRST qualifying purchase, reported as
    * count / min / nearest-rank p50 & p90 / max / mean. Durations are
    * integer seconds (floor-divided milliseconds), so every statistic —
    * including the rank-picked percentiles, same histogram discipline as
    * q33 — is exact integer arithmetic with zero cross-engine FP risk;
    * only the mean divides, and it rides the DECIMAL sum. The global rank
    * spans come from the two-phase prefix scan over the distinct-duration
    * histogram (no single-task window even as distinct durations grow
    * with observation span — see [[histogramRanks]]). */
  def q34TimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val durations = funnelFlags(Tables(spark, dir, "events"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ms"))).as("v_ms"),
        min(when(col("purchase_ok") === 1, col("ms"))).as("p_ms"))
      .filter(col("p_ms").isNotNull) // a qualifying purchase implies a view
      .select(expr("(p_ms - v_ms) div 1000").as("sec"))
    histogramRanks(durations, Nil, "sec")
      .agg(
        max(col("n")).as("n_converted"),
        min(col("sec")).as("min_sec"),
        nearestRankPick(0.5, "sec").as("p50_sec"),
        nearestRankPick(0.9, "sec").as("p90_sec"),
        max(col("sec")).as("max_sec"),
        round(sum((col("sec") * col("c")).cast(DecimalType(28, 4)))
          .cast("double") / max(col("n")), 2).as("mean_sec"))
  }

  // ---------------------------------------------------------------- Q35 (ANALYZE)
  /** ANALYZE TABLE over the fact source: per-column rows / nulls / exact
    * NDV / min / max in one aggregate pass — the stats a cost-based
    * optimizer consumes. The ship date is profiled at DATE grain so the
    * stringified bounds are engine-portable. See
    * [[graft.etl.ColumnProfile.analyzeColumns]]. */
  def q35AnalyzeStats(spark: SparkSession, dir: String): DataFrame =
    graft.etl.ColumnProfile.analyzeColumns(
      Tables(spark, dir, "lineitem")
        .withColumn("l_shipdate", to_date(col("l_shipdate"))),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
      .orderBy("col_name")

  // ---------------------------------------------------------------- Q36 (LISTAGG)
  /** String aggregation (ANSI LISTAGG / string_agg): each region's
    * nations as one ordered comma list — the directory/report shape SQL
    * surfaces need. Determinism is the whole trick: `collect_set` is
    * partition-order-dependent, so the list is sorted BEFORE joining
    * (array_sort + concat_ws), making the output a pure function of the
    * group's membership. Distributable: collect_set partial-aggregates
    * map-side and group membership is bounded (nations per region). */
  def q36Listagg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "region")
      .join(Tables(spark, dir, "nation"),
        col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name")
      .agg(countDistinct(col("n_name")).as("n_nations"),
        concat_ws(",", array_sort(collect_set(col("n_name")))).as("nations"))
      .orderBy("r_name")

  // ---------------------------------------------------------------- Q33 (robust)
  /** Winsorized robust statistics per event type: nearest-rank tail
    * bounds (the (⌊q(n−1)⌋+1)-th smallest value at q = 1/16 and 15/16),
    * values clamped into [lo, hi], and the clamped mean + clamp tallies —
    * the outlier-robust profile metric pipelines publish instead of raw
    * means a single fat-finger event can move.
    *
    * The bounds are deliberately ORDER STATISTICS, not interpolated
    * quantiles: interpolation is engine-hostile (`a+f(b−a)` vs
    * `(1−f)a+fb` differ by an ulp, and with duplicated data values
    * sitting exactly at the bound that ulp was measured to flip clamp
    * COUNTS at sf0.1, not just a display decimal). A nearest-rank bound
    * is an actual data value — bit-identical everywhere, and every
    * downstream comparison is exact.
    *
    * Scale shape: the order statistic comes from a (type, value)
    * HISTOGRAM + cumulative ranks over the distinct-value frame — one
    * grain shuffle and a window over |distinct values| rows per type,
    * never a full sort of the raw events. Bounds broadcast back; the
    * clamped mean rides the 6-dp-DECIMAL sum so partition order can't
    * move it. */
  def q33WinsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(col("event_type"), col("value"))
    val bounds = histogramRanks(ev, Seq("event_type"), "value")
      .groupBy("event_type")
      .agg(nearestRankPick(0.0625, "value").as("lo"),
        nearestRankPick(0.9375, "value").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("cv", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(min(col("lo")), 4).as("lo"),
        round(min(col("hi")), 4).as("hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_high"),
        round(sum(round(col("cv"), 6).cast(DecimalType(18, 6))).cast("double")
          / count(lit(1)), 4).as("winsorized_mean"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- Q23 (rolling)
  /** Rolling time-series analytics over the daily per-country series:
    * 7-row moving average + running cumulative total, partitioned by
    * country so the window work distributes (one unpartitioned ORDER BY
    * window would serialize the corpus through a single task at scale).
    * The year predicate prunes at the scan. */
  def q23MovingWindow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = Tables(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val daily = Tables(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 2000)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(to_date(col("l_shipdate")).as("d"), col("c_nationkey").as("country_id"))
      .agg(count(lit(1)).as("n"))
    val byCountry = Window.partitionBy("country_id").orderBy("d")
    daily
      .select(col("d"), col("country_id"), col("n"),
        round(avg("n").over(byCountry.rowsBetween(-6, 0)), 2).as("ma7"),
        sum("n").over(byCountry.rowsBetween(Window.unboundedPreceding, 0))
          .as("cum"))
      .orderBy("country_id", "d")
  }

  // ---------------------------------------------------------------- Q43 (RANGE frame)
  /** Calendar-interval window frame: trailing-7-DAY order totals per
    * country — RANGE over the date VALUE, where q23's ROWS frame counts
    * the last 7 OBSERVED rows. The two differ exactly when the series has
    * gaps (a country with no orders on some days), which is the normal
    * case at any grain finer than the busiest key; a rows-frame "7-day
    * average" silently stretches its window across gaps. Spark expresses
    * the interval as `rangeBetween` over days-since-epoch (one shuffle on
    * the partition key, same as ROWS); the oracle uses DuckDB's native
    * RANGE INTERVAL frame. Counts are integers — no float parity risk. */
  def q43RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = Tables(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val daily = Tables(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 2000)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(to_date(col("l_shipdate")).as("d"), col("c_nationkey").as("country_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_no", datediff(col("d"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy("country_id").orderBy("day_no")
      .rangeBetween(-6L, 0L)
    daily
      .select(col("d"), col("country_id"), col("n"),
        sum("n").over(w).as("trail7"),
        count(lit(1)).over(w).as("days_observed"))
      .orderBy("country_id", "d")
  }

  // ---------------------------------------------------------------- Q24 (profile)
  /** Equal-width histogram of a measure — the numeric-profile operator data
    * quality dashboards run over every column. Bounds come from a broadcast
    * 1-row min/max aggregate (two passes total — a fixed-bounds histogram
    * is one; both are single scans + a 20-row aggregate, no collect). The
    * bucket arithmetic is written in the exact association order the oracle
    * uses, so IEEE doubles bucket identically in both engines; min/max per
    * bucket are exact doubles (no summation-order hazard). */
  def q24Histogram(spark: SparkSession, dir: String, buckets: Int = 20): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val bounds = o.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(bounds))
      .select(
        least(floor((col("o_totalprice") - col("lo")) * buckets /
          (col("hi") - col("lo"))), lit((buckets - 1).toDouble))
          .cast("int").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo_val"),
        max(col("o_totalprice")).as("hi_val"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- Q25 (SCD2)
  /** Slowly-changing-dimension type-2 build: attribute history per key
    * becomes validity ranges — `valid_from` = change date, `valid_to` =
    * next change (null while current) via `lead` over (key, date). The
    * dimension-construction operator a warehouse needs the moment a "user's
    * country" or "asset's sport" can change; the as-of join (q20) is its
    * query-side dual. One shuffle on the key; the change-days pre-aggregate
    * makes the range endpoints deterministic when a day has several
    * observations (max attribute wins, pinned). */
  def q25Scd2(spark: SparkSession, dir: String): DataFrame = {
    val perDay = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("key"), to_date(col("o_orderdate")).as("d"))
      .agg(max(col("o_orderpriority")).as("attr"))
    val w = Window.partitionBy("key").orderBy("d")
    perDay
      .select(col("key"), col("attr"), col("d").as("valid_from"),
        lead(col("d"), 1).over(w).as("valid_to"),
        (lead(col("d"), 1).over(w).isNull).as("is_current"))
      .orderBy("key", "valid_from")
  }

  /** Hopping (sliding) windows over events — the batch form of the
    * streaming trending query ([[graft.streaming.EventWindows
    * .hoppingEventCounts]]); `window(length, hop)` assigns each event to
    * its length/hop covering windows in one projection, so the plan is one
    * expand + one grain shuffle regardless of overlap factor. */
  def q26HoppingWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventWindows
      .hoppingEventCounts(Tables(spark, dir, "events"))
      .orderBy("win_start", "event_type")

  // ---------------------------------------------------------------- Q37 (regression)
  /** Statistical aggregates — Pearson correlation, sample covariance and
    * the OLS regression line of price on quantity, per return flag. The
    * built-in `corr`/`regr_slope` run streaming double moments whose
    * low-order bits depend on partition order (and differ engine to
    * engine), so this computes the classic SUFFICIENT STATISTICS
    * (n, Σx, Σy, Σxy, Σx², Σy²) as exact DECIMAL sums — per-row products
    * are single IEEE multiplies (deterministic), the sums are
    * order-invariant decimals, and the closed-form slope/intercept/corr
    * arithmetic runs on identical inputs in any engine. This is also the
    * distributed shape: the six moments partial-aggregate map-side and
    * merge associatively, so the stats cost one grain shuffle of six
    * numbers per group — the same pattern as a mergeable sketch. */
  def q37RegressionStats(spark: SparkSession, dir: String): DataFrame = {
    // the moment column is named "nn", NOT "n": the output select below
    // aliases its cast to "n", and referencing a name the same select
    // re-aliases would engage (and, with this shape, internal-error)
    // Spark's lateral-column-alias resolution
    val m = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("nn"),
        // DECIMAL(27,6) — NOT (38,6): precision-38 sums take Spark's
        // widest overflow-checked aggregation path (47 s for this 600 K-row
        // aggregate in r4); at 27 the sum buffer is decimal(37,6) and the
        // running unscaled values stay in the compact Long range. y² is the
        // one moment whose unscaled sum would overflow a Long at scale 6
        // (~6.6e21), so it sums at scale 2 (~6.6e17) — the per-row product
        // is still the same deterministic IEEE multiply, and the oracle
        // mirrors the scale so both engines round the identical double to
        // the identical decimal. Headroom at 1000×: syy ≈ 6.6e18 int part
        // still < 10^25.
        sum(col("x").cast(DecimalType(27, 6))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(27, 6))).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(27, 6))).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(27, 6))).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(27, 2))).cast("double").as("syy"))
    // identical association order as the oracle SQL: cov_n = n*sxy - sx*sy,
    // var_x = n*sxx - sx*sx, var_y = n*syy - sy*sy
    val covN = col("nn") * col("sxy") - col("sx") * col("sy")
    val varX = col("nn") * col("sxx") - col("sx") * col("sx")
    val varY = col("nn") * col("syy") - col("sy") * col("sy")
    m.select(
        col("l_returnflag"), col("nn").cast("long").as("n"),
        round(covN / (col("nn") * (col("nn") - lit(1.0))), 4).as("covar_samp"),
        round(covN / sqrt(varX * varY), 6).as("corr"),
        round(covN / varX, 6).as("slope"),
        round((col("sy") - covN / varX * col("sx")) / col("nn"), 4)
          .as("intercept"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- Q38 (set ops)
  /** ANSI set operations: customers who ordered in BOTH 1995 and 1996 but
    * NOT in 1997 — `INTERSECT` then `EXCEPT` over the distinct key sets.
    * Spark plans INTERSECT as an aggregate + left-semi join and EXCEPT as
    * aggregate + left-anti, so each set op is one hash join on the key —
    * no sort, no nested loop — and all three year scans prune to a
    * single-column read with the year predicate pushed down. */
  def q38SetOps(spark: SparkSession, dir: String): DataFrame = {
    def custsOf(yr: Int): DataFrame =
      Tables(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey"))
        .distinct()
    custsOf(1995).intersect(custsOf(1996)).except(custsOf(1997))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- Q39 (gap fill)
  /** Time-series gap fill with forward fill (LOCF): each user's daily
    * purchase total over a DENSE per-user day spine (their own first..last
    * purchase day), missing days carrying the last observed value — the
    * interpolation step between raw events and any time-series model.
    * The spine is generated per user with `sequence()` (an expression, no
    * driver loop), so spine size scales with Σ user spans, not
    * users × global calendar; the fill is `last(ignoreNulls)` over the
    * per-user window — one shuffle on user_id total, since the daily
    * aggregate, the spine join and the window all share that key. */
  def q39GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(money(dsum(col("value"))).as("v"))
    val spine = daily
      .groupBy("user_id")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        last(col("v"), ignoreNulls = true).over(w).as("filled"),
        col("v").isNotNull.as("observed"))
      .orderBy("user_id", "d")
  }

  // ---------------------------------------------------------------- Q61 (streaks)
  /** Gaps-and-islands: each user's LONGEST run of consecutive active days
    * (any event counts as activity), plus their active-day and streak
    * totals — the classic engagement/retention cut (DAU streaks, "n-day
    * habit" cohorts) that needs the islands trick, not a join: a run of
    * consecutive days has `day − row_number` constant, so the island key
    * is one window subtraction (days since epoch minus the per-user day
    * rank) and the runs collapse in one aggregate.
    *
    * Scale shape: the distinct (user, day) frame is one shuffle on its
    * own grain; the window and both aggregates all ride the user_id key,
    * and the window's partition is bounded by a user's active-day count
    * (≤ calendar days), never the event stream — so raw event volume
    * reaches the plan only through the first distinct. */
  def q61LongestStreak(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val runs = days
      .withColumn("grp",
        datediff(col("day"), to_date(lit("1970-01-01")))
          - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
    runs.groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- Q40 (Markov)
  /** First-order event-transition matrix: for each (event_type →
    * next_event_type) adjacency in a user's stream, the transition count
    * and row-normalized probability — the Markov-chain summary behind
    * next-action prediction and anomaly scoring. `lead` over the per-user
    * (ts, event_id) order is one shuffle on user_id; the matrix itself is
    * |types|² rows, so the normalizing window runs over a tiny aggregated
    * frame. Ties on ts are broken by event_id, pinning every adjacency. */
  def q40EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    pairs
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("event_type")), 6))
      .orderBy("event_type", "next_type")
  }

  /** Quarter-over-quarter customer reconciliation — the FULL OUTER join audit
    * (who was acquired, who churned, who stayed) every subscription
    * business runs between period snapshots. Both sides pre-aggregate to
    * one row per customer BEFORE the join, so the full-outer matches on a
    * deduplicated key and stays a plain shuffle join at any scale. */
  def q27CustomerChurn(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    // quarter-over-quarter: at every SF plenty of customers order in only
    // one of the two windows, so all three statuses are populated
    def perCust(q: Int, n: String) =
      o.filter(year(col("o_orderdate")) === 1995 &&
          quarter(col("o_orderdate")) === q)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as(n))
    perCust(1, "n_prev")
      .join(perCust(2, "n_next"), Seq("o_custkey"), "full_outer")
      .withColumn("status",
        when(col("n_prev").isNull, "acquired")
          .when(col("n_next").isNull, "churned")
          .otherwise("retained"))
      .groupBy("status")
      .agg(count(lit(1)).as("customers"),
        sum(coalesce(col("n_prev"), lit(0L))).as("orders_prev"),
        sum(coalesce(col("n_next"), lit(0L))).as("orders_next"))
      .orderBy("status")
  }

  // ---------------------------------------------------------------- Q41 (HLL sketches)
  /** Mergeable-sketch distinct counting: per-year unique customers via
    * Apache DataSketches HLL, built at MONTH grain and UNIONED up to years
    * — the pre-aggregation pattern that makes 100 TB distinct counts
    * cheap (per-partition sketches merge associatively; a rollup cube
    * reuses the same monthly sketches for every coarser grain, where
    * exact COUNT(DISTINCT) pays a full Expand shuffle per grain). The
    * sketch ESTIMATE is engine-specific by construction, so the contract
    * row emits the exact count plus a `within_3pct` accuracy verdict
    * computed against the estimate — the oracle recomputes the exact side
    * and claims the verdict true, so a sketch drifting past its error
    * budget breaks the row hash. lgK is pinned at 14 (σ ≈ 0.4%) so the
    * 3% budget sits ≈ 7.5σ out — the TRUE claim is not scale-fragile:
    * at any corpus size a tail excursion is a code defect, not noise. */
  def q41HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"), col("o_custkey"))
    val monthly = o.groupBy("yr", "mo")
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
    val merged = monthly.groupBy("yr")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = o.groupBy("yr")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.join(merged, "yr")
      .select(col("yr"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * lit(0.03)).as("within_3pct"))
      .orderBy("yr")
  }

  // ---------------------------------------------------------------- Q42 (KLL sketches)
  /** Mergeable-sketch quantiles: per-return-flag price p50/p90 via
    * DataSketches KLL, built on (flag, linestatus) sub-grain and merged
    * upward — the partition-sketch pattern that answers any quantile on
    * 100 TB from kilobyte summaries instead of a sort. KLL guarantees
    * RANK accuracy and its compactors are randomized, so the contract row
    * pins what the sketch actually promises: the TRUE rank of each
    * estimate (one exact conditional count against the data) lands within
    * 3% of the target quantile. The oracle recomputes the per-flag row
    * count and claims both verdicts true. Sketch k is raised from the
    * default 200 (ε ≈ 1.65%, barely 2× inside the 3% budget — an unlucky
    * run or a regenerated corpus could flip the verdict) to 800
    * (ε ≈ 0.44% at 99% confidence): the normal-tail probability of a
    * 3% rank miss at that ε is < 1e-10 per quantile, so the boolean is
    * deterministic for any practical purpose while the sketch stays a
    * few KB. */
  def q42KllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").cast("double").as("price"))
    val partial = li.groupBy("l_returnflag", "l_linestatus")
      .agg(expr("kll_sketch_agg_double(price, 800)").as("sk"))
    val merged = partial.groupBy("l_returnflag")
      .agg(expr("kll_merge_agg_double(sk, 800)").as("sk"))
      .select(col("l_returnflag"),
        expr("kll_sketch_get_quantile_double(sk, 0.5)").as("est_p50"),
        expr("kll_sketch_get_quantile_double(sk, 0.9)").as("est_p90"))
    li.join(broadcast(merged), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("price") <= col("est_p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("price") <= col("est_p90"), 1L).otherwise(0L)).as("r90"))
      .select(col("l_returnflag"), col("n_rows"),
        (abs(col("r50").cast("double") / col("n_rows") - lit(0.5)) <= lit(0.03))
          .as("p50_rank_ok"),
        (abs(col("r90").cast("double") / col("n_rows") - lit(0.9)) <= lit(0.03))
          .as("p90_rank_ok"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- Q44 (division)
  /** Relational division (the classic "for-all" operator): keys of
    * `dividend` associated with EVERY attribute value in `divisor`.
    *
    * Implemented by the counting formulation, not the textbook double
    * NOT EXISTS: restrict the dividend to divisor attributes (left-semi),
    * dedup (key, attr) pairs, count per key, and keep keys whose count
    * equals |divisor|. One shuffle on the key; the divisor — by the
    * operator's nature a small set of required values — travels only as a
    * broadcast semi-join and a broadcast 1-row cardinality, so the plan
    * has no correlated subquery re-scan and survives an arbitrarily large
    * dividend. Returns one row per dividing key plus the matched count
    * (= |divisor|, kept as evidence the cover is complete). */
  def divide(dividend: DataFrame, key: Seq[String], attr: String,
      divisor: DataFrame): DataFrame = {
    val needed = divisor.select(col(attr)).distinct()
    val nNeeded = needed.agg(count(lit(1)).as("n_needed"))
    dividend
      .join(broadcast(needed), Seq(attr), "left_semi")
      .select((key :+ attr).map(col): _*).distinct()
      .groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("n_matched"))
      .crossJoin(broadcast(nNeeded))
      .filter(col("n_matched") === col("n_needed"))
      .drop("n_needed")
  }

  /** Division demo on the star's operational side: customers who have
    * placed orders in EVERY order-priority class the corpus observes —
    * the completeness question ("which accounts exercised the full
    * product surface?") that GROUP BY alone can't ask. Selectivity is
    * ~half the customer base at every testdata SF, so the result is a
    * non-trivial anchor at sf0.001 through sf0.1. */
  def q44RelationalDivision(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"))
    divide(o, Seq("o_custkey"), "o_orderpriority",
      o.select("o_orderpriority"))
      .select(col("o_custkey"), col("n_matched").as("n_priorities"))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- Q45 (anomaly)
  /** Rolling z-score anomaly detection over per-type daily event volumes:
    * each day scores against the trailing 28 OBSERVED days' mean/stddev
    * (current day excluded, so a spike can't mask itself), flagged at
    * |z| ≥ 2. The monitoring primitive a warehouse runs on its own ingest
    * counters.
    *
    * Cross-engine parity rides the q37/t33 sufficient-statistics
    * discipline: the windowed aggregates are COUNT/SUM/SUM-of-squares of
    * BIGINT daily counts — exact integers, order-invariant — and mean/z
    * derive from those integers through one fixed double-arithmetic
    * shape, so both engines evaluate identical doubles (sample variance
    * (m·s2 − s1²)/(m·(m−1)); exact while m·s2 < 2⁵³, i.e. daily volumes
    * to ~10⁸ — beyond that, move s2 to DECIMAL, noted in SCALING.md).
    * Warm-up rows (m < 14) and zero-variance windows are excluded on both
    * sides; the flag tests the ROUNDED z so the 4-dp boundary can't
    * disagree.
    *
    * Scale shape: one groupBy to daily grain (the only corpus-sized
    * shuffle), then windows partitioned BY event_type whose rows are
    * calendar-bounded (days, not events) — no unpartitioned WindowExec
    * anywhere. */
  def q45RollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val win = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-28, -1)
    val md = col("m").cast("double")
    val s1d = col("s1").cast("double")
    val z = (col("n").cast("double") - s1d / col("m")) /
      sqrt((md * col("s2") - s1d * col("s1")) / (md * (col("m") - lit(1))))
    daily
      .withColumn("m", count(lit(1)).over(win))
      .withColumn("s1", sum(col("n")).over(win))
      .withColumn("s2", sum(col("n") * col("n")).over(win))
      .filter(col("m") >= 14 &&
        col("m") * col("s2") > col("s1") * col("s1"))
      .select(col("event_type"), col("d"), col("n"), col("m"),
        round(s1d / col("m"), 4).as("mean"),
        round(z, 4).as("z"))
      .withColumn("is_anomaly", abs(col("z")) >= 2)
      .orderBy("event_type", "d")
  }

  // ---------------------------------------------------------------- Q46 (attribution)
  /** Last-touch attribution with a bounded lookback: each purchase
    * attributes to the same user's MOST RECENT click within the hour
    * before it (inclusive of the same instant); purchases with no such
    * click stay unattributed — the batch twin of the streaming
    * interval-join deployment ([[graft.streaming.StreamJoins.attribution]]),
    * here anchored to the DuckDB `ASOF LEFT JOIN` oracle.
    *
    * Rides [[Temporal.asofJoin]]'s no-join form (tagged union + one
    * running `last(ignoreNulls)` window per user — a single shuffle), then
    * applies the lookback as a post-filter: the as-of match is the latest
    * click overall, so "latest within the window" ≡ "latest overall, if
    * within the window". Clicks are pre-deduplicated to (user, ts) grain
    * (max event_id) because as-of semantics are ill-defined under ties.
    * Minutes-before derives from exact microsecond integers (one double
    * division, q37 discipline). */
  def q46Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val joined = Temporal.asofJoin(purchases, clicks,
      leftKey = "user_id", rightKey = "c_user",
      leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_id", "click_ts"))
    val inWindow = col("click_ts").isNotNull &&
      col("click_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
    joined
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"),
        when(inWindow, col("click_id")).as("click_id"),
        when(inWindow, round(
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .cast("double") / 60000000.0, 2)).as("mins_before"),
        inWindow.as("attributed"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- Q47 (salted join)
  /** Skew-salted fact-to-dimension join, oracle-anchored: event volume and
    * value by customer market segment, where the events→customer join runs
    * through [[Skew.saltedJoin]] (probe key extended with a salt, build
    * side replicated per salt) so a hot user key spreads over `buckets`
    * reducers instead of flooding one. Salting is a PHYSICAL rewrite —
    * every probe row still meets every matching build row exactly once —
    * so the oracle is the plain join SQL, same physical-only discipline as
    * d16's Bloom gate. The deployment where this beats AQE's runtime skew
    * split: deterministic layouts and stream-static joins where AQE can't
    * re-plan. Value sums ride DECIMAL(18,4) (order-invariant). */
  def q47SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("value"))
    val dim = Tables(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Skew.saltedJoin(ev, dim, "user_id", buckets = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 4))), 2)
          .cast("double").as("total_value"))
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------- Q48 (sliding distinct)
  /** Trailing-7-day DISTINCT customer count per day — the sliding-window
    * distinct that SQL window frames cannot express (COUNT(DISTINCT) OVER
    * is unsupported in Spark and DuckDB alike, because distinct-over-frame
    * doesn't decompose into running state).
    *
    * Form: contribution explode. Dedup to (day, customer) grain first
    * (the only corpus-sized shuffle), then each pair CONTRIBUTES to the 7
    * windows ending on days d..d+6 — a ×7 linear explode of the already
    * day-deduped frame — and one groupBy(day) counts distinct
    * contributors. Cost is window-length × |day-grain|, linear in data
    * and embarrassingly parallel, vs the quadratic re-scan a per-day
    * self-join would do. For long windows (90 d+) where ×W hurts, the
    * mergeable-HLL path (q41) is the approximate alternative — this is
    * the exact one. Days inside the observed span with no contributor in
    * range would be absent (impossible with a 7-day window over this
    * data; the span clamp drops the explode's overhang past the last
    * observed day). */
  def q48SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d0"),
        col("o_custkey").as("u"))
      .distinct()
    val span = du.agg(min(col("d0")).as("lo"), max(col("d0")).as("hi"))
    du.select(explode(sequence(lit(0), lit(6))).as("o"), col("d0"), col("u"))
      .select(date_add(col("d0"), col("o")).as("d"), col("u"))
      .groupBy("d").agg(countDistinct(col("u")).as("u7"))
      .crossJoin(broadcast(span))
      .filter(col("d") >= col("lo") && col("d") <= col("hi"))
      .select(col("d"), col("u7"))
      .orderBy("d")
  }

  // ---------------------------------------------------------------- Q49 (rank family)
  /** The complete rank-function surface in one query — RANK, DENSE_RANK,
    * ROW_NUMBER, PERCENT_RANK, CUME_DIST, NTILE — top-10 customers by
    * spend within each order priority. The ORDER BY tuple (spend desc,
    * cust) is unique, so every function is deterministic and cross-engine
    * exact: pct_rank/cume are small-integer ratios evaluated identically
    * in double.
    *
    * Scale shape: the corpus-sized shuffle is the (priority, customer)
    * spend rollup; the window partitions by priority over the CUSTOMER
    * grain. Rank/dense_rank/row_number are prefix-computable (they depend
    * only on sort predecessors) and pct_rank/cume/ntile only add the
    * partition count N — so if the per-priority customer count ever makes
    * one sorted partition the bottleneck, the same output derives from a
    * per-group top-k heap + a broadcast N without ranking the tail. At
    * the dimension cardinalities this serves (customers per priority
    * class), the partitioned sort spills fine and the rewrite is
    * documented, not needed. */
  def q49RankFunctions(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"), col("o_custkey").as("cust"))
      .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 4))), 2)
        .cast("double").as("spend"))
    val w = Window.partitionBy("prio").orderBy(desc("spend"), asc("cust"))
    sp.select(col("prio"), col("cust"), col("spend"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(4).over(w).as("quartile"))
      .filter(col("rn") <= 10)
      .orderBy("prio", "rn")
  }

  // ---------------------------------------------------------------- Q51 (MAD outliers)
  /** Robust outlier detection per event type: median absolute deviation
    * (MAD) with a 3×MAD fence — the outlier test that, unlike the q45
    * z-score, a heavy tail cannot poison (mean/stddev move with the
    * outliers they're supposed to catch; the median doesn't).
    *
    * Every statistic is a rank-PICK of an actual data value (q33's
    * nearest-rank histogram discipline — no interpolation, so no FP
    * divergence can flip a fence), deviations are exact double
    * subtractions of picked values, and the fence comparison happens on
    * unrounded doubles identically in both engines; only the two
    * REPORTED columns round. Three passes over the per-type value
    * histogram (median → deviation histogram → fence count), each a
    * distinct-value frame, never a raw-row sort. */
  def q51MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val med = histogramRanks(ev, Seq("event_type"), "value")
      .groupBy("event_type").agg(nearestRankPick(0.5, "value").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = histogramRanks(dev.select(col("event_type"), col("dev")),
        Seq("event_type"), "dev")
      .groupBy("event_type").agg(nearestRankPick(0.5, "dev").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(max(col("med")), 4).as("median"),
        round(max(col("mad")), 4).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- Q53 (grouping sets)
  /** Explicit GROUPING SETS — the arbitrary-lattice shape ROLLUP (q22)
    * and CUBE (q28) can't write: detail plus BOTH one-dimension margins
    * and deliberately NO grand total, {(yr, mkt), (yr), (mkt)}. Same
    * single-pass execution argument as the other two (Spark expands the
    * sets map-side; the input is scanned once, not once per set), same
    * GROUPING-flag disambiguation of margin nulls. */
  def q53GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(year(col("o_orderdate")).as("yr"),
        col("c_mktsegment").as("mkt"), col("o_totalprice"))
    df.groupingSets(
        Seq(Seq(col("yr"), col("mkt")), Seq(col("yr")), Seq(col("mkt"))),
        col("yr"), col("mkt"))
      .agg(
        grouping("yr").cast("int").as("g_yr"),
        grouping("mkt").cast("int").as("g_mkt"),
        count(lit(1)).as("n"),
        money(dsum(col("o_totalprice"))).as("revenue"))
      .select(col("yr"), col("mkt"), col("g_yr"), col("g_mkt"),
        col("n"), col("revenue"))
      .orderBy("g_yr", "g_mkt", "yr", "mkt")
  }

  // ---------------------------------------------------------------- Q52 (event paths)
  /** Top event-path trigrams: the 10 most common 3-step behavioral
    * sequences across user timelines — q40's transition matrix extended
    * one more step, the path-analysis grain funnels are designed from.
    * Per-user windows ordered by the unique (ts, event_id) tuple (ties on
    * ts are real in event data; the id tiebreak makes the sequence — and
    * the hash — deterministic); the top-k cut is orderBy+limit, planned
    * as TakeOrderedAndProject per-partition heaps, with (desc n, path) a
    * total order. Window partitions are per-user timelines — bounded —
    * and the path table the heap runs over is |event_type|³ at most. */
  def q52EventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path")).limit(10)
  }

  // ---------------------------------------------------------------- Q50 (sliding HLL)
  /** [[q48SlidingDistinct]]'s long-window scale path, made concrete: the
    * trailing-7-day distinct count from DAILY HLL sketches exploded onto
    * the windows they feed and union-merged per day. q48's exact explode
    * multiplies the (day, customer) PAIR table by the window length W; here
    * the corpus is touched ONCE (daily sketch build) and the ×W explode
    * moves kilobyte sketches, so a 90-day window costs the same corpus
    * scan as a 7-day one — this is why the approximate twin exists. The
    * estimate is engine-specific, so the contract row follows the q41
    * verdict discipline: exact count (q48's plan) + a within-3% boolean
    * the oracle claims true. lgK is pinned at 14 (σ ≈ 0.4%, 3% ≈ 7.5σ)
    * so the claim holds at any data scale — a budget excursion means a
    * broken sketch path, not an unlucky regeneration. */
  def q50SlidingDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d0"),
        col("o_custkey").as("u"))
      .groupBy("d0").agg(expr("hll_sketch_agg(u, 14)").as("sk"))
    val est = daily
      .select(explode(sequence(lit(0), lit(6))).as("o"), col("d0"), col("sk"))
      .select(date_add(col("d0"), col("o")).as("d"), col("sk"))
      .groupBy("d")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    q48SlidingDistinct(spark, dir)
      .join(est, "d")
      .select(col("d"), col("u7"),
        (abs(col("est") - col("u7")) <= col("u7") * lit(0.03))
          .as("within_3pct"))
      .orderBy("d")
  }

  // ---------------------------------------------------------------- Q54 (key skew)
  /** Key-skew diagnostic over the per-user event distribution — the
    * pre-flight report that tells an operator whether a key is safe to
    * shuffle on or needs the q47 salted path: row/key totals, the
    * hottest key and its traffic share (ppm, t40's round-half-up
    * convention), nearest-rank p50/p90/p99 of per-key counts, and the
    * max/mean skew factor. One groupBy produces the per-key counts; the
    * percentiles ride [[histogramRanks]] over the DISTINCT-count
    * histogram (support is ≪ keys — bounded by the count range, not the
    * corpus — and the ungrouped branch is the two-phase prefix scan, so
    * no single-task window even if it were not). The hottest key is a
    * max-count broadcast back over the counts frame — never a global
    * sort. Everything after the first shuffle is histogram-sized. */
  def q54KeySkewReport(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (percentiles, totals, hottest-key) read the per-key
    // count table; persisting it makes the corpus scan happen ONCE and
    // the re-reads touch a #keys-row frame (at 100 TB: millions of rows
    // vs re-scanning the corpus three times)
    val cnts = graft.Caches.persistReplacing(s"q54_cnts:$dir",
      Tables(spark, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt")))
    val pct = histogramRanks(cnts.select("cnt"), Nil, "cnt")
      .agg(
        nearestRankPick(0.5, "cnt").as("p50_cnt"),
        nearestRankPick(0.9, "cnt").as("p90_cnt"),
        nearestRankPick(0.99, "cnt").as("p99_cnt"))
    val tot = cnts.agg(
      sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    // hottest key: equality filter against the broadcast 1-row max —
    // map-side, no sort, ties to the smallest key id
    val top = cnts.join(broadcast(tot.select(col("max_cnt").as("mc"))),
        col("cnt") === col("mc"))
      .agg(min(col("user_id")).as("top_key"))
    tot.crossJoin(broadcast(pct)).crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        col("p50_cnt"), col("p90_cnt"), col("p99_cnt"),
        round(col("max_cnt").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("skew_x"),
        col("top_key"),
        expr("(max_cnt * 2000000L + n_rows) div (n_rows * 2)").as("top_ppm"))
  }

  // ---------------------------------------------------------------- Q55 (join-size planner)
  /** Exact join-cardinality pre-flight WITHOUT running the join: for the
    * many-to-many self-join of lineitem on `l_partkey`, the output size
    * is `Σ_k c(k)²` over the per-key count table — computable from ONE
    * groupBy whose output is keys, not rows. The report an optimizer (or
    * an operator deciding between the plain and q47-salted path) wants
    * before committing a cluster to a blowup: exact output rows, the
    * amplification factor over the input, the hottest key and the share
    * of join output it alone produces (ppm — `max_c²/Σc²`, the number
    * that says "salt this key or don't run this"). The hottest key rides
    * the q54 broadcast max-filter; nothing after the count groupBy is
    * data-proportional. */
  def q55JoinSizePlanner(spark: SparkSession, dir: String): DataFrame = {
    // both consumers (totals, hottest-key) read the count table off one
    // persisted corpus scan — the q54 discipline
    val cnt = graft.Caches.persistReplacing(s"q55_cnt:$dir",
      Tables(spark, dir, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("c")))
    val tot = cnt.agg(
      count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
      sum(col("c") * col("c")).as("join_rows"), max(col("c")).as("max_c"))
    val top = cnt.join(broadcast(tot.select(col("max_c").as("mc"))),
        col("c") === col("mc"))
      .agg(min(col("l_partkey")).as("top_key"))
    tot.crossJoin(broadcast(top))
      .select(col("n_keys"), col("n_rows"), col("join_rows"), col("max_c"),
        round(col("join_rows").cast("double") / col("n_rows"), 4)
          .as("amplification"),
        col("top_key"),
        // DECIMAL intermediates: max_c² · 2e6 overflows Long exactly in
        // the extreme-skew regime this planner exists to detect (a 2.2M-
        // row hot key already wraps) — silent garbage in Spark, a raise
        // in the DuckDB twin. Exact integer ppm either way.
        expr("""(cast(max_c as decimal(38,0)) * max_c * 2000000
               |  + join_rows) div (cast(join_rows as decimal(38,0)) * 2)"""
          .stripMargin).as("hot_share_ppm"))
  }

  // ---------------------------------------------------------------- Q56 (incremental view maintenance)
  /** Incremental maintenance of an aggregate rollup under inserts AND
    * retractions — the differential pattern that keeps a 100 TB
    * materialized view current without ever re-scanning it: each change
    * batch contributes a SIGNED partial aggregate (+1 inserts, −1
    * retractions), and merging is just re-aggregation, because COUNT and
    * SUM are abelian-group aggregates (AVG is maintained as the ratio of
    * maintained sums — merging averages directly would be wrong, which
    * is exactly why the view stores sums). Groups whose membership
    * reaches zero vanish. Cost per refresh is the CHANGE batch scan +
    * a rollup-sized merge; the base is touched once, ever.
    *
    * The fixture partitions orders deterministically (base = keys ∉ 10ℤ,
    * inserts = keys ∈ 10ℤ, retractions = base keys ∈ 7ℤ), so the oracle
    * can state the contract as the thing IVM must equal: a full
    * recompute over the final membership. */
  def q56IvmRollup(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val base = orders.filter(col("o_orderkey") % 10 =!= 0)
    val ins = orders.filter(col("o_orderkey") % 10 === 0)
    val ret = base.filter(col("o_orderkey") % 7 === 0)
    def part(df: DataFrame, sign: Int): DataFrame = df
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("o_orderstatus").as("status"))
      .agg((count(lit(1)) * sign).as("n"),
        (dsum(col("o_totalprice")) * sign).as("rev"))
    part(base, 1).unionByName(part(ins, 1)).unionByName(part(ret, -1))
      .groupBy("yr", "status")
      .agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
      .filter(col("n") > 0)
      .select(col("yr"), col("status"), col("n"),
        money(col("rev")).as("revenue"),
        round(col("rev").cast("double") / col("n"), 4).as("avg_price"))
      .orderBy("yr", "status")
  }

  // ---------------------------------------------------------------- Q59 (A/B test)
  /** Two-proportion z-test over a hash-randomized experiment split — the
    * statistical-testing primitive every product warehouse runs on
    * feature flags: users hash into arms (the t04 engine-portable md5
    * split, so assignment is reproducible anywhere without storing it),
    * conversion is "ever purchased", and the pooled two-proportion
    * z-statistic decides significance at 1.96. Because the split is
    * hash-random against a common population, this doubles as the A/A
    * calibration run (the null is true by construction — a significant
    * result here means the assignment or the stat is broken, which is
    * exactly what the oracle hash locks). One groupBy to per-user
    * conversion flags, one 2-row aggregate, arithmetic on a 1-row frame:
    * at 100 TB the cost is the event scan. */
  def q59AbTest(spark: SparkSession, dir: String): DataFrame = {
    // conversion = purchased within 1 day of first activity — a windowed
    // definition with real variance ("ever purchased" saturates to 100%
    // on long-lived users, making the pooled p hit 1.0 and the z
    // denominator zero; found the hard way on the fixture)
    val users = Tables(spark, dir, "events")
      .groupBy("user_id")
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .select(col("user_id"),
        when(col("tp") <= col("t0") + expr("INTERVAL 1 DAY"), 1)
          .otherwise(0).as("converted"))
      .withColumn("arm",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = arms
      .agg(
        max(when(col("arm") === "A", col("n"))).as("a_n"),
        max(when(col("arm") === "A", col("conv"))).as("a_conv"),
        max(when(col("arm") === "B", col("n"))).as("b_n"),
        max(when(col("arm") === "B", col("conv"))).as("b_conv"))
      .withColumn("pa", col("a_conv").cast("double") / col("a_n"))
      .withColumn("pb", col("b_conv").cast("double") / col("b_n"))
      .withColumn("p",
        (col("a_conv") + col("b_conv")).cast("double") /
          (col("a_n") + col("b_n")))
      // degenerate pools (everyone or no one converted) have a zero
      // denominator — report z = 0 / not-significant instead of crashing
      // (the t40 divisor-guard discipline), mirrored in the oracle
      .withColumn("z",
        when(col("p") > 0 && col("p") < 1,
          (col("pa") - col("pb")) /
            sqrt(col("p") * (lit(1.0) - col("p")) *
              (lit(1.0) / col("a_n") + lit(1.0) / col("b_n"))))
          .otherwise(lit(0.0)))
    wide.select(
      col("a_n"), col("a_conv"), round(col("pa"), 4).as("a_rate"),
      col("b_n"), col("b_conv"), round(col("pb"), 4).as("b_rate"),
      round(col("z"), 4).as("z"),
      (abs(col("z")) > 1.96).as("significant"))
  }

  // ---------------------------------------------------------------- Q57 (PageRank)
  /** PageRank over the q40 behavioral transition graph: which event type
    * is the "center of gravity" of user journeys once indirect flows
    * count (a type reached mostly FROM other heavily-visited types
    * outranks one with the same in-degree from cold starts — the
    * stationary-distribution question raw transition counts can't
    * answer). Edges are the q40 matrix with UNROUNDED row-normalized
    * weights; 20 fixed power iterations at damping 0.85 through
    * [[Graph.pageRank]] (decimal-summed inflows ⇒ every iteration is
    * bit-identical across engines, so the DuckDB oracle replays the
    * fixpoint as 20 unrolled CTEs — the s10 discipline applied to an
    * iterated algorithm). `dangling = "selfloop"`: an event type that
    * only ever closes journeys (never a `src`) is a sink, and a
    * regenerated corpus may legally contain one — the contract query
    * must be TOTAL over any generation (ADVICE r7), so sinks hold their
    * mass via a self-loop, mirrored edge-for-edge in the unrolled
    * oracle; [[Graph.pageRank]] keeps its loud refusal as the library
    * default. The graph here is |event_type|-sized; the operator's
    * per-iteration shape (edge ⋈ rank, groupBy dst) is the one that
    * scales to user-level graphs. */
  def q57PageRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val m = pairs.groupBy(col("event_type").as("src"),
        col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val edges = m
      .withColumn("w", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("src")))
      .select("src", "dst", "w")
    Graph.pageRank(edges, damping = 0.85, iters = 20, dangling = "selfloop")
      .select(col("id").as("event_type"), round(col("r"), 6).as("rank"))
      .orderBy("event_type")
  }
}
