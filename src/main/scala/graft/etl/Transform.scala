package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{DateParts, SportInference}

/** The enrichment + quality-gate + rollup core of the reference ETL
  * (`loadAnalyticsDB.PractII.VarmaA.R:243-428`), as one declarative plan.
  *
  * The reference's driver-memory hash maps (R named vectors, R:263-264) are
  * broadcast hash joins here; its 24 micro-batch partial aggregates folded
  * by MySQL upserts (R:369-406) collapse into Spark's built-in
  * partial+final hash aggregate — one shuffle on the grain keys.
  *
  * Scale notes: the dim side of both joins is bounded (subscribers-derived
  * user→country map is the largest; if it outgrows the broadcast threshold
  * AQE demotes to shuffle join and the plan still holds). The grain keys
  * (date × country × sport) are low-cardinality, so the rollup shuffle
  * moves pre-combined partial rows, not raw transactions.
  */
object Transform {

  /** J1: the 3-table user→country mapping chain
    * (subscribers ⋈ postal2city ⋈ cities, R:252-260). Exactly ONE country
    * per user: a subscriber with postal codes in two countries would
    * otherwise fan out every transaction join downstream, inflating all
    * measures. The reference's R named-vector map silently kept whichever
    * entry lookup hit first (order-dependent); we pin the deterministic
    * minimum country_id. */
  def userCountry(subscribers: DataFrame, postal2city: DataFrame,
      cities: DataFrame): DataFrame =
    subscribers
      .join(postal2city, Seq("postal_code"))
      .join(cities, Seq("city_id"))
      .filter(col("user_id").isNotNull && col("country_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("country_id")).as("country_id"))

  /** Asset→sport master, dropping NULL/empty sports (P2, R:175-176). */
  def assetSport(assets: DataFrame): DataFrame =
    assets
      .filter(col("sport").isNotNull && col("sport") =!= "")
      .select(col("asset_id"), col("sport").as("sport_master"))

  /** J2/J3/F4: lookup enrichment + inference fallback. Emits the raw
    * columns plus `country_id`, `sport_master`, `sport` (master coalesced
    * with the prefix inference) and parsed `event_date` — drop/keep
    * decisions are NOT applied here so accounting can see every row.
    *
    * Both lookup joins are broadcast: the maps are bounded dimension
    * lookups by design (the reference held them in memory), and
    * without the hint the big-side shuffles double the ETL wall-clock. */
  def enrich(txns: DataFrame, userCountryMap: DataFrame,
      assetSportMap: DataFrame): DataFrame =
    txns
      .join(broadcast(userCountryMap), Seq("user_id"), "left")
      .join(broadcast(assetSportMap), Seq("asset_id"), "left")
      .withColumn("sport",
        coalesce(col("sport_master"), SportInference.inferSport(col("asset_id"))))
      // try_cast, not to_date: under ANSI mode (Spark 4's default) a
      // malformed date would fail the whole load; here it reads as NULL
      // and the quality gate drops it as a missing date
      .withColumn("event_date", col("streaming_date").try_cast("date"))

  /** P3: the referential-integrity gate — keep rows whose country, sport
    * and date all resolved; P4: null→0 fill on the measures. */
  def qualityGate(enriched: DataFrame): DataFrame =
    enriched
      .filter(col("country_id").isNotNull && col("sport").isNotNull &&
        col("event_date").isNotNull)
      .na.fill(0, Seq("minutes_streamed", "completed"))

  /** Retention accounting (README.md:200-206) in ONE pass of conditional
    * aggregates — no extra anti-join scans of the fact source. The source
    * date bounds ride along in the same pass so the dim_date spine needs no
    * scan of its own (the reference re-scanned both sources for min/max,
    * loadAnalyticsDB R:189-197). */
  /** THE accounting aggregate list — shared by the standalone pass
    * ([[accounting]]) and the observed single-pass form
    * (`Pipeline.runSinglePass`), so the two can never drift. */
  val accountingAggs: Seq[Column] = Seq(
    count(lit(1)).as("read"),
    sum(when(col("country_id").isNull, 1L).otherwise(0L)).as("missing_country"),
    sum(when(col("sport_master").isNull && col("sport").isNotNull, 1L)
      .otherwise(0L)).as("recovered_by_inference"),
    sum(when(col("sport").isNull, 1L).otherwise(0L)).as("missing_sport"),
    sum(when(col("event_date").isNull, 1L).otherwise(0L)).as("missing_date"),
    sum(when(col("country_id").isNotNull && col("sport").isNotNull &&
      col("event_date").isNotNull, 1L).otherwise(0L)).as("valid"),
    min(col("event_date")).as("min_date"),
    max(col("event_date")).as("max_date"))

  def accounting(enriched: DataFrame): DataFrame =
    enriched.agg(accountingAggs.head, accountingAggs.tail: _*)

  /** [[rollup]] variant with HLL++ approximate distinct users — the
    * documented upgrade path (SURVEY §2.11) when exact distinct's shuffle
    * of raw user ids is too expensive, and the only mergeable form for
    * pure streaming aggregation. `rsd` is the relative standard deviation
    * (default 5%, ~1.5 KB of sketch per grain row). */
  def rollupApprox(valid: DataFrame, rsd: Double = 0.05): DataFrame =
    rollupWith(valid, approx_count_distinct(col("user_id"), rsd))

  /** A1+A2+P7: the daily-grain rollup with exact distinct users (declared
    * semantic, SURVEY §5.2) and the stored ratio-of-sums average; date
    * parts denormalized into the fact (createStarSchema R:144-147). */
  def rollup(valid: DataFrame): DataFrame =
    rollupWith(valid, countDistinct(col("user_id")))

  /** The rollup body shared by [[rollup]] and [[rollupApprox]]; they differ
    * only in the aggregate that counts `unique_user_count`. */
  private def rollupWith(valid: DataFrame, distinctUsers: Column): DataFrame = {
    val grain = valid
      .groupBy(col("event_date"), col("country_id"), col("sport").as("sport_name"))
      .agg(
        count(lit(1)).as("transaction_count"),
        distinctUsers.as("unique_user_count"),
        sum(col("minutes_streamed").cast("long")).as("total_minutes_streamed"),
        sum(col("completed").cast("long")).as("completed_streams"))
      .withColumn("avg_minutes_per_stream",
        when(col("transaction_count") > 0,
          round(col("total_minutes_streamed").cast("double") /
            col("transaction_count"), 2)).otherwise(0.0))
    DateParts.withDateParts(grain, col("event_date"))
      .select(
        col("date_id"), col("country_id"), col("sport_name"),
        col("transaction_count"), col("unique_user_count"),
        col("total_minutes_streamed"), col("completed_streams"),
        col("avg_minutes_per_stream"),
        col("year"), col("quarter"), col("month"), col("week"))
  }
}
