package graft.etl

import org.apache.spark.sql.types._

/** Declared schemas for the SportsTV domain (SURVEY §1.1/§1.3).
  *
  * Operational-table schemas are reconstructed from the reference's SELECT
  * lists (`/root/reference/src/loadAnalyticsDB.PractII.VarmaA.R:321-326,
  * 247-260, 157`); the CSV layout is the hard-coded column list at
  * `loadAnalyticsDB.PractII.VarmaA.R:485-487`; the star schema mirrors the
  * DDL at `createStarSchema.PractII.VarmaA.R:71-169` with counts widened to
  * LongType for 100 TB scale.
  */
object Schemas {

  // ---- operational sources -------------------------------------------------
  val streamingTxns: StructType = StructType(Seq(
    StructField("transaction_id", LongType),
    StructField("user_id", StringType),
    StructField("asset_id", StringType),
    StructField("streaming_date", StringType), // parsed with try_cast in Transform.enrich
    StructField("minutes_streamed", IntegerType),
    StructField("completed", IntegerType)))

  val assets: StructType = StructType(Seq(
    StructField("asset_id", StringType),
    StructField("sport", StringType)))

  val subscribers: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("postal_code", StringType)))

  val postal2city: StructType = StructType(Seq(
    StructField("postal_code", StringType),
    StructField("city_id", IntegerType)))

  val cities: StructType = StructType(Seq(
    StructField("city_id", IntegerType),
    StructField("country_id", IntegerType)))

  val countries: StructType = StructType(Seq(
    StructField("country_id", IntegerType),
    StructField("country", StringType)))

  /** CSV export layout — 10 columns, 4 of which the pipeline prunes
    * (`subscriber_id, streaming_start_time, device_type, quality_streamed`
    * are read but never used, SURVEY §1.1). `completed` arrives as text. */
  val csvExport: StructType = StructType(Seq(
    StructField("transaction_id", LongType),
    StructField("subscriber_id", StringType),
    StructField("user_id", StringType),
    StructField("asset_id", StringType),
    StructField("streaming_date", StringType),
    StructField("streaming_start_time", StringType),
    StructField("minutes_streamed", IntegerType),
    StructField("device_type", StringType),
    StructField("quality_streamed", StringType),
    StructField("completed", StringType)))

  // ---- star schema ---------------------------------------------------------
  val dimDate: StructType = StructType(Seq(
    StructField("date_id", IntegerType, nullable = false),
    StructField("full_date", DateType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("quarter", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("week", IntegerType, nullable = false),
    StructField("day_of_month", IntegerType, nullable = false),
    StructField("day_of_week", IntegerType, nullable = false)))

  val dimCountry: StructType = StructType(Seq(
    StructField("country_id", IntegerType, nullable = false),
    StructField("country_name", StringType)))

  val dimSport: StructType = StructType(Seq(
    StructField("sport_id", IntegerType, nullable = false),
    StructField("sport_name", StringType, nullable = false)))

  /** Fact at (date_id, country_id, sport_name) grain; sport_name and the
    * time hierarchy are denormalized into the fact exactly as the reference
    * does (createStarSchema R:127,144-147). */
  val factStreamingSummary: StructType = StructType(Seq(
    StructField("date_id", IntegerType, nullable = false),
    StructField("country_id", IntegerType, nullable = false),
    StructField("sport_name", StringType, nullable = false),
    StructField("transaction_count", LongType, nullable = false),
    StructField("unique_user_count", LongType, nullable = false),
    StructField("total_minutes_streamed", LongType, nullable = false),
    StructField("completed_streams", LongType, nullable = false),
    StructField("avg_minutes_per_stream", DoubleType),
    StructField("year", IntegerType, nullable = false),
    StructField("quarter", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("week", IntegerType, nullable = false)))
}
