package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.functions.DateParts

/** Dimension builders (`loadAnalyticsDB.PractII.VarmaA.R:152-238`). */
object DimBuilder {

  /** dim_date from already-known bounds (e.g. the ETL's single-pass
    * accounting aggregate carries min/max — no extra source scan). Null
    * bounds (empty or all-unparseable input) give an empty spine. */
  def dimDateFromBounds(spark: SparkSession, min: java.sql.Date,
      max: java.sql.Date): DataFrame = {
    val bounds = spark.range(1)
      .select(lit(min).cast(DateType).as("d1"), lit(max).cast(DateType).as("d2"))
    fromBoundsDf(bounds)
  }

  private def fromBoundsDf(bounds: DataFrame): DataFrame = {
    val spine = bounds.select(
      explode(sequence(col("d1"), col("d2"), expr("interval 1 day"))).as("full_date"))
    DateParts.withDateParts(spine, col("full_date"))
      .select("date_id", "full_date", "year", "quarter", "month", "week",
        "day_of_month", "day_of_week")
  }

  /** dim_country: copied from the operational countries table (R:157-168). */
  def dimCountry(countries: DataFrame): DataFrame =
    countries.select(col("country_id"), col("country").as("country_name"))

  /** dim_sport covering BOTH the assets master and the sports that reached
    * the fact via prefix inference — without the inferred names, fact rows
    * whose sport exists only by inference would have no dimension row
    * (referential-integrity hole; the reference had this bug too, masked
    * by its inferred sports happening to exist in the master). */
  def dimSport(assets: DataFrame, fact: DataFrame): DataFrame =
    sportIds(assets
      .filter(col("sport").isNotNull && col("sport") =!= "")
      .select(col("sport").as("sport_name"))
      .unionByName(fact.select(col("sport_name"))))

  /** The reference minted sport_id via MySQL AUTO_INCREMENT
    * (non-reproducible); we pin it to name order (SURVEY §7 risk register).
    * The unpartitioned window is safe: sport cardinality is tiny by
    * construction. */
  private def sportIds(names: DataFrame): DataFrame =
    names.distinct()
      .withColumn("sport_id", row_number().over(Window.orderBy("sport_name")))
      .select("sport_id", "sport_name")
}
