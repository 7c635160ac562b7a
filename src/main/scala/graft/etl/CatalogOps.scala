package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Catalog registration + schema verification — the Spark analog of the
  * reference's DDL entry point and its INFORMATION_SCHEMA/SHOW INDEX
  * checks (`createStarSchema.PractII.VarmaA.R:44-58, 177-250`, S10/S11).
  * Parquet+catalog replaces CREATE TABLE; verification reads
  * `spark.catalog` instead of server metadata. */
object CatalogOps {

  val starTables: Map[String, StructType] = Map(
    "fact_streaming_summary" -> Schemas.factStreamingSummary,
    "dim_date" -> Schemas.dimDate,
    "dim_country" -> Schemas.dimCountry,
    "dim_sport" -> Schemas.dimSport)

  /** Register the star schema from a written store as temp views, so the
    * analytics suite (and spark.sql) can address tables by name. */
  def registerStar(spark: SparkSession, dir: String): Unit = {
    StarStore.readFact(spark, dir).createOrReplaceTempView("fact_streaming_summary")
    StarStore.readDimDate(spark, dir).createOrReplaceTempView("dim_date")
    StarStore.readDimCountry(spark, dir).createOrReplaceTempView("dim_country")
    StarStore.readDimSport(spark, dir).createOrReplaceTempView("dim_sport")
  }

  /** Schema verification: every expected column present with the expected
    * type (partition-column round-trips may reorder; order is not part of
    * the contract). Throws on drift. */
  def verifySchemas(spark: SparkSession): Unit =
    starTables.foreach { case (name, expected) =>
      val actual = spark.table(name).schema
      val actualByName = actual.fields.map(f => f.name -> f.dataType).toMap
      expected.fields.foreach { f =>
        actualByName.get(f.name) match {
          case None =>
            throw Validate.ValidationError(s"$name: missing column ${f.name}")
          case Some(dt) if dt != f.dataType =>
            throw Validate.ValidationError(
              s"$name.${f.name}: expected ${f.dataType}, found $dt")
          case _ => ()
        }
      }
    }
}
