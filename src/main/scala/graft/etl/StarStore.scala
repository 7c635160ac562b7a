package graft.etl

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Star-schema storage: partitioned parquet replacing the reference's MySQL
  * range partitioning (`createStarSchema.PractII.VarmaA.R:160-168`).
  *
  * The fact lives in a [[VersionedFactSink]] under `fact_streaming_summary`:
  * Hive `year=` directories — the analog of the reference's yearly
  * `PARTITION BY RANGE (date_id)` — so Catalyst prunes partitions for the
  * year-filtered analytics family (P6), files sorted by `date_id` within
  * each year, and atomic versioned commits in place of the reference's
  * transactional upserts. The reference's 8 secondary indexes have no
  * parquet equivalent; partition pruning + row-group min/max statistics
  * carry their query-speed role (SURVEY §4). Dims are read with their
  * declared schemas, so no read runs a schema-inference job.
  */
object StarStore {
  def factSink(dir: String): VersionedFactSink =
    new VersionedFactSink(s"$dir/fact_streaming_summary")

  /** The stream merge's raw valid rows ([[graft.streaming.StreamingIngest]]). */
  def stagingDir(dir: String): String = s"$dir/staging_valid_txns"

  /** Truncate-and-reload (S9): commit `fact` as the store's new version.
    * The merge staging describes the replaced fact, so it goes first: a
    * crash between the two steps leaves a committed fact without staging,
    * which a new merger refuses instead of merging from stale rows. */
  def writeFact(fact: DataFrame, dir: String): Unit = {
    val staging = new Path(stagingDir(dir))
    staging.getFileSystem(fact.sparkSession.sparkContext.hadoopConfiguration)
      .delete(staging, true)
    factSink(dir).writeFull(fact)
  }

  def writeDims(dimDate: DataFrame, dimCountry: DataFrame,
      dimSport: DataFrame, dir: String): Unit = {
    dimDate.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim_date")
    dimCountry.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim_country")
    dimSport.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim_sport")
  }

  def readFact(spark: SparkSession, dir: String): DataFrame = factSink(dir).read(spark)
  def readDimDate(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.dimDate).parquet(s"$dir/dim_date")
  def readDimCountry(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.dimCountry).parquet(s"$dir/dim_country")
  def readDimSport(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.dimSport).parquet(s"$dir/dim_sport")
}
