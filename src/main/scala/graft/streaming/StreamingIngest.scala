package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.etl.{FactSink, Schemas, StarStore, Transform}

/** Incremental/streaming ingestion — the generalization of the reference's
  * hand-rolled 50 K-row micro-batch loop with `ON DUPLICATE KEY UPDATE`
  * additive merge (`loadAnalyticsDB.PractII.VarmaA.R:305-428`, SURVEY
  * §2.10): a Structured Streaming file source over a transactions
  * drop-directory, the SAME batch Transform (code shared, not duplicated),
  * and a `foreachBatch` merge into the partitioned star schema.
  *
  * Merge contract: valid enriched rows append to a year-partitioned staging
  * store; the fact is then recomputed from staging FOR THE AFFECTED YEARS
  * ONLY and committed to the fact store ([[graft.etl.VersionedFactSink]])
  * as one atomic, copy-on-write version. This keeps the declared exact
  * `unique_user_count` semantic (SURVEY §5.2) — an additive fold of
  * per-batch distinct counts would double-count across batches, the
  * reference's acknowledged approximation — and makes late data for any
  * past date fold into its grain row, i.e. unbounded lateness tolerance
  * like the reference. Cost scales with the affected years' raw volume,
  * not total history. So the history must reach the fact through the
  * merger, which refuses a fact loaded without staging. A reload after
  * streaming (`StarStore.writeFact`) drops the staging with the fact it
  * replaces, so the next merger refuses that store as well.
  *
  * One query per store: staged batches are named by `batchId`, and a query
  * started from a new checkpoint numbers its batches from 0 again, so it
  * would overwrite an earlier query's staged batches and the next recompute
  * of their years would lose those rows. `start` therefore refuses a new
  * checkpoint over a store whose staging already holds batches; restart
  * the stream from its own checkpoint instead.
  */
object StreamingIngest {

  /** Per-batch merge logic, usable from foreachBatch or called directly.
    * The fact store is reached only through the [[graft.etl.FactSink]]
    * contract; by default it is the store's own fact. Constructing a
    * merger is a (re)start of the store's single writer, so it first
    * releases whatever a crashed commit left behind. */
  final class FactMerger(
      spark: SparkSession,
      storeDir: String,
      userCountryMap: DataFrame,
      assetSportMap: DataFrame,
      factSink: FactSink) extends Serializable {

    def this(spark: SparkSession, storeDir: String, userCountryMap: DataFrame,
        assetSportMap: DataFrame) =
      this(spark, storeDir, userCountryMap, assetSportMap, StarStore.factSink(storeDir))

    factSink.recover()

    private val stagingDir = StarStore.stagingDir(storeDir)
    // a merge recomputes its years from staging alone (see the object doc)
    if (factSink.currentVersion >= 0 && !Files.exists(Paths.get(stagingDir)))
      throw new IllegalStateException(s"the fact of $storeDir was loaded " +
        "without merge staging, so a merge would drop its rows: seed the " +
        "history through the merger (start the stream over it) instead")

    /** "Dimension maps are resolved once at start" (the reference's
      * lookup-map discipline) — but a lazy frame re-EXECUTES its
      * derivation (two joins + a groupBy over the subscriber base) inside
      * every micro-batch's broadcast build. So the merger persists both
      * maps itself: trigger 1 materializes them once and every later
      * trigger reads the cached blocks. Spark's cache manager keys entries
      * by plan: a second merger over identical dimensions reuses the same
      * entries, and one built over changed dimension rows (a different
      * plan) gets entries of its own, never the old map. A re-read of the
      * same dimension files is the same plan, so clear the cache after
      * rewriting them in place. Nothing releases a replaced merger's
      * entries: they stay cached until the session's cache is cleared
      * (`spark.catalog.clearCache()`) or the map is unpersisted. */
    private val ucMap = userCountryMap.persist(StorageLevel.MEMORY_AND_DISK)
    private val asMap = assetSportMap.persist(StorageLevel.MEMORY_AND_DISK)

    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val enriched = Transform.enrich(batch, ucMap, asMap)
      val valid = Transform.qualityGate(enriched)
        .withColumn("year", year(col("event_date")))
      // one directory per micro-batch, overwritten on write: a replayed
      // batch (foreachBatch redelivers after a crash) lands in the same
      // directory instead of double-appending — idempotent merge
      val batchDir = s"$stagingDir/batch=$batchId"
      valid.write.mode(SaveMode.Overwrite).partitionBy("year").parquet(batchDir)

      // affected years: read the year= partition directories just written —
      // re-deriving them from `valid` would run the whole enrichment twice
      val fs = new Path(batchDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val years = fs.listStatus(new Path(batchDir))
        .map(_.getPath.getName)
        .filter(_.startsWith("year="))
        .map(_.stripPrefix("year=").toInt)
      if (years.nonEmpty) {
        // the staged schema is `valid`'s, so no merge runs a footer-inference
        // job; `batch` still comes from the paths
        val raw = spark.read.schema(valid.schema)
          .option("basePath", stagingDir).parquet(stagingDir)
          .filter(col("year").isin(years.map(Integer.valueOf): _*))
          .drop("year", "batch")
        factSink.mergePartitions(Transform.rollup(raw))
      }
    }
  }

  /** Start the ingest stream over a drop-directory of parquet transaction
    * files. Dimension maps are resolved once at start (the reference loads
    * its lookup maps once per run, R:243-268). */
  def start(spark: SparkSession, dropDir: String, storeDir: String,
      assets: DataFrame, subscribers: DataFrame, postal2city: DataFrame,
      cities: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // a started query leaves `metadata` (its id) in its checkpoint
    val conf = spark.sparkContext.hadoopConfiguration
    val metadata = new Path(checkpointDir, "metadata")
    val staging = new Path(StarStore.stagingDir(storeDir))
    val stagingFs = staging.getFileSystem(conf)
    if (!metadata.getFileSystem(conf).exists(metadata) && stagingFs.exists(staging) &&
        stagingFs.listStatus(staging).exists(_.getPath.getName.startsWith("batch=")))
      throw new IllegalStateException(s"the staging of $storeDir already " +
        "holds another query's batches, which a query from a new checkpoint " +
        "would overwrite: restart the stream from its own checkpoint")
    val merger = new FactMerger(spark, storeDir,
      Transform.userCountry(subscribers, postal2city, cities),
      Transform.assetSport(assets))
    spark.readStream
      .schema(Schemas.streamingTxns)
      .parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, id: Long) => merger.mergeBatch(batch, id))
      .start()
  }
}
