package graft.etl

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end SportsTV ETL (`loadAnalyticsDB.PractII.VarmaA.R`, entry point
  * 2 in SURVEY §3.2), as one Spark job.
  *
  * The reference's two hand-rolled 50 K-row micro-batch loops (SQLite
  * R:311-428, CSV R:446-589) are semantically a UNION ALL feeding one
  * aggregate (U1); callers union their sources via [[normalizeCsv]] +
  * `unionByName` and pass a single transactions frame. Partial/final
  * aggregation — which the reference split between R and MySQL's
  * `ON DUPLICATE KEY UPDATE` — is Spark's built-in hash-aggregate pair.
  */
object Pipeline {

  final case class EtlStats(
      read: Long, missingCountry: Long, recoveredByInference: Long,
      missingSport: Long, missingDate: Long, valid: Long) {
    def dropped: Long = read - valid
    def retention: Double = if (read == 0) 0.0 else valid.toDouble / read
  }

  final case class EtlResult(
      fact: DataFrame, dimDate: DataFrame, dimCountry: DataFrame,
      dimSport: DataFrame, stats: EtlStats) {
    /** The accounting and the dim_date spine, both known once [[run]] returns. */
    def finish(): (EtlStats, DataFrame) = (stats, dimDate)
  }

  /** CSV export → the 6 logical transaction columns (P1 pruning of the 4
    * dead columns; P5 text→int cast of `completed`, R:530). */
  def normalizeCsv(csv: DataFrame): DataFrame =
    csv.select(
      col("transaction_id").cast("long"),
      col("user_id"),
      col("asset_id"),
      col("streaming_date"),
      col("minutes_streamed").cast("int"),
      col("completed").cast("int"))

  /** Run the full ETL in one eager pass over `txns`, the already-unioned
    * transaction source: enrich, quality gate and rollup, with the
    * retention accounting and the dim-date bounds observed on the same
    * pass. The returned fact, and the dim_sport built over it, read that
    * pass's local checkpoint, never the source again. */
  def run(spark: SparkSession, txns: DataFrame, assets: DataFrame,
      subscribers: DataFrame, postal2city: DataFrame, cities: DataFrame,
      countries: DataFrame): EtlResult = {
    val obs = Observation() // auto-named: two loads may share one query
    val enriched = Transform.enrich(txns,
      Transform.userCountry(subscribers, postal2city, cities), Transform.assetSport(assets))
    // localCheckpoint, not persist: no cache-manager entry to release, and
    // the ContextCleaner frees the blocks with the frame
    val fact = Transform.rollup(Transform.qualityGate(
      enriched.observe(obs, Transform.accountingAggs.head,
        Transform.accountingAggs.tail: _*))).localCheckpoint()
    // the observation lands shortly AFTER the checkpoint's action returns
    val row = try Await.result(obs.future, 10.seconds) catch {
      case _: java.util.concurrent.TimeoutException => throw new IllegalStateException(
        "the observed accounting of the ETL's own pass did not arrive within 10 s")
    }
    // with AQE on, a load whose gated output is empty (no input, or every
    // row dropped) runs an empty relation and observes a zero-length row:
    // only then is the source counted in a pass of its own
    val (stats, minDate, maxDate) = decodeAccounting(
      if (row.length > 0) row else Transform.accounting(enriched).head())
    EtlResult(
      fact = fact,
      dimDate = DimBuilder.dimDateFromBounds(spark, minDate, maxDate),
      dimCountry = DimBuilder.dimCountry(countries),
      dimSport = DimBuilder.dimSport(assets, fact),
      stats = stats)
  }

  /** The same load as [[run]]; the name is kept for its callers. */
  def runSinglePass(spark: SparkSession, txns: DataFrame, assets: DataFrame,
      subscribers: DataFrame, postal2city: DataFrame, cities: DataFrame,
      countries: DataFrame): EtlResult =
    run(spark, txns, assets, subscribers, postal2city, cities, countries)

  /** The one decoder of a [[Transform.accountingAggs]] row: the stats and
    * the source's min/max `event_date`. Over no rows the sums are NULL,
    * which unboxes to 0L. */
  private def decodeAccounting(row: Row): (EtlStats, java.sql.Date, java.sql.Date) = {
    def n(field: String): Long = row.getAs[Long](field)
    (EtlStats(n("read"), n("missing_country"), n("recovered_by_inference"),
      n("missing_sport"), n("missing_date"), n("valid")),
      row.getAs[java.sql.Date]("min_date"), row.getAs[java.sql.Date]("max_date"))
  }
}
