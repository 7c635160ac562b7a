package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
      dimSport: DataFrame, stats: EtlStats)

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

  /** Run the full ETL. `txns` is the already-unioned transaction source.
    * One action computes the accounting; the fact plan stays lazy until
    * the caller writes or collects it. */
  def run(spark: SparkSession, txns: DataFrame, assets: DataFrame,
      subscribers: DataFrame, postal2city: DataFrame, cities: DataFrame,
      countries: DataFrame): EtlResult = {

    val userCountryMap = Transform.userCountry(subscribers, postal2city, cities)
    val assetSportMap = Transform.assetSport(assets)

    val enriched = Transform.enrich(txns, userCountryMap, assetSportMap)
    // one action over the source: retention stats AND the date bounds for
    // the dim_date spine come out of the same aggregate scan
    val (stats, minDate, maxDate) = decodeAccounting(
      Transform.accounting(enriched).head())

    val fact = Transform.rollup(Transform.qualityGate(enriched))

    EtlResult(
      fact = fact,
      dimDate = DimBuilder.dimDateFromBounds(spark, minDate, maxDate),
      dimCountry = DimBuilder.dimCountry(countries),
      dimSport = DimBuilder.dimSport(assets, fact),
      stats = stats)
  }

  /** Result of the SINGLE-PASS form: the accounting and dim-date bounds
    * arrive as observed metrics of the fact's own materialization —
    * call `finish()` AFTER an action on `fact` (a write, a collect). */
  final case class ObservedEtl(
      fact: DataFrame, dimCountry: DataFrame, dimSport: DataFrame,
      finish: () => (EtlStats, DataFrame))

  /** [[run]] without the separate accounting scan: the retention counters
    * and date bounds are attached to the enriched stream as an
    * `observe()` side-aggregate, so the source is read ONCE — the rollup's
    * own pass computes them for free. Same numbers as [[run]] (asserted in
    * EtlPipelineSpec); the trade is ergonomic: stats exist only after the
    * caller materializes the fact. */
  def runSinglePass(spark: SparkSession, txns: DataFrame, assets: DataFrame,
      subscribers: DataFrame, postal2city: DataFrame, cities: DataFrame,
      countries: DataFrame): ObservedEtl = {
    val userCountryMap = Transform.userCountry(subscribers, postal2city, cities)
    val assetSportMap = Transform.assetSport(assets)
    // auto-generated observation name: two runSinglePass results must stay
    // composable in one query (duplicate observed-metrics names are
    // rejected at analysis time)
    val obs = org.apache.spark.sql.Observation()
    val enriched = Transform.enrich(txns, userCountryMap, assetSportMap)
    val fact = Transform.rollup(Transform.qualityGate(
      enriched.observe(obs, Transform.accountingAggs.head,
        Transform.accountingAggs.tail: _*)))
    ObservedEtl(
      fact = fact,
      dimCountry = DimBuilder.dimCountry(countries),
      dimSport = DimBuilder.dimSport(assets, fact),
      finish = () => {
        // timed wait on the observation's OWN future — not
        // Await.result(Future(obs.get)): that form parks a forever-blocked
        // thread in the global pool on every premature call. Awaiting the
        // observation future blocks only the caller, releases on timeout,
        // and resolves immediately once any action on `fact` completes.
        val row = try {
          import scala.concurrent.Await
          import scala.concurrent.duration.DurationInt
          Await.result(obs.future, 10.seconds)
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalArgumentException(
              "no observed metrics after 10s — ObservedEtl.fact has not " +
                "been materialized yet (write/collect it first), or a " +
                "concurrent action is still executing; retry finish() " +
                "after it completes")
        }
        // with AQE on, a load whose gated output is empty (no input, or
        // every row dropped) has its plan replaced by an empty relation,
        // and the observation goes with it: it resolves to a zero-length
        // row. Only then, count the source in a pass of its own.
        val (stats, minDate, maxDate) = decodeAccounting(
          if (row.length > 0) row else Transform.accounting(enriched).head())
        (stats, DimBuilder.dimDateFromBounds(spark, minDate, maxDate))
      })
  }

  /** The one decoder of a [[Transform.accountingAggs]] row: the stats and
    * the source's min/max `event_date`. Over no rows the sums are NULL,
    * which unboxes to 0L. */
  private def decodeAccounting(row: Row): (EtlStats, java.sql.Date, java.sql.Date) = {
    def n(field: String): Long = row.getAs[Long](field)
    val stats = EtlStats(
      read = n("read"),
      missingCountry = n("missing_country"),
      recoveredByInference = n("recovered_by_inference"),
      missingSport = n("missing_sport"),
      missingDate = n("missing_date"),
      valid = n("valid"))
    (stats, row.getAs[java.sql.Date]("min_date"), row.getAs[java.sql.Date]("max_date"))
  }
}
