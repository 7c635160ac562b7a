package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fact-store merge contract (SURVEY §7): everything the ETL and the
  * streaming ingest need from fact storage. The store is
  * [[VersionedFactSink]], whose atomic, versioned commits carry the
  * reference's transactional upserts into a range-partitioned table; the
  * trait is the seam tests use to observe what the pipeline merges.
  */
trait FactSink extends Serializable {
  /** Truncate-and-reload (S9): replace the whole fact. */
  def writeFull(fact: DataFrame): Unit

  /** Additive upsert (S7): replace exactly the year partitions present in
    * `factSlice`, leaving every other partition untouched. Implementations
    * must be idempotent under replay of the same slice. */
  def mergePartitions(factSlice: DataFrame): Unit

  def read(spark: SparkSession): DataFrame

  /** The committed version, or -1 for an empty table. */
  def currentVersion: Int = -1

  /** Called when the writer (re)starts: clear what a crashed commit left. */
  def recover(): Unit = ()
}
