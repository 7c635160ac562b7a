package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.CorpusSchemas

/** JSONL corpus interchange: the read and write halves for the curation
  * corpus. The SportsTV source readers stay in [[Sources]]. */
object CorpusSources {

  /** JSONL (newline-delimited JSON) corpus read — the interchange format
    * LLM training corpora actually ship in (one document object per line).
    * Schema is DECLARED, never inferred: inference costs a full extra pass
    * over 100 TB and silently widens types on dirty data. Same quarantine
    * discipline as the CSV path: PERMISSIVE + corrupt-record column, so a
    * torn line neither aborts the scan (FAILFAST) nor vanishes. Returns
    * (clean docs, quarantined raw lines); the shared input is persisted
    * through [[graft.Caches.persistReplacing]] keyed on the path, so
    * re-reading the same corpus replaces the one cached copy instead of
    * accumulating a MEMORY_AND_DISK entry per call (and
    * `Caches.releaseAll()` covers it at workload boundaries — no
    * caller-side unpersist contract). */
  def jsonlCorpus(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(
      CorpusSchemas.documents.fields :+ StructField("_corrupt_record", StringType))
    val raw = graft.Caches.persistReplacing(s"jsonlCorpus:$path",
      spark.read
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(withCorrupt)
        .json(path))
    val clean = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val quarantined = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantined)
  }

  /** JSONL corpus write (shard-per-partition, one JSON object per line) —
    * the export half of the interchange contract. Plain `df.write.json`
    * plus an explicit partition count so shard sizes are chosen, not
    * inherited from whatever the upstream shuffle left behind. */
  def writeJsonlCorpus(df: DataFrame, path: String, shards: Int): Unit =
    df.repartition(shards).write
      .mode(SaveMode.Overwrite)
      .json(path)
}
