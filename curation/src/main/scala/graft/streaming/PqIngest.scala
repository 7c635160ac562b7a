package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.{IndexStore, Similarity}

/** Streaming PQ ingest with encode-at-the-door — the code-side twin of
  * [[VectorIngest]], completing the streamed production topology: with
  * both twins running over the same drop directory, a new vector is
  * IVF-routable (cell assignment) AND ADC-scorable (PQ codes) from the
  * micro-batch it arrives in, so the full IVF-PQ probe
  * ([[Similarity.ivfPqTopK]]) covers streamed vectors without any
  * offline rebuild.
  *
  * Layout under `indexDir` — deliberately the [[IndexStore]] PQ layout
  * (manifest + `codebooks/` + `codes/`), with `codes/` split into
  * per-batch partition directories, so any session opens the streamed
  * index with plain `IndexStore.loadPq`:
  * {{{
  *   indexDir/_graft_index.json    IndexStore manifest (kind = pq)
  *   indexDir/codebooks/           fixed after the seeding batch
  *   indexDir/codes/batch=<N>/     one immutable slice per micro-batch
  *   indexDir/_max_batch           high-water marker ([[BatchMarker]])
  * }}}
  *
  * Per micro-batch, the [[VectorIngest]] discipline throughout:
  *  1. the FIRST batch seeds: [[Similarity.buildPqIndex]] trains the m
  *     subquantizers on it and publishes the codebooks — which then stay
  *     FIXED (codebooks drift with the distribution; the accepted
  *     practice is periodic offline retrain, and this path is the cheap
  *     encode between retrains);
  *  2. later batches encode against the standing codebooks via the
  *     shared [[Similarity.encodeWithCodebooks]] kernel (per-row native
  *     expressions over the codebook literal — cost scales with the
  *     batch), excluding vec_ids the index already holds from OTHER
  *     batches and tombstoned ids (the ban at the door);
  *  3. the slice lands under `codes/batch=<N>`, OVERWRITTEN on write,
  *     so a foreachBatch replay converges instead of double-appending;
  *     the high-water marker refuses a fresh-checkpoint stream.
  *
  * Maintenance composes unchanged because the layout IS an IndexStore
  * PQ dir: [[compact]] folds the slices, [[IndexStore.delete]] /
  * [[IndexStore.purgeDeletes]] handle opt-out (loadPq masks through the
  * same tombstone log).
  */
object PqIngest {

  final class Merger(spark: SparkSession, indexDir: String,
      m: Int = 8, k: Int = 16, logStats: Boolean = false,
      logDrift: Boolean = false) extends Serializable {

    private def part(sub: String) = s"$indexDir/$sub"
    private def fs(path: String) = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def codebooksReady: Boolean =
      fs(part("codebooks")).exists(new Path(part("codebooks")))

    // standing codes as of this batch's decision: every partition except
    // the batch's own (the [[VectorIngest.Merger]] rationale — the
    // overwrite is the single source of truth for a replayed batch)
    private def codesExcluding(batchId: Long): Option[DataFrame] = {
      val p = part("codes")
      if (!fs(p).exists(new Path(p))) None
      else Some(spark.read.option("basePath", p).parquet(p)
        .filter(col("batch") =!= batchId).drop("batch"))
    }

    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      require(!Compaction.inProgress(spark, part("codes")),
        s"compaction leftovers exist beside ${part("codes")} — the " +
          "stream must stay stopped while the index is compacted; run " +
          "Compaction.recoverTable first if the compaction crashed")
      val highWater = BatchMarker.guard(spark, indexDir, batchId)

      val sliceDir = s"${part("codes")}/batch=$batchId"
      // opt-in funnel telemetry — stages threaded to the shared
      // [[IngestLog.writeStages]] arithmetic after the slice write
      var banStage: Option[DataFrame] = None
      if (!codebooksReady) {
        // seed: train the subquantizers on the first batch and publish
        // the codebooks; the batch's own codes come from the same build.
        // Publish is write-aside + atomic rename ([[SeedPublish]]): the
        // codebooks are written once and then FIXED, and readiness is a
        // directory-existence test, so a direct write crashing
        // mid-commit would fix a partial codebook table forever
        val idx = Similarity.buildPqIndex(batch, m, k)
        SeedPublish.publish(spark,
          IndexStore.codebooksDf(spark, idx.codebooks), part("codebooks"))
        idx.codes.select("vec_id", "code")
          .write.mode(SaveMode.Overwrite).parquet(sliceDir)
        idx.release()
      } else {
        val books = IndexStore.readCodebooks(spark, indexDir)
        // ban at the door FIRST (the shared funnel order), incl. replays
        // of pre-purge batches via the retired `applied=` slices — the
        // VectorIngest discipline
        val afterBan = graft.etl.Tombstones.bannedAt(spark, indexDir,
          "vec_id", batchId) match {
          case Some(banned) =>
            val b = batch.join(banned, Seq("vec_id"), "left_anti")
            banStage = Some(b); b
          case None => batch
        }
        val fresh = codesExcluding(batchId) match {
          case Some(existing) => afterBan.join(
            existing.select("vec_id"), Seq("vec_id"), "left_anti")
          case None => afterBan
        }
        Similarity.encodeWithCodebooks(fresh, books)
          .write.mode(SaveMode.Overwrite).parquet(sliceDir)
      }
      if (logStats)
        IngestLog.writeStages(spark, indexDir, batchId, batch, banStage,
          sliceDir)
      // opt-in PER-BATCH drift telemetry, the [[VectorIngest]] logDrift
      // twin (r10 verdict #5 — the PQ door was the one ingest without
      // its own per-batch health number): the reconstruction error of
      // THIS batch's rows against the standing codebooks — O(batch)
      // (one batch-sized join of the just-written codes back onto the
      // arriving embeddings, per-row decode via the SHARED
      // sqReconstructionError fold), never the O(corpus) report, so
      // stream telemetry stays linear. Batch 0's row is the codebooks'
      // own training fit — the natural baseline. Replay-idempotent:
      // keyed batch=<N> and overwritten like the slice.
      if (logDrift) {
        val books = IndexStore.readCodebooks(spark, indexDir)
        spark.read.parquet(sliceDir)
          .join(batch.select("vec_id", "embedding"), "vec_id")
          .agg(count(lit(1)).as("n_vectors"),
            round(coalesce(
              sum(Similarity.sqReconstructionError(books)), lit(0.0)) /
              greatest(count(lit(1)).cast("double"), lit(1.0)), 6)
              .as("mean_sq_err"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${part("_drift_log")}/batch=$batchId")
      }

      val f = fs(indexDir)
      if (!f.exists(new Path(s"$indexDir/_graft_index.json")))
        IndexStore.writeMeta(spark, indexDir, "pq")

      BatchMarker.publish(spark, indexDir, batchId, highWater)
      graft.etl.Tombstones.sweepApplied(spark, indexDir,
        math.max(batchId, highWater))
    }

    /** The standing streamed index, immediately ADC-scorable from any
      * session — opened through the standard [[IndexStore.loadPq]].
      * Persisted for the index's lifetime; `release()` when done. */
    def index(): Similarity.PqIndex = IndexStore.loadPq(spark, indexDir)
  }

  /** The admission-funnel log (one row per committed batch) — present
    * only when the merger ran with `logStats = true`. Exact accounting:
    * arrived = redelivered + banned + inserted, per batch. */
  def ingestLog(spark: SparkSession, indexDir: String): DataFrame =
    IngestLog.read(spark, indexDir)

  /** The per-batch drift log (one row per committed batch: batch,
    * n_vectors, mean_sq_err) — present only when the merger ran with
    * `logDrift = true`. Batch 0 is the codebooks' training fit; see
    * [[IndexMaintenance.driftTrendPq]] for the baseline-normalized
    * read. */
  def driftLog(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.option("basePath", s"$indexDir/_drift_log")
      .parquet(s"$indexDir/_drift_log")
      .select(col("batch"), col("n_vectors"), col("mean_sq_err"))

  /** Fold the streamed index's per-batch `codes/batch=<N>` slices into
    * one consolidated slice; the stream must be STOPPED. ADC results and
    * `loadPq` are unchanged (content moves, rows don't), and replays
    * stay safe: `batch=-1` is outside the nonnegative streaming id
    * range, so redelivery exclusion counts it as standing corpus. */
  def compact(spark: SparkSession, indexDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit =
    Compaction.compactTable(spark, s"$indexDir/codes",
      targetPartitionBytes)

  /** Start the ingest over a drop-directory of parquet embedding files. */
  def start(spark: SparkSession, dropDir: String, indexDir: String,
      checkpointDir: String, m: Int = 8, k: Int = 16,
      logStats: Boolean = false, logDrift: Boolean = false): StreamingQuery = {
    val merger = new Merger(spark, indexDir, m, k, logStats, logDrift)
    spark.readStream
      .schema(graft.etl.CorpusSchemas.embeddings)
      .parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => merger.mergeBatch(b, id))
      .start()
  }
}
