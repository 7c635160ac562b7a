package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.Similarity

/** Streaming VECTOR ingest with cell assignment at the door — the
  * embedding-side twin of [[CorpusIngest]] (r7/r8 verdict #8): every
  * micro-batch of vectors is assigned to the standing IVF centroids as
  * it arrives, so streamed vectors are retrievable from the index
  * IMMEDIATELY — not after the next offline rebuild. This is
  * [[Similarity.IvfIndex.addBatch]] composed into Structured Streaming
  * with the text path's replay-idempotence discipline.
  *
  * Layout under `indexDir` — deliberately the [[graft.similarity.IndexStore]]
  * IVF layout (manifest + `centroids/` + `assigned/`), with `assigned/`
  * split into per-batch partition directories:
  * {{{
  *   indexDir/_graft_index.json     IndexStore manifest (kind = ivf)
  *   indexDir/centroids/            fixed after the seeding batch
  *   indexDir/assigned/batch=<N>/   one immutable slice per micro-batch
  *   indexDir/_max_batch            high-water marker (CorpusIngest protocol)
  * }}}
  * so a session that never saw the stream opens the ingested index with
  * plain `IndexStore.loadIvf(spark, indexDir)` — persistence of the
  * streamed index costs nothing beyond the ingest itself.
  *
  * Per micro-batch:
  *  1. the FIRST batch seeds: [[Similarity.buildIvfIndex]] trains the
  *     coarse quantizer on it (bounded-sample KMeans) and publishes the
  *     centroid table — which then stays FIXED, the addBatch contract
  *     (centroids drift with the distribution; the accepted practice is
  *     periodic offline rebuild, and this path is the cheap ingest
  *     between rebuilds);
  *  2. later batches assign against the standing centroids via the
  *     shared [[Similarity.assignToCells]] kernel (cost scales with the
  *     batch — the standing corpus is never re-assigned), EXCLUDING
  *     vec_ids the index already holds from OTHER batches, so a vector
  *     re-delivered across batches cannot enter twice;
  *  3. the slice lands under `assigned/batch=<N>`, OVERWRITTEN on
  *     write — a foreachBatch replay after a crash converges to the
  *     same content instead of double-appending (within-batch replay
  *     idempotence), and the high-water marker refuses a
  *     fresh-checkpoint stream pointed at an existing index (the
  *     [[CorpusIngest]] guard, same failure mode).
  */
object VectorIngest {

  final class Merger(spark: SparkSession, indexDir: String,
      nlist: Int = 16, logStats: Boolean = false,
      logDrift: Boolean = false) extends Serializable {

    private def part(sub: String) = s"$indexDir/$sub"
    private def fs(path: String) = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def centroidsReady: Boolean =
      fs(part("centroids")).exists(new Path(part("centroids")))

    // standing assignment as of this batch's decision: every partition
    // except the batch's own (a replayed batch would otherwise classify
    // its prior admissions as already-present and skip them — harmless —
    // but worse, a PARTIAL prior write would half-skip; excluding own
    // partitions makes the overwrite the single source of truth)
    private def assignedExcluding(batchId: Long): Option[DataFrame] = {
      val p = part("assigned")
      if (!fs(p).exists(new Path(p))) None
      else Some(spark.read.option("basePath", p).parquet(p)
        .filter(col("batch") =!= batchId).drop("batch"))
    }

    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      // a compaction in flight (or crashed) owns the assigned table: the
      // swap below the reader's feet would race the per-batch overwrite
      require(!Compaction.inProgress(spark, part("assigned")),
        s"compaction leftovers exist beside ${part("assigned")} — the " +
          "stream must stay stopped while the index is compacted; run " +
          "Compaction.recoverTable first if the compaction crashed")
      val highWater = BatchMarker.guard(spark, indexDir, batchId)

      val sliceDir = s"${part("assigned")}/batch=$batchId"
      // opt-in funnel telemetry: the counted stages, threaded to the
      // shared [[IngestLog.writeStages]] arithmetic after the slice write
      var banStage: Option[DataFrame] = None
      if (!centroidsReady) {
        // seed: train the coarse quantizer on the first batch and
        // publish the centroid table; the batch's own assignment comes
        // from the same build (identical to assignToCells against the
        // fresh centroids — the trainer's final assignment pass).
        // The centroids publish via write-aside + atomic rename: they
        // are written ONCE and then FIXED, and `centroidsReady` is a
        // directory-existence test — a direct write crashing mid-commit
        // would leave a PARTIAL centroid table the replay silently
        // adopts as the permanent quantizer (r9 review); with the
        // rename, existence implies the _SUCCESS-complete table
        val idx = Similarity.buildIvfIndex(batch, nlist)
        SeedPublish.publish(spark, idx.centroids.select("cell", "centroid"),
          part("centroids"))
        idx.assigned.select("vec_id", "embedding", "cell")
          .write.mode(SaveMode.Overwrite).parquet(sliceDir)
        idx.release()
      } else {
        val centroids = spark.read.parquet(part("centroids"))
        // the id BAN at the door runs FIRST (the CorpusIngest funnel
        // order — a tombstoned-and-redelivered id reads as a door
        // refusal, not a redelivery): a tombstoned vec_id stays out
        // until a purge makes the deletion physical (its physical row
        // may sit in this batch's OWN excluded partition, so the
        // standing-assignment anti-join alone cannot be relied on to
        // refuse it); a crash-REPLAY of a pre-purge batch stays banned
        // via the retired (`applied=`) slices
        val afterBan = graft.etl.Tombstones.bannedAt(spark, indexDir,
          "vec_id", batchId) match {
          case Some(banned) =>
            val b = batch.join(banned, Seq("vec_id"), "left_anti")
            banStage = Some(b); b
          case None => batch
        }
        val fresh = assignedExcluding(batchId) match {
          case Some(existing) => afterBan.join(
            existing.select("vec_id"), Seq("vec_id"), "left_anti")
          case None => afterBan
        }
        Similarity.assignToCells(fresh, centroids)
          .write.mode(SaveMode.Overwrite).parquet(sliceDir)
      }
      if (logStats)
        IngestLog.writeStages(spark, indexDir, batchId, batch, banStage,
          sliceDir)
      // opt-in PER-BATCH drift telemetry (the trend the driftReport
      // scaladoc prescribes but nothing previously recorded): the
      // quantization error of THIS batch's rows against the standing
      // centroids — O(batch) (one broadcast-centroid join over the
      // just-written slice), never the O(corpus) full report, so the
      // stream's total telemetry cost stays linear instead of
      // quadratic. Batch 0's row is the seed fit itself — the natural
      // baseline every later ratio reads against. Replay-idempotent:
      // the row is keyed batch=<N> and overwritten like the slice.
      if (logDrift) {
        val centroids = spark.read.parquet(part("centroids"))
        import graft.plans.{VectorExpressions => V}
        val d2 = V.dot(col("embedding"), col("embedding")) +
          V.dot(col("centroid"), col("centroid")) -
          lit(2.0) * V.dot(col("embedding"), col("centroid"))
        spark.read.parquet(sliceDir)
          .join(broadcast(centroids), "cell")
          .agg(count(lit(1)).as("n_vectors"),
            round(coalesce(sum(d2), lit(0.0)) /
              greatest(count(lit(1)).cast("double"), lit(1.0)), 6)
              .as("mean_sq_dist"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${part("_drift_log")}/batch=$batchId")
      }

      // IndexStore manifest, so the ingested index opens with loadIvf
      // from any session; written once the first slice is committed
      // (idempotent — the same bytes every time)
      val f = fs(indexDir)
      if (!f.exists(new Path(s"$indexDir/_graft_index.json")))
        graft.similarity.IndexStore.writeMeta(spark, indexDir, "ivf")

      BatchMarker.publish(spark, indexDir, batchId, highWater)
      graft.etl.Tombstones.sweepApplied(spark, indexDir,
        math.max(batchId, highWater))
    }

    /** The standing streamed index, immediately probe-able: all committed
      * slices + the fixed centroids, opened through the standard
      * [[graft.similarity.IndexStore.loadIvf]] (the layout IS an
      * IndexStore IVF directory — partition discovery folds the
      * per-batch slices into one assignment table). Persisted for the
      * index's lifetime; `release()` when done. */
    def index(): Similarity.IvfIndex =
      graft.similarity.IndexStore.loadIvf(spark, indexDir)
  }

  /** Fold the streamed index's per-batch `assigned/batch=<N>` slices into
    * one consolidated slice — [[Compaction.compactTable]] with this
    * layout's table; the stream must be STOPPED. Probe results and
    * [[graft.similarity.IndexStore.loadIvf]] are unchanged (content moves,
    * rows don't), and a later stream resume replays safely: the
    * consolidated `batch=-1` slice is outside Structured Streaming's
    * nonnegative id range, so redelivery exclusion always counts it as
    * standing corpus. */
  def compact(spark: SparkSession, indexDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit =
    Compaction.compactTable(spark, s"$indexDir/assigned",
      targetPartitionBytes)

  /** The admission-funnel log (one row per committed batch) — present
    * only when the merger ran with `logStats = true`. Exact accounting:
    * arrived = redelivered + banned + inserted, per batch. */
  def ingestLog(spark: SparkSession, indexDir: String): DataFrame =
    IngestLog.read(spark, indexDir)

  /** The per-batch drift log (one row per committed batch: batch,
    * n_vectors, mean_sq_dist) — present only when the merger ran with
    * `logDrift = true`. Batch 0 is the seed fit; see
    * [[IndexMaintenance.driftTrend]] for the baseline-normalized read. */
  def driftLog(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.option("basePath", s"$indexDir/_drift_log")
      .parquet(s"$indexDir/_drift_log")
      .select(col("batch"), col("n_vectors"), col("mean_sq_dist"))

  /** Logically delete `ids` (a frame carrying `vec_id`) from the index —
    * effective immediately for every probe opened through
    * [[graft.similarity.IndexStore.loadIvf]] (which masks through the
    * same log), and the ids are banned from re-admission; rewrites
    * nothing. Physical removal happens at [[purge]]. */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      reason: String = "optout"): Unit =
    graft.etl.Tombstones.add(spark, indexDir, ids, "vec_id", reason)

  /** Physically remove every tombstoned vector while compacting the
    * assigned table, then RETIRE exactly the tombstone slices applied —
    * log retired LAST, so a crash anywhere leaves the log still masking
    * and a re-run completes the purge; retiring (vs deleting) keeps the
    * door ban alive for the one still-replayable batch
    * ([[graft.etl.Tombstones.retire]]). The stream must be STOPPED. */
  def purge(spark: SparkSession, indexDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit = {
    val slices = graft.etl.Tombstones.slices(spark, indexDir)
    graft.etl.Tombstones.idsIn(spark, slices, "vec_id") match {
      case None => compact(spark, indexDir, targetPartitionBytes)
      case Some(ids) =>
        Compaction.compactTable(spark, s"$indexDir/assigned",
          targetPartitionBytes, dropIds = Some((ids, "vec_id")))
        graft.etl.Tombstones.retire(spark, indexDir, slices,
          BatchMarker.maxCommitted(spark, indexDir))
    }
  }

  /** Start the ingest over a drop-directory of parquet embedding files. */
  def start(spark: SparkSession, dropDir: String, indexDir: String,
      checkpointDir: String, nlist: Int = 16,
      logStats: Boolean = false, logDrift: Boolean = false): StreamingQuery = {
    val merger = new Merger(spark, indexDir, nlist, logStats, logDrift)
    spark.readStream
      .schema(graft.etl.CorpusSchemas.embeddings)
      .parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => merger.mergeBatch(b, id))
      .start()
  }
}
