package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup

/** Streaming corpus growth with deduplication at the door — the
  * continuous form of [[Dedup.incrementalDedup]]: every micro-batch of
  * documents is classified against the standing corpus and only genuinely
  * NEW documents are admitted, so the corpus stays deduplicated by
  * construction instead of requiring periodic re-clustering.
  *
  * The corpus ships with its own MATERIALIZED dedup index — fingerprints
  * and size-annotated shingle postings, appended per admitted batch — so
  * classification scans the compact 8-byte-keyed index instead of
  * re-tokenizing and re-shingling the entire text corpus on every
  * micro-batch (the cost model that survives a 100 TB corpus with a
  * 0.1% daily increment).
  *
  * Per micro-batch:
  *  1. batch-internal dedup: exact fingerprint keepers, then greedy
  *     near-dedup (the smaller doc_id of every near-pair survives) — the
  *     same page crawled twice in one batch cannot slip in as a permanent
  *     near-dup pair;
  *  2. [[Dedup.incrementalDedupAgainstIndex]] over the index, EXCLUDING
  *     the batch's own partitions — a replayed batch (foreachBatch
  *     redelivers after a crash) would otherwise classify its prior
  *     admissions as duplicates of themselves and silently delete them;
  *  3. docs with verdict `new` (plus their index rows) land under
  *     per-batch directories, OVERWRITTEN on write, so replays converge
  *     instead of double-appending.
  */
object CorpusIngest {

  final class Merger(spark: SparkSession, corpusDir: String,
      threshold: Double = 0.2,
      qualityMin: Option[Double] = None,
      logStats: Boolean = false) extends Serializable {

    private def part(sub: String) = s"$corpusDir/$sub"

    def corpus(): DataFrame = graft.etl.Tombstones.filterLive(spark,
      corpusDir,
      spark.read.option("basePath", part("docs")).parquet(part("docs"))
        .drop("batch"),
      "doc_id")

    // the reader sees the index as of the batch's admission decision:
    // every partition EXCEPT the batch's own. A missing dir means "no
    // corpus yet" (first batch seeds); any OTHER failure — corrupt files,
    // an index rewritten without batch= partitions — must fail the batch
    // loudly, not silently admit everything undeduplicated.
    private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // tombstoned docs are masked here too: a deleted document's
    // fingerprints and shingles stop influencing admission immediately
    // (its CONTENT no longer shadows future near-dups — the opt-out
    // semantic), even before the purge makes the deletion physical
    private def readExcluding(sub: String, batchId: Long): Option[DataFrame] =
      if (!fs(part(sub)).exists(new org.apache.hadoop.fs.Path(part(sub))))
        None
      else Some(graft.etl.Tombstones.filterLive(spark, corpusDir,
        spark.read.option("basePath", part(sub)).parquet(part(sub))
          .filter(col("batch") =!= batchId).drop("batch"),
        "doc_id"))

    def mergeBatch(rawBatch: DataFrame, batchId: Long): Unit = {
      // a compaction in flight (or crashed) owns the component tables:
      // the swap below the reader's feet would race the per-batch writes
      CorpusIngest.Tables.foreach { sub =>
        require(!Compaction.inProgress(spark, part(sub)),
          s"compaction leftovers exist beside ${part(sub)} — the stream " +
            "must stay stopped while the corpus is compacted; run " +
            "Compaction.recoverTable first if the compaction crashed")
      }
      // curation-at-ingest: the quality gate runs BEFORE any dedup work,
      // so junk neither costs shingle joins nor poisons the standing
      // index (a junk doc admitted once would shadow every future clean
      // near-dup of it). Stateless per row — identical semantics batch
      // or streaming, asserted in CorpusIngestSpec.
      val gated = qualityMin match {
        case Some(q) => rawBatch.filter(
          graft.text.TextAnalysis.qualityScore(col("text")) >= q)
        case None => rawBatch
      }
      // the id BAN at the door: a tombstoned doc_id redelivered by the
      // source (a re-crawl of an opted-out page) is refused admission —
      // the id stays out until a purge makes the deletion physical,
      // after which a deliberate re-submission in a NEW batch is a
      // fresh document again; a crash-REPLAY of a pre-purge batch stays
      // banned via the retired (`applied=`) slices it consults
      val banList = graft.etl.Tombstones.bannedAt(spark, corpusDir,
        "doc_id", batchId)
      val batch = banList match {
        case Some(banned) => gated.join(banned, Seq("doc_id"), "left_anti")
        case None => gated
      }
      // read ONCE up front (the shared fresh-checkpoint guard): the
      // marker rewrite at the end truncates the file first, so a later
      // re-read mid-method would see it empty
      val highWater = BatchMarker.guard(spark, corpusDir, batchId)
      // 1. within-batch dedup: exact keepers (one per fingerprint), then
      // greedy near-dedup — of every near-pair, the smaller doc_id
      // survives, so a page crawled twice in one batch can't enter the
      // corpus as a permanent near-dup pair
      val keepers = Dedup.exactGroups(batch)
        .select(col("keeper_doc_id").as("doc_id"))
      val exactDistinct = graft.Caches.persistReplacing("ingestBatch",
        batch.join(keepers, "doc_id"))
      val nearLosers = Dedup.ngramJaccardPairs(exactDistinct, threshold)
        .select(col("d2").as("doc_id")).distinct()
      val distinctBatch = exactDistinct.join(nearLosers, Seq("doc_id"), "left_anti")
      // 2. classify against the standing INDEX; 3. admit the new
      val admitted =
        (readExcluding("fps", batchId), readExcluding("shingles", batchId)) match {
          case (Some(fps), Some(postings)) =>
            distinctBatch.join(
              Dedup.incrementalDedupAgainstIndex(fps,
                postings.select(col("doc_id").as("cdoc"), col("g"), col("sz").as("csz")),
                distinctBatch, threshold)
                .filter(col("status") === "new").select("doc_id"),
              "doc_id")
          case _ => distinctBatch // first batch seeds the corpus
        }
      // safe to write lazily: every read excludes batch=`batchId`, so the
      // write targets and the files the plan reads are disjoint
      admitted.write.mode(SaveMode.Overwrite)
        .parquet(s"${part("docs")}/batch=$batchId")
      // 4. extend the index with exactly what was admitted — read back the
      // committed batch so the index derives from the same rows readers see
      val committed = spark.read.parquet(s"${part("docs")}/batch=$batchId")
      val (fps, postings) = Dedup.indexRows(committed)
      fps.write.mode(SaveMode.Overwrite)
        .parquet(s"${part("fps")}/batch=$batchId")
      postings.write.mode(SaveMode.Overwrite)
        .parquet(s"${part("shingles")}/batch=$batchId")
      // the BM25 index rows ride the same admitted batch (r10 verdict
      // #1): one extra tokenize of the ADMITTED docs — O(batch), small
      // against the dedup shingle work the batch already paid — and
      // every bm25*FromStore query call stops re-tokenizing the corpus.
      // Same replay-idempotent slice discipline; a store created before
      // these tables existed repairs through maintainCorpus → reindex.
      val (tfRows, dlRows) = graft.text.Retrieval.indexRows(committed)
      // bucket-clustered like every consolidated tf slice (Retrieval.
      // TfSortCols), so the scorers' pushed term-bucket filter skips row
      // groups in per-batch slices too, not only after a compaction
      tfRows.sortWithinPartitions(
          graft.text.Retrieval.TfSortCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${part("tf")}/batch=$batchId")
      dlRows.write.mode(SaveMode.Overwrite)
        .parquet(s"${part("dl")}/batch=$batchId")
      // the doc-keyed FORWARD index (round 14) rides the same admitted
      // batch: derived from the COMMITTED tf/dl slices (one batch-sized
      // join, no third tokenize) and doc-bucket-clustered so PRF's
      // feedback fetch seeks in per-batch slices too
      graft.text.Retrieval.fwdRows(
          spark.read.parquet(s"${part("tf")}/batch=$batchId"),
          spark.read.parquet(s"${part("dl")}/batch=$batchId"))
        .sortWithinPartitions(
          graft.text.Retrieval.FwdSortCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${part("fwd")}/batch=$batchId")
      // 5. optional admission-funnel telemetry: the per-batch numbers an
      // operator actually pages on (did the quality gate spike? is one
      // source suddenly 90% duplicates?), written as a replay-idempotent
      // slice of its own. Opt-in because the funnel costs a few extra
      // batch-sized count jobs per trigger; stages that provably changed
      // nothing (gate off, no ban list) reuse the upstream count instead
      // of re-running
      if (logStats) {
        val arrived = rawBatch.count()
        val afterGate = if (qualityMin.isDefined) gated.count() else arrived
        val afterBan = if (banList.isDefined) batch.count() else afterGate
        val unique = distinctBatch.count()
        val admittedN = committed.count()
        import spark.implicits._
        Seq((arrived, arrived - afterGate, afterGate - afterBan,
          afterBan - unique, unique - admittedN, admittedN))
          .toDF("arrived", "quality_rejected", "banned",
            "batch_dups", "corpus_dups", "admitted")
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${part("_ingest_log")}/batch=$batchId")
      }
      BatchMarker.publish(spark, corpusDir, batchId, highWater)
      // a committed id above an applied slice's purge-time high water
      // closes its replayable window — drop the retired ban
      graft.etl.Tombstones.sweepApplied(spark, corpusDir,
        math.max(batchId, highWater))
    }
  }

  /** The corpus's per-batch component tables, in compaction order: the
    * docs themselves, the dedup index (fps, shingles), and the lexical
    * index (tf, dl, and the doc-keyed fwd — round 14) — all
    * doc_id-keyed, so compaction, tombstone masking, and physical purge
    * treat them uniformly. */
  private[streaming] val Tables =
    Seq("docs", "fps", "shingles", "tf", "dl", "fwd")

  /** Each table's consolidated-slice clustering (the pushed-filter
    * file-skip layout): tf by term bucket, fwd by doc bucket. */
  private def sortColsFor(sub: String): Seq[String] = sub match {
    case "tf"  => graft.text.Retrieval.TfSortCols
    case "fwd" => graft.text.Retrieval.FwdSortCols
    case _     => Nil
  }

  /** The admission-funnel log (one row per committed batch, underscore
    * dir so no table scan or compaction ever sweeps it up) — present
    * only when the merger ran with `logStats = true`. Sums are exact
    * accounting: arrived = quality_rejected + banned + batch_dups +
    * corpus_dups + admitted, per batch. */
  def ingestLog(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.option("basePath", s"$corpusDir/_ingest_log")
      .parquet(s"$corpusDir/_ingest_log").orderBy("batch")

  /** Fold every per-batch slice of the corpus (docs, fingerprints,
    * shingle postings) into one consolidated slice per table —
    * [[Compaction.compactTable]] applied per component; the stream must
    * be STOPPED. Each table swaps independently and atomically, and a
    * crash between tables leaves every table internally complete
    * (compaction moves rows, it never changes them), so dedup decisions
    * and `corpus()` content are unchanged whichever subset compacted. */
  def compact(spark: SparkSession, corpusDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit =
    Tables.foreach(sub => Compaction.compactTable(spark,
      s"$corpusDir/$sub", targetPartitionBytes,
      sortBy = sortColsFor(sub)))

  /** Rebuild the corpus's DERIVED tables — fingerprints and shingle
    * postings — from the standing documents: the recovery/maintenance op
    * for a lost or corrupted index table, or for re-deriving after the
    * shingling scheme changes ([[graft.dedup.Dedup.indexRows]] is the
    * single source of the construction, so the rebuilt rows are exactly
    * what per-batch ingest would have written). The stream must be
    * STOPPED.
    *
    * Docs are folded to `batch=-1` FIRST ([[Compaction.compactTable]]):
    * rebuilt index rows land in one consolidated slice, and if any
    * per-batch docs slice survived, a later crash-replay of that batch
    * would see its own documents in the rebuilt (never-excluded) index,
    * classify them as duplicates, and OVERWRITE its docs slice with an
    * empty one — folding docs first removes the slice the replay could
    * destroy, the same convergence argument [[compact]] relies on. Each
    * derived table publishes via [[Compaction.publishSlice]] (write
    * aside, atomic swap, log-style recovery), and tombstoned docs are
    * masked out of the rebuild — a deleted doc's content stays without
    * influence. */
  def reindex(spark: SparkSession, corpusDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit = {
    val docsDir = s"$corpusDir/docs"
    Compaction.compactTable(spark, docsDir, targetPartitionBytes)
    val fsys = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fsys.exists(new org.apache.hadoop.fs.Path(docsDir)),
      s"$docsDir does not exist — nothing to reindex")
    val docs = graft.etl.Tombstones.filterLive(spark, corpusDir,
      spark.read.option("basePath", docsDir).parquet(docsDir).drop("batch"),
      "doc_id")
    val (fps, postings) = graft.dedup.Dedup.indexRows(docs,
      cacheKey = "reindexSh")
    // partition count from the table being replaced when it exists (the
    // best size estimate available), else from the docs it derives from
    def nParts(tableDir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(tableDir)
      val bytes = if (fsys.exists(p)) fsys.getContentSummary(p).getLength
        else fsys.getContentSummary(
          new org.apache.hadoop.fs.Path(docsDir)).getLength
      math.max(1L,
        (bytes + targetPartitionBytes - 1) / targetPartitionBytes).toInt
    }
    Compaction.publishSlice(spark, s"$corpusDir/fps", fps,
      nParts(s"$corpusDir/fps"))
    Compaction.publishSlice(spark, s"$corpusDir/shingles", postings,
      nParts(s"$corpusDir/shingles"))
    // the BM25 tables rebuild from the same standing docs — also the
    // UPGRADE path for a store created before the engine kept them
    val (tfRows, dlRows) = graft.text.Retrieval.indexRows(docs)
    Compaction.publishSlice(spark, s"$corpusDir/tf", tfRows,
      nParts(s"$corpusDir/tf"), sortBy = graft.text.Retrieval.TfSortCols)
    Compaction.publishSlice(spark, s"$corpusDir/dl", dlRows,
      nParts(s"$corpusDir/dl"))
    // the forward index rebuilds from the freshly PUBLISHED tf/dl (one
    // index-sized join, no third tokenize) — also the upgrade path for
    // a pre-round-14 store (maintainCorpus flags the missing table)
    spark.catalog.refreshByPath(s"$corpusDir/tf")
    spark.catalog.refreshByPath(s"$corpusDir/dl")
    def published(sub: String) =
      spark.read.option("basePath", s"$corpusDir/$sub")
        .parquet(s"$corpusDir/$sub").drop("batch")
    Compaction.publishSlice(spark, s"$corpusDir/fwd",
      graft.text.Retrieval.fwdRows(published("tf"), published("dl")),
      math.max(nParts(s"$corpusDir/fwd"), nParts(s"$corpusDir/tf")),
      sortBy = graft.text.Retrieval.FwdSortCols)
  }

  /** Logically delete `ids` (a frame carrying `doc_id`) from the corpus —
    * the opt-out entry point. Effective immediately: the docs vanish from
    * [[Merger.corpus]], their fingerprints/shingles stop shadowing future
    * admissions, and the ids are banned from re-admission; rewrites
    * nothing (a tombstone-log append, [[graft.etl.Tombstones]]). Safe
    * while the stream runs. Physical removal happens at [[purge]]. */
  def delete(spark: SparkSession, corpusDir: String, ids: DataFrame,
      reason: String = "optout"): Unit =
    graft.etl.Tombstones.add(spark, corpusDir, ids, "doc_id", reason)

  /** Physically remove every tombstoned doc from all three component
    * tables, riding a [[compact]] (the Delta DELETE-at-OPTIMIZE shape),
    * then RETIRE exactly the tombstone slices applied. The stream must
    * be STOPPED. Crash-safe end to end: the log is retired LAST, so a
    * crash after any subset of tables leaves the log still masking the
    * survivors, and re-running purge is the complete repair (anti-joining
    * already-purged ids is a no-op). Retiring (not deleting) keeps the
    * door ban alive for the one batch that may still crash-replay after
    * the purge — [[graft.etl.Tombstones.retire]] — so a replay cannot
    * resurrect opted-out docs; the retired slices are swept once a later
    * batch commits. Tombstones added concurrently are not retired and
    * apply on the next purge. */
  def purge(spark: SparkSession, corpusDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit = {
    val slices = graft.etl.Tombstones.slices(spark, corpusDir)
    graft.etl.Tombstones.idsIn(spark, slices, "doc_id") match {
      case None => compact(spark, corpusDir, targetPartitionBytes)
      case Some(ids) =>
        Tables.foreach(sub => Compaction.compactTable(spark,
          s"$corpusDir/$sub", targetPartitionBytes,
          dropIds = Some((ids, "doc_id")),
          sortBy = sortColsFor(sub)))
        graft.etl.Tombstones.retire(spark, corpusDir, slices,
          BatchMarker.maxCommitted(spark, corpusDir))
    }
  }

  /** Start the ingest over a drop-directory of parquet document files. */
  def start(spark: SparkSession, dropDir: String, corpusDir: String,
      checkpointDir: String, threshold: Double = 0.2,
      qualityMin: Option[Double] = None,
      logStats: Boolean = false): StreamingQuery = {
    val merger = new Merger(spark, corpusDir, threshold, qualityMin, logStats)
    spark.readStream
      .schema(graft.etl.CorpusSchemas.documents)
      .parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => merger.mergeBatch(b, id))
      .start()
  }
}
