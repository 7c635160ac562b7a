package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streamed hybrid SERVING (round 11) — the read-side twin of the
  * streamed ingests: retrieval requests arrive as parquet files in a
  * drop directory (`(query_id, query_text, embedding)` —
  * [[graft.etl.CorpusSchemas.queryRequests]]), each micro-batch is answered
  * off the PERSISTED stores alone
  * ([[graft.text.Retrieval.hybridTopKFromStoresExternal]]: saved IVF-PQ
  * pair + stored BM25 frames + RRF), and the fused shortlists append to
  * a results store as replay-idempotent per-batch slices.
  *
  * Why this is the right shape at 100 TB: the corpus-sized costs live
  * entirely in the stores the INGEST side maintains — a serving batch
  * pays the PQ probe over stored codes, term-keyed integer aggregates
  * over stored tf/dl, and a shortlist-sized fusion, all request-bounded
  * work that scales with the query stream, not the corpus. Store loads
  * amortize across batches for free: the loaded assignment persists in
  * the plan-keyed cache registry, and an unchanged store re-resolves to
  * the same persisted frame on the next trigger.
  *
  * Durability follows the ingest discipline exactly:
  *  - each batch's results land as `served/batch=<id>` via an
  *    idempotent per-slice overwrite — a foreachBatch crash-replay
  *    rewrites its own slice and converges;
  *  - the [[BatchMarker]] high-water guard refuses a fresh-checkpoint
  *    stream pointed at an existing results store;
  *  - every served row carries PROVENANCE (round 12): the request batch
  *    id as a DATA column (`req_batch` — unlike the `batch` partition
  *    column it survives compaction, so it is the consumer's durable
  *    resume watermark AND what lets retention age rows out of the
  *    consolidated slice), the dials that produced the row
  *    (`nprobe`/`rerank`/`k_rrf`), and the two store high-water marks
  *    (`corpus_watermark`/`index_watermark`, −1 for a non-streamed
  *    store) — a delivery log a consumer audits later can say exactly
  *    which index state and tuning answered each request.
  *
  * Dials come from the maintenance loop when it has them (round 12,
  * r11 verdict #2): a post-retrain
  * [[IndexMaintenance.maintain]]`(recommend = …)` persists its
  * SLA-frontier recommendation as a `_dials` table beside the IVF
  * index, and a server constructed without explicit dials reads it at
  * stream start — explicit arguments override, and a store with no
  * recommendation serves at the defaults. Restart the server after a
  * maintenance retrain to pick up fresh dials (resolution is at start,
  * not per trigger: a mid-stream dial flip would make two replays of
  * one batch legitimately differ, breaking replay convergence).
  *
  * Serving is NOT registered as idempotent against corpus change — two
  * serves of one query across a store mutation legitimately differ
  * (that is what serving means); what is pinned is replay idempotence
  * (same batch, same store state → byte-identical slice) and
  * stream ≡ batch (the union of streamed slices equals one direct serve
  * over the same requests — per-query decomposability, the
  * chunkedByQuery property, is exactly what a micro-batch split is).
  * QueryServeSpec pins both plus the high-water refusal. */
object QueryServe {

  /** The on-disk schema of every served slice (data columns in write
    * order, then the `batch` partition column parquet discovery
    * appends) — also the schema every [[results]] read IMPOSES (round
    * 14, r13 ADVICE): a long-lived results store accumulates slices
    * from several engine rounds (round 13 added `fused_lists`, round 14
    * `lm_rank`), and a schema inferred from ONE footer would make which
    * columns resolve depend on file order. Imposing this schema makes
    * every mixed store read deterministically — columns a slice
    * predates are null on its rows. */
  private[graft] val servedSchema: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("rank", IntegerType),
    StructField("doc_id", LongType), StructField("rrf", DoubleType),
    StructField("dense_rank", IntegerType),
    StructField("sparse_rank", IntegerType),
    StructField("lm_rank", IntegerType),
    StructField("n_lists", IntegerType),
    StructField("req_batch", LongType),
    StructField("nprobe", IntegerType), StructField("rerank", IntegerType),
    StructField("k_rrf", IntegerType),
    StructField("fused_lists", StringType),
    StructField("corpus_watermark", LongType),
    StructField("index_watermark", LongType),
    StructField("batch", IntegerType)))

  private def fs(spark: SparkSession, path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDirs(spark: SparkSession, resultsDir: String): Seq[Path] = {
    val p = new Path(s"$resultsDir/served")
    val f = fs(spark, resultsDir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).toSeq
      .filter(_.getName.startsWith("batch="))
  }

  /** The per-batch server; shared by [[start]] and direct calls in
    * specs/replays (the Merger discipline). `nprobe`/`rerank`/`kRrf`
    * default to the maintenance loop's persisted `_dials`
    * recommendation beside the IVF index when one exists, else
    * (4, 50, 60); explicit arguments always win. BM25's k1/b are NOT
    * dials (see [[IndexMaintenance.Dials]]; the LM list's Dirichlet μ
    * and PRF's fbDocs/fbTerms fall under the same ruling): they define
    * the deployment's scoring semantics and stay at the API contract
    * defaults. `lists` picks the serve mode — any non-empty subset of
    * [[graft.text.Retrieval.ServeLists]] (round 14 added "lm" and
    * N-list fusions): `Seq("dense", "sparse")` (the default 2-list
    * hybrid, value-identical to every prior round's slices),
    * single-list modes, `Seq("sparse", "lm")` (no dense stores
    * touched), or all three — recorded per row in the `fused_lists`
    * provenance column in canonical order. */
  final class Server(spark: SparkSession, corpusDir: String,
      ivfDir: String, pqDir: String, resultsDir: String,
      k: Int = 10, nprobe: Option[Int] = None, rerank: Option[Int] = None,
      kRrf: Option[Int] = None,
      lists: Seq[String] = Seq("dense", "sparse")) {

    // resolved ONCE at construction (= stream start): a per-trigger
    // re-read would let a mid-stream dial flip make two replays of one
    // batch differ, breaking the replay-convergence invariant
    private val stored = IndexMaintenance.readDials(spark, ivfDir)
    private[streaming] val resolvedNprobe: Int =
      nprobe.orElse(stored.map(_.nprobe)).getOrElse(4)
    private[streaming] val resolvedRerank: Int =
      rerank.orElse(stored.map(_.rerank)).getOrElse(50)
    private[streaming] val resolvedKRrf: Int =
      kRrf.orElse(stored.flatMap(_.kRrf)).getOrElse(60)

    def serveBatch(batch: DataFrame, batchId: Long): Unit = {
      val highWater = BatchMarker.guard(spark, resultsDir, batchId)
      if (batch.isEmpty) { BatchMarker.publish(spark, resultsDir, batchId,
        highWater); return }
      // a non-empty replay of the high-water batch whose own slice is
      // gone but a consolidated slice exists can only mean the batch
      // was folded by a compaction between the crash and the restart —
      // rewriting served/batch=<id> would DUPLICATE its rows against
      // the copy inside batch=-1, so it is refused like a pruned batch
      // (ADVICE r11). An empty replay already returned above: it
      // writes nothing, so it converges trivially. The OTHER fold
      // window — a slice written but not yet published, then folded —
      // cannot occur: [[compact]]/[[maintainResults]] refuse to fold a
      // slice above the committed high water (r12 ADVICE).
      val f = fs(spark, resultsDir)
      if (batchId == highWater &&
          !f.exists(new Path(s"$resultsDir/served/batch=$batchId")) &&
          f.exists(new Path(s"$resultsDir/served/batch=-1")))
        throw new IllegalArgumentException(
          s"batch $batchId was folded into the consolidated batch=-1 " +
            s"slice by a compaction of $resultsDir — a replay would " +
            "duplicate its rows (they are in batch=-1, see req_batch); " +
            "compact only after the stream's last batch is " +
            "checkpoint-committed, or serve into a fresh results store")
      // a long-running server must DEGRADE to chunked execution on an
      // oversized request batch, not crash-loop the stream on the same
      // poison file at every restart (round 13, r11 verdict #1): the
      // auto-chunker sizes the split off the very cap whose refusal
      // would have killed the trigger, runs the serve per chunk (the
      // hybrid is per-query decomposable), and a batch under the cap
      // runs as the direct call — zero overhead on the normal path
      val out = graft.similarity.Similarity.chunkedByQueryFrameAuto(
        batch, idCol = "query_id")(chunk =>
        graft.text.Retrieval.hybridTopKFromStoresExternal(spark,
          corpusDir, ivfDir, pqDir, chunk, k = k, nprobe = resolvedNprobe,
          rerank = resolvedRerank, kRrf = resolvedKRrf, lists = lists))
        // provenance (constant per batch, RLE-compressed to nothing):
        // req_batch is the durable watermark; the dials + mode + store
        // marks say which tuning and index state produced the row
        .withColumn("req_batch", lit(batchId))
        .withColumn("nprobe", lit(resolvedNprobe))
        .withColumn("rerank", lit(resolvedRerank))
        .withColumn("k_rrf", lit(resolvedKRrf))
        .withColumn("fused_lists", lit(graft.text.Retrieval.ServeLists
          .filter(lists.contains).mkString("+")))
        .withColumn("corpus_watermark",
          lit(BatchMarker.maxCommitted(spark, corpusDir)))
        .withColumn("index_watermark",
          lit(BatchMarker.maxCommitted(spark, ivfDir)))
      out.write.mode(SaveMode.Overwrite)
        .parquet(s"$resultsDir/served/batch=$batchId")
      BatchMarker.publish(spark, resultsDir, batchId, highWater)
    }
  }

  /** Start serving a drop-directory of parquet request files.
    * `nprobe`/`rerank`/`kRrf` omitted → the `_dials` recommendation
    * beside the IVF index (when the maintenance loop has persisted
    * one), else the (4, 50, 60) defaults. `lists` picks the serve mode
    * (hybrid / dense-only / sparse-only — see [[Server]]).
    *
    * `maxFilesPerTrigger` (round 13) bounds how many request FILES one
    * trigger folds into a batch — the admission control in front of
    * the chunked executor: the chunker bounds a single batch's
    * broadcast memory by time-slicing it, but a cold start over a
    * backlog of thousands of dropped files would still build one giant
    * batch whose every chunk pass replays at a crash; a file bound
    * turns the backlog into normal-sized, individually-committed
    * batches instead. None = Spark's default (all available files). */
  def start(spark: SparkSession, dropDir: String, corpusDir: String,
      ivfDir: String, pqDir: String, resultsDir: String,
      checkpointDir: String, k: Int = 10, nprobe: Option[Int] = None,
      rerank: Option[Int] = None, kRrf: Option[Int] = None,
      lists: Seq[String] = Seq("dense", "sparse"),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val server = new Server(spark, corpusDir, ivfDir, pqDir, resultsDir,
      k, nprobe, rerank, kRrf, lists)
    val reader = spark.readStream
      .schema(graft.etl.CorpusSchemas.queryRequests)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(dropDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => server.serveBatch(b, id))
      .start()
  }

  /** The consumer's RESUME read (round 13): all served rows with
    * `req_batch > sinceReqBatch` — the watermark a downstream consumer
    * persists is the max `req_batch` it has processed, because unlike
    * the `batch` partition column it survives compaction and retention
    * folds. Reading an untouched store returns the empty typed frame,
    * like [[results]]. */
  def resultsSince(spark: SparkSession, resultsDir: String,
      sinceReqBatch: Long): DataFrame =
    results(spark, resultsDir).filter(col("req_batch") > sinceReqBatch)

  /** All served results, `batch` partition column included. A store
    * where no non-empty batch has committed yet — `served/` missing
    * (only empty batches published markers), or present but pruned to
    * zero slices — reads as an EMPTY frame with the served schema, not
    * an error (ADVICE r11): "nothing delivered yet" is a normal state
    * of a delivery log. Consumers should resume on `req_batch` (the
    * data column), which survives compaction; `batch` is slice layout. */
  def results(spark: SparkSession, resultsDir: String): DataFrame = {
    val p = s"$resultsDir/served"
    if (batchDirs(spark, resultsDir).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], servedSchema)
    // schema IMPOSED, not inferred (round 14, r13 ADVICE): a store
    // holding pre-round-13/14 slices beside new ones reads the same
    // columns in any file order — old rows carry null for the columns
    // their slice predates
    else spark.read.schema(servedSchema).option("basePath", p).parquet(p)
  }

  /** Refuse maintenance over a slice the stream never COMMITTED (round
    * 13, r12 ADVICE): a crash between the slice write and the marker
    * publish leaves `served/batch=N` with the marker at N−1. Folding
    * that orphan into batch=-1 would make the stream's replay of batch
    * N — which passes the high-water guard (N > N−1) and the straddle
    * check (it looks like a fresh batch) — DUPLICATE its rows against
    * the consolidated copy. The orphan's owner is the stream: restart
    * it, the replay rewrites and commits the slice, then maintain. */
  private def refuseUncommittedSlices(spark: SparkSession,
      resultsDir: String): Unit = {
    val hw = BatchMarker.maxCommitted(spark, resultsDir)
    val orphans = batchDirs(spark, resultsDir)
      .map(_.getName.stripPrefix("batch=").toLong)
      .filter(id => id >= 0 && id > hw)
    require(orphans.isEmpty,
      s"served slice(s) batch=${orphans.sorted.mkString(", batch=")} of " +
        s"$resultsDir sit ABOVE the committed high-water marker ($hw): " +
        "the serving stream crashed between a slice write and its marker " +
        "publish, and folding the uncommitted slice would duplicate its " +
        "rows against the replay's rewrite — restart the stream (the " +
        "replay rewrites and commits it), then run maintenance")
  }

  /** Fold the per-trigger result slices into one byte-sized consolidated
    * slice (the [[Compaction.compactTable]] discipline — a long-lived
    * serving stream otherwise accumulates one small-file slice per
    * trigger). The per-row content is unchanged; compacted history reads
    * as `batch = -1` with the original batch id still in `req_batch`.
    * The replay guard is untouched — the high water lives in the
    * `_max_batch` marker, not the column — and a crash-replay of a
    * folded batch is REFUSED by [[Server.serveBatch]]'s straddle check
    * (its rows already live in the consolidated slice); an UNCOMMITTED
    * slice refuses the fold outright (r12 ADVICE — the other replay
    * window). The stream must be STOPPED. */
  def compact(spark: SparkSession, resultsDir: String,
      targetPartitionBytes: Long = 128L * 1024 * 1024): Unit = {
    Compaction.recoverTable(spark, s"$resultsDir/served")
    refuseUncommittedSlices(spark, resultsDir)
    Compaction.compactTable(spark, s"$resultsDir/served",
      targetPartitionBytes)
  }

  /** Retention: drop the served slices of batches BELOW `keepFrom` —
    * results are a delivery log, not a system of record, and consumed
    * history is dead weight a serving tier prunes on a schedule. Only
    * real per-batch slices (`batch >= 0`) are pruned; a consolidated
    * `batch=-1` slice holds mixed history and never matches (use
    * [[maintainResults]] to age ITS rows out by `req_batch`). The
    * high-water marker survives, so a crash-replay of a pruned batch is
    * still REFUSED rather than resurrected. The stream must be
    * STOPPED. */
  def prune(spark: SparkSession, resultsDir: String, keepFrom: Long): Unit = {
    require(keepFrom >= 0, s"keepFrom must be >= 0 (got $keepFrom)")
    batchDirs(spark, resultsDir)
      .filter { d =>
        val id = d.getName.stripPrefix("batch=").toLong
        id >= 0 && id < keepFrom
      }
      .foreach(d => fs(spark, resultsDir).delete(d, true))
  }

  /** ONE scheduled maintenance cycle for the results store (r11 verdict
    * #4 — the read-side analog of [[IndexMaintenance.maintain]]),
    * replacing the by-hand stop→compact→prune choreography with a
    * policy op: keep the last `retainLast` request batches, drop
    * everything older, and leave the store in ONE consolidated slice.
    *
    *  1. repair any crashed prior compaction ([[Compaction.recoverTable]]);
    *  2. compute `keepFrom = highWater − retainLast + 1` off the batch
    *     marker and [[prune]] the real slices below it;
    *  3. fold the survivors — retained real slices AND the previous
    *     consolidated slice — into a fresh `batch=-1`, dropping rows
    *     whose `req_batch` is below the window (this is what makes the
    *     cycle's storage BOUNDED: without the `req_batch` filter every
    *     fold would carry the prior fold's rows forever, and the
    *     consolidated slice would grow with uptime instead of with the
    *     retention window).
    *
    * Replay discipline across the cycle: the marker is untouched, a
    * pruned batch's replay is refused by the high-water guard, and a
    * folded high-water batch's replay is refused by the straddle check
    * — nothing is ever resurrected or double-delivered. An always-on
    * tier alternates serve sessions with this op (stream STOPPED, like
    * every maintenance entry); QueryServeSpec drives that loop and pins
    * the storage bound.
    *
    * Returns a 1-row report
    * `(executed, high_water, keep_from, slices_before, slices_after,
    * rows_retained)`; a store with no committed non-empty batch is a
    * no-op (`executed = false`). */
  def maintainResults(spark: SparkSession, resultsDir: String,
      retainLast: Int = 10,
      targetPartitionBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(retainLast >= 1, s"retainLast must be >= 1 (got $retainLast)")
    import spark.implicits._
    val servedDir = s"$resultsDir/served"
    Compaction.recoverTable(spark, servedDir)
    refuseUncommittedSlices(spark, resultsDir)
    val hw = BatchMarker.maxCommitted(spark, resultsDir)
    val before = batchDirs(spark, resultsDir)
    if (hw < 0L || before.isEmpty)
      return Seq((false, hw, -1L, before.size.toLong, before.size.toLong, 0L))
        .toDF("executed", "high_water", "keep_from", "slices_before",
          "slices_after", "rows_retained")
    val keepFrom = math.max(0L, hw - retainLast + 1)
    prune(spark, resultsDir, keepFrom)
    // every slice may have been pruned away (the retained batches were
    // all empty — markers only): nothing to fold, and a parquet read of
    // a slice-less dir would die on schema inference
    if (batchDirs(spark, resultsDir).isEmpty)
      return Seq((true, hw, keepFrom, before.size.toLong, 0L, 0L))
        .toDF("executed", "high_water", "keep_from", "slices_before",
          "slices_after", "rows_retained")
    // fold survivors, aging consolidated history out by req_batch; the
    // frame reads the live dir lazily while publishSlice writes aside,
    // so the swap discipline covers a crash at any point. Schema
    // IMPOSED (round 14): the fold of a mixed-round store must carry
    // every column — inferring from one footer could silently drop a
    // newer round's provenance columns from the consolidated slice
    val kept = spark.read.schema(servedSchema)
      .option("basePath", servedDir).parquet(servedDir)
      .drop("batch")
      .filter(col("req_batch") >= keepFrom)
    val f = fs(spark, resultsDir)
    val bytes = f.getContentSummary(new Path(servedDir)).getLength
    val nParts = math.max(1L,
      (bytes + targetPartitionBytes - 1) / targetPartitionBytes).toInt
    Compaction.publishSlice(spark, servedDir, kept, nParts)
    val after = batchDirs(spark, resultsDir)
    val rows = spark.read.option("basePath", servedDir).parquet(servedDir)
      .count() // bounded: the retention window's rows, never full history
    Seq((true, hw, keepFrom, before.size.toLong, after.size.toLong, rows))
      .toDF("executed", "high_water", "keep_from", "slices_before",
        "slices_after", "rows_retained")
  }
}
