package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.etl.{Pipeline, Schemas, StarStore}

/** Streaming == batch on a closed input (SURVEY §7 M6 / Q16 contract):
  * the stream-ingested star schema must equal the batch pipeline's, and
  * the tumbling daily window must reproduce the batch daily rollup. */
class StreamingSpec extends SparkTestBase {

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val countries = df(Schemas.countries, Row(1, "Norway"), Row(2, "Finland"))
  private lazy val cities = df(Schemas.cities, Row(10, 1), Row(20, 2))
  private lazy val postal2city = df(Schemas.postal2city, Row("P1", 10), Row("P2", 20))
  private lazy val subscribers = df(Schemas.subscribers, Row("u1", "P1"), Row("u2", "P2"))
  private lazy val assets = df(Schemas.assets,
    Row("DEL-001", "Ice Hockey"), Row("SKJ-001", "Ski Jumping"))

  // 3 "arrivals": out-of-order dates incl. a late row for an already-seen
  // day, and a cross-year boundary — the reference's unbounded lateness.
  private lazy val batches = Seq(
    Seq(Row(1L, "u1", "DEL-001", "2021-12-31", 30, 1),
      Row(2L, "u2", "SKJ-001", "2022-01-01", 40, 1)),
    Seq(Row(3L, "u2", "DEL-001", "2022-01-02", 20, 0),
      Row(4L, "u1", "OXXX-9", "2022-01-02", 10, 1)), // dropped by gate
    Seq(Row(5L, "u1", "DEL-001", "2021-12-31", 50, 1), // late for day 1
      Row(6L, "u2", "DEL-001", "2022-01-01", 25, 1)))

  test("file-source stream + foreachBatch merge equals the batch pipeline") {
    val dropDir = Files.createTempDirectory("graft_drop").toString
    val storeDir = Files.createTempDirectory("graft_store").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    // write arrivals as separate files BEFORE starting (AvailableNow
    // processes them as micro-batches, file order unspecified — good)
    batches.zipWithIndex.foreach { case (rows, i) =>
      df(Schemas.streamingTxns, rows: _*).coalesce(1)
        .write.mode("append").parquet(dropDir)
    }

    val q = StreamingIngest.start(spark, dropDir, storeDir,
      assets, subscribers, postal2city, cities, ckpt)
    q.processAllAvailable()
    q.stop()

    val streamed = StarStore.readFact(spark, storeDir)
      .orderBy("date_id", "country_id", "sport_name")
      .collect().toSeq
    val batch = Pipeline.run(spark,
      df(Schemas.streamingTxns, batches.flatten: _*),
      assets, subscribers, postal2city, cities, countries)
      .fact
      // parquet round-trip moves the partition column to the end; align
      .select(streamed.headOption.map(_ => StarStore.readFact(spark, storeDir).columns)
        .getOrElse(Array("date_id")).map(col).toIndexedSeq: _*)
      .orderBy("date_id", "country_id", "sport_name")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("fact merger reaches storage only through the FactSink seam") {
    val storeDir = Files.createTempDirectory("graft_sink_seam").toString
    val merged = scala.collection.mutable.Buffer[Seq[Row]]()
    val recording = new graft.etl.FactSink {
      def writeFull(fact: org.apache.spark.sql.DataFrame): Unit =
        fail("full rewrite must not be used for incremental merges")
      def mergePartitions(slice: org.apache.spark.sql.DataFrame): Unit =
        merged += slice.orderBy("date_id", "country_id", "sport_name")
          .collect().toSeq
      def read(s: org.apache.spark.sql.SparkSession) =
        fail("merge path never reads")
    }
    val merger = new StreamingIngest.FactMerger(spark, storeDir,
      graft.etl.Transform.userCountry(subscribers, postal2city, cities),
      graft.etl.Transform.assetSport(assets), recording)
    merger.mergeBatch(df(Schemas.streamingTxns, batches.head: _*), 0L)
    // one merge call, grain rows only for the batch's two days
    assert(merged.length == 1)
    val dateIds = merged.head.map(_.getAs[Int]("date_id")).toSet
    assert(dateIds == Set(20211231, 20220101))
  }

  test("late data folds into an existing grain row (unbounded lateness)") {
    // covered by the equivalence above; assert the specific grain row too:
    // 2021-12-31 Ice Hockey Norway saw rows in arrival 1 and arrival 3.
    val storeDir = Files.createTempDirectory("graft_store2").toString
    val dropDir = Files.createTempDirectory("graft_drop2").toString
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    batches.foreach { rows =>
      df(Schemas.streamingTxns, rows: _*).coalesce(1)
        .write.mode("append").parquet(dropDir)
    }
    val q = StreamingIngest.start(spark, dropDir, storeDir,
      assets, subscribers, postal2city, cities, ckpt)
    q.processAllAvailable()
    q.stop()
    val row = StarStore.readFact(spark, storeDir)
      .filter(col("date_id") === 20211231).head()
    assert(row.getAs[Long]("transaction_count") == 2)
    assert(row.getAs[Long]("total_minutes_streamed") == 80)
    assert(row.getAs[Long]("unique_user_count") == 1) // u1 twice — exact, not additive
  }

  test("replaying a micro-batch does not double-count (idempotent merge)") {
    val storeDir = Files.createTempDirectory("graft_store3").toString
    val merger = new StreamingIngest.FactMerger(spark, storeDir,
      graft.etl.Transform.userCountry(subscribers, postal2city, cities),
      graft.etl.Transform.assetSport(assets))
    val b0 = df(Schemas.streamingTxns, batches.head: _*)
    merger.mergeBatch(b0, batchId = 0L)
    val once = StarStore.readFact(spark, storeDir)
      .orderBy("date_id", "country_id", "sport_name").collect().toSeq
    merger.mergeBatch(b0, batchId = 0L) // crash-replay of the same batch
    val twice = StarStore.readFact(spark, storeDir)
      .orderBy("date_id", "country_id", "sport_name").collect().toSeq
    assert(once == twice)
  }

  test("watermarked append-mode daily window finalizes windows, drops too-late rows") {
    import org.apache.spark.sql.functions.timestamp_millis
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wm_events").toString
    val ckpt = Files.createTempDirectory("graft_wm_ckpt").toString
    val day = 86400000L // epoch-aligned days; ts(d, h) = day d at hour h UTC
    def ts(d: Long, h: Long): Long = 19724L * day + d * day + h * 3600000L
    def write(rows: (Long, Long, String, Double)*): Unit =
      rows.toSeq.toDF("event_id", "tms", "event_type", "value")
        .select($"event_id", timestamp_millis($"tms").as("ts"), $"event_type",
          ($"event_id" % 3).as("user_id"), $"value")
        .coalesce(1).write.mode("append").parquet(dir)
    write((1L, ts(0, 10), "A", 1.0), (2L, ts(0, 11), "A", 2.0),
      (3L, ts(1, 12), "A", 4.0))
    val stream = spark.readStream
      .schema(new StructType()
        .add("event_id", "long").add("ts", "timestamp")
        .add("event_type", "string").add("user_id", "long")
        .add("value", "double"))
      .parquet(dir)
    val q = EventWindows.dailyEventRollup(stream, watermark = Some("1 hour"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("daily_append").start()
    q.processAllAvailable()
    // watermark is now day1 11:00: day0's window end (day1 00:00) has passed
    // → day0 finalized. The day0 straggler at 09:00 is beyond-watermark and
    // must be DROPPED, not resurrect the finalized window; day2's event
    // advances the watermark past day1's end, finalizing day1.
    write((4L, ts(2, 10), "A", 8.0), (5L, ts(0, 9), "A", 100.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("daily_append")
      .select("day", "event_type", "events", "total_value")
      .collect().map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-02", "A", 2L, 3.0),  // finalized WITHOUT the late 100.0
      ("2024-01-03", "A", 1L, 4.0)), // finalized by day2's arrival
      s"got $rows")
    // day2's window is still open: append emits a window exactly once,
    // only after the watermark passes it — never early, never twice
  }

  test("streaming dedup within watermark: re-deliveries dropped, state bounded") {
    import org.apache.spark.sql.functions.timestamp_millis
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup_events").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val hour = 3600000L
    val base = 19724L * 86400000L // large base: epoch-0 rows die against watermark 0
    def write(rows: (Long, Long)*): Unit =
      rows.toSeq.toDF("event_id", "tms")
        .select($"event_id", timestamp_millis($"tms").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)

    write((1L, base), (2L, base + hour))
    val stream = spark.readStream
      .schema(new StructType().add("event_id", "long").add("ts", "timestamp"))
      .parquet(dir)
    val q = EventWindows.dedupedStream(stream, "2 hours", "event_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    // batch 2: id 2 re-delivered inside the horizon -> dropped; id 3 new
    write((2L, base + 2 * hour), (3L, base + 2 * hour))
    q.processAllAvailable()
    // batch 3: far-future row advances the watermark WAY past id 1's state
    // (evicted); then a replay of id 1 at its original (now sub-watermark)
    // timestamp arrives — late rows are discarded, so the replay still
    // yields no duplicate downstream even though its state is long gone
    write((4L, base + 100 * hour))
    q.processAllAvailable()
    write((1L, base))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L), s"got $got")
  }

  test("tumbling daily window on a stream equals the batch rollup (Q16)") {
    val eventsDir = sf("sf0.001")
    // the streaming file source wants a directory; stage the events file
    val streamDir = Files.createTempDirectory("graft_events").toString
    Files.copy(java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val raw = graft.Tables.streamEvents(spark, streamDir)
    val agg = EventWindows.dailyEventRollup(raw)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("daily_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("daily_out")
      .select("day", "event_type", "events", "total_value")
      .orderBy("day", "event_type").collect().toSeq
    val batch = graft.operators.Relational.q16DailyTumbling(spark, eventsDir)
      .select("day", "event_type", "events", "total_value")
      .orderBy("day", "event_type").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("hopping window on a stream equals the batch form (Q26)") {
    val eventsDir = sf("sf0.001")
    val streamDir = Files.createTempDirectory("graft_events_hop").toString
    Files.copy(java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val raw = graft.Tables.streamEvents(spark, streamDir)
    val agg = EventWindows.hoppingEventCounts(raw)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hopping_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hopping_out")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = graft.operators.Relational.q26HoppingWindow(spark, eventsDir)
      .collect().toSeq
    assert(streamed.nonEmpty)
    // every event lands in length/hop = 6 windows
    assert(streamed.map(_.getAs[Long]("events")).sum ==
      6 * spark.read.parquet(s"$eventsDir/events.parquet").count())
    assert(streamed == batch)
  }
}
