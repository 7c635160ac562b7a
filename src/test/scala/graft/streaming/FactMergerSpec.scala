package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.etl.{FactSink, StarStore, Transform}

/** The stream merger owns its two lookup maps: it caches them itself, and
  * a merger over changed dimensions never reads an earlier merger's map.
  * It refuses a fact it could not merge into without losing rows. */
class FactMergerSpec extends SparkTestBase {
  import spark.implicits._

  private def userCountry(postalOfU1: String): DataFrame =
    Transform.userCountry(
      Seq(("u1", postalOfU1)).toDF("user_id", "postal_code"),
      Seq(("P1", 10), ("P2", 20)).toDF("postal_code", "city_id"),
      Seq((10, 1), (20, 2)).toDF("city_id", "country_id"))

  private def assetSport: DataFrame =
    Transform.assetSport(Seq(("DEL-001", "Ice Hockey")).toDF("asset_id", "sport"))

  private def txn(id: Long, date: String): DataFrame =
    Seq((id, "u1", "DEL-001", date, 30, 1))
      .toDF("transaction_id", "user_id", "asset_id", "streaming_date",
        "minutes_streamed", "completed")

  /** A sink that keeps each merged slice's (date_id, country_id) pairs. */
  private class RecordingSink extends FactSink {
    val merged = scala.collection.mutable.Buffer[Seq[(Int, Int)]]()
    def writeFull(fact: DataFrame): Unit = fail("merges never rewrite in full")
    def mergePartitions(slice: DataFrame): Unit =
      merged += slice.collect().toSeq.map((r: Row) =>
        (r.getAs[Int]("date_id"), r.getAs[Int]("country_id")))
    def read(s: SparkSession): DataFrame = fail("merges never read")
  }

  private def merger(ucMap: DataFrame, sink: FactSink) =
    new StreamingIngest.FactMerger(spark,
      Files.createTempDirectory("graft_merger").toString,
      ucMap, assetSport, sink)

  test("after the first merge both lookup maps are in the cache manager") {
    val sink = new RecordingSink
    merger(userCountry("P1"), sink).mergeBatch(txn(1L, "2022-01-01"), 0L)
    assert(sink.merged == Seq(Seq((20220101, 1))))
    // the cache manager matches by plan: freshly built identical maps
    // find the entries the merger registered
    assert(userCountry("P1").storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(assetSport.storageLevel == StorageLevel.MEMORY_AND_DISK)
  }

  test("a merger over a changed subscriber postal code routes to the new country") {
    val before = new RecordingSink
    merger(userCountry("P1"), before).mergeBatch(txn(1L, "2022-01-01"), 0L)
    assert(before.merged == Seq(Seq((20220101, 1))))
    // u1 moves from P1 (country 1) to P2 (country 2)
    val after = new RecordingSink
    merger(userCountry("P2"), after).mergeBatch(txn(2L, "2022-01-02"), 1L)
    assert(after.merged == Seq(Seq((20220102, 2))))
  }

  test("a merger over a reloaded fact without merge staging refuses to start") {
    // a reload holds two 2022 transactions; a merge recomputing 2022 from
    // its own staging alone would keep only the merged one
    val store = Files.createTempDirectory("graft_reloaded").toString
    StarStore.writeFact(Transform.rollup(Transform.qualityGate(Transform.enrich(
      txn(1L, "2022-01-01").unionByName(txn(2L, "2022-01-02")),
      userCountry("P1"), assetSport))), store)
    val e = intercept[IllegalStateException](
      new StreamingIngest.FactMerger(spark, store, userCountry("P1"), assetSport))
    assert(e.getMessage.contains("seed the history through the merger"), e.getMessage)
  }

  test("a reload over a streamed store drops its staging, so a new merger refuses it") {
    // a merge recomputing 2022 from the first merge's staging would drop
    // the two reloaded transactions
    val store = Files.createTempDirectory("graft_reload_streamed").toString
    new StreamingIngest.FactMerger(spark, store, userCountry("P1"), assetSport)
      .mergeBatch(txn(1L, "2022-01-01"), 0L)
    StarStore.writeFact(Transform.rollup(Transform.qualityGate(Transform.enrich(
      txn(2L, "2022-01-02").unionByName(txn(3L, "2022-01-03")),
      userCountry("P1"), assetSport))), store)
    val e = intercept[IllegalStateException](
      new StreamingIngest.FactMerger(spark, store, userCountry("P1"), assetSport))
    assert(e.getMessage.contains("seed the history through the merger"), e.getMessage)
  }

  test("a second stream over a staged store refuses to start; a restart over the first checkpoint merges") {
    val store = Files.createTempDirectory("graft_two_streams").toString
    def drop(rows: DataFrame*): String = {
      val dir = Files.createTempDirectory("graft_drop").toString
      rows.foreach(_.write.mode("append").parquet(dir))
      dir
    }
    def stream(dropDir: String, checkpoint: String): Unit = {
      val q = StreamingIngest.start(spark, dropDir, store,
        Seq(("DEL-001", "Ice Hockey")).toDF("asset_id", "sport"),
        Seq(("u1", "P1")).toDF("user_id", "postal_code"),
        Seq(("P1", 10)).toDF("postal_code", "city_id"),
        Seq((10, 1)).toDF("city_id", "country_id"), checkpoint)
      q.processAllAvailable()
      q.stop()
    }
    def transactions: Long =
      StarStore.readFact(spark, store).agg(sum("transaction_count")).head().getLong(0)

    val firstDrop = drop(txn(1L, "2022-01-01"))
    val firstCheckpoint = Files.createTempDirectory("graft_ckpt").toString
    stream(firstDrop, firstCheckpoint)
    assert(transactions == 1)
    // its batch 0 would overwrite the first query's staged batch 0
    val e = intercept[IllegalStateException](stream(drop(txn(2L, "2022-01-02")),
      Files.createTempDirectory("graft_ckpt").toString))
    assert(e.getMessage.contains("restart the stream from its own checkpoint"), e.getMessage)
    txn(3L, "2022-01-03").write.mode("append").parquet(firstDrop)
    stream(firstDrop, firstCheckpoint)
    assert(transactions == 2)
  }
}
