package graft.etl

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{assert_true, col}
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.streaming.StreamingIngest

class VersionedFactSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Int)] =
    df.collect().map(r => (r.getAs[Int]("date_id"), r.getAs[Int]("year"),
      r.getAs[Int]("v"))).toSet

  test("commit protocol: write, copy-on-write merge, time travel, idempotent replay") {
    val dir = Files.createTempDirectory("graft_txn_sink").toString
    val sink = new VersionedFactSink(dir)
    assert(sink.currentVersion == -1)

    sink.writeFull(Seq((20211231, 2021, 1), (20220101, 2022, 1))
      .toDF("date_id", "year", "v"))
    assert(sink.currentVersion == 0)
    assert(rows(sink.read(spark)) ==
      Set((20211231, 2021, 1), (20220101, 2022, 1)))

    // merge rewrites ONLY 2022; 2021 keeps its original data dir
    val slice = Seq((20220101, 2022, 2), (20220102, 2022, 2))
      .toDF("date_id", "year", "v")
    sink.mergePartitions(slice)
    assert(sink.currentVersion == 1)
    assert(rows(sink.read(spark)) ==
      Set((20211231, 2021, 1), (20220101, 2022, 2), (20220102, 2022, 2)))

    // time travel: version 0 is still the pre-merge table
    assert(rows(sink.readVersion(spark, 0)) ==
      Set((20211231, 2021, 1), (20220101, 2022, 1)))

    // replaying the same slice converges to the same content
    sink.mergePartitions(slice)
    assert(sink.currentVersion == 2)
    assert(rows(sink.read(spark)) ==
      Set((20211231, 2021, 1), (20220101, 2022, 2), (20220102, 2022, 2)))
  }

  test("readers never see uncommitted data; vacuum reclaims it and old versions") {
    val dir = Files.createTempDirectory("graft_txn_vac").toString
    val sink = new VersionedFactSink(dir)
    sink.writeFull(Seq((20210101, 2021, 1)).toDF("date_id", "year", "v"))
    sink.mergePartitions(Seq((20220101, 2022, 1)).toDF("date_id", "year", "v"))

    // simulate a crashed writer: data landed, pointer swap never happened
    val orphan = Paths.get(dir, "data", "year=2030")
    Files.createDirectories(orphan)
    Seq((20300101, 2030, 9)).toDF("date_id", "year", "v")
      .write.mode("overwrite").parquet(orphan.toString)
    assert(!rows(sink.read(spark)).exists(_._2 == 2030), "orphan visible!")

    val deleted = sink.vacuum(keepVersions = 1)
    assert(deleted.exists(_.contains("year=2030")), s"orphan kept: $deleted")
    // current version survives vacuum intact...
    assert(rows(sink.read(spark)) ==
      Set((20210101, 2021, 1), (20220101, 2022, 1)))
    // ...while the pre-merge manifest is gone
    intercept[IllegalArgumentException](sink.readVersion(spark, 0))
  }

  test("vacuum with a wider horizon than an earlier vacuum still works") {
    val dir = Files.createTempDirectory("graft_txn_vac2").toString
    val sink = new VersionedFactSink(dir)
    (1 to 6).foreach(i =>
      sink.mergePartitions(Seq((20200000 + i, 2020, i)).toDF("date_id", "year", "v")))
    sink.vacuum(keepVersions = 1) // deletes manifests v0..v4
    sink.mergePartitions(Seq((20210101, 2021, 7)).toDF("date_id", "year", "v"))
    // horizon now spans versions already deleted by the earlier vacuum —
    // must walk the manifests that EXIST, not assume a dense range
    val deleted = sink.vacuum(keepVersions = 5)
    assert(rows(sink.read(spark)).map(_._3).max == 7)
    assert(deleted.isEmpty || deleted.forall(!_.contains("year=2021")))
  }

  test("vacuum on a non-normalized dir spelling never deletes live data") {
    val real = Files.createTempDirectory("graft_txn_norm").toString
    // trailing slash + redundant "./" segment: raw string comparison of
    // manifest paths vs Files.list results would retain NOTHING and vacuum
    // would delete the current version's data
    val sink = new VersionedFactSink(real + "/./")
    sink.writeFull(Seq((20210101, 2021, 1)).toDF("date_id", "year", "v"))
    sink.mergePartitions(Seq((20220101, 2022, 2)).toDF("date_id", "year", "v"))
    val deleted = sink.vacuum(keepVersions = 1)
    assert(deleted.forall(p => !p.contains("year=2021") && !p.contains("year=2022")),
      s"vacuum deleted live data: $deleted")
    assert(rows(sink.read(spark)) ==
      Set((20210101, 2021, 1), (20220101, 2022, 2)))
    // and a differently-spelled handle to the same store reads the same
    assert(rows(new VersionedFactSink(real).read(spark)) ==
      Set((20210101, 2021, 1), (20220101, 2022, 2)))
  }

  test("an empty truncate leaves a readable empty table, not a bricked one") {
    val dir = Files.createTempDirectory("graft_txn_empty").toString
    val sink = new VersionedFactSink(dir)
    sink.writeFull(Seq((20210101, 2021, 1)).toDF("date_id", "year", "v"))
    sink.writeFull(Seq.empty[(Int, Int, Int)].toDF("date_id", "year", "v"))
    val empty = sink.read(spark)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == sink.readVersion(spark, 0).columns.toSeq)
    // and time travel to the non-empty version still works
    assert(rows(sink.readVersion(spark, 0)) == Set((20210101, 2021, 1)))
  }

  test("streaming fact merger composes with the transactional sink") {
    val dir = Files.createTempDirectory("graft_txn_merge").toString
    val sink = new VersionedFactSink(dir)
    val stage = Files.createTempDirectory("graft_txn_stage").toString
    val merger = new graft.streaming.StreamingIngest.FactMerger(spark, stage,
      Transform.userCountry(
        Seq(("u1", "P1")).toDF("user_id", "postal_code"),
        Seq(("P1", 10)).toDF("postal_code", "city_id"),
        Seq((10, 1)).toDF("city_id", "country_id")),
      Transform.assetSport(Seq(("DEL-001", "Ice Hockey")).toDF("asset_id", "sport")),
      sink)
    val txns = Seq((1L, "u1", "DEL-001", "2022-01-01", 30, 1))
      .toDF("transaction_id", "user_id", "asset_id", "streaming_date",
        "minutes_streamed", "completed")
    merger.mergeBatch(txns, 0L)
    assert(sink.currentVersion == 0)
    val fact = sink.read(spark).collect()
    assert(fact.length == 1)
    assert(fact.head.getAs[Long]("total_minutes_streamed") == 30L)
  }

  test("concurrent writers: exactly one claims a version, the loser fails loudly") {
    // r7/r8 verdict #7: two writers interleaving _latest renames could
    // silently drop a version. The commit now CAS-claims its manifest
    // file (CREATE_NEW) before any data lands. Deterministic interleave:
    // writer A's claim is placed exactly where the real commit puts it
    // (an empty v00001.json — what a mid-commit writer's directory looks
    // like), then writer B — a separate sink instance, as from another
    // process — commits against the same table.
    val dir = Files.createTempDirectory("graft_txn_race").toString
    val a = new VersionedFactSink(dir)
    a.writeFull(Seq((20210101, 2021, 1)).toDF("date_id", "year", "v"))
    assert(a.currentVersion == 0)
    // writer A mid-commit: has claimed v1, data not yet written
    Files.write(Paths.get(dir, "_versions", "v00001.json"),
      Array.emptyByteArray,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // writer B loses the race for v1 — loudly, before writing any data
    val b = new VersionedFactSink(dir)
    val e1 = intercept[IllegalStateException](
      b.mergePartitions(Seq((20220102, 2022, 2)).toDF("date_id", "year", "v")))
    assert(e1.getMessage.contains("claimed"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      b.writeFull(Seq((20220103, 2022, 3)).toDF("date_id", "year", "v")))
    assert(e2.getMessage.contains("claimed"), e2.getMessage)
    // the loser changed NOTHING: table still serves version 0 intact,
    // and no orphan data dirs were written for the failed commits
    assert(b.currentVersion == 0)
    assert(rows(b.read(spark)) == Set((20210101, 2021, 1)))
    val dataDirs = Files.list(Paths.get(dir, "data")).count()
    assert(dataDirs == 1, s"loser strands data dirs: $dataDirs")
    // releasing the crashed claim (the documented repair) unblocks
    Files.delete(Paths.get(dir, "_versions", "v00001.json"))
    b.mergePartitions(Seq((20220102, 2022, 2)).toDF("date_id", "year", "v"))
    assert(b.currentVersion == 1)
    assert(rows(b.read(spark)) == Set((20210101, 2021, 1), (20220102, 2022, 2)))
  }

  test("a commit that fails after its claim releases it: the next commit lands") {
    val dir = Files.createTempDirectory("graft_txn_fail").toString
    val sink = new VersionedFactSink(dir)
    sink.writeFull(Seq((20210101, 2021, 1)).toDF("date_id", "year", "v"))
    // the slice's evaluation throws inside the data write (a failed task)
    val bad = Seq((20220101, 2022, 2)).toDF("date_id", "year", "v")
      .filter(assert_true(col("v") < 0).isNull)
    intercept[Exception](sink.mergePartitions(bad))
    assert(sink.currentVersion == 0)
    sink.mergePartitions(Seq((20220101, 2022, 2)).toDF("date_id", "year", "v"))
    assert(sink.currentVersion == 1)
    assert(rows(sink.read(spark)) == Set((20210101, 2021, 1), (20220101, 2022, 2)))
  }

  test("a fact resolved before a merge still reads the complete pre-merge fact") {
    val dir = Files.createTempDirectory("graft_txn_iso").toString
    StarStore.writeFact(Seq((20210101, 2021, 1), (20220101, 2022, 1))
      .toDF("date_id", "year", "v"), dir)
    val before = StarStore.readFact(spark, dir)
    // the merge rewrites the year the resolved frame reads
    StarStore.factSink(dir).mergePartitions(
      Seq((20220102, 2022, 2)).toDF("date_id", "year", "v"))
    assert(rows(before) == Set((20210101, 2021, 1), (20220101, 2022, 1)))
    assert(rows(StarStore.readFact(spark, dir)) ==
      Set((20210101, 2021, 1), (20220102, 2022, 2)))
  }

  test("a merger restarted after a crashed commit releases the claim and converges") {
    def df(schema: StructType, rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val assets = df(Schemas.assets, Row("DEL-001", "Ice Hockey"), Row("SKJ-001", "Ski Jumping"))
    val subscribers = df(Schemas.subscribers, Row("u1", "P1"), Row("u2", "P2"))
    val postal2city = df(Schemas.postal2city, Row("P1", 10), Row("P2", 20))
    val cities = df(Schemas.cities, Row(10, 1), Row(20, 2))
    val countries = df(Schemas.countries, Row(1, "Norway"), Row(2, "Finland"))
    val b0 = df(Schemas.streamingTxns, Row(1L, "u1", "DEL-001", "2021-12-31", 30, 1),
      Row(2L, "u2", "SKJ-001", "2022-01-01", 40, 1))
    val b1 = df(Schemas.streamingTxns, Row(3L, "u1", "DEL-001", "2021-12-31", 50, 1),
      Row(4L, "u2", "DEL-001", "2022-01-01", 25, 1))
    val store = Files.createTempDirectory("graft_txn_restart").toString
    def merger() = new StreamingIngest.FactMerger(spark, store,
      Transform.userCountry(subscribers, postal2city, cities), Transform.assetSport(assets))

    val first = merger()
    first.mergeBatch(b0, 0L)
    // the writer crashes while committing batch 1: version 1 is claimed
    // and the data write has landed, but the pointer never swapped
    val fact = Paths.get(store, "fact_streaming_summary")
    Files.write(fact.resolve("_versions").resolve("v00001.json"),
      Array.emptyByteArray, StandardOpenOption.CREATE_NEW)
    val orphan = fact.resolve("data").resolve("_commit-crashed-writer")
    Seq((20220101, 2022, 9)).toDF("date_id", "year", "v")
      .write.partitionBy("year").parquet(orphan.toString)
    // without a restart the claim blocks every commit
    intercept[IllegalStateException](first.mergeBatch(b1, 1L))

    // a restarted merger replays the batch and commits it
    merger().mergeBatch(b1, 1L)
    assert(!Files.exists(orphan), "crashed commit's files kept")
    val streamed = StarStore.readFact(spark, store)
    val oneShot = Pipeline.run(spark, b0.unionByName(b1), assets, subscribers,
      postal2city, cities, countries).fact.select(streamed.columns.map(col).toIndexedSeq: _*)
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(oneShot).isEmpty)
    assert(oneShot.exceptAll(streamed).isEmpty)
  }
}
