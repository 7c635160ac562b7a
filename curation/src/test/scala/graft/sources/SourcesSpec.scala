package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.etl.{CatalogOps, ColumnProfile, Pipeline, Schemas, StarStore}

/** CSV source round-trip (S3-S5) and catalog registration/verification
  * (S10/S11): the CSV path must survive the text `completed` column and
  * feed the same normalize step the ETL uses. */
class SourcesSpec extends SparkTestBase {

  test("csv export reads with declared schema and normalizes") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val csv = s"$dir/export.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """transaction_id,subscriber_id,user_id,asset_id,streaming_date,streaming_start_time,minutes_streamed,device_type,quality_streamed,completed
        |100,s1,u1,DEL-001,2022-01-01,10:00,30,mobile,HD,1
        |101,s2,u2,SKJ-001,2022-01-02,11:00,45,tv,SD,0
        |""".stripMargin)
    val raw = Sources.csvExport(spark, csv)
    assert(raw.count() == 2)
    assert(raw.schema("completed").dataType.typeName == "string")
    val norm = Pipeline.normalizeCsv(raw)
    assert(norm.columns.toSeq == Schemas.streamingTxns.fieldNames.toSeq)
    val r = norm.orderBy("transaction_id").collect()
    assert(r.map(_.getAs[Int]("completed")).toSeq == Seq(1, 0))
    assert(r.head.getAs[Long]("transaction_id") == 100L)
  }

  test("quarantine csv: malformed rows are captured, not dropped or fatal") {
    val dir = Files.createTempDirectory("graft_qcsv").toString
    val csv = s"$dir/export.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """transaction_id,subscriber_id,user_id,asset_id,streaming_date,streaming_start_time,minutes_streamed,device_type,quality_streamed,completed
        |100,s1,u1,DEL-001,2022-01-01,10:00,30,mobile,HD,1
        |BROKEN,s9,u9,DEL-009,2022-01-03,09:00,not_a_number,tv,HD,1
        |101,s2,u2,SKJ-001,2022-01-02,11:00,45,tv,SD,0
        |""".stripMargin)
    val (clean, quarantined) = Sources.csvWithQuarantine(spark, csv)
    assert(clean.count() == 2)
    assert(clean.orderBy("transaction_id").collect()
      .map(_.getAs[Long]("transaction_id")).toSeq == Seq(100L, 101L))
    val bad = quarantined.collect().map(_.getString(0))
    assert(bad.length == 1 && bad.head.contains("not_a_number"))
  }

  test("quarantine csv leaves no cache entry for its read") {
    val dir = Files.createTempDirectory("graft_qcsv_cache").toString
    val csv = s"$dir/export.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """transaction_id,subscriber_id,user_id,asset_id,streaming_date,streaming_start_time,minutes_streamed,device_type,quality_streamed,completed
        |100,s1,u1,DEL-001,2022-01-01,10:00,30,mobile,HD,1
        |BROKEN,s9,u9,DEL-009,2022-01-03,09:00,not_a_number,tv,HD,1
        |""".stripMargin)
    val (clean, quarantined) = Sources.csvWithQuarantine(spark, csv)
    assert(clean.count() == 1 && quarantined.count() == 1)
    // the cache manager matches entries by plan: an identical read finds
    // any entry the call registered
    val sameRead = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(Schemas.csvExport.add("_corrupt_record", "string"))
      .csv(csv)
    assert(sameRead.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("star catalog registers and schema-verifies a written store") {
    def df(schema: org.apache.spark.sql.types.StructType, rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val txns = df(Schemas.streamingTxns,
      Row(1L, "u1", "DEL-001", "2022-01-01", 30, 1))
    val result = Pipeline.run(spark, txns,
      df(Schemas.assets, Row("DEL-001", "Ice Hockey")),
      df(Schemas.subscribers, Row("u1", "P1")),
      df(Schemas.postal2city, Row("P1", 10)),
      df(Schemas.cities, Row(10, 1)),
      df(Schemas.countries, Row(1, "Norway")))
    val out = Files.createTempDirectory("graft_cat").toString
    StarStore.writeFact(result.fact, out)
    StarStore.writeDims(result.dimDate, result.dimCountry, result.dimSport, out)
    CatalogOps.registerStar(spark, out)
    CatalogOps.verifySchemas(spark)
    assert(spark.sql(
      "SELECT sum(transaction_count) FROM fact_streaming_summary")
      .head.getLong(0) == 1L)
  }

  test("jdbcTable: live embedded Derby — partitioned ranges, pushdown, ETL parity") {
    // a REAL JDBC database (Derby ships with Spark), not a mock: schema +
    // rows go in through the driver, Spark reads them back through the
    // S1/S2 partitioned-range path that replaces the reference's serial
    // LIMIT/OFFSET pagination
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        "CREATE TABLE streaming_txns (transaction_id BIGINT PRIMARY KEY, " +
          "user_id VARCHAR(16), asset_id VARCHAR(16), " +
          "streaming_date VARCHAR(10), minutes_streamed INT, completed INT)")
      val rows = (0 until 200).map { i =>
        (i.toLong, s"u${i % 7}", if (i % 3 == 0) "DEL-001" else "SKJ-002",
          f"2022-01-${i % 28 + 1}%02d", i % 60 + 1, i % 2)
      }
      val ps = conn.prepareStatement(
        "INSERT INTO streaming_txns VALUES (?,?,?,?,?,?)")
      rows.foreach { case (id, u, a, d, m, c) =>
        ps.setLong(1, id); ps.setString(2, u); ps.setString(3, a)
        ps.setString(4, d); ps.setInt(5, m); ps.setInt(6, c); ps.addBatch()
      }
      ps.executeBatch()

      val jdbcRaw = Sources.jdbcTable(spark, url, "streaming_txns",
        "transaction_id", lowerBound = 0, upperBound = 200, numPartitions = 8)
      // 8 parallel range scans, not one serial cursor
      assert(jdbcRaw.rdd.getNumPartitions == 8)
      assert(jdbcRaw.count() == 200)
      // predicate pushdown reaches the DATABASE scan (JDBCRelation
      // advertises the pushed filter), not a post-scan Spark filter
      val plan = jdbcRaw
        .filter(org.apache.spark.sql.functions.col("minutes_streamed") > 30)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("MINUTES_STREAMED"),
        s"filter not pushed to the JDBC scan:\n$plan")

      // full ETL from the JDBC source must equal the ETL from an
      // identical in-memory frame, fact row for fact row (Derby
      // uppercases unquoted identifiers; normalize like any source
      // adapter would)
      val jdbcTxns = jdbcRaw.toDF(jdbcRaw.columns.map(_.toLowerCase): _*)
      def df(schema: org.apache.spark.sql.types.StructType, rs: Row*) =
        spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
      val assets = df(Schemas.assets,
        Row("DEL-001", "Ice Hockey"), Row("SKJ-002", "Ski Jumping"))
      val subs = df(Schemas.subscribers,
        (0 until 7).map(i => Row(s"u$i", s"P${i % 2}")): _*)
      val postal = df(Schemas.postal2city, Row("P0", 10), Row("P1", 20))
      val cities = df(Schemas.cities, Row(10, 1), Row(20, 2))
      val countries = df(Schemas.countries, Row(1, "Norway"), Row(2, "Sweden"))
      val local = df(Schemas.streamingTxns, rows.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6)): _*)
      val fromJdbc = Pipeline.run(spark, jdbcTxns, assets, subs, postal,
        cities, countries)
      val fromLocal = Pipeline.run(spark, local, assets, subs, postal,
        cities, countries)
      assert(fromJdbc.stats == fromLocal.stats)
      def canon(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(canon(fromJdbc.fact) == canon(fromLocal.fact))
    } finally {
      conn.close()
      // standard Derby contract: dropping an in-memory db SUCCEEDS by
      // raising a "database dropped" SQLException
      try java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:graftjdbc;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("approx column stats agree with exact within 3·rsd (no Expand)") {
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag")
    val li = graft.Tables(spark, sf("sf0.001"), "lineitem")
    val rsd = 0.05
    def byCol(dfRows: Array[Row]) =
      dfRows.map(r => r.getString(0) -> r).toMap
    val exact = byCol(ColumnProfile.analyzeColumns(li, cols).collect())
    val approx = byCol(ColumnProfile.analyzeColumnsApprox(li, cols, rsd).collect())
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      // rows/nulls/min/max are exact in both forms; only NDV is estimated
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2))
      assert(a.getString(4) == e.getString(4) && a.getString(5) == e.getString(5))
      val (en, an) = (e.getLong(3).toDouble, a.getLong(3).toDouble)
      assert(math.abs(an - en) <= 3 * rsd * en + 1,
        s"$c: approx NDV $an vs exact $en")
    }
    // the approx plan must not contain the exact path's Expand
    val plan = ColumnProfile.analyzeColumnsApprox(li, cols, rsd)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"))
  }

  test("JSONL corpus round-trips losslessly; a torn line quarantines, not aborts") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    CorpusSources.writeJsonlCorpus(docs, s"$dir/corpus", shards = 3)
    val (clean, quarantined) = CorpusSources.jsonlCorpus(spark, s"$dir/corpus")
    assert(quarantined.count() == 0L)
    // lossless round trip, column for column
    assert(clean.count() == docs.count())
    assert(clean.orderBy("doc_id").collect().toSeq ==
      docs.select(clean.columns.head, clean.columns.tail: _*)
        .orderBy("doc_id").collect().toSeq)
    // shard count was chosen, not inherited
    assert(new java.io.File(s"$dir/corpus").listFiles()
      .count(_.getName.endsWith(".json")) == 3)
    // a torn line lands in quarantine with the raw text; good rows survive
    // (drop the first read's cache — same path, same plan, and Spark's
    // CacheManager would otherwise serve the pre-append snapshot)
    spark.catalog.clearCache()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/corpus/torn.json"),
      """{"doc_id": 999999, "text": "ok doc", "lang": "en", "source": "s", "n_chars": 6}""" +
        "\n" + """{"doc_id": 999998, "text": "TRUNCATED""" + "\n")
    val (c2, q2) = CorpusSources.jsonlCorpus(spark, s"$dir/corpus")
    assert(c2.count() == docs.count() + 1)
    assert(q2.count() == 1L)
    assert(q2.head.getString(0).contains("TRUNCATED"))
  }
}
