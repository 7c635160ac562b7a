package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** End-to-end ETL on synthetic SportsTV fixtures (FIXTURES.md §2) with
  * hand-computed golden values, exercising every data-quality path:
  * master lookup, inference recovery, unmapped user, uninferable prefix,
  * NULL measures, NULL date, apostrophes in names, ISO-week boundary. */
class EtlPipelineSpec extends SparkTestBase {

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val countries = df(Schemas.countries,
    Row(1, "Norway"), Row(2, "Cote d'Azur"), Row(3, "Finland"), Row(4, "Iceland"))
  private lazy val cities = df(Schemas.cities,
    Row(10, 1), Row(20, 2), Row(30, 3))
  private lazy val postal2city = df(Schemas.postal2city,
    Row("P1", 10), Row("P2", 20), Row("P3", 30))
  private lazy val subscribers = df(Schemas.subscribers,
    Row("u1", "P1"), Row("u2", "P2"), Row("u3", "P3"), Row("u4", "P1"))
  private lazy val assets = df(Schemas.assets,
    Row("DEL-001", "Ice Hockey"), Row("SKJ-001", "Ski Jumping"),
    Row("XX-001", "Curling"), Row("BAD-01", null), Row("BAD-02", ""))

  private lazy val txns = df(Schemas.streamingTxns,
    Row(1L, "u1", "DEL-001", "2021-12-31", 30, 1), //   master Ice Hockey, Norway
    Row(2L, "u1", "AHL-77", "2022-01-01", 60, 0), //    recovered Ice Hockey (W52 of 2021!)
    Row(3L, "u2", "SKJ-001", "2022-01-01", 45, 1), //   master Ski Jumping
    Row(4L, "u2", "FIS-9", "2022-01-01", 15, 1), //     recovered Ski Jumping
    Row(5L, "u3", "ICEHL-5", "2022-01-02", null, null), // recovered Inline Hockey, null fills
    Row(6L, "u4", "OXXX-1", "2022-01-02", 10, 1), //    DROP: uninferable sport
    Row(7L, "u5", "DEL-001", "2022-01-02", 10, 1), //   DROP: unmapped user
    Row(8L, "u1", "MSL-2", "2022-01-03", 5, 0), //      DROP: uninferable sport
    Row(9L, "u2", "DEL-001", null, 20, 1), //           DROP: missing date
    Row(10L, "u4", "DEL-001", "2021-12-31", 50, 1), //  same grain as row 1, 2nd user
    Row(11L, "u1", "XX-001", "2022-01-03", 25, 1), //   master Curling
    Row(12L, "u3", "BAD-01", "2022-01-03", 10, 1)) //   DROP: master sport NULL, uninferable

  private lazy val result = Pipeline.run(
    spark, txns, assets, subscribers, postal2city, cities, countries)

  test("retention accounting matches the hand-computed bookkeeping") {
    val s = result.stats
    assert(s.read == 12)
    assert(s.missingCountry == 1) //  row 7
    assert(s.recoveredByInference == 3) // rows 2, 4, 5
    assert(s.missingSport == 3) //    rows 6, 8, 12
    assert(s.missingDate == 1) //     row 9
    assert(s.valid == 7)
    assert(s.dropped == 5)
  }

  test("single-pass (observed) ETL produces identical stats, fact, and dims") {
    val obs = Pipeline.runSinglePass(
      spark, txns, assets, subscribers, postal2city, cities, countries)
    // the load ran eagerly: finish() before any action on the fact has the stats
    assert(obs.finish()._1 == result.stats)
    val factRows = obs.fact.orderBy("date_id", "country_id", "sport_name")
      .collect().toSeq
    val (stats, dimDate) = obs.finish()
    assert(stats == result.stats)
    assert(factRows == result.fact
      .orderBy("date_id", "country_id", "sport_name").collect().toSeq)
    assert(dimDate.collect().toSet == result.dimDate.collect().toSet)
  }

  test("fact grain and measures match golden values") {
    val fact = result.fact.collect()
      .map(r => (r.getAs[Int]("date_id"), r.getAs[Int]("country_id"),
        r.getAs[String]("sport_name")) ->
        (r.getAs[Long]("transaction_count"), r.getAs[Long]("unique_user_count"),
          r.getAs[Long]("total_minutes_streamed"), r.getAs[Long]("completed_streams"),
          r.getAs[Double]("avg_minutes_per_stream"))).toMap
    assert(fact.size == 5)
    assert(fact((20211231, 1, "Ice Hockey")) == ((2L, 2L, 80L, 2L, 40.0)))
    assert(fact((20220101, 1, "Ice Hockey")) == ((1L, 1L, 60L, 0L, 60.0)))
    assert(fact((20220101, 2, "Ski Jumping")) == ((2L, 1L, 60L, 2L, 30.0)))
    assert(fact((20220102, 3, "Inline Hockey")) == ((1L, 1L, 0L, 0L, 0.0)))
    assert(fact((20220103, 1, "Curling")) == ((1L, 1L, 25L, 1L, 25.0)))
  }

  test("denormalized date parts carry the ISO-week boundary correctly") {
    val jan1 = result.fact
      .filter(org.apache.spark.sql.functions.col("date_id") === 20220101)
      .head()
    assert(jan1.getAs[Int]("year") == 2022)
    assert(jan1.getAs[Int]("week") == 52) // ISO week of 2021
    assert(jan1.getAs[Int]("quarter") == 1)
  }

  test("dim_date is the dense spine over source date bounds") {
    val dates = result.dimDate.orderBy("full_date").collect()
    assert(dates.length == 4) // 2021-12-31 .. 2022-01-03; NULL date ignored
    assert(dates.head.getAs[java.sql.Date]("full_date").toString == "2021-12-31")
    assert(dates.last.getAs[java.sql.Date]("full_date").toString == "2022-01-03")
  }

  test("dim_sport covers master AND inferred sports, ids by name order") {
    val sports = result.dimSport.orderBy("sport_id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    // Inline Hockey exists only via prefix inference (row 5) — it must
    // still get a dimension row or the fact has a referential hole
    assert(sports.toSeq == Seq((1, "Curling"), (2, "Ice Hockey"),
      (3, "Inline Hockey"), (4, "Ski Jumping")))
    assert(result.dimCountry.count() == 4)
    val names = result.dimCountry.collect().map(_.getAs[String]("country_name")).toSet
    assert(names.contains("Cote d'Azur")) // apostrophe survives (no SQL escaping layer)
  }

  test("a user with postal codes in two countries maps to exactly one country") {
    val subs2 = df(Schemas.subscribers, Row("u1", "P1"), Row("u1", "P3"))
    val map = Transform.userCountry(subs2, postal2city, cities).collect()
    assert(map.length == 1)
    assert(map.head.getAs[Int]("country_id") == 1) // min(1, 3) — deterministic
  }

  test("validation suite passes and is fatal on violation") {
    Validate.all(result.fact, expectedValidRows = 7)
    intercept[Validate.ValidationError] {
      Validate.conservation(result.fact, expectedValidRows = 8)
    }
  }

  test("CSV normalization prunes dead columns and casts text completed") {
    val csv = df(Schemas.csvExport,
      Row(100L, "s1", "u1", "DEL-001", "2022-01-01", "10:00", 30, "mobile", "HD", "1"),
      Row(101L, "s2", "u2", "SKJ-001", "2022-01-01", "11:00", 40, "tv", "SD", "0"))
    val norm = Pipeline.normalizeCsv(csv)
    assert(norm.columns.toSeq == Schemas.streamingTxns.fieldNames.toSeq)
    assert(norm.schema("completed").dataType.typeName == "integer")
    assert(norm.collect().map(_.getAs[Int]("completed")).toSet == Set(0, 1))
  }

  test("approx rollup matches exact on all additive measures, distinct within rsd") {
    val enriched = Transform.enrich(txns,
      Transform.userCountry(subscribers, postal2city, cities),
      Transform.assetSport(assets))
    val valid = Transform.qualityGate(enriched)
    val exact = Transform.rollup(valid)
      .orderBy("date_id", "country_id", "sport_name").collect()
    val approx = Transform.rollupApprox(valid)
      .orderBy("date_id", "country_id", "sport_name").collect()
    assert(exact.length == approx.length)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getAs[Long]("transaction_count") == a.getAs[Long]("transaction_count"))
      assert(e.getAs[Long]("total_minutes_streamed") == a.getAs[Long]("total_minutes_streamed"))
      val exactU = e.getAs[Long]("unique_user_count").toDouble
      val approxU = a.getAs[Long]("unique_user_count").toDouble
      assert(math.abs(approxU - exactU) <= math.max(1.0, exactU * 0.2))
    }
  }

  /** Both ETL forms over an input none of whose rows reach the fact. */
  private def assertNothingLoaded(input: DataFrame, expected: Pipeline.EtlStats): Unit = {
    val batch = Pipeline.run(
      spark, input, assets, subscribers, postal2city, cities, countries)
    assert(batch.stats == expected)
    assert(batch.fact.collect().isEmpty && batch.dimDate.collect().isEmpty)
    Validate.all(batch.fact, expectedValidRows = 0)

    val obs = Pipeline.runSinglePass(
      spark, input, assets, subscribers, postal2city, cities, countries)
    assert(obs.fact.collect().isEmpty) // the action the observation rides on
    val (stats, dimDate) = obs.finish()
    assert(stats == expected)
    assert(dimDate.collect().isEmpty)
    assert(dimDate.columns.toSeq == result.dimDate.columns.toSeq)
    Validate.all(obs.fact, expectedValidRows = 0)
  }

  test("empty input: both ETL forms give zero stats, an empty fact and dim_date") {
    assertNothingLoaded(df(Schemas.streamingTxns), Pipeline.EtlStats(0, 0, 0, 0, 0, 0))
  }

  test("all rows dropped: both ETL forms count them, with an empty fact and dim_date") {
    // every row also lacks a usable date, so the date bounds are null while
    // the counters are not
    val dropped = df(Schemas.streamingTxns,
      Row(1L, "u5", "DEL-001", null, 10, 1), //         unmapped user, no date
      Row(2L, "u1", "OXXX-1", "not-a-date", 20, 1), //  uninferable sport, bad date
      Row(3L, "u2", "SKJ-001", "2022-13-45", 30, 0)) // unparseable date
    assertNothingLoaded(dropped, Pipeline.EtlStats(read = 3, missingCountry = 1,
      recoveredByInference = 0, missingSport = 1, missingDate = 3, valid = 0))
  }

  test("a load reads each source row once: the ETL, the fact write and the dims") {
    val reads = spark.sparkContext.longAccumulator("source reads")
    // tap user_id, which every pass over the source needs; the rollup never
    // reads transaction_id, so column pruning would drop a tap there
    val tap = udf { (u: String) => reads.add(1); u }.asNondeterministic()
    val tapped = txns.withColumn("user_id", tap(col("user_id")))
    for (load <- Seq(Pipeline.run _, Pipeline.runSinglePass _)) {
      reads.reset()
      val etl = load(spark, tapped, assets, subscribers, postal2city, cities, countries)
      val dir = java.nio.file.Files.createTempDirectory("graft_one_pass").toString
      StarStore.writeFact(etl.fact, dir)
      val (_, dimDate) = etl.finish()
      StarStore.writeDims(dimDate, etl.dimCountry, etl.dimSport, dir)
      assert(reads.sum == 12)
    }
  }

  test("union of two sources aggregates identically to a single source (U1)") {
    val firstHalf = txns.filter(org.apache.spark.sql.functions.col("transaction_id") <= 6)
    val secondHalf = txns.filter(org.apache.spark.sql.functions.col("transaction_id") > 6)
    val unioned = Pipeline.run(spark, firstHalf.unionByName(secondHalf),
      assets, subscribers, postal2city, cities, countries)
    val a = result.fact.orderBy("date_id", "country_id", "sport_name").collect().toSeq
    val b = unioned.fact.orderBy("date_id", "country_id", "sport_name").collect().toSeq
    assert(a == b)
  }
}
