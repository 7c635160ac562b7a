package graft

/** The specs run on the session the warehouse ships. */
class EngineSpec extends SparkTestBase {

  test("Engine.session is the suite's session, with a shuffle as wide as its cores") {
    val suite = spark
    // getOrCreate applies Engine's settings to the existing session
    assert(Engine.session() eq suite)
    assert(suite.conf.get("spark.sql.shuffle.partitions").toInt ==
      suite.sparkContext.defaultParallelism)
  }
}
