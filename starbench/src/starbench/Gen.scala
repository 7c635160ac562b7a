package starbench

import java.nio.ByteBuffer
import java.security.MessageDigest
import java.time.LocalDate
import java.time.temporal.IsoFields

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.Schemas

/** Seeded SportsTV input generator, shaped like the paper's data.
  *
  * Every value of transaction `i` is a pure function of `(seed, i)`
  * (splitmix64 over the pair), so Spark can write the rows in parallel and
  * the benchmark can replay them for bookkeeping without holding them.
  *
  * Calibration against the paper (BASELINE.md): 1 083 131 operational-store
  * rows + 98 732 CSV rows at `scale = 1`, dates 2021-01-01 → 2025-10-18
  * (1 752 days), 4 countries, 3 sports, 13.7 % of rows whose sport is
  * recovered by asset-prefix inference and 2.9 % that no rule resolves
  * (`OXXX-`, `MSL-` and prefix-free asset ids), so 97.1 % are retained.
  * Users are Zipf-skewed; every user maps to a country, as in the paper.
  */
final class Gen(val seed: Long, val scale: Double) extends Serializable {
  import Gen._

  val sqliteRows: Long = math.max(1L, math.round(PaperSqliteRows * scale))
  val csvRows: Long = math.max(1L, math.round(PaperCsvRows * scale))
  val historyRows: Long = sqliteRows + csvRows
  val batchRows: Int = math.max(1L, math.round(PaperBatchRows * scale)).toInt
  val nUsers: Int = math.max(1000L, math.round(PaperUsers * scale)).toInt

  private def u(i: Long, k: Int): Double =
    (mix64(mix64(seed ^ 0x5851f42d4c957f2dL) + i * 0x9e3779b97f4a7c15L + k) >>> 11) *
      (1.0 / (1L << 53))

  // ---- fixed per-seed tables ----------------------------------------------
  private val assets = Gen.assetTables(seed)
  /** Asset ids and their master sport (null or "" when the master does not
    * resolve it); `assetInMaster` marks the ids present in the master. */
  val assetIds: Array[String] = assets.ids
  val assetSport: Array[String] = assets.sport
  val assetInMaster: Array[Boolean] = assets.inMaster
  /** Sport index each asset resolves to, by master or prefix; -1 for none. */
  val assetSportIdx: Array[Int] = assets.resolved

  @transient private val rnd = new java.util.SplittableRandom(mix64(seed + 1))
  /** Zipf rank -> user index (a seeded permutation). */
  private val userOfRank: Array[Int] = {
    val a = Array.range(0, nUsers)
    for (i <- nUsers - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  /** User index -> postal code index; countries are skewed by CountryWeights. */
  val userPostal: Array[Int] = Array.fill(nUsers) {
    val x = rnd.nextDouble()
    var c = 0; var acc = CountryWeights(0)
    while (x >= acc && c < 3) { c += 1; acc += CountryWeights(c) }
    c * PostalsPerCountry + rnd.nextInt(PostalsPerCountry)
  }
  private val userCdf =
    cdf(Array.tabulate(nUsers)(r => 1.0 / math.pow(r + 1, ZipfExponent)))
  private val dayCdf = cdf(Array.tabulate(HistoryDays)(d =>
    if (dayOfWeek(d) == 1 || dayOfWeek(d) == 7) 1.25 else 1.0))

  // ---- per-transaction values ---------------------------------------------
  /** Category of row `i`: 0 master-resolved, 1 inference-recovered, 2 dropped. */
  def kind(i: Long): Int = {
    val x = u(i, 0)
    if (x < DropShare) 2 else if (x < DropShare + InferShare) 1 else 0
  }
  def asset(i: Long): Int = {
    val pool = assets.pools(kind(i))
    pool((u(i, 1) * pool.length).toInt)
  }
  def user(i: Long): Int = userOfRank(search(userCdf, u(i, 2)))
  def minutes(i: Long): Int = 1 + (u(i, 4) * 180).toInt
  def completed(i: Long): Int = if (u(i, 5) < 0.62) 1 else 0

  /** Day index (0 = 2021-01-01). History rows are spread over the paper's
    * span; row `j` of stream batch `b` follows the stream clock, which
    * starts the day after the history ends and advances [[StepDays]] per
    * batch, except a [[LateShare]] of rows up to a week late. */
  def day(i: Long): Int =
    if (i < historyRows) search(dayCdf, u(i, 3))
    else {
      val b = ((i - historyRows) / batchRows).toInt
      val clock = HistoryDays + b * StepDays
      if (u(i, 6) < LateShare) clock - 1 - (u(i, 3) * 7).toInt
      else clock + (u(i, 3) * StepDays).toInt
    }

  def batchStart(b: Int): Long = historyRows + b.toLong * batchRows

  def userId(x: Int): String = pad("U", x, 7)

  def txnRow(i: Long): Row = Row(i + 1, userId(user(i)), assetIds(asset(i)),
    dateString(day(i)), minutes(i), completed(i))

  def csvRow(i: Long): Row = {
    val k = (u(i, 7) * 1e6).toInt
    Row(i + 1, pad("S", user(i), 7), userId(user(i)), assetIds(asset(i)),
      dateString(day(i)), s"${pad("", k % 24, 2)}:${pad("", k / 24 % 60, 2)}:${pad("", k / 1440 % 60, 2)}",
      minutes(i), Devices(k % Devices.length), Qualities(k / 7 % Qualities.length),
      completed(i).toString)
  }

  // ---- bookkeeping ----------------------------------------------------------
  /** Replays rows [from, until) into `stats` and `model`, and their values into
    * `digest`. */
  def account(from: Long, until: Long, stats: Counts, model: Model,
      digest: MessageDigest): Unit = {
    val buf = ByteBuffer.allocate(48)
    var i = from
    while (i < until) {
      val k = kind(i); val a = asset(i); val us = user(i); val d = day(i)
      val m = minutes(i); val c = completed(i)
      stats.read += 1
      if (k == 1) stats.recovered += 1
      if (k == 2) stats.dropped += 1
      else model.add(d, userPostal(us) / PostalsPerCountry + 1, assetSportIdx(a), m, c)
      buf.clear()
      buf.putLong(i).putLong(us).putLong(a).putLong(d).putLong(m).putLong(c)
      digest.update(buf.array())
      i += 1
    }
  }

  /** Hash of the fixed lookup tables. */
  def tablesDigest(digest: MessageDigest): Unit = {
    for (a <- assetIds.indices)
      digest.update(s"${assetIds(a)}|${assetSport(a)}|${assetInMaster(a)}".getBytes("UTF-8"))
    userPostal.foreach(p => digest.update(ByteBuffer.allocate(4).putInt(p).array()))
  }

  // ---- writers --------------------------------------------------------------
  /** Lookup tables, as parquet under `dir`. */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    def write(name: String, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    write("assets", assetIds.indices.filter(assetInMaster).map(a =>
      Row(assetIds(a), assetSport(a))), Schemas.assets)
    write("subscribers", (0 until nUsers).map(x =>
      Row(userId(x), postalCode(userPostal(x)))), Schemas.subscribers)
    write("postal2city", (0 until Countries.length * PostalsPerCountry).map(p =>
      Row(postalCode(p), p / PostalsPerCity + 1)), Schemas.postal2city)
    write("cities", (0 until Countries.length * CitiesPerCountry).map(c =>
      Row(c + 1, c / CitiesPerCountry + 1)), Schemas.cities)
    write("countries", Countries.indices.map(c => Row(c + 1, Countries(c))),
      Schemas.countries)
  }

  private def rows(spark: SparkSession, from: Long, until: Long, f: Long => Row) =
    spark.sparkContext.range(from, until, 1, Partitions).map(f)

  /** The operational store: history rows [0, sqliteRows) as parquet. */
  def writeStore(spark: SparkSession, path: String): Unit =
    spark.createDataFrame(rows(spark, 0, sqliteRows, txnRow), Schemas.streamingTxns)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The CSV export: history rows [sqliteRows, historyRows), 10 columns. */
  def writeCsv(spark: SparkSession, path: String): Unit =
    spark.createDataFrame(rows(spark, sqliteRows, historyRows, csvRow), Schemas.csvExport)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** All history rows in the stream's layout, its initial drop. */
  def writeHistory(spark: SparkSession, path: String): Unit =
    spark.createDataFrame(rows(spark, 0, historyRows, txnRow), Schemas.streamingTxns)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Stream batches [0, n), one parquet file each, under `path/batch=b`. */
  def writeBatches(spark: SparkSession, path: String, n: Int): Unit = {
    val schema = Schemas.streamingTxns.add("batch", "int")
    val g = this
    val rdd = spark.sparkContext.range(batchStart(0), batchStart(n), 1, Partitions)
      .map { i =>
        val r = g.txnRow(i)
        Row.fromSeq(r.toSeq :+ ((i - g.historyRows) / g.batchRows).toInt)
      }
    spark.createDataFrame(rdd, schema).repartition(col("batch"))
      .write.mode(SaveMode.Overwrite).partitionBy("batch").parquet(path)
  }
}

/** Expected accounting of a generated row range. */
final class Counts {
  var read = 0L; var recovered = 0L; var dropped = 0L
  def valid: Long = read - dropped
  def add(o: Counts): Unit = { read += o.read; recovered += o.recovered; dropped += o.dropped }
}

/** Dense (day, country, sport) grain of the valid rows generated so far —
  * the benchmark's own model of the fact, used to check query results. */
final class Model(val days: Int) {
  val count = new Array[Long](days * 12)
  val minutes = new Array[Long](days * 12)
  val completed = new Array[Long](days * 12)
  def add(day: Int, country: Int, sport: Int, m: Int, c: Int): Unit = {
    val k = day * 12 + (country - 1) * 3 + sport
    count(k) += 1; minutes(k) += m; completed(k) += c
  }
}

object Gen {
  final case class AssetTables(ids: Array[String], sport: Array[String],
      inMaster: Array[Boolean], resolved: Array[Int], pools: Array[Array[Int]])

  /** 1 500 master assets with a sport; 300 recoverable ones (half in the
    * master with a NULL or empty sport, half absent from it) whose prefix
    * infers the sport; 90 unresolvable ones (`OXXX-`, `MSL-`, prefix-free),
    * a fifth of them in the master with an empty sport. */
  def assetTables(seed: Long): AssetTables = {
    val rnd = new java.util.SplittableRandom(mix64(seed))
    val ids, sport = Array.newBuilder[String]
    val inM = Array.newBuilder[Boolean]; val res = Array.newBuilder[Int]
    val pools = Array.fill(3)(Array.newBuilder[Int])
    var n = 0
    def add(prefix: String, sp: String, inMaster: Boolean, resolved: Int, kind: Int): Unit = {
      ids += (if (prefix.isEmpty) s"${7000000 + n}" else s"$prefix-${10000 + n}")
      sport += sp; inM += inMaster; res += resolved; pools(kind) += n; n += 1
    }
    def pickSport(): Int = {
      val x = rnd.nextDouble()
      if (x < SportWeights(0)) 0 else if (x < SportWeights(0) + SportWeights(1)) 1 else 2
    }
    def pickPrefix(s: Int): String = Prefixes(s)(rnd.nextInt(Prefixes(s).length))
    for (_ <- 0 until 1500) { val s = pickSport(); add(pickPrefix(s), Sports(s), true, s, 0) }
    for (j <- 0 until 300) {
      val s = pickSport()
      if (j % 2 == 0) add(pickPrefix(s), if (j % 4 == 0) null else "", true, s, 1)
      else add(pickPrefix(s), null, false, s, 1)
    }
    for (j <- 0 until 90)
      add(Seq("OXXX", "MSL", "")(j % 3), if (j % 5 == 0) "" else null, j % 5 == 0, -1, 2)
    AssetTables(ids.result(), sport.result(), inM.result(), res.result(),
      pools.map(_.result()))
  }

  val PaperSqliteRows = 1083131L
  val PaperCsvRows = 98732L
  val PaperBatchRows = 50000L
  val PaperUsers = 40000L
  val HistoryDays = 1752 // 2021-01-01 .. 2025-10-18
  val Epoch: LocalDate = LocalDate.of(2021, 1, 1)
  val InferShare = 0.137
  val DropShare = 0.029
  val LateShare = 0.02
  val StepDays = 2
  val ZipfExponent = 1.05
  val Partitions = 4

  val Sports = Array("Ice Hockey", "Inline Hockey", "Ski Jumping")
  val SportWeights = Array(0.55, 0.15, 0.30)
  /** Asset-id prefixes that graft.functions.SportInference maps to each sport. */
  val Prefixes = Array(
    Array("DEL", "AHL", "AIH", "IHB", "SIH", "NLN", "NLA", "ICE", "NXXX", "SLXXX"),
    Array("IHL", "ICEHL"),
    Array("SKJ", "SKA", "FIS"))
  val Countries = Array("Germany", "Austria", "Switzerland", "Liechtenstein")
  val CountryWeights = Array(0.6, 0.2, 0.15, 0.05)
  val CitiesPerCountry = 10
  val PostalsPerCity = 10
  val PostalsPerCountry: Int = CitiesPerCountry * PostalsPerCity
  val Devices = Array("TV", "Mobile", "Web", "Tablet")
  val Qualities = Array("SD", "HD", "4K")

  def postalCode(p: Int): String = pad("P", p, 5)
  /** `prefix` + `x` zero-padded to `width` digits. */
  def pad(prefix: String, x: Int, width: Int): String = {
    val d = x.toString
    prefix + "0" * math.max(0, width - d.length) + d
  }
  private val dateStrings = Array.tabulate(8000)(d => Epoch.plusDays(d.toLong).toString)
  def date(d: Int): LocalDate = Epoch.plusDays(d.toLong)
  def dateString(d: Int): String = dateStrings(d)
  /** 1 = Sunday .. 7 = Saturday, as Spark's dayofweek. */
  def dayOfWeek(d: Int): Int = date(d).getDayOfWeek.getValue % 7 + 1
  def isoWeek(d: Int): Int = date(d).get(IsoFields.WEEK_OF_WEEK_BASED_YEAR)

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def cdf(w: Array[Double]): Array[Double] = {
    val out = new Array[Double](w.length)
    var acc = 0.0
    for (i <- w.indices) { acc += w(i); out(i) = acc }
    for (i <- out.indices) out(i) /= acc
    out
  }

  /** First index whose cumulative weight exceeds `x`. */
  def search(c: Array[Double], x: Double): Int = {
    var lo = 0; var hi = c.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (c(mid) > x) hi = mid else lo = mid + 1 }
    lo
  }
}

/** `starbench.GenCheck <seed> <scale> <batches>`: prints the generator's
  * content hash and bookkeeping as one JSON line, without Spark. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val g = new Gen(args(0).toLong, args(1).toDouble)
    val batches = args(2).toInt
    val digest = MessageDigest.getInstance("SHA-256")
    val counts = new Counts
    val model = new Model(Gen.HistoryDays + (batches + 2) * Gen.StepDays + 8)
    g.tablesDigest(digest)
    g.account(0, g.batchStart(batches), counts, model, digest)
    println(Json.render(Map(
      "sha256" -> digest.digest().map("%02x".format(_)).mkString,
      "read" -> counts.read, "recovered" -> counts.recovered, "dropped" -> counts.dropped,
      "valid" -> counts.valid, "users" -> g.nUsers,
      "days" -> model.count.indices.filter(model.count(_) > 0).map(_ / 12).distinct.size)))
  }
}
