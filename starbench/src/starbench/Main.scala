package starbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{Analytics, DimBuilder, Pipeline, StarStore, Transform, Validate}
import graft.sources.Sources
import graft.streaming.StreamingIngest

/** Command line: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE [--scale F]`. Runs one workload in a closed loop (one client
  * thread) and writes the raw run record, as JSON, to `--out`. */
object Main {
  val Workloads = Seq("etl_full", "dashboard_mixed")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("out"),
      kv.getOrElse("scale", "0.125").toDouble)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val record = new Run(o).execute()
    Files.write(Paths.get(o.out), Json.render(record).getBytes("UTF-8"))
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, scale: Double)

/** One timed operation: its latency, the source records it folded into the
  * fact, and why it failed its correctness gate, if it did. */
final case class Op(ms: Double, records: Long, error: Option[String])

object Fs {
  def rm(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
  }
  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }
  def dataFiles(dir: String): Seq[Path] = files(dir).filter(_.toString.endsWith(".parquet"))
  /** Bytes of every file under `dir` except checksum side-files. */
  def bytes(dir: String): Long =
    files(dir).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timed[T](body: => T): (T, Double) = { val t = System.nanoTime(); val r = body; (r, ms(t)) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Shared state of one run: the session, the generator and the directories. */
final class Ctx(val o: Opts, val spark: SparkSession) {
  val gen = new Gen(o.seed, o.scale)
  val work: String = o.work
  val in = s"$work/inputs"
  val tr = new Tracer(spark)
  val errors = ArrayBuffer[String]()
  /** Stream batches generated up front, one per report pass: enough for
    * the warm-up and passes of 1 s, three times as fast as seen on a 4-core
    * box. A run that uses them all ends its window early. */
  val nBatches: Int = 4 + math.ceil(o.seconds).toInt
  val model = new Model(Gen.HistoryDays + (nBatches + 2) * Gen.StepDays + 8)
  val digest: MessageDigest = MessageDigest.getInstance("SHA-256")
  val history = new Counts
  val batchCounts: Array[Counts] = Array.fill(nBatches)(new Counts)

  def table(name: String): DataFrame = spark.read.parquet(s"$in/$name")
  def assets: DataFrame = table("assets")
  def subscribers: DataFrame = table("subscribers")
  def postal2city: DataFrame = table("postal2city")
  def cities: DataFrame = table("cities")
  def countries: DataFrame = table("countries")

  /** Fixed lookup tables, history bookkeeping and the input hash. */
  def generateCommon(): Unit = {
    gen.writeTables(spark, in)
    gen.tablesDigest(digest)
    gen.account(0, gen.historyRows, history, model, digest)
  }

  def generateBatches(): Unit = {
    gen.writeBatches(spark, s"$in/batches", nBatches)
    gen.writeHistory(spark, s"$in/history")
    val scratch = new Model(model.days)
    for (b <- 0 until nBatches)
      gen.account(gen.batchStart(b), gen.batchStart(b + 1), batchCounts(b), scratch, digest)
  }

  /** The single parquet file of generated batch `b`. */
  def batchFile(b: Int): Path = {
    require(b < nBatches, s"all $nBatches generated batches used")
    Fs.dataFiles(s"$in/batches/batch=$b").head
  }

  /** Folds batch `b` into the benchmark's model of the fact. */
  def applyBatch(b: Int): Unit = {
    val scratch = new Counts
    gen.account(gen.batchStart(b), gen.batchStart(b + 1), scratch, model,
      MessageDigest.getInstance("SHA-256"))
  }

  /** dim_date covering the history and every stream batch. */
  def dimDate: DataFrame = DimBuilder.dimDateFromBounds(spark,
    java.sql.Date.valueOf(Gen.Epoch), java.sql.Date.valueOf(Gen.date(model.days - 1)))

  /** Pivot columns: every year the history and the batches can reach. */
  val years: Seq[Int] = Gen.Epoch.getYear to Gen.date(model.days - 1).getYear
}

/** The 11 report queries over a star directory. */
object Report {
  val Names: Seq[String] = Seq("executiveSummary", "growthByYearSport", "pivotSportByYear",
    "weeklyForMaxYear", "sportAnalysis", "countryAnalysis", "dayOfWeekAnalysis",
    "peakDayBySport", "peakDayByCountry", "sportShare", "yoyGrowth")

  def query(spark: SparkSession, dir: String, name: String, years: Seq[Int]): DataFrame = {
    val fact = StarStore.readFact(spark, dir)
    def dd = StarStore.readDimDate(spark, dir)
    def dc = StarStore.readDimCountry(spark, dir)
    name match {
      case "executiveSummary" => Analytics.executiveSummary(fact)
      case "growthByYearSport" => Analytics.growthByYearSport(fact)
      case "pivotSportByYear" => Analytics.pivotSportByYear(fact, years)
      case "weeklyForMaxYear" => Analytics.weeklyForMaxYear(fact)
      case "sportAnalysis" => Analytics.sportAnalysis(fact)
      case "countryAnalysis" => Analytics.countryAnalysis(fact, dc)
      case "dayOfWeekAnalysis" => Analytics.dayOfWeekAnalysis(fact, dd)
      case "peakDayBySport" => Analytics.peakDayBySport(fact, dd)
      case "peakDayByCountry" => Analytics.peakDayByCountry(fact, dd, dc)
      case "sportShare" => Analytics.sportShare(fact)
      case "yoyGrowth" => Analytics.yoyGrowth(fact)
    }
  }

  /** Runs query `name` (timed, traced as `analytics.name`) and checks its rows
    * against `expected`. */
  def op(ctx: Ctx, dir: String, name: String, expected: Map[String, Expected.Result]): Op = {
    val (rows, ms) = Clock.timed(ctx.tr.span(s"analytics.$name") {
      query(ctx.spark, dir, name, ctx.years).collect().toSeq
    })
    Op(ms, 0L, Expected.diff(rows, expected(name)).map(d => s"$name: $d"))
  }
}

/** A workload: generated inputs, a repeatable set-up, and a timed op. */
abstract class Workload(val ctx: Ctx) {
  import ctx._
  /** Ops per warm-up and measurement unit: 1, or a full 11-query pass. */
  def unit: Int = 1
  /** Warm-up units run after the set-up and discarded. Two dashboard
    * passes: the first runs cold, the second has settled. */
  def warmUnits: Int = 2
  def generate(): Unit
  /** Builds the initial star for set-up repetition `rep` and returns the
    * timed milliseconds; the last repetition's state is the one kept. */
  def setup(rep: Int, keep: Boolean): Double
  def op(i: Int): Op
  /** Correctness gate at the end of the run; failures go to `ctx.errors`. */
  def finish(): Unit = ()
  /** The star the run leaves behind: fact, dims and staging. */
  def storeDir: String
  /** Source records the star holds. */
  def heldRecords: Long
  /** Whether the generated inputs cannot feed another unit. */
  def exhausted: Boolean = false
  /** Live micro-batches (dashboard_mixed): freshness and rows per batch. */
  val ingests = ArrayBuffer[(Double, Long)]()
  def close(): Unit = ()

  def tables: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    (assets, subscribers, postal2city, cities, countries)
}

/** etl_full: truncate-and-reload of the operational store plus the CSV
  * export into a fresh star directory. */
final class EtlFull(c: Ctx) extends Workload(c) {
  import ctx._
  private var last: String = null

  def generate(): Unit = {
    generateCommon()
    gen.writeStore(spark, s"$in/store")
    gen.writeCsv(spark, s"$in/csv")
  }

  def sources: DataFrame = Sources.parquetTxns(spark, s"$in/store")
    .unionByName(Pipeline.normalizeCsv(Sources.csvExport(spark, s"$in/csv")))

  private def load(dir: String): Pipeline.EtlStats = {
    val txns = tr.span("sources.read")(sources)
    val (a, s, p, ci, co) = tables
    val etl = tr.span("pipeline.runSinglePass") {
      Pipeline.runSinglePass(spark, txns, a, s, p, ci, co)
    }
    tr.span("starstore.writeFact")(StarStore.writeFact(etl.fact, dir))
    val (stats, dimDate) = tr.span("pipeline.finish")(etl.finish())
    tr.span("dims.writeDims")(StarStore.writeDims(dimDate, etl.dimCountry, etl.dimSport, dir))
    stats
  }

  // reloads keep speeding up for about eight reloads as the JIT works
  // through the per-job code; three set-ups and five warm-ups cover them
  override def warmUnits: Int = 5

  /** The initial star is one reload, checked like an op. */
  def setup(rep: Int, keep: Boolean): Double = {
    val r = reload(s"$work/etl/setup-$rep")
    r.error.foreach(e => errors += s"set-up: $e")
    r.ms
  }

  def op(i: Int): Op = reload(s"$work/etl/op-$i")

  /** A timed load into the fresh directory `dir`, then the untimed gate:
    * the accounting must equal the generator's bookkeeping, and the fact
    * must pass `Validate.all`. The previous star is deleted untimed. */
  private def reload(dir: String): Op = {
    val (stats, ms) = Clock.timed(load(dir))
    val want = Pipeline.EtlStats(history.read, 0, history.recovered, history.dropped, 0,
      history.valid)
    val err =
      if (stats != want) Some(s"EtlStats $stats, expected $want")
      else scala.util.Try(Validate.all(StarStore.readFact(spark, dir), want.valid))
        .failed.toOption.map(_.getMessage)
    if (last != null) Fs.rm(last)
    last = dir
    Op(ms, stats.read, err)
  }

  def storeDir: String = last
  def heldRecords: Long = history.read
}

/** dashboard_mixed: the report's 11 queries round-robin over the star, and
  * after each full pass one live micro-batch through the streaming ingest. */
final class DashboardMixed(c: Ctx) extends Workload(c) {
  import ctx._
  override def unit: Int = Report.Names.size
  private var root: String = null
  private var query: StreamingQuery = null
  private var used = 0
  private var validSoFar = 0L
  private var expected: Map[String, Expected.Result] = null
  def drop = s"$root/drop"
  def storeDir: String = s"$root/store"

  def generate(): Unit = {
    generateCommon()
    generateBatches()
  }

  /** Starts the stream on a drop directory holding the history, so the
    * history is seeded through the merger, then writes the dims. */
  def setup(rep: Int, keep: Boolean): Double = {
    val dir = s"$work/dashboard/setup-$rep"
    Files.createDirectories(Paths.get(s"$dir/drop"))
    for ((f, k) <- Fs.dataFiles(s"$in/history").zipWithIndex)
      Files.copy(f, Paths.get(s"$dir/drop/history-$k.parquet"))
    val (q, ms) = Clock.timed {
      val (a, s, p, ci, co) = tables
      val q = StreamingIngest.start(spark, s"$dir/drop", s"$dir/store", a, s, p, ci,
        s"$dir/checkpoint", trigger = Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      StarStore.writeDims(dimDate, DimBuilder.dimCountry(co),
        DimBuilder.dimSport(a, StarStore.readFact(spark, s"$dir/store")), s"$dir/store")
      q
    }
    if (keep) {
      query = q; root = dir; validSoFar = history.valid
      expected = Expected.all(model, years)
    } else { q.stop(); Fs.rm(dir) }
    ms
  }

  def op(i: Int): Op = {
    val k = i % unit
    if (k == 0 && i > 0) ingest()
    Report.op(ctx, storeDir, Report.Names(k), expected)
  }

  /** Drops the next batch file atomically and waits until the stream has
    * folded it into the fact; the wait is the batch's freshness. */
  private def ingest(): Unit = {
    val b = used
    val src = batchFile(b)
    val (_, ms) = Clock.timed(tr.span("ingest.dropAndProcess") {
      Files.move(src, Paths.get(f"$drop/batch-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    })
    used += 1
    ingests += ((ms, batchCounts(b).read))
    System.err.println(f"[starbench] ingest $b $ms%.1f ms")
    applyBatch(b)
    expected = Expected.all(model, years)
    validSoFar += batchCounts(b).valid
    scala.util.Try(Validate.conservation(StarStore.readFact(spark, storeDir), validSoFar))
      .failed.foreach(e => errors += s"after batch $b: ${e.getMessage}")
  }

  /** The streamed fact must equal a one-shot ETL over everything dropped. */
  override def finish(): Unit = {
    val (a, s, p, ci, co) = tables
    val oneShot = Pipeline.run(spark, Sources.parquetTxns(spark, drop), a, s, p, ci, co).fact
    val streamed = StarStore.readFact(spark, storeDir).select(oneShot.columns.map(col): _*)
    val extra = streamed.exceptAll(oneShot).count()
    val missing = oneShot.exceptAll(streamed).count()
    if (extra + missing > 0)
      errors += s"streamed fact differs from one-shot ETL: $extra extra, $missing missing rows"
  }

  def heldRecords: Long = history.read + (0 until used).map(batchCounts(_).read).sum
  override def exhausted: Boolean = used >= nBatches
  override def close(): Unit = if (query != null) query.stop()
}

/** Drives one run: session, generation, set-up, warm-up, measurement and
  * the end-of-run gates. */
final class Run(o: Opts) {
  private val rec = mutable.LinkedHashMap[String, Any]()
  private val SetupReps = 3

  def execute(): collection.Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = graft.Engine.session("starbench")
    val sessionMs = Clock.ms(t0)
    try {
      val ctx = new Ctx(o, spark)
      val w: Workload = o.workload match {
        case "etl_full" => new EtlFull(ctx)
        case "dashboard_mixed" => new DashboardMixed(ctx)
      }
      val (_, genMs) = Clock.timed(w.generate())
      rec("generate_s") = genMs / 1e3
      rec("input_sha256") = ctx.digest.digest().map("%02x".format(_)).mkString
      try measure(ctx, w, sessionMs) finally w.close()
      rec("calibration") = Calibrate(spark)
      rec("errors") = ctx.errors.take(20).toSeq
      if (o.trace) {
        val spans = s"${o.work}/spans-${o.workload}-${o.seed}.jsonl"
        Files.write(Paths.get(spans), ctx.tr.spansJsonl.getBytes("UTF-8"))
        rec("spans_file") = spans
      }
      rec
    } finally spark.stop()
  }

  private def measure(ctx: Ctx, w: Workload, sessionMs: Double): Unit = {
    val reps = (0 until SetupReps).map(r => w.setup(r, keep = r == SetupReps - 1))
    rec("session_start_s") = sessionMs / 1e3
    rec("setup_rep_s") = reps.map(_ / 1e3)
    rec("setup_s") = (sessionMs + Clock.median(reps)) / 1e3

    var i = 0
    def runUnit(trace: Boolean): Seq[Op] = (0 until w.unit).map { _ =>
      val r = try ctx.tr.op(i, trace)(w.op(i))
      catch { case e: Exception => Op(0.0, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      System.err.println(f"[starbench] op $i ${r.ms}%.1f ms gc=${ctx.tr.gcMs}%.0f ms " +
        f"jit=${jit.getTotalCompilationTime} ms codegen=${ctx.tr.codegenCompiles} " +
        r.error.getOrElse(""))
      i += 1
      r
    }

    // warm-up: the set-up repetitions warm the set-up path, and a fixed
    // number of units the op path, so the window starts at the same op in
    // every run
    val warmT0 = System.nanoTime()
    val warm = (0 until w.warmUnits).map { _ =>
      val ops = runUnit(trace = false)
      ops.flatMap(_.error).foreach(e => ctx.errors += s"warm-up: $e")
      ops.map(_.ms).sum
    }
    rec("warmup_units") = warm.size
    rec("warmup_s") = Clock.ms(warmT0) / 1e3
    rec("warmup_settled") = warm.size >= 2 && warm.takeRight(2).max <= warm.takeRight(2).min * 1.10
    val ingestsBefore = w.ingests.size
    // the star as the warm-up left it: the same for every run of a seed
    rec("store_bytes") = Fs.bytes(w.storeDir)
    rec("held_records") = w.heldRecords

    // measurement: whole units in a closed loop until `seconds` have passed;
    // a traced run traces every other unit, so the untraced ones measure
    // the tracing overhead on the same ops
    val units = ArrayBuffer[(Seq[Op], Boolean)]()
    val t0 = System.nanoTime()
    // a traced run needs a traced and an untraced unit at the least
    while ((Clock.ms(t0) < o.seconds * 1e3 || (o.trace && units.size < 2)) && !w.exhausted) {
      val trace = o.trace && units.size % 2 == 1
      units += ((runUnit(trace), trace))
    }
    rec("window_s") = Clock.ms(t0) / 1e3
    // before the end-of-run gates and the calibration kernel, which are not
    // the workload's
    rec("peak_rss_mb") = vmHwmKb / 1024.0
    rec("inputs_exhausted") = w.exhausted
    val ops = units.flatMap { case (u, t) => u.map((_, t)) }
    val failed = ops.filter(_._1.error.nonEmpty)
    failed.flatMap(_._1.error).foreach(ctx.errors += _)
    rec("attempted") = ops.size
    rec("failed") = failed.size
    def good(traced: Boolean) = ops.filter(p => p._2 == traced && p._1.error.isEmpty).map(_._1)
    rec("op_ms") = good(traced = false).map(_.ms).toSeq
    rec("op_records") = good(traced = false).map(_.records).toSeq
    rec("traced_op_ms") = good(traced = true).map(_.ms).toSeq
    rec("unit_ms") = units.filterNot(_._2).map(_._1.map(_.ms).sum).toSeq
    val measured = w.ingests.drop(ingestsBefore)
    rec("ingest_ms") = measured.map(_._1).toSeq
    rec("ingest_records") = measured.map(_._2).toSeq

    w.finish()
    if (o.trace) rec("trace") = Layers(ctx, w, units.filterNot(_._2).map(_._1.map(_.ms).sum).toSeq)
  }

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private def vmHwmKb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** Fixed diagnostic kernel, recorded per run and never compared: a CPU hash
  * loop and a small shuffle, so box drift can be told from a code change. */
object Calibrate {
  private val buf = new Array[Byte](8 << 20)
  def apply(spark: SparkSession): Map[String, Double] = {
    val (_, cpu) = Clock.timed {
      val md = MessageDigest.getInstance("SHA-256")
      for (_ <- 0 until 4) md.update(buf)
      md.digest()
    }
    val (_, shuffle) = Clock.timed {
      spark.range(0, 1000000, 1, 4).groupBy(col("id") % 997).count().collect()
    }
    Map("cpu_ms" -> cpu, "shuffle_ms" -> shuffle)
  }
}
