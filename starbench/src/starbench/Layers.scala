package starbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.etl.{StarStore, Transform}
import graft.sources.Sources

/** Per-layer metrics of a traced run, named after the modules they measure.
  * A layer a workload leaves idle reports 0. See README.md for each
  * metric's definition and the end-to-end metric it should move. */
object Layers {
  def apply(ctx: Ctx, w: Workload, unitMs: Seq[Double]): mutable.LinkedHashMap[String, Any] = {
    import ctx._
    val out = mutable.LinkedHashMap[String, Any]()
    def put(name: String, v: Double, unit: String): Unit =
      out(name) = Map("value" -> v, "unit" -> unit)
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Clock.median(xs.toSeq)
    def ms(name: String): Double = med(tr.named(name).map(_.ms))

    val etl = w.isInstanceOf[EtlFull]
    // spans that fold source records into the star, and spans of one
    // timed op: etl_full's reloads; dashboard_mixed's live batches and queries
    val opSpans = tr.named("op").filter(_.op >= 0)
    val folds = if (etl) opSpans else tr.named("ingest.dropAndProcess")
    val queries = tr.spans.filter(_.name.startsWith("analytics.")).toSeq
    val perOp = if (etl) opSpans else queries
    def foldMed(f: Counters => Long) = med(folds.map(s => f(tr.total(s)).toDouble))
    def queryMed(f: Counters => Long) = med(queries.map(s => f(tr.total(s)).toDouble))

    val p = probe(ctx, w)
    val validHeld = history.valid + batchCounts.take(w.ingests.size).map(_.valid).sum
    val fact = StarStore.readFact(spark, w.storeDir)

    put("sources.scan_ms", p("scan"), "ms")
    put("sources.records_read", p("scan_records"), "count")
    put("sources.bytes_read", p("scan_bytes"), "B")

    val folded =
      if (etl) history else { val c = new Counts; batchCounts.take(w.ingests.size).foreach(c.add); c }
    put("transform.maps_ms", p("maps"), "ms")
    put("transform.map_users", Transform.userCountry(subscribers, postal2city, cities).count(), "count")
    put("transform.broadcast_bytes", foldMed(_.broadcastBytes), "B")
    put("transform.enrich_self_ms", math.max(0, p("enrich") - p("scan") - p("maps")), "ms")
    put("transform.inferred_share", folded.recovered.toDouble / math.max(1, folded.read), "ratio")
    put("transform.valid_share", folded.valid.toDouble / math.max(1, folded.read), "ratio")
    put("transform.rollup_self_ms", math.max(0, p("rollup") - p("enrich")), "ms")
    put("transform.shuffle_bytes", foldMed(_.shuffleBytes), "B")
    put("transform.spill_bytes", foldMed(_.spillBytes), "B")
    put("transform.rows_per_grain_row", validHeld.toDouble / math.max(1, fact.count()), "ratio")

    put("pipeline.plan_ms", foldMed(_.planMs), "ms")
    put("pipeline.finish_wait_ms", ms("pipeline.finish"), "ms")

    put("dims.write_ms", ms("dims.writeDims"), "ms")
    put("dims.date_rows", StarStore.readDimDate(spark, w.storeDir).count(), "count")

    put("starstore.write_self_ms", math.max(0, p("write") - p("rollup")), "ms")
    put("starstore.files_written", foldMed(_.filesWritten), "count")
    put("starstore.bytes_written", foldMed(_.outBytes), "B")
    put("starstore.fact_files", Fs.dataFiles(s"${w.storeDir}/fact_streaming_summary").size, "count")
    put("starstore.files_read_per_query", queryMed(_.filesRead), "count")
    put("starstore.bytes_read_per_query", queryMed(_.bytesRead), "B")

    val progress = tr.progress.values.asScala.filter(_.batchId > 0).toSeq
    def dur(k: String) = progress.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0))
    val staging = s"${w.storeDir}/staging_valid_txns"
    val recompute = progress.sortBy(_.batchId).takeRight(3).map { pr =>
      val years = Fs.files(s"$staging/batch=${pr.batchId}").map(_.getParent.getFileName.toString)
        .filter(_.startsWith("year=")).distinct.map(_.stripPrefix("year=").toInt)
      val rows = if (years.isEmpty) 0L else spark.read.option("basePath", staging)
        .parquet(staging).filter(col("year").isin(years: _*)).count()
      (years.size.toDouble, rows.toDouble, batchCounts(pr.batchId.toInt - 1).valid.toDouble)
    }
    put("ingest.trigger_ms", med(dur("triggerExecution")), "ms")
    put("ingest.engine_overhead_ms",
      med(dur("triggerExecution").zip(dur("addBatch")).map { case (t, a) => t - a }), "ms")
    put("ingest.merge_ms", med(dur("addBatch")), "ms")
    put("ingest.years_recomputed", med(recompute.map(_._1)), "count")
    put("ingest.staging_files", Fs.dataFiles(staging).size, "count")
    put("ingest.recompute_rows", med(recompute.map(_._2)), "count")
    put("ingest.useful_ratio", med(recompute.map(r => if (r._2 > 0) r._3 / r._2 else 0.0)), "ratio")
    put("ingest.bytes_written",
      if (etl) 0.0 else med(tr.named("ingest.dropAndProcess").map(s => tr.total(s).outBytes.toDouble)), "B")

    for (q <- Report.Names) put(s"analytics.${q}_ms", ms(s"analytics.$q"), "ms")
    put("analytics.report_ms", if (etl) 0.0 else med(unitMs), "ms")
    put("analytics.plan_ms", queryMed(_.planMs), "ms")
    put("analytics.exec_ms", med(queries.map(s => s.ms - tr.total(s).planMs)), "ms")
    put("analytics.jobs_per_query", queryMed(_.jobs), "count")
    put("analytics.tasks_per_query", queryMed(_.tasks), "count")

    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toDouble
    put("engine.busy_share", perOp.map(s => tr.total(s).runMs.toDouble).sum /
      math.max(1.0, perOp.map(_.ms).sum * cores), "ratio")
    put("engine.gc_ms_per_op", med(opSpans.map(_.gcMs)), "ms")
    put("engine.codegen_compiles_per_op", med(opSpans.map(_.codegen.toDouble)), "count")
    put("engine.tasks_per_op", med(perOp.map(s => tr.total(s).tasks.toDouble)), "count")
    put("engine.scheduler_delay_ms_per_op",
      med(perOp.map(s => tr.total(s).schedDelayMs.toDouble)), "ms")
    out
  }

  /** Forces the transform's lazy stages to a `noop` sink one prefix at a
    * time (scan; lookup maps; scan + enrich; + quality gate and rollup;
    * + fact write), three times, and returns the median time of each and
    * the scan's input counters. Differences of consecutive stages are the
    * layers' self times. */
  private def probe(ctx: Ctx, w: Workload): Map[String, Double] = {
    import ctx._
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val input: () => DataFrame = w match {
      case e: EtlFull => () => e.sources
      case _ => () => Sources.parquetTxns(spark, s"$in/history")
    }
    val (a, s, p, ci, _) = w.tables
    for (r <- 0 until 3) tr.op(-1 - r, trace = true) {
      val uc = Transform.userCountry(s, p, ci)
      val as = Transform.assetSport(a)
      def rollup = Transform.rollup(Transform.qualityGate(Transform.enrich(input(), uc, as)))
      tr.span("probe.scan")(noop(input()))
      tr.span("probe.maps") { noop(uc); noop(as) }
      tr.span("probe.enrich")(noop(Transform.enrich(input(), uc, as)))
      tr.span("probe.rollup")(noop(rollup))
      tr.span("probe.write")(StarStore.writeFact(rollup, s"$work/probe-$r"))
      Fs.rm(s"$work/probe-$r")
    }
    def med(name: String, f: Span => Double) = Clock.median(tr.named(name).map(f))
    Map("scan" -> med("probe.scan", _.ms), "maps" -> med("probe.maps", _.ms),
      "enrich" -> med("probe.enrich", _.ms), "rollup" -> med("probe.rollup", _.ms),
      "write" -> med("probe.write", _.ms),
      "scan_records" -> med("probe.scan", _.c.inRecords.toDouble),
      "scan_bytes" -> med("probe.scan", _.c.inBytes.toDouble))
  }
}
