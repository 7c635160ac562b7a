package starbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.StarbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports for the work one span caused. */
final class Counters {
  var jobs, tasks, runMs, schedDelayMs, inBytes, inRecords = 0L
  var shuffleBytes, spillBytes, outBytes, queries, planMs = 0L
  var filesRead, bytesRead, broadcastBytes, filesWritten = 0L
}

/** One call into a layer: `parent` is the enclosing span's id (-1 for an
  * op's root), `op` the op it belongs to. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end = 0L
  var gcMs = 0.0
  var codegen = 0L
  val c = new Counters
  def ms: Double = (end - start) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer, with the
  * counters of a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener attributed to them. Each span sets a job group;
  * jobs that carry no group of ours (the stream's own thread) go to the
  * innermost open span. Only ops run with `traced = true` record anything,
  * and the listeners are attached only around them. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val spans = ArrayBuffer[Span]()
  val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
  private val sc = spark.sparkContext
  @volatile private var open: List[Span] = Nil
  private var traced = false
  private var op = -1
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private def spanOf(group: String): Span =
    if (group != null && group.startsWith("sb-")) spans(group.drop(3).toInt)
    else open.headOption.orNull

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      if (s != null) { s.c.jobs += 1; e.stageIds.foreach(stageSpan.put(_, s)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val i = e.taskInfo
        s.c.tasks += 1
        s.c.runMs += m.executorRunTime
        s.c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        s.c.inBytes += m.inputMetrics.bytesRead
        s.c.inRecords += m.inputMetrics.recordsRead
        s.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queries = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = open.headOption.orNull
      if (s != null) {
        s.c.queries += 1
        s.c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        collectWithSubqueries(qe.executedPlan) {
          case f: FileSourceScanExec =>
            s.c.filesRead += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
            s.c.bytesRead += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case b: BroadcastExchangeExec =>
            s.c.broadcastBytes += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          case w: DataWritingCommandExec =>
            s.c.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val stream = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` as op `i`, recording spans only when `trace` is set. */
  def op[T](i: Int, trace: Boolean)(body: => T): T = {
    if (!trace) return body
    StarbenchBus.drain(sc)
    sc.addSparkListener(jobs); spark.listenerManager.register(queries)
    spark.streams.addListener(stream)
    traced = true; op = i
    val gc0 = gcMs
    val cg0 = codegenCompiles
    try span("op")(body)
    finally {
      spans.filter(x => x.op == i && x.parent < 0).foreach { s =>
        s.gcMs = gcMs - gc0; s.codegen = codegenCompiles - cg0
      }
      traced = false
      sc.removeSparkListener(jobs); spark.listenerManager.unregister(queries)
      spark.streams.removeListener(stream)
    }
  }

  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
      .getCollectionTime.toDouble).sum

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A call into a layer, named `layer.function`. */
  def span[T](name: String)(body: => T): T = {
    if (!traced) return body
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), op, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s"sb-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      StarbenchBus.drain(sc)
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"sb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Counters of `s` and every span beneath it. */
  def total(s: Span): Counters = {
    val out = new Counters
    for (x <- spans if x.op == s.op && covers(s, x)) {
      val c = x.c
      out.jobs += c.jobs; out.tasks += c.tasks; out.runMs += c.runMs
      out.schedDelayMs += c.schedDelayMs; out.inBytes += c.inBytes
      out.inRecords += c.inRecords; out.shuffleBytes += c.shuffleBytes
      out.spillBytes += c.spillBytes; out.outBytes += c.outBytes
      out.queries += c.queries; out.planMs += c.planMs; out.filesRead += c.filesRead
      out.bytesRead += c.bytesRead; out.broadcastBytes += c.broadcastBytes
      out.filesWritten += c.filesWritten
    }
    out
  }

  private def covers(a: Span, b: Span): Boolean =
    b.id == a.id || (b.parent >= 0 && covers(a, spans(b.parent)))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJsonl: String = spans.map { s =>
    Json.render(scala.collection.immutable.ListMap("name" -> s.name, "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> s.c.jobs, "tasks" -> s.c.tasks))
  }.mkString("", "\n", "\n")
}

/** Minimal JSON writer for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => render(other.toString)
  }
}
