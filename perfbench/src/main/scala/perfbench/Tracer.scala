package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.JsonOut

/** One span: a named interval with the span that caused it and the
  * counters measured at its boundary. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Double, end: Double, counters: Map[String, Double]) {
  def json: String = {
    val c = counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${JsonOut.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":${JsonOut.str(id)},"parent":${JsonOut.str(parent)},"kind":${JsonOut.str(kind)},""" +
      s""""name":${JsonOut.str(name)},"start":${Json.num(start)},"end":${Json.num(end)},""" +
      s""""counters":{$c}}"""
  }
}

/** JSON numbers for the benchmark's outputs; strings go through the
  * engine's escaper, `graft.JsonOut`. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}

/** Epoch-millisecond clock with sub-millisecond resolution, on the same
  * time base as Spark's event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records the span hierarchy workload → pass → call → {build, materialize}
  * → job → stage, plus SQL queries (with their planning phases) and
  * streaming micro-batches, from three listeners that live only in the
  * benchmark. Benchmark spans carry the id of the span open around the
  * call into the engine in the local property [[SpanProperty]], which
  * jobs inherit; queries and micro-batches, which carry no local
  * properties, get the benchmark span that contains their start.
  * Spans stay in memory until [[write]]. */
final class Tracer {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong()

  def newId(kind: String): String = s"$kind:${ids.incrementAndGet()}"
  def add(s: Span): Unit = spans.synchronized { spans += s }

  // ── Spark scheduler events ──
  private case class JobInfo(start: Double, parent: String, name: String)
  private final class StageAcc {
    var tasks, runMs, cpuMs, gcMs, inputB, shufWriteB, shufReadB, spillB, outputB = 0.0
    val durations = mutable.ArrayBuffer.empty[Double]
  }
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  // SQL executions by execution id: start, end and the QueryExecution id,
  // which is what the QueryExecutionListener sees
  private val sqlStart = new ConcurrentHashMap[Long, Double]()
  private val sqlEnd = new ConcurrentHashMap[Long, (Double, Long)]()
  private val queries = new ConcurrentHashMap[Long, (String, Map[String, Double])]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProperty))).getOrElse("")
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobInfo(e.time.toDouble, parent, group))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
        add(Span(s"job:${e.jobId}", j.parent, "job", j.name, j.start,
          e.time.toDouble, Map("succeeded" -> ok)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val a = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new StageAcc)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.inputB += m.inputMetrics.bytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outputB += m.outputMetrics.bytesWritten
          a.durations += e.taskInfo.duration.toDouble
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageAcc.remove((s.stageId, s.attemptNumber()))).getOrElse(new StageAcc)
      val d = a.durations.sorted
      val skew = if (d.size < 2 || d(d.size / 2) <= 0) 1.0 else d.last / d(d.size / 2)
      val job = Option(stageJob.get(s.stageId)).map(j => s"job:$j").getOrElse("")
      add(Span(s"stage:${s.stageId}.${s.attemptNumber()}", job, "stage", s.name,
        s.submissionTime.getOrElse(0L).toDouble,
        s.completionTime.getOrElse(0L).toDouble,
        Map("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuMs,
          "gc_ms" -> a.gcMs, "input_bytes" -> a.inputB,
          "shuffle_write_bytes" -> a.shufWriteB,
          "shuffle_read_bytes" -> a.shufReadB,
          "spill_bytes" -> a.spillB, "output_bytes" -> a.outputB,
          "task_skew" -> skew)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd =>
        Internals.queryId(s).foreach(q => sqlEnd.put(s.executionId, (s.time.toDouble, q)))
      case _ => ()
    }
  }

  // ── Catalyst: planning phases and scanned files per SQL execution ──
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val files = Plans.scanFiles(qe)
      queries.put(qe.id, (func, Map("analysis_ms" -> ms("analysis"),
        "optimizer_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
        "duration_ms" -> durationNs / 1e6, "scan_files" -> files)))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ── Structured Streaming micro-batches ──
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue)
        .getOrElse(0.0)
      add(Span(newId("batch"), "", "batch", Option(p.name).getOrElse(""), start,
        start + dur, Map("batch_id" -> p.batchId.toDouble,
          "input_rows" -> p.numInputRows.toDouble)))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    Internals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Turns the recorded SQL executions into query spans, gives queries
    * and micro-batches their containing benchmark span, and writes every
    * span as one JSON line. */
  def write(path: String): Int = spans.synchronized {
    sqlEnd.asScala.foreach { case (exec, (end, qeId)) =>
      Option(queries.get(qeId)).foreach { case (func, counters) =>
        val start = Option(sqlStart.get(exec)).getOrElse(end - counters("duration_ms"))
        spans += Span(s"sql:$exec", "", "query", func, start, end, counters)
      }
    }
    sqlEnd.clear()
    val leaves = spans.filter(s => s.kind == "build" || s.kind == "materialize" ||
      s.kind == "memo").sortBy(_.start).toIndexedSeq
    def container(t: Double): String =
      leaves.find(s => s.start <= t && t <= s.end).map(_.id).getOrElse("")
    val out = spans.map { s =>
      if (s.parent.isEmpty && (s.kind == "query" || s.kind == "batch" || s.kind == "job"))
        s.copy(parent = container(s.start))
      else s
    }
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try out.foreach { s => w.write(s.json); w.newLine() } finally w.close()
    out.size
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Physical-plan walk for the scan layer: files read by file-source scans,
  * through command wrappers, adaptive query stages and subqueries. A node
  * reachable twice (an adaptive plan's input and final plan share their
  * leaves) is counted once. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def scanFiles(qe: QueryExecution): Double = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Long =
      if (!seen.add(p)) 0L
      else {
        val own = p match {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ => 0L
        }
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => Nil
        }
        own + (p.children ++ p.subqueries ++ inner ++
          p.innerChildren.collect { case c: SparkPlan => c }).map(walk).sum
      }
    try walk(qe.executedPlan).toDouble
    catch { case scala.util.control.NonFatal(_) => 0.0 }
  }
}
