package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One SQL execution seen by the collectors: wall interval (epoch ms),
  * whether it wrote a transfer chunk, rows written by that chunk, and
  * rows each source file scan produced (keyed by the scanned path). */
final case class QueryRecord(startMs: Long, endMs: Long, chunk: Boolean,
                             chunkRows: Long, scanRows: Map[String, Long])

/** Counters of one span, filled by the listeners while it is open. */
final class Span(val id: Int, val layer: String, val name: String) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var startMs = 0L
  @volatile var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outRecords = 0L
  var outBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (stage name, max task ms, median task ms) per completed stage. */
  val stages = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val queries = mutable.ArrayBuffer.empty[QueryRecord]
  /** Observed metrics summed by name, UUID/nanos suffixes stripped. */
  val observed = mutable.Map.empty[String, Double]

  /** Max over stages of (max task time / median task time). */
  def taskSkew: Double =
    if (stages.isEmpty) Double.NaN
    else stages.map { case (_, mx, med) => mx.toDouble / math.max(1L, med) }.max

  def toJson: String = {
    def q(x: String) = graft.util.Fs.jsonEscape(x)
    val obs = observed.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
    val stg = stages.map { case (n, mx, med) => s"[${q(n)}, $mx, $med]" }.mkString(", ")
    s"""{"layer": ${q(layer)}, "name": ${q(name)}, "start_ms": $startMs, "end_ms": $endMs, """ +
      s""""jobs": $jobs, "tasks": $tasks, "failed_tasks": $failedTasks, "cpu_s": ${cpuNs / 1e9}, """ +
      s""""run_s": ${runMs / 1e3}, "gc_s": ${gcMs / 1e3}, "input_records": $inRecords, """ +
      s""""input_bytes": $inBytes, "output_records": $outRecords, "output_bytes": $outBytes, """ +
      s""""shuffle_read_bytes": $shuffleRead, "shuffle_write_bytes": $shuffleWrite, """ +
      s""""spill_bytes": $spill, "queries": ${queries.size}, "stages": [$stg], "observed": {$obs}}"""
  }
}

/** Collectors registered by the benchmark, outside the program: a
  * SparkListener for job/stage/task counters and a QueryExecutionListener
  * for per-query plans and observed metrics. Every job is attributed to
  * the span whose job group was set when it was submitted; threads the
  * program creates inside a span inherit the group. A job without a
  * known group falls back to the span open at its submission (the loop
  * is single-client, so at most one top-level span is open). Spans are
  * kept in memory and summarised after the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val byExec = new ConcurrentHashMap[Long, Span]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()
  private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile private var current: Span = null
  @volatile private var enabled = false
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (!enabled) return
      val props = Option(e.properties)
      val s = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(byGroup.get(g))).orElse(Option(current)).orNull
      if (s == null) return
      e.stageIds.foreach(id => byStage.put(id, s))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).foreach(x => byExec.putIfAbsent(x, s))
      s.synchronized { s.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byStage.get(e.stageId)
      if (s == null) return
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (e.reason != TaskSuccess || e.taskInfo.attemptNumber > 0) s.failedTasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.inRecords += m.inputMetrics.recordsRead
          s.inBytes += m.inputMetrics.bytesRead
          s.outRecords += m.outputMetrics.recordsWritten
          s.outBytes += m.outputMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      taskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { taskTimes.get(e.stageId) += e.taskInfo.duration }
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = byStage.get(e.stageInfo.stageId)
      val ts = Option(taskTimes.remove(e.stageInfo.stageId))
      if (s != null) ts.filter(_.nonEmpty).foreach { t =>
        val sorted = t.synchronized(t.sorted)
        s.synchronized {
          s.stages += ((e.stageInfo.name, sorted.last, sorted(sorted.size / 2)))
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execStart.put(x.executionId, x.time); ()
      case x: SparkListenerSQLExecutionEnd => execEnd.put(x.executionId, x.time); ()
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      if (!enabled) return
      val execId = qe.id
      val s = Option(byExec.get(execId)).orElse(Option(current)).orNull
      if (s == null) return
      val chunkDir = qe.logical match {
        case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.getName.startsWith("chunk-")
        case _ => false
      }
      val chunk = chunkDir || funcName == "foreachPartition"
      val scans = mutable.Map.empty[String, Long]
      def visit(p: SparkPlan): Unit = foreach(p) {
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case f: FileSourceScanExec =>
          val path = f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("?")
          val rows = f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          scans(path) = scans.getOrElse(path, 0L) + rows
        case other => other.subqueries.foreach(visit)
      }
      try visit(qe.executedPlan) catch { case _: Exception => () }
      val observed = qe.observedMetrics
      val chunkRows = observed.collect {
        case (k, row) if k.startsWith("chunk-") && row.schema.fieldNames.contains("rows") =>
          row.getAs[Long]("rows")
      }.sum
      val end = Option(execEnd.get(execId)).map(_.longValue)
        .getOrElse(System.currentTimeMillis())
      val start = Option(execStart.get(execId)).map(_.longValue)
        .getOrElse(end - durationNs / 1000000L)
      s.synchronized {
        s.queries += QueryRecord(start, end, chunk, chunkRows, scans.toMap)
        observed.foreach { case (name, row) =>
          val base = Tracer.stripSuffix(name)
          row.schema.fields.zipWithIndex.foreach { case (f, i) =>
            row.get(i) match {
              case n: java.lang.Number =>
                val k = s"$base.${f.name}"
                s.observed(k) = s.observed.getOrElse(k, 0.0) + n.doubleValue
              case _ => ()
            }
          }
        }
      }
    }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  def enable(): Unit = {
    if (enabled) return
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  def disable(): Unit = {
    if (!enabled) return
    enabled = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `body` as one span. Untraced, this is only a wall-clock timer. */
  def span[A](layer: String, name: String)(body: => A): (A, Span) = {
    val s = synchronized { nextId += 1; new Span(nextId, layer, name) }
    val group = s"perfbench-${s.id}"
    if (enabled) {
      byGroup.put(group, s)
      sc.setJobGroup(group, s"$layer $name", interruptOnCancel = false)
      current = s
    }
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try {
      val out = body
      (out, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      if (enabled) {
        sc.clearJobGroup()
        current = null
        spans.synchronized(spans += s)
      }
    }
  }

  /** Every span recorded while tracing was on, in completion order. */
  def recorded: Seq[Span] = spans.synchronized(spans.toList)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  private val uuidTail =
    "[_-]?([0-9a-f]{32}|[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})$".r
  private val digitsTail = "(-[0-9]+)+$".r
  /** Observation names carry a random UUID or nanoTime suffix so that
    * repeated runs do not collide; aggregate by the stable prefix. */
  def stripSuffix(name: String): String =
    digitsTail.replaceAllIn(uuidTail.replaceAllIn(name, ""), "")
}

/** Peak driver heap still in use right after a GC, from GC notifications.
  * Only the full collections that the benchmark requests count: young
  * collections leave old-generation garbage behind, so the heap they
  * report depends on GC timing rather than on the work. */
final class HeapWatch {
  @volatile private var peak = 0L
  @volatile var on = false
  private val handler = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (on && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcCause == "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
            .map(_.getUsed).sum
          if (used > peak) peak = used
        }
      }
  }
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(handler, null, null)
      case _ => ()
    }
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  /** A full collection, counted while the watch is on. */
  def probe(): Unit = if (on) System.gc()
}
