package graft.perfbench

import java.io.File
import java.nio.file.{FileSystems, Files, Path, StandardWatchEventKinds}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run of a workload shares across its passes. */
final class Ctx(val work: File, val seed: Long, val scale: Double,
                val corrupt: String, val log: String => Unit) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  /** Called by a pass where its results are still live: a full GC there
    * gives the heap the pass needs, without the garbage that young
    * collections leave behind. A no-op outside the timed region. */
  var heapProbe: () => Unit = () => ()
  def path(name: String): String = new File(work, name).getAbsolutePath
  /** Input sizes scale linearly with `--scale` (1 for the timed runs). */
  def n(base: Int): Int = math.max(1, math.round(base * scale).toInt)
}

/** One pass over every leg of a workload.
  *  - `items`, `primaryS`: input items and wall time of the primary leg
  *    (rows_per_s = items / primaryS);
  *  - `passS`: wall time of every leg of the pass, layer probes excluded;
  *  - `layer`: per-layer values (traced passes only);
  *  - `failures`: output checks that did not hold. */
final case class PassResult(items: Long, primaryS: Double, passS: Double,
                            layer: Map[String, Double], failures: Seq[String])

trait Workload {
  def name: String
  /** Seeded inputs, written under the run's work directory. */
  def generate(ctx: Ctx): Unit
  /** Row, asset and byte counts of the generated inputs. */
  def inputCounts: Map[String, Double]
  /** Per-session set-up: open (count) the inputs, reset destinations. */
  def open(ctx: Ctx): Unit
  def pass(ctx: Ctx, traced: Boolean): PassResult
  /** One untraced warm-up pass; returns failed checks. */
  def warmUp(ctx: Ctx): Seq[String] = pass(ctx, traced = false).failures
}

/** Several workloads run back to back as one: every pass runs each
  * part's pass; items, times and per-layer counters add up. Per-layer
  * names that only one part sets pass through unchanged. */
final class Composite(val name: String, val parts: Seq[Workload]) extends Workload {
  /** Inputs of different parts are independent: generated side by side. */
  def generate(ctx: Ctx): Unit = graft.util.Par.run(parts.map(p => () => p.generate(ctx)))
  def inputCounts: Map[String, Double] =
    parts.flatMap(p => p.inputCounts.map { case (k, v) => s"${p.name}.$k" -> v }).toMap
  def open(ctx: Ctx): Unit = parts.foreach(_.open(ctx))
  /** Untimed, so the parts warm up side by side. */
  override def warmUp(ctx: Ctx): Seq[String] =
    graft.util.Par.map(parts.map(p => () => p.warmUp(ctx))).flatten
  def pass(ctx: Ctx, traced: Boolean): PassResult =
    parts.map(_.pass(ctx, traced)).reduce { (a, b) =>
      PassResult(a.items + b.items, a.primaryS + b.primaryS, a.passS + b.passS,
        (a.layer.keySet ++ b.layer.keySet).map(k =>
          k -> (a.layer.getOrElse(k, 0.0) + b.layer.getOrElse(k, 0.0))).toMap,
        a.failures ++ b.failures)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Seconds of [start, end] covered by none of `intervals` (epoch ms). */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, end - start - covered) / 1000.0
  }
}

object Fingerprint {
  type Print = (Long, java.math.BigDecimal)

  /** Order-independent fingerprint of each named frame, in one job: row
    * count and the sum of a 64-bit hash of every row over its columns in
    * the given order. A dropped or duplicated row changes both. */
  def of(frames: Seq[(String, DataFrame, Seq[String])]): Map[String, Print] = {
    val rows = frames.map { case (name, df, cols) =>
      df.select(lit(name).as("t"), xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)): Print)).toMap
    frames.map { case (name, _, _) =>
      name -> got.getOrElse(name, (0L, java.math.BigDecimal.ZERO))
    }.toMap
  }

  /** A check that cannot read its destination fails, with the reason. */
  def guard(leg: String)(check: => Seq[String]): Seq[String] =
    try check catch {
      case e: Exception => Seq(s"$leg: destination unreadable: ${e.getMessage.takeWhile(_ != '\n')}")
    }

  /** Differences between two sets of fingerprints, one line per frame. */
  def diff(leg: String, got: Map[String, Print], want: Map[String, Print]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (name, w) if got.get(name).forall(g => g._1 != w._1 || g._2.compareTo(w._2) != 0) =>
        val g = got.getOrElse(name, (0L, java.math.BigDecimal.ZERO))
        s"$leg: $name has ${g._1} rows (hash ${g._2}), expected ${w._1} (hash ${w._2})"
    }
}

object Files2 {
  def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete(); ()
  }
  /** Bytes of the data files under `f` (hidden and `_`-prefixed files skipped). */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dataBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
}

/** Counts checkpoint saves from outside the program: `Checkpoint.save`
  * writes a hidden `.tmp` file and renames it, and each creation shows up
  * as a file-system event on the checkpoint directory. */
final class SaveCounter(dir: File) extends AutoCloseable {
  dir.mkdirs()
  private val ws = FileSystems.getDefault.newWatchService()
  dir.toPath.register(ws, StandardWatchEventKinds.ENTRY_CREATE)
  @volatile private var n = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val key = ws.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (key != null) {
        key.pollEvents().asScala.foreach { e =>
          e.context() match {
            case p: Path if p.toString.endsWith(".tmp") => n += 1
            case _ => ()
          }
        }
        key.reset()
      }
    }
  })
  thread.setDaemon(true)
  thread.start()
  def count: Long = n
  /** Stop watching after the pending events are counted. */
  def close(): Unit = {
    Thread.sleep(60)
    running = false
    thread.join()
    ws.close()
  }
}

/** Per-layer values accumulated over a traced pass. Every span adds
  * `<layer>.cpu_s`, `.jobs`, `.shuffle_bytes`, `.spill_bytes`, `.gc_s`. */
final class LayerValues {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def set(k: String, v: Double): Unit = m(k) = v
  def span(s: Span, jobs: Boolean = true): Unit = {
    add(s"${s.layer}.cpu_s", s.cpuNs / 1e9)
    if (jobs) add(s"${s.layer}.jobs", s.jobs.toDouble)
    add(s"${s.layer}.shuffle_bytes", (s.shuffleRead + s.shuffleWrite).toDouble)
    add(s"${s.layer}.spill_bytes", s.spill.toDouble)
    add(s"${s.layer}.gc_s", s.gcMs / 1000.0)
  }
  def toMap: Map[String, Double] = m.toMap
}
