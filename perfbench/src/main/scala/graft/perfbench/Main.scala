package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The graft benchmark: one closed-loop client drives a workload through
  * the program's public functions and times it from outside.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file> [--scale <f>] [--corrupt none|drop|dup]
  * }}}
  *
  * Run: inputs are generated from the seed, then the session is set up
  * three times (session up, inputs opened) — the first from process start
  * with input generation excluded, the other two as a fresh session in
  * the warm JVM — then one untimed warm-up pass runs, then passes repeat
  * until `--seconds` have elapsed. With
  * `--trace 1`, passes alternate between untraced and traced, and the
  * difference is reported as tracing overhead. The result (the four keys
  * `run.py` prints) is written to `--out`; details (input counts,
  * every pass) and, when traced, every span are written next to it. */
object Main {

  /** The benchmark's workloads. Each part also runs on its own by name. */
  val workloads: Seq[Workload] = {
    val transfer = new Composite("transfer", Seq(TransferParquet, TransferJdbc))
    val curate = new Composite("curate", Seq(CurateText, DedupMedia))
    Seq(transfer, curate) ++ transfer.parts ++ curate.parts
  }

  private def arg(args: Array[String], k: String, dflt: String): String = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
  }

  def main(args: Array[String]): Unit = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wname = arg(args, "workload", "")
    val w = workloads.find(_.name == wname).getOrElse {
      System.err.println(s"unknown workload '$wname'; known: ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = arg(args, "seed", "1").toLong
    val seconds = arg(args, "seconds", "10").toDouble
    val traced = arg(args, "trace", "0") == "1"
    val work = new File(arg(args, "work", s".bench_build/work/$wname"))
    val out = new File(arg(args, "out", s"${work.getPath}/result.json"))
    def since = (System.currentTimeMillis() - processStartMs) / 1000.0
    val ctx = new Ctx(work, seed, arg(args, "scale", "1").toDouble,
      arg(args, "corrupt", "none"), s => System.err.println(f"[perfbench $since%6.1f s] $s"))
    Files2.deleteRecursive(work)
    work.mkdirs()

    val heap = new HeapWatch
    ctx.heapProbe = () => heap.probe()
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def record(fs: Seq[String]): Unit = if (fs.nonEmpty) {
      fs.foreach(f => ctx.log(s"CHECK FAILED: $f"))
      failures += fs.mkString("; ")
    }
    def threw(e: Exception) = s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    def runPass(t: Boolean): PassResult = {
      attempted += 1
      val r = try w.pass(ctx, t) catch {
        case e: Exception => PassResult(0, Double.NaN, Double.NaN, Map.empty, Seq(threw(e)))
      }
      record(r.failures)
      r
    }

    // Set-up: session up and inputs opened, three times — the first from
    // process start (input generation excluded), then twice as a fresh
    // session in the warm JVM. Then one untimed warm-up pass on the last
    // session, so JIT, codegen and session state are warm.
    openSession(ctx, w.name)
    ctx.log("session up")
    val g0 = System.nanoTime()
    w.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    ctx.log("inputs generated")
    w.open(ctx)
    val setups = mutable.ArrayBuffer(
      (System.currentTimeMillis() - processStartMs) / 1000.0 - genS)
    for (_ <- 2 to 3) {
      val t0 = System.nanoTime()
      ctx.spark.stop()
      openSession(ctx, w.name)
      w.open(ctx)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    attempted += 1
    record(try w.warmUp(ctx) catch { case e: Exception => Seq(threw(e)) })
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.log(f"inputs generated in $genS%.2f s; set-ups ${setups.map(s => f"$s%.2f").mkString(", ")} s; " +
      f"warm-up $warmS%.2f s")

    // timed region: closed loop, one pass at a time
    val passes = mutable.ArrayBuffer.empty[(Boolean, PassResult)]
    heap.reset(); heap.on = true
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var broken = false // a pass threw: its destinations are in an unknown state
    while (!broken && (elapsed < seconds || passes.isEmpty ||
           (traced && (passes.forall(_._1) || passes.forall(!_._1))))) {
      val t = traced && i % 2 == 1
      if (t) ctx.tracer.enable() else ctx.tracer.disable()
      val r = runPass(t)
      passes += ((t, r))
      broken = r.passS.isNaN
      i += 1
    }
    ctx.tracer.disable()
    heap.on = false
    val timedS = (System.nanoTime() - t0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    ctx.log(f"${passes.size} timed passes in $timedS%.1f s: process cpu $cpuS%.1f s, jit $jitS%.1f s")
    System.gc()

    val ok = passes.map(_._2).filter(r => r.failures.isEmpty && r.passS > 0)
    val plain = passes.filter(p => !p._1).map(_._2).filter(ok.contains)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("rows_per_s", Stats.median(plain.map(r => r.items / r.primaryS).toSeq), "rows/s"),
        ("pass_s", Stats.median(plain.map(_.passS).toSeq), "s"),
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("peak_heap_mb", heap.peakMb, "MB"))
      else {
        val tr = passes.filter(_._1).map(_._2).filter(ok.contains)
        val keys = Metrics.perLayer
        val overhead = 100.0 * (Stats.median(tr.map(_.passS).toSeq) /
          Stats.median(plain.map(_.passS).toSeq) - 1.0)
        keys.map { case (k, unit) =>
          val v =
            if (k == "trace.overhead_pct") overhead
            else Stats.median(tr.flatMap(_.layer.get(k)).toSeq.filterNot(_.isNaN))
          (k, if (v.isNaN) 0.0 else v, unit)
        }
      }

    val attemptedTotal = attempted
    val failed = failures.size
    val metricJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val result = s"""{"correct": ${failed == 0}, "attempted": $attemptedTotal, "failed": $failed, "metrics": {$metricJson}}"""
    writeFile(out, result + "\n")
    val detail = new StringBuilder
    detail ++= s"""{"workload": "${w.name}", "seed": $seed, "trace": $traced, """
    detail ++= s""""inputs": {${w.inputCounts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")}}, """
    detail ++= s""""generate_s": ${num(genS)}, "setups_s": [${setups.map(num).mkString(", ")}], "warmup_s": ${num(warmS)}, """
    detail ++= s""""passes": [${passes.map { case (t, r) =>
      s"""{"traced": $t, "items": ${r.items}, "primary_s": ${num(r.primaryS)}, "pass_s": ${num(r.passS)}, "failures": ${r.failures.size}}"""
    }.mkString(", ")}], "failures": [${failures.map(graft.util.Fs.jsonEscape).mkString(", ")}]}"""
    writeFile(new File(out.getPath.stripSuffix(".json") + ".detail.json"), detail.toString + "\n")
    if (traced) writeFile(new File(out.getPath.stripSuffix(".json") + ".spans.json"),
      ctx.tracer.recorded.map(_.toJson).mkString("[\n", ",\n", "\n]\n"))
    ctx.spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeFile(f: File, s: String): Unit = {
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val pw = new PrintWriter(f, "UTF-8")
    try pw.write(s) finally pw.close()
  }

  /** A session as the program builds it (`graft.Sessions`), with every
    * scratch location inside the run's work directory. */
  private def openSession(ctx: Ctx, app: String): Unit = {
    val spark = graft.Sessions.builder(s"perfbench-$app", graft.Sessions.cores)
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.checkpoint.dir", ctx.path("spark-checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ctx.spark = spark
    ctx.tracer = new Tracer(spark)
  }
}
