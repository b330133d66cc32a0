package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.Sessions

/** Settings of one benchmark run (see run.py for the command line). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: String, smoke: Boolean, heap: String)

/** What a workload hands back: set-up phases, the timed operations'
  * latencies, the correctness tally and (traced) its per-layer metrics. */
final case class Outcome(prepNs: Seq[Long], warmNs: Long, opsMs: Seq[Double],
    attempted: Long, failed: Long, layers: Map[String, Double])

/** A correctness tally: each check either holds or counts one failure. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  /** Runs one operation with its checks; a throw or a false check fails it. */
  def apply(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $what threw: $e")
        e.printStackTrace()
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: check failed: $what")
    }
  }
}

trait Workload {
  def run(spark: SparkSession, trace: Trace, o: Opts): Outcome
}

object Main {

  val workloads: Map[String, Workload] = Map(
    "flight_etl" -> FlightEtl, "dashboard_replay" -> DashboardReplay,
    "operator_mix" -> OperatorMix)

  /** Metric name → unit, for both modes; keep in step with BENCHMARK.json. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload '$w'")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got '$t'")
    Opts(w, need("seed").toLong, need("seconds").toDouble, t == "1",
      need("work"), kv.get("smoke").contains("1"), kv.getOrElse("heap", "?"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cpus.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = new Trace(spark, o.traced)
    val out =
      try workloads(o.workload).run(spark, trace, o)
      finally {
        trace.close()
        spark.stop()
      }
    val setupS = sessionS + Stats.median(out.prepNs.map(_.toDouble)) / 1e9 +
      out.warmNs / 1e9
    val opsJobs = trace.ops.map(_.jobs.toDouble).toSeq
    val runtime = Map(
      "spark.jobs" -> Stats.median(opsJobs),
      "spark.stages" -> Stats.median(trace.ops.map(_.stages.toDouble).toSeq),
      "spark.cpu_s" -> Stats.median(trace.ops.map(_.cpuNs / 1e9).toSeq),
      "spark.gc_s" -> Stats.median(trace.ops.map(_.gcMs / 1e3).toSeq),
      "spark.jit_s" -> Stats.median(trace.ops.map(_.jitMs / 1e3).toSeq),
      "spark.codegen_compiles" ->
        Stats.median(trace.ops.map(_.codegenCompiles.toDouble).toSeq),
      "spark.codegen_ms" -> Stats.median(trace.ops.map(_.codegenNs / 1e6).toSeq),
      "ops" -> out.opsMs.size.toDouble)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(out.opsMs),
      "peak_rss_mb" -> peakRssMb)
    val layers = Layers.all.map(n => n -> (out.layers ++ runtime).getOrElse(n, 0.0)).toMap
    val shown: Seq[(String, String, Double)] =
      if (o.traced) Layers.all.map(n => (n, Layers.unit(n), layers(n)))
      else endToEnd.map { case (n, u) => (n, u, e2e(n)) }
    System.err.println(
      f"perfbench: workload=${o.workload} seed=${o.seed} traced=${o.traced} " +
      f"cpus=$cpus heap=${o.heap} session_s=$sessionS%.3f " +
      f"prep_s=${out.prepNs.map(_ / 1e9).map(x => f"$x%.3f").mkString(",")} " +
      f"warm_s=${out.warmNs / 1e9}%.3f ops=${out.opsMs.size} " +
      f"op_ms=${out.opsMs.map(x => f"$x%.0f").mkString(",")} " +
      f"spark.jobs/op=${Stats.median(opsJobs)} " +
      e2e.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val metrics = shown.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {$metrics}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The process's high-water resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Files {
  /** Total size of the regular files under `path`. */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.isFile) f.length else 0L
    walk(new File(path))
  }

  def fresh(path: String): String = {
    val f = new File(path)
    if (f.exists) delete(f)
    JFiles.createDirectories(Paths.get(path))
    path
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** First line of the first CSV part file under `dir`. */
  def csvHeader(dir: String): Seq[String] = {
    val part = new File(dir).listFiles.filter(_.getName.endsWith(".csv")).minBy(_.getName)
    val src = Source.fromFile(part)
    try src.getLines().next().split(",").toSeq finally src.close()
  }
}
