package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span (or to a whole timed operation). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  /** Final executed plans of the SQL executions run under this span. */
  val plans = mutable.ArrayBuffer[SparkPlanInfo]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    taskMs ++= o.taskMs; plans ++= o.plans
  }

  /** Longest task over the median task (1.0 when there are no tasks). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else taskMs.max.toDouble / math.max(1L, Stats.median(taskMs.map(_.toDouble).toSeq).toLong)

  /** Plan nodes whose name satisfies `p`, over every plan of the span. */
  def planNodes(p: SparkPlanInfo => Boolean): Seq[SparkPlanInfo] = {
    def walk(n: SparkPlanInfo): Seq[SparkPlanInfo] =
      (if (p(n)) Seq(n) else Nil) ++ n.children.flatMap(walk)
    plans.toSeq.flatMap(walk)
  }
}

/** The run's one SparkListener. Untraced it only counts jobs and stages
  * (so both modes can show equal job counts); traced it also folds task
  * metrics and final SQL plans into the counters of the job group (= span
  * instance) they ran under. Events arrive asynchronously: read the
  * counters only after [[Trace.drain]]. */
final class RunListener(traced: Boolean) extends SparkListener {
  val total = new Counters
  private val groups = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val execs = mutable.Map[Long, (String, SparkPlanInfo)]()

  private def group(name: String): Counters = groups.getOrElseUpdate(name, new Counters)

  def counters(name: String): Counters = synchronized {
    val c = group(name)
    c.plans.clear()
    c.plans ++= execs.values.collect { case (g, p) if g == name => p }
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      group(name).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = name)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
    val m = e.taskMetrics
    val targets = Seq(total) ++ stageGroup.get(e.stageId).map(group)
    targets.foreach { c =>
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execs(s.executionId) = (g, s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach { case (g, _) =>
          execs(u.executionId) = (g, u.sparkPlanInfo) }
      case _ =>
    }
  }
}

/** One finished timed operation: its wall time and what it cost. */
final case class OpSample(wallNs: Long, jobs: Long, stages: Long, cpuNs: Long,
    gcMs: Long, jitMs: Long, codegenCompiles: Long, codegenNs: Long)

/** One span instance. `selfNs` excludes the time its child spans cover. */
final class SpanRec(val name: String, val id: String) {
  var wallNs = 0L
  var childNs = 0L
  def selfNs: Long = wallNs - childNs
}

/** Run-scoped measurement: one listener (registered here, removed by
  * [[close]]), timed operations and, when traced, named spans around the
  * benchmark's calls into the program. Spans set the Spark job group, so
  * each span's jobs, tasks and executed plans are attributed to it. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val listener = new RunListener(traced)
  sc.addSparkListener(listener)

  val ops = mutable.ArrayBuffer[OpSample]()
  val spans = mutable.ArrayBuffer[SpanRec]()
  private val stack = mutable.Stack[SpanRec]()
  private var seq = 0L

  def drain(): Unit = ListenerBusDrain(sc)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Times one operation (wall clock only; the counter reads and listener
    * drains sit outside the timed interval) and records what it cost. */
  def op[T](body: => T): (T, Long) = {
    drain()
    val (j0, s0, c0) = listener.synchronized {
      (listener.total.jobs, listener.total.stages, listener.total.cpuNs) }
    val (g0, t0, k0, n0) = (gcMs, jitMs,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val start = System.nanoTime()
    val out = body
    val wall = System.nanoTime() - start
    val (g1, t1, k1, n1) = (gcMs, jitMs,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    drain()
    listener.synchronized {
      ops += OpSample(wall, listener.total.jobs - j0, listener.total.stages - s0,
        listener.total.cpuNs - c0, g1 - g0, t1 - t0, k1 - k0, n1 - n0)
    }
    (out, wall)
  }

  /** A named span around a call into the program; a no-op untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      seq += 1
      val rec = new SpanRec(name, s"$name#$seq")
      val parent = stack.headOption
      sc.setJobGroup(rec.id, name)
      stack.push(rec)
      val start = System.nanoTime()
      try body
      finally {
        rec.wallNs = System.nanoTime() - start
        stack.pop()
        parent.foreach(_.childNs += rec.wallNs)
        spans += rec
        parent match {
          case Some(p) => sc.setJobGroup(p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every finished instance of span `name`. */
  def instances(name: String): Seq[SpanRec] = spans.filter(_.name == name).toSeq

  /** Counters of every instance of `name`: the jobs run directly under it,
    * not those of its child spans. */
  def countersOf(name: String): Seq[Counters] =
    instances(name).map(s => listener.counters(s.id))

  def close(): Unit = sc.removeSparkListener(listener)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
