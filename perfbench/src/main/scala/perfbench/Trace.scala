package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Counters a [[Tracer]]'s listener attributes to a span. */
object Cnt {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val CpuNs = 4
  val ShufWrite = 5; val ShufRead = 6; val FetchWaitMs = 7; val Spill = 8
  val N = 9
}

/** One timed region: a run, a pass, an operation or one of its phases.
  * Driver-side deltas and listener counters are filled only when tracing. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String) {
  var traced = false
  var startNs = 0L
  var endNs = 0L
  var compileNs = 0L
  var compiles = 0L
  var artifactNs = 0L
  var gcMs = 0L
  /** Catalyst phase durations (ms) of a plan phase's QueryExecution. */
  var catalystMs: Map[String, Long] = Map.empty
  val c = new Array[Long](Cnt.N)
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans nest by call structure on the driver thread; when
  * tracing, every span sets a Spark job group naming itself, so the
  * listener attributes each job, stage and task to the innermost span
  * that submitted it. Counters are read only after [[drain]]. */
final class Tracer(spark: SparkSession, val tracing: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val unattributed = new Span(-1, -1, "none", "unattributed")

  private def group(s: Span) = s"$runId-${s.id}"

  private val listener = new SparkListener {
    private def add(s: Span, i: Int, v: Long): Unit = s.synchronized { s.c(i) += v }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val s = g.flatMap(k => Option(byGroup.get(k))).getOrElse(unattributed)
      add(s, Cnt.Jobs, 1)
      j.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageSpan.getOrDefault(e.stageInfo.stageId, unattributed), Cnt.Stages, 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(t.stageId, unattributed)
      val m = t.taskMetrics
      s.synchronized {
        s.c(Cnt.Tasks) += 1
        if (m != null) {
          s.c(Cnt.RunMs) += m.executorRunTime
          s.c(Cnt.CpuNs) += m.executorCpuTime
          s.c(Cnt.ShufWrite) += m.shuffleWriteMetrics.bytesWritten
          s.c(Cnt.ShufRead) += m.shuffleReadMetrics.totalBytesRead
          s.c(Cnt.FetchWaitMs) += m.shuffleReadMetrics.fetchWaitTime
          s.c(Cnt.Spill) += m.diskBytesSpilled
        }
      }
    }
  }
  /** Whether spans opened now are traced; toggled per pass so a traced
    * run can also time untraced passes and report the overhead. */
  var on = false
  def enable(): Unit = if (tracing && !on) { sc.addSparkListener(listener); on = true }
  def disable(): Unit = if (on) { drain(); sc.removeSparkListener(listener); on = false }

  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def current: Option[Span] = stack.headOption

  def span[A](kind: String, name: String)(body: => A): A = {
    val s = new Span(spans.size, current.map(_.id).getOrElse(-1), kind, name)
    spans += s
    stack = s :: stack
    var comp0, n0, art0, gc0 = 0L
    val traced = on
    s.traced = traced
    if (traced) {
      byGroup.put(group(s), s)
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      comp0 = CodeGenerator.compileTime
      n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      art0 = graft.Tables.artifactBuildNanos.get
      gc0 = gcMsNow()
    }
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (traced) {
        s.compileNs = CodeGenerator.compileTime - comp0
        s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
        s.artifactNs = graft.Tables.artifactBuildNanos.get - art0
        s.gcMs = gcMsNow() - gc0
        current match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Deliver every pending listener event (no sleeping). */
  def drain(): Unit = if (tracing) org.apache.spark.perfbench.Drain(sc)

  /** Spans as JSON lines for the trace file. */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val cat = s.catalystMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""" +
      s""""kind":"${s.kind}","name":"${Json.esc(s.name)}","traced":${s.traced},""" +
      s""""start_ns":${s.startNs},"wall_s":${s.wallS},""" +
      s""""compile_ns":${s.compileNs},"compiles":${s.compiles},""" +
      s""""artifact_ns":${s.artifactNs},"gc_ms":${s.gcMs},"catalyst_ms":$cat,""" +
      s""""jobs":${s.c(Cnt.Jobs)},"stages":${s.c(Cnt.Stages)},"tasks":${s.c(Cnt.Tasks)},""" +
      s""""task_run_ms":${s.c(Cnt.RunMs)},"task_cpu_ns":${s.c(Cnt.CpuNs)},""" +
      s""""shuffle_write_b":${s.c(Cnt.ShufWrite)},"shuffle_read_b":${s.c(Cnt.ShufRead)},""" +
      s""""fetch_wait_ms":${s.c(Cnt.FetchWaitMs)},"spill_b":${s.c(Cnt.Spill)}}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
