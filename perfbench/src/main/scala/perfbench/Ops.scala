package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Outcome of one timed operation. `digest` is None when it threw. */
final case class OpResult(name: String, wallS: Double, digest: Option[String],
    error: Option[String])

/** Runs one operation as three phases on the driver thread:
  *  - construct: the call that returns the Dataset (for eager lifecycle
  *    verbs this is where the verb's own jobs run);
  *  - plan: wrap it in the [[Digest]] aggregate and force `executedPlan`
  *    on that exact Dataset;
  *  - execute: `collect()` on the same Dataset, so the plan is reused
  *    rather than rebuilt inside this phase. */
final class Ops(tr: Tracer) {
  def run(kind: String, name: String)(mk: => DataFrame): OpResult = {
    val t0 = System.nanoTime()
    try tr.span(kind, name) {
      val df = tr.span("construct", name)(mk)
      val dq = tr.span("plan", name) {
        val dq = Digest.frame(df)
        dq.queryExecution.executedPlan
        if (tr.on) tr.current.foreach(_.catalystMs =
          dq.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
        dq
      }
      val row = tr.span("execute", name)(dq.collect().head)
      OpResult(name, (System.nanoTime() - t0) / 1e9, Some(Digest.render(row)), None)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        OpResult(name, (System.nanoTime() - t0) / 1e9, None, Some(msg))
    }
  }
}
