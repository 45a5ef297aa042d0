package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Passes over registered queries, each consumed in full through [[Ops]]
  * and checked against the recorded digests. */
object Registry {
  /** The seed-permuted query order of pass `pass`. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  final case class Pass(wallS: Double, ops: Seq[OpResult], span: Span)

  def pass(spark: SparkSession, tr: Tracer, sfDir: String, names: Seq[String],
      kind: String): Pass = {
    val ops = new Ops(tr)
    val reg = graft.SparkEntry.queries
    val out = ArrayBuffer.empty[OpResult]
    val idx = tr.spans.size
    val t0 = System.nanoTime()
    tr.span(kind, kind) {
      names.foreach(n => out += ops.run("query", n)(reg(n)(spark, sfDir)))
    }
    Pass((System.nanoTime() - t0) / 1e9, out.toSeq, tr.spans(idx))
  }
}

/** The registry workload. Set-up runs one trivial job (so loading
  * Spark's own classes is not billed to a query), then a cold pass: fresh
  * JVM, empty index root, every artifact built and every class compiled
  * on first use. A second untimed pass lets the JIT catch up. Timed
  * passes then repeat, each in a new seed order, until `seconds` have
  * elapsed (at least three, so the median ignores one disturbed pass).
  * A traced run traces the cold pass and alternates untraced and traced
  * timed passes, so its tracing overhead is measured inside the run. */
object RegistryRun {
  def apply(spark: SparkSession, tr: Tracer, sfDir: String, names: Seq[String],
      seed: Long, seconds: Double): String = {
    val (coldPass, warmupPass) = tr.span("setup", "setup") {
      spark.range(1000).selectExpr("sum(id)").collect()
      tr.enable()
      val cold = Registry.pass(spark, tr, sfDir, Registry.order(names, seed, 0), "cold")
      tr.disable()
      (cold, Registry.pass(spark, tr, sfDir, Registry.order(names, seed, -1), "warmup"))
    }
    val setupS = Main.sinceJvmStart()
    val passes = ArrayBuffer.empty[Registry.Pass]
    val t0 = System.nanoTime()
    while (passes.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (passes.size % 2 == 1) tr.enable() else tr.disable()
      passes += Registry.pass(spark, tr, sfDir,
        Registry.order(names, seed, passes.size + 1), "pass")
    }
    tr.disable()
    val traced = passes.filter(_.span.traced).map(_.span).toSeq
    val cores = spark.sparkContext.defaultParallelism
    val extra = if (traced.isEmpty) "" else {
      val layers = Layers.of(tr, traced, cores) ++
        Layers.of(tr, Seq(coldPass.span), cores).map { case (k, v) => s"setup.$k" -> v } ++
        Seq(
          "tables.artifacts_built" -> Store.artifacts().toDouble,
          "tables.cached_mb" -> Store.cachedMb(spark),
          "codegen.max_method_bytes" -> Store.maxMethodBytes(),
          "trace.phase_gap_max_s" -> Layers.maxPhaseGapS(tr, Set("query")))
      s""","layers":${Layers.json(layers)}"""
    }
    s""""setup_s":${Json.num(setupS)},""" +
      s""""setup_passes":${Seq(coldPass, warmupPass).map(Store.passJson).mkString("[", ",", "]")},""" +
      s""""passes":${passes.map(Store.passJson).mkString("[", ",", "]")}$extra"""
  }
}
