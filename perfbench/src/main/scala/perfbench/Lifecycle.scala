package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Ingest

/** The ingest-lifecycle workload over the document families. The
  * dataset's `documents` table is symlinked into a run-private dataset
  * dir, so every write lands in the run's own index store. Set-up builds
  * the probed index artifacts. Each timed round then runs, on
  * seed-generated batches:
  *  - commitDocs of fresh ids;
  *  - replaceDocs and deleteDocs of disjoint slices of that commit;
  *  - the exactDedup probe against base ∪ overlay;
  *  - compactIfNeeded (budget 1 segment, so it folds every round) and a
  *    promote, which returns the overlay to empty.
  * Every round has the same shape, so rounds are comparable. Untimed
  * checks compare `overlayReport` and exact-dedup verdicts with a model
  * of what the round committed, after the fold and after the promote. */
object Lifecycle {
  val Docs = 20
  val Replace = 4
  val Delete = 4

  val writeVerbs = Set("commit_docs", "replace_docs", "delete_docs")
  val probeVerbs = Set("exact_dedup")
  val verbs: Seq[String] = Seq("commit_docs", "replace_docs", "delete_docs",
    "exact_dedup", "compact", "promote")

  final case class Round(wallS: Double, ops: Seq[OpResult], span: Span,
      checks: Seq[String], userBytes: Long)

  private def text(rnd: scala.util.Random, tag: String): String =
    (Seq.fill(19)(s"w${rnd.nextInt(400)}") :+ tag).mkString(" ")

  def apply(spark: SparkSession, tr: Tracer, sfDir: String, seed: Long,
      seconds: Double): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("dataset").toString
    Files.createSymbolicLink(Paths.get(s"$d/documents.parquet"),
      Paths.get(s"$sfDir/documents.parquet"))
    val ops = new Ops(tr)
    val baseDocs = spark.read.parquet(s"$d/documents.parquet").count()
    var promotedDocs = 0L
    val promotedTexts = ArrayBuffer.empty[String]
    var segmentsMax = 0L
    def docsDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

    val setupIdx = tr.spans.size
    tr.enable()
    val setupOp = tr.span("setup", "setup") {
      val rnd = new scala.util.Random(seed)
      val probeD = docsDf((0 until 8).map(i => (90000000L + i, text(rnd, s"s$i"))))
      ops.run("verb", "exact_dedup")(Ingest.exactDedup(spark, d, probeD))
    }
    tr.disable()
    val setupSpan = tr.spans(setupIdx)
    val setupPass = Registry.Pass(setupSpan.wallS, Seq(setupOp), setupSpan)
    val setupS = Main.sinceJvmStart()

    def round(r: Int): Round = {
      val rnd = new scala.util.Random(seed * 7919L + r)
      val idBase = 10000000L + r * 1000L
      val docs = (0 until Docs).map(i => (idBase + i, text(rnd, s"u${seed}r${r}d$i")))
      val replaced = docs.slice(0, Replace)
      val deleted = docs.slice(Replace, Replace + Delete)
      val kept = docs.drop(Replace + Delete)
      val newText = replaced.map { case (id, t) => (id, s"$t v2r$r") }
      // twins under fresh ids: kept and previously promoted texts must be
      // flagged corpus_dup; deleted and superseded texts must not be
      val older = promotedTexts.takeRight(4).toSeq
      val twinTexts = kept.take(4).map(_._2) ++ older ++ deleted.map(_._2) ++ replaced.map(_._2)
      val expectDup = Seq.fill(4 + older.size)(true) ++ Seq.fill(Delete + Replace)(false)
      val twins = twinTexts.zipWithIndex.map { case (t, i) => (idBase + 500L + i, t) }
      val userBytes = docs.map(_._2.length.toLong + 8L).sum +
        newText.map(_._2.length.toLong + 8L).sum + 8L * Delete

      val out = ArrayBuffer.empty[OpResult]
      val checks = ArrayBuffer.empty[String]
      def verb(name: String)(mk: => DataFrame): Unit = out += ops.run("verb", name)(mk)
      val idx = tr.spans.size
      val t0 = System.nanoTime()
      tr.span("round", s"round$r") {
        verb("commit_docs")(Ingest.commitDocs(spark, d, docsDf(docs)))
        verb("replace_docs")(Ingest.replaceDocs(spark, d, docsDf(newText)))
        verb("delete_docs")(Ingest.deleteDocs(spark, d, deleted.map(_._1).toDF("doc_id")))
        // the overlay depth the probes run against (a zero-job report)
        segmentsMax = segmentsMax.max(
          overlay(Ingest.overlayReport(spark, d).collect()).values.map(_._1).max)
        verb("exact_dedup")(Ingest.exactDedup(spark, d, docsDf(twins)))
        verb("compact")(Ingest.compactIfNeeded(spark, d, 1).getOrElse(spark.emptyDataFrame))
      }
      val preWall = (System.nanoTime() - t0) / 1e9
      // untimed: after the fold the overlay holds this round's visible
      // rows, and only corpus-stored ids keep a tombstone (none here)
      tr.span("check", s"check$r") {
        val rep = overlay(Ingest.overlayReport(spark, d).collect())
        expect(checks, rep, "docs_raw", Docs - Delete, baseDocs + promotedDocs)
        expect(checks, rep, "docs_deleted", 0, -1)
        val verdicts = Ingest.exactDedup(spark, d, docsDf(twins)).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("corpus_dup")).toMap
        twins.zip(expectDup).foreach { case ((id, _), want) =>
          if (!verdicts.get(id).contains(want))
            checks += s"round $r: exactDedup corpus_dup($id) = ${verdicts.get(id)}, expected $want"
        }
      }
      val t1 = System.nanoTime()
      tr.span("round", s"round${r}b") {
        verb("promote")(Ingest.promote(spark, d))
      }
      val postWall = (System.nanoTime() - t1) / 1e9
      promotedDocs += Docs - Delete
      promotedTexts ++= kept.map(_._2) ++ newText.map(_._2)
      tr.span("check", s"check${r}b") {
        val rep = overlay(Ingest.overlayReport(spark, d).collect())
        expect(checks, rep, "docs_raw", 0, -1)
        expect(checks, rep, "docs_deleted", 0, -1)
      }
      Round(preWall + postWall, out.toSeq, tr.spans(idx), checks.toSeq, userBytes)
    }

    val rounds = ArrayBuffer.empty[Round]
    val (bytes0, files0) = Store.usage()
    val t0 = System.nanoTime()
    var r = 0
    // the first round pays first-use costs; a traced run adds a traced and
    // an untraced round after it, so the tracing overhead compares like
    // with like
    while (rounds.size < (if (tr.tracing) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (r % 2 == 1) tr.enable() else tr.disable()
      rounds += round(r)
      r += 1
    }
    tr.disable()
    val (bytes1, files1) = Store.usage()
    val n = rounds.size.toDouble
    val checks = rounds.flatMap(_.checks)
    val traced = rounds.filter(_.span.traced)
    // the promote half of a round is a sibling span: fold it into layers
    val tracedSpans = traced.map(_.span) ++ traced.flatMap(rd =>
      tr.spans.find(s => s.kind == "round" && s.name == rd.span.name + "b"))
    val extra = if (traced.isEmpty) "" else {
      val all = traced.flatMap(_.ops).toSeq
      val opSpans = tr.spans.filter(s => s.traced && s.kind == "verb")
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val kids = tr.spans.groupBy(_.parent)
      val perVerb = verbs.flatMap { v =>
        val spans = opSpans.filter(_.name == v)
        Seq(s"ingest.${v}_s" -> med(all.filter(_.name == v).map(_.wallS)),
          s"ingest.${v}_jobs" -> med(spans.map(s =>
            kids.getOrElse(s.id, Nil).map(_.c(Cnt.Jobs)).sum.toDouble).toSeq))
      }
      val layers = Layers.of(tr, tracedSpans.toSeq,
        spark.sparkContext.defaultParallelism, traced.size) ++
        Layers.of(tr, Seq(setupSpan), spark.sparkContext.defaultParallelism)
          .map { case (k, v) => s"setup.$k" -> v } ++
        perVerb ++ Seq(
          "ingest.write_p50_s" -> med(all.filter(o => writeVerbs(o.name)).map(_.wallS)),
          "ingest.probe_p50_s" -> med(all.filter(o => probeVerbs(o.name)).map(_.wallS)),
          "overlay.segments_max" -> segmentsMax.toDouble,
          "store.bytes_written" -> (bytes1 - bytes0) / n,
          "store.files_written" -> (files1 - files0) / n,
          "store.bytes_per_user_byte" ->
            (bytes1 - bytes0).toDouble / rounds.map(_.userBytes).sum,
          "tables.artifacts_built" -> Store.artifacts().toDouble,
          "tables.cached_mb" -> Store.cachedMb(spark),
          "codegen.max_method_bytes" -> Store.maxMethodBytes(),
          "trace.phase_gap_max_s" -> Layers.maxPhaseGapS(tr, Set("verb")))
      s""","layers":${Layers.json(layers)}"""
    }
    val passes = rounds.map(rd => Store.passJson(Registry.Pass(rd.wallS, rd.ops, rd.span)))
    s""""setup_s":${Json.num(setupS)},"setup_passes":[${Store.passJson(setupPass)}],""" +
      s""""passes":${passes.mkString("[", ",", "]")},""" +
      s""""checks":${checks.map(c => "\"" + Json.esc(c) + "\"").mkString("[", ",", "]")}$extra"""
  }

  /** family -> (n_segments, n_rows, corpus_rows) of an overlayReport. */
  private def overlay(rows: Array[Row]): Map[String, (Long, Long, Option[Long])] = {
    def num(r: Row, c: String): Long = r.getAs[Number](c).longValue
    rows.map { r =>
      val corpus = if (r.isNullAt(r.fieldIndex("corpus_rows"))) None
        else Some(num(r, "corpus_rows"))
      r.getAs[String]("family") -> (num(r, "n_segments"), num(r, "n_rows"), corpus)
    }.toMap
  }

  private def expect(checks: ArrayBuffer[String], rep: Map[String, (Long, Long, Option[Long])],
      fam: String, rows: Long, corpus: Long): Unit = {
    val (_, n, c) = rep.getOrElse(fam, (0L, 0L, None))
    if (n != rows) checks += s"overlay $fam n_rows = $n, expected $rows"
    if (corpus >= 0 && !c.contains(corpus)) checks += s"overlay $fam corpus_rows = $c, expected $corpus"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
