package perfbench

import java.io.File

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Run-level readings: the run's index root on disk, the persisted memo
  * bytes, generated-method sizes, and the JSON of a timed pass. */
object Store {
  def indexRoot: File = new File(sys.env("GRAFT_INDEX_ROOT"))

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk) ++ Iterator(f)
    else Iterator(f)

  /** Published artifact directories (those carrying a `_SUCCESS` marker). */
  def artifacts(): Int = walk(indexRoot).count(f => f.getName == "_SUCCESS")

  /** (bytes, files) of regular files under the index root. */
  def usage(): (Long, Long) = {
    val files = walk(indexRoot).filter(_.isFile).toSeq
    (files.map(_.length).sum, files.size.toLong)
  }

  /** Memory plus disk bytes of every persisted RDD, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Largest generated method seen by the codegen metrics, in bytes. */
  def maxMethodBytes(): Double =
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble

  def opJson(o: OpResult): String =
    s"""["${Json.esc(o.name)}",${Json.num(o.wallS)},""" +
      o.digest.map(d => "\"" + d + "\"").getOrElse("null") + "," +
      o.error.map(e => "\"" + Json.esc(e) + "\"").getOrElse("null") + "]"

  def passJson(p: Registry.Pass): String =
    s"""{"traced":${p.span.traced},"wall_s":${Json.num(p.wallS)},""" +
      s""""ops":${p.ops.map(opJson).mkString("[", ",", "]")}}"""
}
