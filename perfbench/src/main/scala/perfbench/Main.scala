package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark JVM. `run.py` launches it once per run and turns the
  * JSON it writes into the reported metrics.
  *
  * Arguments: `--workload registry|lifecycle`
  * `--seed N --seconds S --trace 0|1 --data SF_DIR --queries a,b,...`
  * `--out FILE --trace-out FILE`. The index root and Spark local dir come
  * from the environment and system properties `run.py` sets per run. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sfDir = a("data")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.mkSession(s"local[$cores]", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val cacheEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    if (cacheEntries != "4096") {
      System.err.println(s"spark.sql.codegen.cache.maxEntries resolved to $cacheEntries, not 4096")
      spark.stop()
      sys.exit(3)
    }
    val tr = new Tracer(spark, traced, s"$workload-$seed")
    val body = workload match {
      case "registry" =>
        val names = a("queries").split(',').toSeq.filter(_.nonEmpty)
        val unknown = names.filterNot(graft.SparkEntry.queries.contains)
        require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(",")}")
        RegistryRun(spark, tr, sfDir, names, seed, seconds)
      case "lifecycle" => Lifecycle(spark, tr, sfDir, seed, seconds)
      case w => sys.error(s"unknown workload $w")
    }
    tr.drain()
    val out = s"""{"workload":"$workload","seed":$seed,"traced":$traced,""" +
      s"""$body,"peak_rss_mb":${Json.num(peakRssMb())},"info":${info(spark)}}"""
    Files.write(Paths.get(a("out")), (out + "\n").getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(a("trace-out")),
      tr.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Seconds from JVM start to now: the set-up time of this process. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** VmHWM of this JVM in MB (falls back to the committed heap). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (f.canRead) {
      Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(Runtime.getRuntime.totalMemory / 1e6)
    } else Runtime.getRuntime.totalMemory / 1e6
  }

  /** What the numbers were measured on: cores, heap, JVM flags, confs. */
  private def info(spark: SparkSession): String = {
    val rt = Runtime.getRuntime
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .map(f => "\"" + Json.esc(f) + "\"").mkString("[", ",", "]")
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k == "spark.local.dir" || k.startsWith("spark.driver.") }
      .map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
    val static = s""""spark.sql.codegen.cache.maxEntries":"${
      spark.conf.get("spark.sql.codegen.cache.maxEntries")}""""
    s"""{"cores":${rt.availableProcessors},"max_heap_mb":${rt.maxMemory / (1 << 20)},""" +
      s""""java":"${Json.esc(System.getProperty("java.version"))}",""" +
      s""""spark":"${Json.esc(spark.version)}","jvm_flags":$flags,""" +
      s""""confs":${(confs :+ static).distinct.mkString("{", ",", "}")}}"""
  }
}
