package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark JVM, read from the `run.properties` file
  * the launcher writes (perfbench/run.py).
  */
final class Params(p: java.util.Properties) {
  def str(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing param $k"))
  def long(k: String): Long = str(k).toLong
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def bool(k: String): Boolean = str(k) == "1"
}

/** What a workload hands back: end-to-end metrics, per-layer metrics
  * (traced runs only), counts of attempted and failed operations, and
  * free-form details for the result file.
  */
final class Outcome {
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val details = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
}

/** Benchmark JVM entry point: `graftbench.Main <run.properties>`. Runs
  * one workload and writes `result.json` (and, traced, `spans.json`)
  * next to the properties file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val propsPath = Paths.get(args(0))
    val props = new java.util.Properties()
    val in = Files.newInputStream(propsPath)
    try props.load(in) finally in.close()
    val p = new Params(props)
    val outDir = propsPath.getParent
    val spark = session(p)
    // JVM launch to a ready session
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = new Outcome
    var trace: Option[Trace] = None
    try {
      if (p.bool("trace")) trace = Some(new Trace(spark, s"${p.str("workload")}-${p.str("seed")}"))
      p.str("workload") match {
        case "batch_stream_table" => BatchWorkloads.streamTable(spark, p, out, trace, outDir)
        case "batch_dedup" => BatchWorkloads.dedup(spark, p, out, trace, outDir)
        case "stream_window" => StreamWorkloads.windowCounts(spark, p, out, trace, outDir)
        case "stream_upsert" => StreamWorkloads.upserts(spark, p, out, trace, outDir)
        case w => sys.error(s"unknown workload $w")
      }
      trace.foreach { t =>
        t.close()
        Files.writeString(outDir.resolve("spans.json"), t.toJson)
      }
    } finally spark.stop()
    out.details("session_s") = sessionS
    out.details("peak_rss_mb") = peakRssMb()
    val json = Json.obj(Seq(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> out.endToEnd, "layers" -> out.layers, "details" -> out.details))
    Files.writeString(outDir.resolve("result.json"), json)
  }

  /** The engine's own session. Scratch locations (`spark.local.dir`,
    * warehouse, `java.io.tmpdir`) arrive as `-D` system properties,
    * which SparkConf picks up, so the session is built exactly as
    * graft builds it.
    */
  def session(p: Params): SparkSession = graft.Graft.session(p.str("cpus"))

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

}
