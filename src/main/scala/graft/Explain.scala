package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps AQE-final formatted physical plans.
  *
  *  - `Explain` (no arguments) writes EXPLAIN.md for [[Bench.headline]] —
  *    the audit trail for the scale-shape claims (broadcasts on dimension
  *    sides, pushed filters, partial aggregation, no cartesian products).
  *  - `Explain <outDir> <suffix> <entry>...` writes one file per entry,
  *    `<outDir>/<entry>_<suffix>.txt` — the before/after plan evidence the
  *    optimization rounds commit under `plans/`. An entry that fails is
  *    reported and skipped. Streaming twins execute end-to-end; the dumped
  *    plan is the post-convergence batch frame the entry returns.
  *
  * The corpus dir comes from SPARK_GRAFT_SF_DIR.
  */
object Explain {

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: Explain | Explain <outDir> <suffix> <entry>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Graft.session()
    try {
      if (args.isEmpty) writeHeadline(spark, sfDir)
      else writeEach(spark, sfDir, args(0), args(1), args.drop(2).toSeq)
    } finally spark.stop()
  }

  /** Execute the entry's OWN QueryExecution, then render it formatted: a
    * sink write would plan a separate command and leave this plan
    * un-executed, so the runtime (AQE) join choices and whole-stage-codegen
    * stage ids would be missing.
    */
  private def finalPlan(spark: SparkSession, sfDir: String, name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.count()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  private def writeEach(spark: SparkSession, sfDir: String, outDir: String,
                        suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          s"# $name ($suffix) @ $sfDir\n\n" + finalPlan(spark, sfDir, name))
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
  }

  private def writeHeadline(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# EXPLAIN — headline query physical plans\n\n")
    sb.append(s"Generated by `graft.Explain` at `$sfDir`. Each query's own\n")
    sb.append("QueryExecution is EXECUTED first, so these are the AQE-final plans — runtime join\n")
    sb.append("strategy choices and whole-stage-codegen stage ids included. Things\n")
    sb.append("to check per plan: broadcast joins on dimension sides, `PushedFilters`\n")
    sb.append("on scans, `partial_*` map-side aggregation, `[codegen id : N]` on the\n")
    sb.append("hot operators, no `CartesianProduct`.\n")
    Bench.headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(finalPlan(spark, sfDir, name).take(8000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${Bench.headline.size} plans)")
  }
}
