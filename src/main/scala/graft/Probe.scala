package graft

/** Same-JVM timing of named `SparkEntry.queries` entries through the noop
  * sink: `Probe <entry>...` at the corpus dir in SPARK_GRAFT_SF_DIR.
  *
  * The corpus is warmed once ([[Graft.warmCorpus]]). Each entry then runs
  * once; that time is printed as `cold` and kept out of `best` — it is the
  * first execution of the entry's shape in this JVM (codegen, AQE's first
  * re-plan, broadcast builds). After that the entries run `rounds` times,
  * alternating across entries inside each round, so an A/B of two entries
  * rides the same JIT slope and the same machine window. Prints one line
  * per entry: `PROBE <entry> cold <s> best <s> runs <s>...`.
  */
object Probe {

  val rounds = 4

  def main(args: Array[String]): Unit = {
    val names = args.toSeq.distinct
    require(names.nonEmpty, "usage: Probe <entry>...")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the corpus dir"))
    val spark = Graft.session()
    try {
      Graft.warmCorpus(spark, sfDir)
      def time(name: String): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = names.map(n => n -> time(n)).toMap
      val runs = (1 to rounds).flatMap(_ => names.map(n => n -> time(n)))
        .groupMap(_._1)(_._2)
      names.foreach { n =>
        println(f"PROBE $n%-24s cold ${cold(n)}%.3f s  best ${runs(n).min}%.3f s  runs " +
          runs(n).map(t => f"$t%.3f").mkString(" "))
      }
    } finally spark.stop()
  }
}
