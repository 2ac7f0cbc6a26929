package graftbench

import java.nio.file.Path

import scala.collection.mutable

import graft.Graft
import graft.dedup.Dedup
import graft.operators.{Joins, TableView, Windows}
import graft.operators.StreamOps._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** How one pass treats each call into graft.
  *
  *  - timed: outputs are forced with a `noop` write, intermediates stay
  *    lazy (the way a caller composes them);
  *  - check: outputs (and checked intermediates) are written to parquet
  *    for the DuckDB gate; this pass is also the JIT/codegen warm-up;
  *  - traced: every call's inputs are already materialized, its output
  *    is persisted and counted inside the call's span, so the work lands
  *    in that span.
  */
sealed trait Mode
case object Timed extends Mode
final case class Check(dir: Path) extends Mode
final case class Traced(t: Trace) extends Mode

final class Pass(spark: SparkSession, mode: Mode, out: Outcome) {
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  /** Run one call. `output` marks a user-visible result; `check`, when
    * set, names the parquet the check pass writes (projected by `proj`).
    */
  def apply(name: String, output: Boolean, check: String = null,
            proj: DataFrame => DataFrame = Pass.whole)(df: => DataFrame): DataFrame = mode match {
    case Timed =>
      val d = df
      if (output) { out.attempted += 1; d.write.format("noop").mode("overwrite").save() }
      d
    case Check(dir) =>
      val d = df
      if (check == null) d
      else {
        out.attempted += 1
        val path = dir.resolve(check).toString
        proj(d).write.mode("overwrite").parquet(path)
        // an unprojected output is read back, so later calls of this pass
        // do not compute it a second time
        if (proj eq Pass.whole) spark.read.parquet(path) else d
      }
    case Traced(t) =>
      t.span(name) { s =>
        val d = df
        s.counts("exchanges") = PlanStats.exchanges(d)
        d.persist(MEMORY_AND_DISK)
        cached += d
        s.counts("rows_out") = d.count().toDouble
        out.attempted += 1
        d
      }
  }

  /** Materialize a pass input under a `sources.*` span (traced only). */
  def input(name: String)(df: => DataFrame): DataFrame = mode match {
    case Traced(t) =>
      t.span(name) { s =>
        val d = df.persist(MEMORY_AND_DISK)
        cached += d
        s.counts("rows_out") = d.count().toDouble
        d
      }
    case _ => df
  }

  def release(): Unit = cached.foreach(_.unpersist(blocking = true))
}

object Pass {
  val whole: DataFrame => DataFrame = identity
}

object BatchWorkloads {

  /** The graft KStream shape (key, value, amount, ts_us, event_id, props)
    * of an events-schema table, as [[graft.Graft.eventsStream]] builds it.
    */
  private def kstream(ev: DataFrame): DataFrame =
    ev.select(col("user_id").cast("string").as("key"), col("event_type").as("value"),
      col("value").as("amount"), col("ts_us"), col("event_id"), col("props"))

  private def changelog(spark: SparkSession, dir: String): DataFrame =
    Graft.normalizeEventTs(Graft.table(spark, dir, "changelog"))
      .withColumn("ts_us", expr("ts div 1000"))

  /** One pass of the reference's operator chain over the events stream
    * and the KTable changelog.
    */
  def streamTablePass(spark: SparkSession, dir: String, p: Params, step: Pass): Unit = {
    val ev = step.input("sources.events")(Graft.events(spark, dir))
    val cl = step.input("sources.changelog")(changelog(spark, dir))
    val es = kstream(ev)
    val windowUs = p.long("join_window_us")

    step("operators.StreamOps", output = true, check = "word_count") {
      es.filterNot(col("value") === "error")
        .flatMapValues(v => explode(split(concat_ws(" ", upper(v), col("props")), "[^A-Za-z0-9]+")))
        .filterKV(col("value") =!= "")
        .groupBy(col("value").as("word")).agg(count(lit(1)).as("cnt"))
    }
    step("operators.Windows.tumblingCount", output = true, check = "tumbling") {
      Windows.tumblingCount(ev, "ts_us", p.str("tumble_width"), col("user_id"))
    }
    step("operators.Windows.sessionCount", output = true, check = "sessions") {
      Windows.sessionCount(ev, "ts_us", p.str("session_gap"), col("user_id"))
    }
    step("operators.Joins.windowedJoin", output = true, check = "windowed_join",
        proj = _.select("l_event_id", "r_event_id")) {
      val side = (t: String) => es.filterKV(col("value") === t).select("key", "ts_us", "event_id")
      Joins.windowedJoin(side("purchase"), side("view"), "key", "ts_us", "event_id", windowUs, "inner")
    }
    val table = step("operators.TableView.latestPerKey", output = true, check = "latest",
        proj = _.select("key", "value", "event_id")) {
      TableView.latestPerKey(kstream(cl), Seq("key"), col("ts_us"), col("event_id"))
    }
    val segments = step("operators.TableView.regroupAndAgg", output = true, check = "segments") {
      TableView.regroupAndAgg(table, col("key").cast("long") % 1000,
        Seq(count(lit(1)).as("users"), sum(round(col("amount") * 100).cast("long")).as("amount")))
    }
    step("operators.Joins.streamTableJoin", output = true, check = "stream_table",
        proj = _.select("event_id", "users", "seg_amount")) {
      Joins.streamTableJoin(es.withColumn("seg", col("key").cast("long") % 1000),
        segments.select(col("key").as("skey"), col("users"), col("amount").as("seg_amount")),
        "seg", "skey", "inner")
    }
    val lastEvent = step("operators.TableView.latestPerKey", output = false) {
      TableView.latestPerKey(es, Seq("key"), col("ts_us"), col("event_id"))
    }
    step("operators.Joins.tableTableJoin", output = true, check = "table_table",
        proj = _.select("key", "last_event", "tier")) {
      Joins.tableTableJoin(lastEvent.select(col("key"), col("event_id").as("last_event")),
        table.select(col("key").as("rkey"), col("value").as("tier")), "key", "rkey", "inner")
    }
  }

  /** The `dd_lsh_resolve` path: signatures persisted once, capped LSH
    * candidates, exact token-Jaccard verify, components → canonical docs.
    */
  def dedupPass(spark: SparkSession, dir: String, scratch: Path, step: Pass): Unit = {
    val docs = step.input("sources.documents")(Graft.documents(spark, dir))
    val sigDir = scratch.resolve("sigs").toString
    step("functions.minhashSigs", output = false) {
      Dedup.minhashSigs(docs, "doc_id", "text").write.mode("overwrite").parquet(sigDir)
      spark.read.parquet(sigDir)
    }
    val cand = step("dedup.minhashPairsFromSigs", output = false, check = "candidates") {
      Dedup.minhashPairsFromSigs(spark.read.parquet(sigDir), threshold = 0.5, maxBucket = 1000)
        .select("a", "b")
    }
    val verified = step("dedup.verifyJaccard", output = false, check = "verified") {
      Dedup.verifyJaccard(cand, docs, "doc_id", "text").where(col("jaccard") >= 0.5).select("a", "b")
    }
    step("dedup.connectedComponents", output = true, check = "kept") {
      Dedup.resolve(docs, verified, "doc_id").select("doc_id", "lang")
    }
  }

  def streamTable(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path): Unit =
    run(spark, p, out, trace, outDir, p.long("events") + p.long("changelog_rows"),
      step => streamTablePass(spark, p.str("input"), p, step),
      _ => out.layers("operators.Joins.windowedJoin.candidates") =
        joinCandidates(spark, p.str("input"), p.long("join_window_us")).toDouble)

  def dedup(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path): Unit =
    run(spark, p, out, trace, outDir, p.long("docs"),
      step => dedupPass(spark, p.str("input"), outDir.resolve("scratch"), step),
      t => {
        val execs = t.executions.toArray(Array.empty[(String, Map[String, Any])]).toSeq
        // the components loop's only driver reads are its per-round
        // convergence probes (`head`)
        out.layers("dedup.cc_rounds") = execs.count(_._1 == "head").toDouble
        val cap = execs.map(_._2.filter(_._1.startsWith("graft.minhashPairs.cap."))).filter(_.nonEmpty)
        cap.lastOption.getOrElse(Map.empty).foreach { case (k, v) =>
          out.layers("dedup.cap." + k.split('.').last) = v.toString.toDouble
        }
      })

  /** (key, time-bucket) candidate pairs of the windowed join before its
    * exact range check: the denominator of its match ratio.
    */
  private def joinCandidates(spark: SparkSession, dir: String, windowUs: Long): Long = {
    val es = kstream(Graft.events(spark, dir))
    val l = es.where(col("value") === "purchase").select(col("key"),
      explode(sequence(expr(s"(ts_us - $windowUs) div $windowUs"), expr(s"(ts_us + $windowUs) div $windowUs"))).as("b"))
    val r = es.where(col("value") === "view").select(col("key"), expr(s"ts_us div $windowUs").as("b"))
    l.join(r, Seq("key", "b")).count()
  }

  /** Warm-up, then timed passes while another one fits in `seconds`
    * (at least `min_passes`); traced runs add one traced pass.
    */
  private def run(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path,
                  inputRows: Long, pass: Pass => Unit, traced: Trace => Unit): Unit = {
    // warm-up: the check pass, then `warm_passes` passes timed like the
    // measured ones but not counted (JIT and codegen caches settle)
    val tSetup = System.nanoTime()
    attempt(out)(pass(new Pass(spark, Check(outDir.resolve("check")), out)))
    for (_ <- 0 until p.int("warm_passes")) attempt(out)(pass(new Pass(spark, Timed, out)))
    out.details("warmup_s") = (System.nanoTime() - tSetup) / 1e9
    val times = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (p.dbl("seconds") * 1e9).toLong
    def fits = times.nonEmpty && System.nanoTime() + (times.last * 1e9).toLong <= deadline
    // Spark jobs per measured pass: the same on every pass and seed
    // unless the inputs change how much work a pass does (the listener
    // bus is asynchronous, so a count may trail by a job)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(jobCounter)
    val passJobs = mutable.ArrayBuffer.empty[Int]
    var tries = 0
    while (tries < p.int("min_passes") || (fits && tries < 50)) {
      tries += 1
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      if (attempt(out)(pass(new Pass(spark, Timed, out)))) {
        times += (System.nanoTime() - t0) / 1e9
        passJobs += jobs.get() - j0
      }
    }
    spark.sparkContext.removeSparkListener(jobCounter)
    out.details("pass_s") = times.toSeq
    out.details("pass_jobs") = passJobs.toSeq
    if (times.nonEmpty) {
      val resultS = Main.median(times.toSeq)
      out.endToEnd("result_s") = resultS
      out.endToEnd("drain_eps") = inputRows / resultS
      // every input row reaches its result when the pass completes, so a
      // row's latency is its pass's time; the tail is the 75th
      // percentile of the measured passes
      val sorted = times.sorted
      out.endToEnd("lat_p50_ms") = resultS * 1e3
      out.endToEnd("lat_tail_ms") = sorted(((sorted.size - 1) * 0.75).round.toInt) * 1e3
    }
    trace.foreach { t =>
      t.open()
      t.span("pass") { _ =>
        val step = new Pass(spark, Traced(t), out)
        attempt(out)(pass(step))
        step.release()
      }
      t.settle()
      val root = t.named("pass").head
      out.layers("trace.pass_s") = root.seconds
      out.layers("trace.overhead_s") = root.seconds - Main.median(times.toSeq)
      traced(t)
    }
  }

  /** Run `body`, counting a thrown exception as one failed operation. */
  def attempt(out: Outcome)(body: => Unit): Boolean =
    try { body; true }
    catch {
      case e: Exception =>
        out.failed += 1
        out.details.getOrElseUpdate("errors", mutable.ArrayBuffer.empty[String])
          .asInstanceOf[mutable.ArrayBuffer[String]] += e.toString.take(500)
        System.err.println(s"[graftbench] failed: $e")
        false
    }
}
