package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{Processors, StreamingQueries}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The two streaming workloads. Each run has a closed loop and an open
  * loop over the same query shape:
  *
  *  - closed loop (`drain_eps`, `result_s`): Spark's `rate-micro-batch`
  *    source hands every trigger a fixed `rows_per_batch`, so the next
  *    batch starts only when the previous one is done;
  *  - open loop (`lat_*`): a generator thread feeds a memory stream on a
  *    fixed schedule (`open_rate` rows/s), whatever the query's speed.
  *    Each row is due at `start + v * 1000 / rate` ms; its latency runs
  *    from that due time to the completion of the sink call of the batch
  *    that read it. (Spark's `rate` source advances its offsets in whole
  *    seconds, so it cannot drive batches shorter than a second.)
  *
  * Row `v` of either source becomes an event through the seeded
  * splitmix64 mapping below, mirrored in perfbench/gen.py, so the
  * checker can recompute every result from the batch boundaries alone.
  */
object StreamWorkloads {

  private def splitmix(x: Column): Column = {
    val a = x + lit(0x9E3779B97F4A7C15L)
    val b = (a.bitwiseXOR(shiftrightunsigned(a, 30))) * lit(0xBF58476D1CE4E5B9L)
    val c = (b.bitwiseXOR(shiftrightunsigned(b, 27))) * lit(0x94D049BB133111EBL)
    c.bitwiseXOR(shiftrightunsigned(c, 31))
  }

  /** 53 uniform non-negative bits of field `i` of row `v`. */
  private def bits(p: Params, i: Int): Column =
    shiftrightunsigned(splitmix(col("v").bitwiseXOR(lit(p.long("salt") + i))), 11)

  /** Row → keyed event: `key` skewed over `keys` ids, `event_time` the
    * due time less a delay — zero for most rows, below the watermark
    * delay for an `ooo_share`, beyond it for a `late_share`.
    */
  def windowEvents(src: DataFrame, p: Params): DataFrame = {
    val keys = p.long("keys")
    val r = bits(p, 3).cast("double") / lit(9007199254740992.0)
    val d = bits(p, 4)
    val delay = when(r < p.dbl("late_share"), lit(p.long("late_min_ms")) + d % p.long("late_span_ms"))
      .when(r < p.dbl("late_share") + p.dbl("ooo_share"), d % p.long("ooo_max_ms"))
      .otherwise(lit(0L))
    src.select(
      concat(lit("k"), (bits(p, 1) % (lit(1L) + bits(p, 2) % keys)).cast("string")).as("key"),
      timestamp_millis(col("due_ms") - delay).as("event_time"))
  }

  /** Row → table upsert (table key, group key, value, ts): the KTable
    * changelog `Processors.tableReduceDeltas` consumes.
    */
  def upsertRows(src: DataFrame, p: Params): DataFrame =
    src.select(
      concat(lit("t"), (bits(p, 1) % p.long("table_keys")).cast("string")).as("_1"),
      concat(lit("g"), (bits(p, 2) % p.long("groups")).cast("string")).as("_2"),
      (bits(p, 3) % 10000L).cast("double").as("_3"),
      col("v").as("_4"))

  /** What the foreachBatch callback hands back to the run, per batch. */
  final class Sink {
    val done = new ConcurrentHashMap[Long, Long]() // batchId -> sink completion (epoch ms)
    val sinkMs = new ConcurrentHashMap[Long, Double]()
    val outputs = new ConcurrentHashMap[Long, Array[Row]]()
  }

  private def rateSource(spark: SparkSession, p: Params): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", p.long("rows_per_batch"))
      .option("numPartitions", p.int("cpus"))
      .option("startTimestamp", p.long("t0_ms"))
      .option("advanceMillisPerBatch", p.long("advance_ms"))
      .load()
      .select(col("value").as("v"), unix_millis(col("timestamp")).as("due_ms"))

  /** The open-loop generator: appends every row whose due time has
    * passed, every `tick_ms`, on its own thread.
    */
  final class Generator(spark: SparkSession, rate: Double, tickMs: Long, cpus: Int) {
    import spark.implicits._
    val stream = MemoryStream[(Long, Long)](spark, cpus)
    val blockEnds = mutable.ArrayBuffer.empty[Long] // exclusive end row of each added block
    @volatile var startMs = 0L
    @volatile private var running = true
    @volatile var maxLateMs = 0L
    private val thread = new Thread(() => {
      var next = 0L
      while (running) {
        val now = System.currentTimeMillis()
        val due = ((now - startMs) * rate / 1000.0).toLong
        if (due > next) {
          stream.addData((next until due).map(v => (v, startMs + (v * 1000.0 / rate).toLong)))
          blockEnds.synchronized { blockEnds += due }
          maxLateMs = maxLateMs max (System.currentTimeMillis() - (startMs + (next * 1000.0 / rate).toLong))
          next = due
        }
        Thread.sleep(tickMs)
      }
    }, "graftbench-generator")
    thread.setDaemon(true)
    def df: DataFrame = stream.toDF().toDF("v", "due_ms")
    def start(): Unit = { startMs = System.currentTimeMillis(); thread.start() }
    def stop(): Unit = { running = false; thread.join() }
    def dueMs(v: Long): Long = startMs + (v * 1000.0 / rate).toLong
    /** Rows due by wall-clock time `t` (epoch ms). */
    def dueRows(t: Long): Long = ((t - startMs) * rate / 1000.0).toLong
    def endRow(offset: Long): Long = blockEnds.synchronized {
      if (offset < 0) 0L else blockEnds(offset.toInt)
    }
  }

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") -1L
    else "\"?offset\"?\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(json.trim.toLong)

  /** Run `query` until `seconds` have passed after its first `warm`
    * batches completed; return the query's progress reports.
    */
  private def runFor(q: StreamingQuery, sink: Sink, warm: Int, seconds: Double,
                     out: Outcome): Seq[StreamingQueryProgress] = {
    while (sink.done.size < warm && q.isActive) Thread.sleep(10)
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
    while (System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(20)
    q.stop()
    q.exception.foreach { e =>
      out.failed += 1
      out.details("error") = e.toString.take(500)
    }
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  }

  /** (batchId, first row, end row) of each batch whose sink call completed. */
  private def batchRows(progress: Seq[StreamingQueryProgress], sink: Sink,
                        rowOf: Long => Long): Seq[(Long, Long, Long)] =
    progress.filter(pr => sink.done.containsKey(pr.batchId)).map { pr =>
      val s = pr.sources.head
      (pr.batchId, rowOf(offsetOf(s.startOffset)), rowOf(offsetOf(s.endOffset)))
    }

  private def writeLines(path: Path, lines: Iterable[String]): Unit =
    Files.write(path, lines.asJava)

  /** Shared driver of both streaming workloads. `build` turns a source
    * frame (v, due_ms) into the query's output; `absorb` folds one
    * collected output batch into the sink's running state.
    */
  private def run(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path,
                  build: DataFrame => DataFrame, mode: String, collect: DataFrame => Array[Row],
                  absorb: (Array[Row], ConcurrentHashMap[String, Double]) => Unit): Unit = {
    val seconds = p.dbl("seconds")
    val ckRoot = outDir.resolve("scratch")
    // keep every trigger's progress report of a run (default: last 100)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    var seq = 0

    def start(src: DataFrame, sink: Sink): StreamingQuery = {
      seq += 1
      val ckpt = ckRoot.resolve(s"ckpt-$seq").toString
      StreamingQueries.withStreamParts(spark, p.long("stream_bytes")) {
        val each: (DataFrame, Long) => Unit = (df, id) => {
          val t0 = System.nanoTime()
          sink.outputs.put(id, collect(df))
          sink.sinkMs.put(id, (System.nanoTime() - t0) / 1e6)
          sink.done.put(id, System.currentTimeMillis())
        }
        build(src).writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt)
          .foreachBatch(each).start()
      }
    }

    // The first `warm_batches` of a closed loop are its warm-up (query
    // start, JIT, codegen, state-store classes); the steady batches after
    // them are measured for `secs`.
    val warm = p.int("warm_batches")
    // The state is folded from the batches the query reported progress
    // for: a stop can land between a batch's sink call and its progress
    // report, and the checker knows only reported batch boundaries.
    def writeState(path: Path, batches: Seq[(Long, Long, Long)], sink: Sink): Unit = {
      val state = new ConcurrentHashMap[String, Double]()
      batches.foreach { case (b, _, _) => absorb(sink.outputs.get(b), state) }
      writeLines(path, state.asScala.map { case (k, v) => s"$k,${Json.num(v)}" })
    }

    def drain(tag: String, secs: Double): Seq[StreamingQueryProgress] = {
      val sink = new Sink
      val t0 = System.currentTimeMillis()
      val q = start(rateSource(spark, p), sink)
      out.attempted += 1
      val prog = runFor(q, sink, warm, secs, out)
      val warmDone = sink.done.asScala.toSeq.sortBy(_._1).lift(warm - 1).map(_._2).getOrElse(t0)
      out.details.getOrElseUpdate("warmup_s", (warmDone - t0) / 1e3)
      val rows = batchRows(prog, sink, identity)
      writeLines(outDir.resolve(s"$tag.batches.csv"), rows.map { case (b, s, e) => s"$b,$s,$e" })
      writeState(outDir.resolve(s"$tag.state.csv"), rows, sink)
      prog.filter(_.batchId >= warm)
    }

    // closed loop: result_s and drain_eps
    val steady = drain("drain", seconds * p.dbl("drain_share"))
    val trig = steady.map(_.durationMs.get("triggerExecution").doubleValue())
    out.endToEnd("result_s") = Main.median(trig) / 1e3
    val spanMs = Main.median(trig) // per-batch time
    val rowsPerBatch = Main.median(steady.map(_.numInputRows.toDouble))
    out.endToEnd("drain_eps") = rowsPerBatch / (spanMs / 1e3)
    out.details("drain_batches") = steady.size
    out.details("drain_trigger_ms") = trig

    // open loop: latency from each row's due time
    val gen = new Generator(spark, p.dbl("open_rate"), p.long("tick_ms"), p.int("cpus"))
    val osink = new Sink
    val oq = start(gen.df, osink)
    out.attempted += 1
    gen.start()
    val oprog = runFor(oq, osink, 1, seconds * (1 - p.dbl("drain_share")), out)
    gen.stop()
    val obatches = batchRows(oprog, osink, gen.endRow)
    writeLines(outDir.resolve("open.batches.csv"), obatches.map { case (b, s, e) => s"$b,$s,$e" })
    writeState(outDir.resolve("open.state.csv"), obatches, osink)
    writeLines(outDir.resolve("open.due.csv"), Seq(s"${gen.startMs},${p.dbl("open_rate")}"))
    val warmRows = (p.dbl("open_warm_s") * p.dbl("open_rate")).toLong
    val lat = mutable.ArrayBuffer.empty[(Double, Long)] // (latency ms, batch)
    obatches.foreach { case (b, s, e) =>
      val doneMs = osink.done.get(b)
      var v = s max warmRows
      while (v < e) { lat += (((doneMs - gen.dueMs(v)).toDouble, b)); v += 1 }
    }
    val sorted = lat.sortBy(_._1)
    val n = sorted.size
    val tailP = p.dbl("tail_pct")
    def pct(q: Double): Double = if (n == 0) Double.NaN else sorted(((q / 100.0) * (n - 1)).round.toInt)._1
    out.endToEnd("lat_p50_ms") = pct(50)
    out.endToEnd("lat_tail_ms") = pct(tailP)
    def batchesBeyond(q: Double): Int = sorted.drop(((q / 100.0) * (n - 1)).round.toInt + 1).map(_._2).distinct.size
    val tailBatches = batchesBeyond(tailP)
    out.details("lat_batches_beyond") = Seq(50.0, 75.0, 90.0, 95.0, 99.0).map(q => s"p$q" -> batchesBeyond(q)).toMap
    out.details("lat_pcts") = Seq(50.0, 75.0, 90.0, 95.0, 99.0).map(q => s"p$q" -> pct(q)).toMap
    out.details("lat_samples") = n
    out.details("lat_tail_pct") = tailP
    out.details("lat_batches_beyond_tail") = tailBatches
    out.details("open_batches") = obatches.size
    out.details("generator_max_late_ms") = gen.maxLateMs

    streamingLayers(oprog, osink, gen, out)

    trace.foreach { t =>
      // traced closed loop: the same drain with the task listener on
      t.open()
      val tprog = drain("traced", seconds * p.dbl("drain_share"))
      t.settle()
      val ttrig = tprog.map(_.durationMs.get("triggerExecution").doubleValue())
      out.layers("trace.overhead_s") = (Main.median(ttrig) - Main.median(trig)) / 1e3
      tprog.foreach { pr =>
        val startNs = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L
        val total = pr.durationMs.get("triggerExecution").longValue() * 1000000L
        val trigger = t.record("streaming.trigger", -1, startNs, startNs + total)
        trigger.counts("batch") = pr.batchId.toDouble
        trigger.counts("rows") = pr.numInputRows.toDouble
        var at = startNs
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { ph =>
            Option(pr.durationMs.get(ph)).foreach { d =>
              t.record(s"streaming.$ph", trigger.id, at, at + d.longValue() * 1000000L)
              at += d.longValue() * 1000000L
            }
          }
        pr.stateOperators.foreach { so =>
          val s = t.record("streaming.state", trigger.id, at, at)
          s.counts("rows_total") = so.numRowsTotal.toDouble
          s.counts("rows_updated") = so.numRowsUpdated.toDouble
          s.counts("commit_ms") = so.commitTimeMs.toDouble
          s.counts("memory_bytes") = so.memoryUsedBytes.toDouble
        }
      }
      out.layers("streaming.gc_s") = t.groupSums.values.map(_.gcS).sum
    }
  }

  /** Per-trigger breakdown of the open loop: phases, state store,
    * backlog and source lag (Spark's own progress reports).
    */
  private def streamingLayers(prog: Seq[StreamingQueryProgress], sink: Sink, gen: Generator, out: Outcome): Unit = {
    val steady = prog.drop(1)
    def med(f: StreamingQueryProgress => Double): Double = Main.median(steady.map(f))
    def phase(k: String)(pr: StreamingQueryProgress): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    out.layers("streaming.trigger_ms") = med(phase("triggerExecution"))
    out.layers("streaming.get_batch_ms") = med(pr => phase("getBatch")(pr) + phase("latestOffset")(pr))
    out.layers("streaming.planning_ms") = med(phase("queryPlanning"))
    out.layers("streaming.add_batch_ms") = med(phase("addBatch"))
    out.layers("streaming.wal_commit_ms") = med(phase("walCommit"))
    out.layers("streaming.commit_offsets_ms") = med(phase("commitOffsets"))
    out.layers("streaming.sink_ms") = med(pr => Option(sink.sinkMs.get(pr.batchId)).map(_.doubleValue()).getOrElse(0.0))
    out.layers("streaming.rows_per_trigger") = med(_.numInputRows.toDouble)
    val startMs = (pr: StreamingQueryProgress) => java.time.Instant.parse(pr.timestamp).toEpochMilli
    out.layers("streaming.backlog_rows") = med { pr =>
      (gen.dueRows(startMs(pr)) - gen.endRow(offsetOf(pr.sources.head.endOffset))).toDouble
    }
    out.layers("sources.lag_ms") = med { pr =>
      val end = gen.endRow(offsetOf(pr.sources.head.endOffset))
      (startMs(pr) - gen.dueMs(end - 1)).toDouble
    }
    val ops = steady.flatMap(_.stateOperators.headOption)
    if (ops.nonEmpty) {
      out.layers("streaming.state.rows_total") = ops.last.numRowsTotal.toDouble
      out.layers("streaming.state.rows_updated") = Main.median(ops.map(_.numRowsUpdated.toDouble))
      out.layers("streaming.state.rows_removed") = ops.map(_.numRowsRemoved.toDouble).sum
      out.layers("streaming.state.rows_dropped_late") = ops.map(_.numRowsDroppedByWatermark.toDouble).sum
      out.layers("streaming.state.commit_ms") = Main.median(ops.map(_.commitTimeMs.toDouble))
      out.layers("streaming.state.memory_mb") = ops.last.memoryUsedBytes / 1048576.0
      out.layers("streaming.state.partitions") = ops.last.numShufflePartitions.toDouble
    }
  }

  def windowCounts(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path): Unit = {
    val wm = p.str("watermark")
    val build = (src: DataFrame) => {
      val ev = windowEvents(src, p).withWatermark("event_time", wm)
      val tumble = ev.select(lit("T").as("kind"), window(col("event_time"), p.str("tumble_width")).as("w"), col("key"))
      val hop = ev.select(lit("H").as("kind"),
        window(col("event_time"), p.str("hop_width"), p.str("hop_slide")).as("w"), col("key"))
      tumble.unionByName(hop).groupBy(col("kind"), col("w"), col("key")).count()
        .select(col("kind"), unix_millis(col("w.start")).as("start_ms"), col("key"), col("count"))
    }
    run(spark, p, out, trace, outDir, build, "update", _.collect(), (rows, state) =>
      rows.foreach(r => state.put(s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}", r.getLong(3).toDouble)))
  }

  def upserts(spark: SparkSession, p: Params, out: Outcome, trace: Option[Trace], outDir: Path): Unit = {
    import spark.implicits._
    val build = (src: DataFrame) =>
      Processors.tableReduceDeltas(upsertRows(src, p).as[(String, String, Double, Long)])
        .toDF("group", "delta")
    // the per-group sum of each batch's deltas runs in the sink: a
    // second stateful operator after an update-mode processor is not
    // allowed, so the driver keeps the running per-group totals
    val perGroup = (df: DataFrame) => df.groupBy("group").agg(sum("delta")).collect()
    run(spark, p, out, trace, outDir, build, "update", perGroup, (rows, state) =>
      rows.foreach(r => state.merge(r.getString(0), r.getDouble(1), (a: Double, b: Double) => a + b)))
  }
}
