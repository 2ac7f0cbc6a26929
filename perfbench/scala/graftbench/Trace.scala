package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task metrics summed over the jobs of one span's job group. */
final class TaskSums {
  var runS, cpuS, gcS, shuffleWriteBytes, spillBytes, inputRows, inputBytes = 0.0
  var tasks = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    runS += m.executorRunTime / 1e3
    cpuS += m.executorCpuTime / 1e9
    gcS += m.jvmGCTime / 1e3
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    inputRows += m.inputMetrics.recordsRead
    inputBytes += m.inputMetrics.bytesRead
  }
}

/** One span: a call into a module's public function (or a stream
  * trigger and its phases). Times are wall-clock nanoseconds.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, var end: Long = 0L,
                      counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for one traced run. Spans are opened only
  * from the benchmark's own code around calls into graft; each span's
  * Spark jobs run under a job group named after the span, so the
  * listener can attach Spark's own task metrics to it. Nothing is
  * written until the run ends ([[Trace.toJson]]).
  */
final class Trace(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, TaskSums]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** (funcName, observed metrics) of every finished SQL execution, in arrival order. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Any])]()

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(group => e.stageIds.foreach(s => stageGroup.put(s, group)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        if (e.taskMetrics != null) sums.computeIfAbsent(g, _ => new TaskSums).add(e.taskMetrics)
      }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val obs = qe.observedMetrics.toSeq.flatMap { case (name, row) =>
        row.schema.fieldNames.zipWithIndex.map { case (f, i) => s"$name.$f" -> row.get(i) }
      }.toMap
      executions.add(funcName -> obs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private var opened = false

  /** Start listening; the untraced part of a run happens before this. */
  def open(): Unit = if (!opened) {
    opened = true
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(qeListener)
  }

  def close(): Unit = if (opened) {
    settle()
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until the asynchronous listener bus has delivered this run's events. */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = sums.values().stream().mapToLong(_.tasks).sum() + executions.size()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  def span[A](name: String)(body: Span => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    sc.setJobGroup(s"$runId/${s.id}", name, interruptOnCancel = false)
    try body(s)
    finally {
      s.end = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId/${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span built after the fact, e.g. from a streaming progress report. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Span = {
    val s = Span(spans.size, name, parent, runId, startNs, endNs)
    spans += s
    s
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Task sums per job group, including groups Spark itself sets (a streaming query's run id). */
  def groupSums: Map[String, TaskSums] = {
    import scala.jdk.CollectionConverters._
    sums.asScala.toMap
  }

  def taskSums(s: Span): TaskSums = Option(sums.get(s"$runId/${s.id}")).getOrElse(new TaskSums)

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += (curB - curA) max 0L; curA = a; curB = b }
      else curB = curB max b
    }
    covered += (curB - curA) max 0L
    (s.end - s.start - covered) / 1e9
  }

  def toJson: String = {
    val rows = spans.map { s =>
      val t = taskSums(s)
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${Json.num(selfSeconds(s))},""" +
        s""""task_run_s":${Json.num(t.runS)},"task_cpu_s":${Json.num(t.cpuS)},"gc_s":${Json.num(t.gcS)},""" +
        s""""shuffle_write_bytes":${Json.num(t.shuffleWriteBytes)},"spill_bytes":${Json.num(t.spillBytes)},""" +
        s""""input_rows":${Json.num(t.inputRows)},"input_bytes":${Json.num(t.inputBytes)},"counts":{$counts}}"""
    }
    rows.mkString("[\n", ",\n", "\n]")
  }
}

/** Shuffle exchanges in a query's final (post-AQE) physical plan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(m: Iterable[(String, Any)]): String = m.map { case (k, v) => s"${str(k)}:${any(v)}" }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
