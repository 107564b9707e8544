package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.{Rule, RuleExecutor}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds so bench-side spans,
  * engine event timestamps and Spark listener times share one axis. All
  * spans of one unit carry that unit's number. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, unit: Int, label: String)

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val origin = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  @volatile var unit = 0
  @volatile var on = false

  def now(): Long = System.nanoTime() / 1000L + origin

  def put(s: Span): Unit = if (on) all.add(s)

  def add(name: String, start: Long, end: Long, parent: Int, label: String = ""): Int = {
    val id = ids.incrementAndGet()
    if (on) all.add(Span(id, name, start, end, parent, unit, label))
    id
  }

  /** Times `f` as a span; `f` gets the span's id to parent its children. */
  def span[T](name: String, parent: Int = 0, label: String = "")(f: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = now()
    try f(id)
    finally if (on) all.add(Span(id, name, t0, now(), parent, unit, label))
  }

  def toJson: String = {
    val sb = new StringBuilder("[")
    val it = all.iterator()
    var first = true
    while (it.hasNext) {
      val s = it.next()
      if (!first) sb ++= ",\n"
      first = false
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.start},""" +
        s""""end_us":${s.end},"parent":${s.parent},"unit":${s.unit},"label":${Json.str(s.label)}}"""
    }
    sb ++= "]"
    sb.toString
  }
}

/** Time spent in Catalyst's analyzer rules, from Spark's own rule
  * metering (`RuleExecutor.dumpTimeSpent`: nanoseconds per rule, summed
  * over every run of every rule in this JVM, on every thread). A
  * QueryExecutionListener cannot give it for the engine's views: a
  * view's SELECT is analysed when `spark.sql` builds its DataFrame, and
  * that QueryExecution is never executed, so no listener sees it; the
  * CREATE VIEW command the listener does see wraps the already-analysed
  * plan. Rules that the optimizer runs too are left out; a rule that
  * analyses a nested plan (a referenced view) also counts the nested
  * rules' time. So the figure measures analysis work, summed over the
  * build's threads, and can exceed the unit's wall. */
final class AnalyzerRules(spark: org.apache.spark.sql.classic.SparkSession) {
  private def ruleNames(executor: AnyRef): Set[String] = {
    val batches = executor.getClass.getMethod("batches").invoke(executor)
      .asInstanceOf[Seq[AnyRef]]
    batches.flatMap { b =>
      b.getClass.getMethod("rules").invoke(b).asInstanceOf[Seq[Rule[_]]].map(_.ruleName)
    }.toSet
  }
  private lazy val names =
    ruleNames(spark.sessionState.analyzer) -- ruleNames(spark.sessionState.optimizer)
  private val Line = """^(\S+)\s+\d+ / (\d+)\s+\d+ / \d+\s*$""".r

  def totalNs: Long = RuleExecutor.dumpTimeSpent().split("\n").iterator.collect {
    case Line(rule, ns) if names(rule) => ns.toLong
  }.sum
}

/** Spark's public listener interfaces, counting per unit. The job group
  * (`spark.jobGroup.id`, set by the engine per node and by the benchmark
  * per query) attributes each job to a node or query span. */
final class SparkRecorder(spans: Spans, analyzer: AnalyzerRules)
    extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  val jobs, stages, tasks, jobWallMs, taskRunMs, taskCpuNs, shuffleBytes,
    spillBytes, outputBytes, executions, optimizationMs, planningMs = new AtomicLong
  private var analysis0 = 0L
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private var codegen0 = 0L

  def reset(): Unit = {
    codegen0 = codegen.getCount
    analysis0 = analyzer.totalNs
    Seq(jobs, stages, tasks, jobWallMs, taskRunMs, taskCpuNs, shuffleBytes, spillBytes,
      outputBytes, executions, optimizationMs, planningMs).foreach(_.set(0))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart.put(e.jobId, (e.time, group))
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null && on) {
      jobWallMs.addAndGet(e.time - s._1)
      spans.add("spark_job", s._1 * 1000L, e.time * 1000L, 0, s._2)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    taskRunMs.addAndGet(m.executorRunTime)
    taskCpuNs.addAndGet(m.executorCpuTime)
    shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    outputBytes.addAndGet(m.outputMetrics.bytesWritten)
  }

  private def phases(qe: QueryExecution): Unit = if (on) {
    executions.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Layer values for the unit just finished (call after draining the bus). */
  def values: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.job_wall_s" -> jobWallMs.get / 1e3,
    "spark.task_s" -> taskRunMs.get / 1e3,
    "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
    "spark.shuffle_mb" -> shuffleBytes.get / 1e6,
    "spark.spill_mb" -> spillBytes.get / 1e6,
    "spark.executions" -> executions.get.toDouble,
    "spark.analysis_s" -> (analyzer.totalNs - analysis0) / 1e9,
    "spark.optimization_s" -> optimizationMs.get / 1e3,
    "spark.planning_s" -> planningMs.get / 1e3,
    // the codegen histogram keeps a sample, not a sum: compilations in
    // the unit times the sampled mean compile time
    "spark.codegen_s" -> (codegen.getCount - codegen0) * codegen.getSnapshot.getMean / 1e3,
    "exec.written_mb" -> outputBytes.get / 1e6)
}

/** Captures the engine's structured event lines (EventLog.sink at debug)
  * while a traced unit runs. */
final class EventRecorder {
  val lines = new ConcurrentLinkedQueue[String]()
  @volatile var on = false
  def sink(line: String): Unit = if (on) lines.add(line)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
