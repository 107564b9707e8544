package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Materializer
import graft.graph.{Dag, Selector}
import graft.parse.{PartialParse, ProjectLoader}
import graft.run.{Engine, EventLog}

/** JVM side of the benchmark: one workload, one process, one client.
  *
  * It starts the session, runs the cold unit and a fixed number of
  * warm-up units (set-up), then repeats units until the measurement
  * window has passed. Every unit is timed from outside, around calls to
  * the program's public entry points; `System.gc()` runs between units,
  * outside the timing. It writes raw observations (per-unit walls, ops,
  * check values, layer values of traced units) as JSON; `run.py` turns
  * them into metrics.
  *
  * Usage: Main <workload> <spec.json> <seconds> <trace 0|1> <out.json> <spans.json>
  */
object Main {

  /** Warm-up units after the cold one, per workload. Chosen so the unit
    * wall has levelled off before measurement starts; `jvm.jit_s` over
    * the measured units is the evidence. warehouse_load has none: the
    * full baseline build in its set-up runs every code path a unit does. */
  val WarmupUnits = Map("warehouse_load" -> 0, "query_mix" -> 1)
  /** Units measured even when the window has passed. */
  val MinMeasuredUnits = Map("warehouse_load" -> 3, "query_mix" -> 4)

  final case class Op(id: String, status: String, latency: Double)
  final case class UnitOut(ops: Seq[Op], checks: Map[String, (Any, Any)],
      layers: Map[String, Any])

  trait Workload {
    def setup(): Unit
    /** Untimed, before each unit. */
    def prepare(u: Int): Unit
    /** The timed body; returns what `check` and `layers` need. */
    def unit(u: Int, parent: Int, traced: Boolean): AnyRef
    /** Untimed: ops with statuses, and (actual, expected) output checks. */
    def check(u: Int, body: AnyRef): (Seq[Op], Map[String, (Any, Any)])
    /** Untimed, traced units only: this workload's layer values. */
    def layers(u: Int, body: AnyRef, unitSpan: Span): Map[String, Any]
    def finish(): Map[String, Any] = Map.empty
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val mapper = new ObjectMapper()
  lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def main(args: Array[String]): Unit = {
    val Array(workload, specPath, secondsArg, traceArg, outPath, spansPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val spec = mapper.readTree(Paths.get(specPath).toFile)
    val spans = new Spans
    val events = new EventRecorder

    val t0 = System.nanoTime()
    val spark = workload match {
      case "query_mix" => QueryMix.session(spec.get("data").asText)
      case _ => WarehouseLoad.session()
    }
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rec = new SparkRecorder(spans, new AnalyzerRules(classicSpark))
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "query_mix" => new QueryMix(spark, spec, spans, rec)
      case "warehouse_load" => new WarehouseLoad(spark, spec, spans, rec, events, trace)
      case other => sys.error(s"unknown workload $other")
    }

    final case class Timed(wall: Double, cpu: Double, jit: Double, gc: Double,
        traced: Boolean, out: UnitOut)

    def oneUnit(u: Int, traced: Boolean): Timed = {
      w.prepare(u)
      System.gc()
      spans.unit = u
      spans.on = traced
      events.lines.clear()
      events.on = traced
      rec.reset()
      rec.on = traced
      val (c0, j0, g0) = (cpuS, jitS, gcS)
      val n0 = System.nanoTime()
      val us0 = spans.now()
      val unitId = 1000000 + u
      val body = try w.unit(u, unitId, traced) catch {
        case e: Throwable => e
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val (c1, j1, g1) = (cpuS, jitS, gcS)
      val unitSpan = Span(unitId, "unit", us0, spans.now(), 0, u, workload)
      events.on = false
      if (traced) org.apache.spark.sql.graftshim.drainListenerBus(classicSpark)
      rec.on = false
      // read before the checks, which run Spark queries of their own
      val sparkValues = if (traced) rec.values else Map.empty[String, Double]
      spans.put(unitSpan)
      val out = body match {
        case e: Throwable =>
          // a unit that throws fails every op it would have run
          UnitOut(Seq(Op(s"unit-$u", s"error: ${e.getMessage}", wall)), Map.empty, Map.empty)
        case b =>
          val (ops, checks) = w.check(u, b)
          UnitOut(ops, checks, if (traced) w.layers(u, b, unitSpan) ++ sparkValues else Map.empty)
      }
      spans.on = false
      // cpu_s leaves out the JIT's compiler threads (reported as jit_s):
      // on a JVM that is still compiling they add seconds per unit that
      // depend on compile timing, not on the work the unit does
      Timed(wall, math.max(0.0, (c1 - c0) - (j1 - j0)), j1 - j0, g1 - g0, traced, out)
    }

    // ---- set-up: session, cold unit, warm-up units
    w.setup()
    val cold = oneUnit(0, traced = false)
    val warm = (1 to WarmupUnits(workload)).map(u => oneUnit(u, traced = false))
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- measurement window. A traced run alternates untraced and
    // traced units so the tracing overhead is measured in one process.
    val measured = scala.collection.mutable.ArrayBuffer[Timed]()
    val m0 = System.nanoTime()
    var u = warm.size + 1
    // Retained heap is read after a full GC once `minUnits` units
    // have run: Spark's status store keeps state per execution, so a
    // reading at the (time-bounded) end would depend on the unit count.
    var retainedMb = 0.0
    val minUnits = MinMeasuredUnits(workload)
    while (measured.size < minUnits || (System.nanoTime() - m0) / 1e9 < seconds) {
      measured += oneUnit(u, traced = trace && measured.size % 2 == 1)
      u += 1
      if (measured.size == minUnits) {
        // Spark's ContextCleaner frees broadcasts and shuffle state only
        // after a GC has queued their references: GC, let it run, GC again
        System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
        retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    val finish = w.finish()

    def unitJson(t: Timed): Map[String, Any] = Map(
      "wall_s" -> t.wall, "cpu_s" -> t.cpu, "jit_s" -> t.jit, "gc_s" -> t.gc,
      "traced" -> t.traced,
      "ops" -> t.out.ops.map(o => Map("id" -> o.id, "status" -> o.status, "latency_s" -> o.latency)),
      "checks" -> t.out.checks.map { case (k, (a, e)) => k -> Map("actual" -> a, "expected" -> e) },
      "layers" -> t.out.layers)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.scheduler")
    }
    val result = Map(
      "workload" -> workload,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
        "cold_unit_s" -> cold.wall, "warmup_units" -> warm.size,
        "warmup_walls_s" -> warm.map(_.wall), "cold_failed_ops" -> cold.out.ops.count(o => o.status != "success" && o.status != "pass")),
      "measure_s" -> measureS,
      "units" -> measured.map(unitJson),
      "retained_heap_mb" -> retainedMb,
      "finish" -> finish,
      "env" -> Map("nproc" -> nproc, "java" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark" -> spark.version, "session_confs" -> confs))
    Files.writeString(Paths.get(outPath), Json.value(result))
    Files.writeString(Paths.get(spansPath), spans.toJson)
    EventLog.closeLogFile()
    spark.stop()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** (path -> (size, mtime)) of every file under `root`. */
  def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap finally s.close()
    }

  def epochMicros(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** warehouse_load: what `graft build` does once the session is up
  * (Cli.scala): the debug JSON log file is open, the console sink is at
  * info and discarded, partial parsing is on, then `build` and
  * `writeArtifacts`, on a warehouse restored to the baseline with a new
  * delta in the source. */
final class WarehouseLoad(spark: SparkSession, spec: JsonNode,
    spans: Spans, rec: SparkRecorder, events: EventRecorder, trace: Boolean)
    extends Main.Workload {
  import Main._

  private val project = spec.get("project").asText
  private val target = s"$project/target"
  private val logFile = Paths.get(project).resolve("logs/dbt.log")
  private val wh = Paths.get(spec.get("data").asText).resolve("warehouse")
  private val whBase = Paths.get(spec.get("data").asText).resolve("warehouse_baseline")
  private val pp = PartialParse.Options(enabled = Some(true), env = Map.empty)
  private var fullParseS = 0.0
  private var before: Map[String, (Long, Long)] = Map.empty
  private var logBefore = 0L

  final case class Body(engine: Engine, results: Seq[Materializer.Result],
      parsed: Int, times: Map[String, Double], buildSpan: (Long, Int))

  def setup(): Unit = {
    EventLog.format = "json"
    EventLog.minLevel = if (trace) "debug" else "info"
    EventLog.sink = if (trace) events.sink else (_ => ())
    EventLog.openLogFile(logFile)
    if (trace) {
      // cold full parse, timed once (parse.full_s)
      val t0 = System.nanoTime()
      ProjectLoader.load(project)
      fullParseS = (System.nanoTime() - t0) / 1e9
    }
    // the baseline every unit starts from: a full build on an empty delta
    Files.copy(Paths.get(spec.get("empty_delta").asText),
      Paths.get(spec.get("live_delta").asText), StandardCopyOption.REPLACE_EXISTING)
    val eng = Engine.fromProject(spark, project, wh.toString, partialParse = Some(pp))
    val res = eng.build(threads = nproc)
    val bad = res.filterNot(r => r.status == "success" || r.status == "pass")
    require(bad.isEmpty, s"baseline build failed: ${bad.mkString("; ")}")
    rmTree(whBase)
    copyTree(wh, whBase)
  }

  def prepare(u: Int): Unit = {
    // restore by copying: `_commits` files are rewritten in place, so
    // hard links would let a unit corrupt the baseline
    rmTree(wh)
    copyTree(whBase, wh)
    val deltas = spec.get("deltas")
    Files.copy(Paths.get(deltas.get(u % deltas.size).asText),
      Paths.get(spec.get("live_delta").asText), StandardCopyOption.REPLACE_EXISTING)
    if (trace) {
      before = listing(wh)
      logBefore = Files.size(logFile)
    }
  }

  def unit(u: Int, parent: Int, traced: Boolean): AnyRef = {
    var times = Map.empty[String, Double]
    var ids = Map.empty[String, Int]
    def timed[T](name: String)(f: => T): T = spans.span(name, parent) { id =>
      ids += name -> id
      val t0 = System.nanoTime()
      try f finally times += name -> (System.nanoTime() - t0) / 1e9
    }
    val parsed =
      if (traced) timed("parse")(ProjectLoader.load(project, pp)).partialStats.map(_.parsed).getOrElse(0)
      else 0
    val engine = timed("engine_init")(
      Engine.fromProject(spark, project, wh.toString, partialParse = Some(pp)))
    if (traced) timed("dag_select") {
      Selector.select(engine.manifest, Dag.fromManifest(engine.manifest), Nil)
    }
    val b0 = spans.now()
    val results = timed("build")(engine.build(threads = nproc))
    val buildSpan = (b0, ids("build"))
    timed("artifacts")(engine.writeArtifacts(target, results))
    Body(engine, results, parsed, times, buildSpan)
  }

  private val expectedNodes = spec.get("expected_nodes").elements().asScala.map(_.asText).toSet
  private val expectedTests = spec.get("expected_tests").asInt

  /** "success" when `ids` are exactly the nodes the generator made, else
    * what differs. Nodes are compared as "<resource type>.<name>", tests
    * by count (their ids carry a hash). */
  private def nodeSet(ids: Set[String]): String = {
    val (tests, nodes) = ids.partition(_.startsWith("test."))
    val others = nodes.map { id => val p = id.split('.'); s"${p.head}.${p.last}" }
    val missing = expectedNodes -- others
    val extra = others -- expectedNodes
    if (missing.isEmpty && extra.isEmpty && tests.size == expectedTests) "success"
    else s"missing ${missing.size} (${missing.take(3).mkString(", ")}), " +
      s"unexpected ${extra.size} (${extra.take(3).mkString(", ")}), " +
      s"${tests.size} tests, expected $expectedTests"
  }

  def check(u: Int, body: AnyRef): (Seq[Op], Map[String, (Any, Any)]) = {
    val b = body.asInstanceOf[Body]
    val rr = mapper.readTree(Paths.get(target, "run_results.json").toFile)
    val listed = rr.get("results").elements().asScala.map(_.get("unique_id").asText).toSet
    // two more ops per unit: a node the build skips, or one missing from
    // run_results.json, fails one of them rather than going uncounted
    val ops = b.results.map(r => Op(r.uniqueId, r.status, r.elapsedSec)) ++ Seq(
      Op("nodes:build", nodeSet(b.results.map(_.uniqueId).toSet), 0.0),
      Op("nodes:run_results", nodeSet(listed), 0.0))
    val listedChecks = b.results.map(r => r.uniqueId -> ((listed(r.uniqueId): Any, true: Any))).toMap
    (ops, listedChecks.map { case (k, v) => s"$k#listed" -> v } ++ whChecks(b.engine))
  }

  /** Unique id of the model, seed or snapshot called `name`. */
  private def idOf(engine: Engine, name: String): String =
    engine.manifest.nodes.collectFirst {
      case (id, n) if n.name == name && n.resourceType != "test" => id
    }.getOrElse(sys.error(s"no node named $name"))

  private val mergeCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_year")
  private val appCols = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "batch_id")

  /** Each incrementally written table against baseline ⊕ delta computed
    * directly in Spark from the source files: row count and an
    * order-independent checksum per table, all in one aggregation. The
    * tables are read as stored, through a fresh Warehouse that replays
    * the `_commits` files (`build` writes through its own engine, so the
    * outer engine's handle still points at the previous versions). */
  private def whChecks(engine: Engine): Map[String, (Any, Any)] = {
    val stored = new graft.exec.Warehouse(spark, wh.toString)
    def rel(name: String): DataFrame =
      stored.read(engine.relationName(engine.manifest.nodes(idOf(engine, name))))
    def tagged(tag: String, df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(lit(tag).as("tag"), xxhash64(cols.map(c => col(c).cast("string")): _*).as("h"))
    val yr = year(col("o_orderdate")).as("o_year")
    val base = spark.read.parquet(spec.get("orders").asText).select(col("*"), yr)
    val delta = spark.read.parquet(spec.get("live_delta").asText).select(col("*"), yr)
    val current = base.join(delta.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select(mergeCols.map(col): _*).unionByName(delta.select(mergeCols.map(col): _*))
    val appended = base.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      lit(0).as("batch_id")).unionByName(delta.select(appCols.map(col): _*))
    val upserts = Seq("orders_merge", "orders_merge_part", "orders_delete_insert", "orders_overwrite")
    val parts = upserts.map(m => tagged(m, rel(m), mergeCols)) ++ Seq(
      tagged("expected_current", current, mergeCols),
      tagged("order_changes", rel("order_changes"), appCols),
      tagged("expected_appended", appended, appCols),
      tagged("orders_snapshot", rel("orders_snapshot").filter(col("dbt_valid_to").isNull),
        Seq("o_orderkey")))
    val sigs = parts.reduce(_ unionByName _).groupBy("tag")
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), s"${r.getLong(1)}/${r.get(2)}")).toMap
    def sig(tag: String): Any = sigs.get(tag).map(_._2).getOrElse("no rows")
    (upserts.map(m => s"${idOf(engine, m)}#table" -> ((sig(m), sig("expected_current")))) ++ Seq(
      s"${idOf(engine, "order_changes")}#table" -> ((sig("order_changes"), sig("expected_appended"))),
      s"${idOf(engine, "orders_snapshot")}#current_rows" ->
        ((sigs.get("orders_snapshot").map(_._1).getOrElse(0L): Any,
          sigs.get("expected_current").map(_._1).getOrElse(-1L): Any)))).toMap
  }

  private def kindOf(id: String): String = id.split('.') match {
    case Array("test", _*) => "test"
    case Array("seed", _*) => "seed"
    case Array("snapshot", _*) => "snapshot"
    case Array(_, _, "orders_merge") => "merge"
    case Array(_, _, "orders_merge_part") => "pruned_merge"
    case Array(_, _, "order_changes") => "append"
    case Array(_, _, "orders_delete_insert") => "delete_insert"
    case Array(_, _, "orders_overwrite") => "insert_overwrite"
    case Array(_, _, n) if n.startsWith("fct_") => "table"
    case _ => "view"
  }

  def layers(u: Int, body: AnyRef, unitSpan: Span): Map[String, Any] = {
    val b = body.asInstanceOf[Body]
    val parsedEvents = events.lines.asScala.toSeq.map(mapper.readTree)
    def code(e: JsonNode) = Option(e.get("code")).map(_.asText).getOrElse("")
    def uid(e: JsonNode) = e.get("unique_id").asText
    val started = parsedEvents.filter(code(_) == "Q024").map(e => uid(e) -> epochMicros(e.get("ts").asText)).toMap
    val finished = parsedEvents.filter(e => code(e) == "Q025" && started.contains(uid(e)))
      .map(e => uid(e) -> (epochMicros(e.get("ts").asText), e.get("elapsed_sec").asDouble)).toMap
    val compileMs = parsedEvents.filter(e => code(e) == "Z010" &&
      e.get("timing_name").asText == "compile").map(_.get("elapsed_sec").asDouble * 1e3)
    // a node is ready when its last parent (or a test gating that
    // parent, as build() adds) has finished; roots are ready at build start
    val nodes = b.engine.manifest.nodes
    val testsOf = b.engine.manifest.tests.values.toSeq
      .flatMap(t => t.dependsOn.map(_ -> t.uniqueId)).groupMap(_._1)(_._2)
    val (buildStart, buildId) = b.buildSpan
    val waitsMs = started.toSeq.map { case (id, st) =>
      val deps = nodes.get(id).toSeq.flatMap(_.dependsOn)
      val gates = deps ++ deps.flatMap(d => testsOf.getOrElse(d, Nil))
      val ready = (gates.flatMap(finished.get).map(_._1) :+ buildStart).max
      math.max(0L, st - ready) / 1e3
    }
    finished.foreach { case (id, (end, _)) =>
      spans.add("node", started(id), end, buildId, id)
    }
    val nodeMs = finished.values.map(_._2 * 1e3).toSeq
    val buildS = b.times.getOrElse("build", 0.0)
    val after = listing(wh)
    val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
    val newDirs = after.keySet.map(k => Paths.get(k).getParent.toString) --
      before.keySet.map(k => Paths.get(k).getParent.toString)
    val deltaBytes = Files.size(Paths.get(spec.get("live_delta").asText)).toDouble
    val byKind = finished.toSeq.groupMap { case (id, _) => kindOf(id) } { case (_, (_, s)) => s * 1e3 }
    Map(
      "parse.full_s" -> fullParseS,
      "parse.partial_s" -> b.times.getOrElse("parse", 0.0),
      "parse.files_parsed" -> b.parsed.toDouble,
      "render.compile_s" -> compileMs.sum / 1e3,
      "render.compile_ms" -> compileMs,
      "graph.dag_select_s" -> b.times.getOrElse("dag_select", 0.0),
      "run.engine_init_s" -> b.times.getOrElse("engine_init", 0.0),
      "run.build_s" -> buildS,
      "run.artifacts_s" -> b.times.getOrElse("artifacts", 0.0),
      "run.queue_wait_s" -> waitsMs.sum / 1e3,
      "run.queue_wait_ms" -> waitsMs,
      "run.worker_busy_share" -> (if (buildS > 0) nodeMs.sum / 1e3 / (nproc * buildS) else 0.0),
      "run.node_ms" -> nodeMs,
      "run.events" -> parsedEvents.size.toDouble,
      "run.log_mb" -> (Files.size(logFile) - logBefore) / 1e6,
      "exec.files_written" -> changed.keySet.count(k => !k.endsWith("_commits")).toDouble,
      "exec.commit_dirs" -> newDirs.size.toDouble,
      "exec.stored_mb" -> after.values.map(_._1).sum / 1e6,
      "exec.delta_mb" -> deltaBytes / 1e6,
      "exec.kind_ms" -> byKind)
  }
}

object WarehouseLoad {
  /** The CLI's session (Cli.scala), with `local[nproc]`. */
  def session(): SparkSession = SparkSession.builder()
    .master(s"local[${Main.nproc}]")
    .appName("graft")
    .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** query_mix: the drawn queries one after another, each drained through
  * Bench's `noop` sink. One unit is one pass. */
final class QueryMix(spark: SparkSession, spec: JsonNode, spans: Spans, rec: SparkRecorder)
    extends Main.Workload {
  import Main._

  private val data = spec.get("data").asText
  private val names = spec.get("queries").elements().asScala.map(_.asText).toSeq
  private val stratum = spec.get("stratum_of")
  private val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val queries = names.map(n => byName.getOrElse(n, sys.error(s"unknown query $n")))

  def setup(): Unit = ()
  def prepare(u: Int): Unit = ()

  def unit(u: Int, parent: Int, traced: Boolean): AnyRef = queries.map { q =>
    spans.span("query", parent, q.name) { _ =>
      spark.sparkContext.setJobGroup(q.name, s"perfbench: ${q.name}")
      val t0 = System.nanoTime()
      val status =
        try { q.run(spark, data).write.format("noop").mode("overwrite").save(); "success" }
        catch { case e: Throwable => s"error: ${e.getMessage}" }
        finally spark.sparkContext.clearJobGroup()
      Op(q.name, status, (System.nanoTime() - t0) / 1e9)
    }
  }

  def check(u: Int, body: AnyRef): (Seq[Op], Map[String, (Any, Any)]) =
    (body.asInstanceOf[Seq[Op]], Map.empty)

  def layers(u: Int, body: AnyRef, unitSpan: Span): Map[String, Any] = {
    val ops = body.asInstanceOf[Seq[Op]]
    def stratumSum(s: String) =
      ops.filter(o => stratum.get(o.id).asText == s).map(_.latency).sum
    Map(
      "queries.job_heavy_s" -> stratumSum("job_heavy"),
      "queries.compute_heavy_s" -> stratumSum("compute_heavy"),
      "queries.jobs_per_query" -> rec.jobs.get.toDouble / ops.size)
  }

  /** Outside the timed passes: each query's output once, with its
    * oracle SQL, for the DuckDB comparison `run.py` makes. */
  override def finish(): Map[String, Any] = {
    val out = Paths.get(spec.get("oracle_out").asText)
    Files.createDirectories(out)
    val written = queries.map { q =>
      q.name -> (try { q.run(spark, data).write.mode("overwrite").parquet(out.resolve(q.name).toString); "ok" }
      catch { case e: Throwable => s"error: ${e.getMessage}" })
    }.toMap
    val oracle = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(oracle))
    Map("oracle_written" -> written)
  }
}

object QueryMix {
  /** Bench's session (Bench.scala): data-proportional shuffle partitions,
    * AQE, FAIR scheduling, 64 MB broadcast, codegen cache 4096. */
  def session(sfDir: String): SparkSession = {
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    val cpus = Main.nproc
    val shufParts = math.max(8L, math.min(cpus * 4L, dirBytes(new java.io.File(sfDir)) / (16L << 20)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufParts.toString)
      .config("spark.sql.files.minPartitionNum", math.min(8, cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    scala.util.Try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    }
    spark
  }
}
