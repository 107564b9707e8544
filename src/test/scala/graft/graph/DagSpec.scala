package graft.graph

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite {

  private def model(name: String, deps: Seq[String] = Nil, tags: Set[String] = Set.empty) =
    ModelNode(name, "SELECT 1", config = NodeConfig(tags = tags),
      dependsOn = deps.map(d => s"model.graft.$d"))

  private val manifest = Manifest(Seq(
    model("a"),
    model("b", Seq("a")),
    model("c", Seq("a"), tags = Set("nightly")),
    model("d", Seq("b", "c")),
    model("e", Seq("d"))).map(n => n.uniqueId -> (n: Node)).toMap)

  private val dag = Dag.fromManifest(manifest)

  test("topo sort respects dependencies") {
    val order = dag.topoSort
    def idx(n: String) = order.indexOf(s"model.graft.$n")
    assert(idx("a") < idx("b")); assert(idx("a") < idx("c"))
    assert(idx("b") < idx("d")); assert(idx("c") < idx("d"))
    assert(idx("d") < idx("e"))
  }

  test("cycle detection names the path (reference compilation.py:128-135)") {
    val cyc = Manifest(Seq(
      model("x", Seq("y")), model("y", Seq("x")))
      .map(n => n.uniqueId -> (n: Node)).toMap)
    val e = intercept[RuntimeException](Dag.fromManifest(cyc).topoSort)
    assert(e.getMessage.startsWith("Found a cycle: "))
    // a closed a --> b --> a walk naming both members
    assert(e.getMessage.split(" --> ").length === 3)
    assert(e.getMessage.contains("model.graft.x") &&
      e.getMessage.contains("model.graft.y"))
  }

  test("ancestors / descendants") {
    assert(dag.ancestors("model.graft.d") ===
      Set("model.graft.a", "model.graft.b", "model.graft.c"))
    assert(dag.descendants("model.graft.a") ===
      Set("model.graft.b", "model.graft.c", "model.graft.d", "model.graft.e"))
    assert(dag.ancestors("model.graft.d", maxDepth = 1) ===
      Set("model.graft.b", "model.graft.c"))
  }

  test("selector: name, graph operators, tag, set ops") {
    def sel(inc: String*) = Selector.select(manifest, dag, inc.toSeq)
      .map(_.stripPrefix("model.graft."))
    assert(sel("b") === Set("b"))
    assert(sel("+d") === Set("a", "b", "c", "d"))
    assert(sel("b+") === Set("b", "d", "e"))
    assert(sel("1+d+1") === Set("b", "c", "d", "e"))
    assert(sel("tag:nightly") === Set("c"))
    assert(sel("b", "c") === Set("b", "c")) // union
    assert(sel("+d,tag:nightly") === Set("c")) // intersection
    assert(Selector.select(manifest, dag, Seq("b+"), exclude = Seq("e"))
      .map(_.stripPrefix("model.graft.")) === Set("b", "d"))
  }

  test("selector: resource_type and source methods") {
    val src = graft.core.SourceNode("main", "raw_orders", "/dev/null")
    val m2 = Manifest(manifest.nodes + (src.uniqueId -> (src: Node)))
    val d2 = Dag.fromManifest(m2)
    assert(Selector.select(m2, d2, Seq("resource_type:source"))
      === Set("source.graft.main.raw_orders"))
    assert(Selector.select(m2, d2, Seq("source:main"))
      === Set("source.graft.main.raw_orders"))
    assert(Selector.select(m2, d2, Seq("source:main.raw_orders"))
      === Set("source.graft.main.raw_orders"))
    assert(Selector.select(m2, d2, Seq("resource_type:model")).size === 5)
    assertThrows[IllegalArgumentException](
      Selector.select(m2, d2, Seq("unknown_method:x")))
  }

  test("selector: group/access/config/test/exposure/metric/result methods") {
    val grouped = ModelNode("g1", "SELECT 1",
      config = NodeConfig(materialized = "table", group = Some("finance"),
        access = "private", schema = Some("mart")))
    val gtest = TestNode("unique_g1_id", "SELECT id FROM g1 GROUP BY id HAVING count(*)>1",
      genericTest = Some("unique"))
    val stest = TestNode("assert_positive", "SELECT * FROM g1 WHERE id < 0")
    val expo = ExposureNode("weekly_dash", refs = Seq("g1"))
    val metric = MetricNode("revenue", "g1", "sum(x)")
    val m2 = Manifest(manifest.nodes ++ Seq(
      grouped, gtest, stest, expo, metric).map(n => n.uniqueId -> (n: Node)))
    val d2 = Dag.fromManifest(m2)
    def sel(inc: String*) = Selector.select(m2, d2, inc.toSeq)
    assert(sel("group:finance") === Set("model.graft.g1"))
    assert(sel("access:private") === Set("model.graft.g1"))
    assert(sel("config.materialized:table") === Set("model.graft.g1"))
    assert(sel("config.schema:mart") === Set("model.graft.g1"))
    assert(sel("test_type:generic") === Set(gtest.uniqueId))
    assert(sel("test_type:singular") === Set(stest.uniqueId))
    assert(sel("test_name:unique") === Set(gtest.uniqueId))
    assert(sel("exposure:weekly_dash") === Set(expo.uniqueId))
    assert(sel("metric:revenue") === Set(metric.uniqueId))
    assertThrows[IllegalArgumentException](sel("result:error"))
    val byResult = Selector.withResults(Map(
      "model.graft.g1" -> "error", "model.graft.a" -> "success")) {
      sel("result:error")
    }
    assert(byResult === Set("model.graft.g1"))
  }

  test("selector: version method and versioned-name shorthand") {
    val v1 = ModelNode("rev", "SELECT 1", version = Some(1), latestVersion = Some(2))
    val v2 = ModelNode("rev", "SELECT 2", version = Some(2), latestVersion = Some(2))
    val v3 = ModelNode("rev", "SELECT 3", version = Some(3), latestVersion = Some(2))
    val m2 = Manifest(manifest.nodes ++ Seq(v1, v2, v3).map(n => n.uniqueId -> (n: Node)))
    val d2 = Dag.fromManifest(m2)
    def sel(inc: String*) = Selector.select(m2, d2, inc.toSeq)
    assert(v1.uniqueId === "model.graft.rev.v1")
    assert(sel("rev.v1") === Set("model.graft.rev.v1")) // shorthand
    assert(sel("rev") === Set("model.graft.rev.v1", "model.graft.rev.v2",
      "model.graft.rev.v3")) // family name selects every version
    assert(sel("version:1") === Set("model.graft.rev.v1"))
    assert(sel("version:latest") === Set("model.graft.rev.v2"))
    assert(sel("version:old") === Set("model.graft.rev.v1"))
    assert(sel("version:prerelease") === Set("model.graft.rev.v3"))
    assert(sel("version:none") === manifest.nodes.keySet)
    // unpinned ref resolution: latest_version wins over max version
    assert(m2.resolveRef("rev").map(_.uniqueId) === Some("model.graft.rev.v2"))
    assert(m2.resolveRefSpec("rev.v3").map(_.uniqueId) === Some("model.graft.rev.v3"))
  }

  test("selector: path, file, package methods") {
    val stg = ModelNode("p_stg", "SELECT 1", originPath = "models/staging/p_stg.sql")
    val mrt = ModelNode("p_mart", "SELECT 1", originPath = "models/marts/p_mart.sql")
    val m2 = Manifest(manifest.nodes ++ Seq(stg, mrt).map(n => n.uniqueId -> (n: Node)))
    val d2 = Dag.fromManifest(m2)
    def sel(inc: String*) = Selector.select(m2, d2, inc.toSeq)
    assert(sel("path:models/staging") === Set(stg.uniqueId)) // directory
    assert(sel("path:models/marts/p_mart.sql") === Set(mrt.uniqueId)) // exact
    assert(sel("path:models/*/p_*.sql") === Set(stg.uniqueId, mrt.uniqueId)) // glob
    assert(sel("file:p_stg.sql") === Set(stg.uniqueId))
    assert(sel("file:p_mart") === Set(mrt.uniqueId)) // extension optional
    assert(sel("package:graft").contains(stg.uniqueId)) // single-package project
    assert(sel("package:nope") === Set.empty)
  }

  test("selector: unit_test, semantic_model, saved_query, source_status methods") {
    val ut = UnitTestNode("ut_rows", "b", given = Map.empty, expect = Nil,
      dependsOn = Seq("model.graft.b"))
    val sm = SemanticModelNode("sem_orders", "b", dependsOn = Seq("model.graft.b"))
    val sq = SavedQueryNode("weekly_rev", metrics = Seq("rev_total"))
    val src = SourceNode("main", "raw_orders", "/dev/null")
    val m2 = Manifest(manifest.nodes ++
      Seq(ut, sm, sq, src).map(n => n.uniqueId -> (n: Node)))
    val d2 = Dag.fromManifest(m2)
    def sel(inc: String*) = Selector.select(m2, d2, inc.toSeq)
    assert(sel("unit_test:ut_rows") === Set(ut.uniqueId))
    assert(sel("resource_type:unit_test") === Set(ut.uniqueId))
    assert(sel("semantic_model:sem_orders") === Set(sm.uniqueId))
    assert(sel("saved_query:weekly_rev") === Set(sq.uniqueId))
    assertThrows[IllegalArgumentException](sel("source_status:error"))
    val stale = Selector.withSourceStatus(Map(
      src.uniqueId -> "error", "other" -> "pass")) { sel("source_status:error") }
    assert(stale === Set(src.uniqueId))
  }

  test("indirect selection: eager, cautious, buildable, empty") {
    // b depends on a; the relationship test touches BOTH a and b
    val relTest = TestNode("rel_b_a", "SELECT 1",
      dependsOn = Seq("model.graft.b", "model.graft.a"),
      genericTest = Some("relationships"))
    val m2 = Manifest(manifest.nodes + (relTest.uniqueId -> (relTest: Node)))
    val d2 = Dag.fromManifest(m2)
    def sel(mode: String, inc: String*) =
      Selector.select(m2, d2, inc.toSeq, indirectSelection = mode)
    // eager (default): any tested parent selected pulls the test in
    assert(sel("eager", "b").contains(relTest.uniqueId))
    assert(Selector.select(m2, d2, Seq("b")).contains(relTest.uniqueId))
    // cautious: requires ALL the test's parents selected
    assert(!sel("cautious", "b").contains(relTest.uniqueId))
    assert(sel("cautious", "a", "b").contains(relTest.uniqueId))
    // buildable: parents may also be ancestors of selected nodes —
    // a is an ancestor of b, so selecting b suffices
    assert(sel("buildable", "b").contains(relTest.uniqueId))
    assert(!sel("buildable", "a").contains(relTest.uniqueId)) // b not covered
    // empty: only directly selected tests run
    assert(!sel("empty", "b").contains(relTest.uniqueId))
    assert(sel("empty", "rel_b_a") === Set(relTest.uniqueId))
    assertThrows[IllegalArgumentException](sel("bogus", "b"))
  }

  test("--exclude beats eager indirect selection") {
    val nn = TestNode("not_null_b_id", "SELECT 1",
      dependsOn = Seq("model.graft.b"), genericTest = Some("not_null"))
    val m2 = Manifest(manifest.nodes + (nn.uniqueId -> (nn: Node)))
    val d2 = Dag.fromManifest(m2)
    assert(Selector.select(m2, d2, Nil).contains(nn.uniqueId))
    // the test's parent stays selected, yet the excluded test stays out
    val sel = Selector.select(m2, d2, Nil, exclude = Seq("not_null_b_id"))
    assert(!sel.contains(nn.uniqueId))
    assert(sel.contains("model.graft.b"))
  }

  test("@ operator: descendants plus their ancestors") {
    val sel = Selector.select(manifest, dag, Seq("@c")).map(_.stripPrefix("model.graft."))
    assert(sel === Set("a", "b", "c", "d", "e"))
  }

  private def id(n: String) = s"model.graft.$n"

  /** `q.take()` on another thread; blocked while the future is pending. */
  private def takeAsync(q: GraphQueue): scala.concurrent.Future[Option[String]] =
    scala.concurrent.Future(q.take())(scala.concurrent.ExecutionContext.global)

  private def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(10, "s"))

  private def assertBlocked(f: scala.concurrent.Future[_]): Unit = {
    Thread.sleep(100)
    assert(!f.isCompleted)
  }

  test("graph queue releases nodes in dependency order") {
    val q = new GraphQueue(dag, dag.nodes)
    assert(q.take() === Some(id("a")))
    val blocked = takeAsync(q) // b, c wait on a
    assertBlocked(blocked)
    q.markDone(id("a"))
    assert(await(blocked) === Some(id("b")))
    assert(q.take() === Some(id("c")))
  }

  test("a blocked take wakes on markDone of its last parent") {
    val q = new GraphQueue(dag, dag.nodes)
    q.markDone(q.take().get)
    val (b, c) = (q.take().get, q.take().get)
    q.markDone(b)
    val d = takeAsync(q)
    assertBlocked(d) // d still waits on c
    q.markDone(c)
    assert(await(d) === Some(id("d")))
    q.markDone(id("d"))
    assert(q.take() === Some(id("e")))
    q.markDone(id("e"))
    assert(q.take() === None)
    assert(q.isComplete)
  }

  // the markFailed cascade completes the queue: a blocked take returns None
  test("graph queue failure skips descendants") {
    val q = new GraphQueue(dag, dag.nodes)
    val a = q.take().get
    val waiting = takeAsync(q)
    assertBlocked(waiting)
    assert(q.markFailed(a) === Set("b", "c", "d", "e").map(id))
    assert(await(waiting) === None)
    assert(q.isComplete)
  }

  test("fail-fast stop releases blocked workers and hands out nothing more") {
    val q = new GraphQueue(dag, dag.nodes)
    val a = q.take().get
    val waiting = Seq(takeAsync(q), takeAsync(q))
    waiting.foreach(assertBlocked)
    q.stop()
    waiting.foreach(w => assert(await(w) === None))
    q.markDone(a) // b and c are ready now, but the queue is stopped
    assert(q.take() === None)
  }

  test("depth scores") {
    val s = dag.depthScores
    assert(s("model.graft.a") === 0)
    assert(s("model.graft.d") === 2)
    assert(s("model.graft.e") === 3)
  }

  test("state submethods: relation / contract / persisted_descriptions / macros") {
    def mk(name: String, cfg: NodeConfig, cols: Seq[ColumnInfo] = Nil,
        sql: String = "SELECT 1", desc: String = "") =
      ModelNode(name, sql, config = cfg, columns = cols, description = desc)
    val old = Manifest(Seq[Node](
      mk("r", NodeConfig(alias = Some("r_v1"))),
      mk("c", NodeConfig(contractEnforced = true),
        cols = Seq(ColumnInfo("id", Some("bigint")))),
      mk("p", NodeConfig(persistDocs = Map("relation" -> true)), desc = "old docs"),
      mk("m", NodeConfig(), sql = "SELECT {{ money(amount) }} AS v")
    ).map(n => n.uniqueId -> n).toMap,
      macroSources = Map("money" -> "round({{ x }}, 2)"))
    val cur = Manifest(Seq[Node](
      mk("r", NodeConfig(alias = Some("r_v2"))), // relation moved
      mk("c", NodeConfig(contractEnforced = true),
        cols = Seq(ColumnInfo("id", Some("string")))), // contract broke
      mk("p", NodeConfig(persistDocs = Map("relation" -> true)),
        desc = "new docs"), // persisted description changed
      mk("m", NodeConfig(), sql = "SELECT {{ money(amount) }} AS v")
    ).map(n => n.uniqueId -> n).toMap,
      macroSources = Map("money" -> "round({{ x }}, 4)")) // macro edited
    val d2 = Dag.fromManifest(cur)
    def sel(inc: String) =
      Selector.withState(old)(Selector.select(cur, d2, Seq(inc)))
    assert(sel("state:modified.relation") === Set("model.graft.r"))
    assert(sel("state:modified.contract") === Set("model.graft.c"))
    assert(sel("state:modified.persisted_descriptions") === Set("model.graft.p"))
    assert(sel("state:modified.macros") === Set("model.graft.m"))
    // the full-content check folds all four in (reference same_contents
    // + check_macros_modified)
    assert(sel("state:modified") ===
      Set("model.graft.r", "model.graft.c", "model.graft.p", "model.graft.m"))
    assert(sel("state:unmodified") === Set.empty)
    // description edits do NOT count when persist_docs is off
    val offOld = Manifest(Map(
      mk("p2", NodeConfig(), desc = "a").uniqueId -> (mk("p2", NodeConfig(), desc = "a"): Node)))
    val offCur = Manifest(Map(
      mk("p2", NodeConfig(), desc = "b").uniqueId -> (mk("p2", NodeConfig(), desc = "b"): Node)))
    val dOff = Dag.fromManifest(offCur)
    assert(Selector.withState(offOld)(
      Selector.select(offCur, dOff, Seq("state:modified.persisted_descriptions"))) === Set.empty)
  }

  test("ChecksumState (artifact --state) selects EXACTLY what ManifestState selects") {
    // the checksum view must be selection-equivalent to the full
    // manifest view on every submethod: build the artifact side the way
    // Artifacts.writeManifest does (StateHash.of per node, sha per
    // macro) and compare selections over a manifest exercising every
    // dimension: body edit, config edit, relation move, contract break,
    // persisted-description change, macro edit, node added + deleted
    def mk(name: String, cfg: NodeConfig, cols: Seq[ColumnInfo] = Nil,
        sql: String = "SELECT 1", desc: String = "") =
      ModelNode(name, sql, config = cfg, columns = cols, description = desc)
    val old = Manifest(Seq[Node](
      mk("b", NodeConfig(), sql = "SELECT 1 AS v"),
      mk("cfg", NodeConfig(tags = Set("x"))),
      mk("r", NodeConfig(alias = Some("r_v1"))),
      mk("c", NodeConfig(contractEnforced = true),
        cols = Seq(ColumnInfo("id", Some("bigint")))),
      mk("p", NodeConfig(persistDocs = Map("relation" -> true)), desc = "old"),
      mk("m", NodeConfig(), sql = "SELECT {{ money(amount) }} AS v"),
      mk("gone", NodeConfig()),
      mk("same", NodeConfig(), sql = "SELECT 42 AS u")
    ).map(n => n.uniqueId -> n).toMap,
      macroSources = Map("money" -> "round({{ x }}, 2)",
        "caller" -> "{{ money(1) }}", "idle" -> "1"))
    val cur = Manifest(Seq[Node](
      mk("b", NodeConfig(), sql = "SELECT 2 AS v"), // body edit
      mk("cfg", NodeConfig(tags = Set("y"))), // config edit
      mk("r", NodeConfig(alias = Some("r_v2"))), // relation moved
      mk("c", NodeConfig(contractEnforced = true),
        cols = Seq(ColumnInfo("id", Some("string")))), // contract broke
      mk("p", NodeConfig(persistDocs = Map("relation" -> true)), desc = "new"),
      mk("m", NodeConfig(), sql = "SELECT {{ caller() }} AS v"), // transitive macro hit
      mk("fresh", NodeConfig()), // new node
      mk("same", NodeConfig(), sql = "SELECT 42 AS u") // untouched
    ).map(n => n.uniqueId -> n).toMap,
      macroSources = Map("money" -> "round({{ x }}, 4)", // edited
        "caller" -> "{{ money(1) }}", "idle" -> "1"))
    val d2 = Dag.fromManifest(cur)
    // the artifact side, exactly as writeManifest embeds it
    val artifact = new Selector.ChecksumState(
      old.nodes.map { case (id, n) => id -> graft.core.StateHash.of(n) },
      old.macroSources.map { case (k, v) => k -> graft.core.StateHash.sha(v) })
    val methods = Seq("state:new", "state:old", "state:modified",
      "state:unmodified", "state:modified.body", "state:modified.configs",
      "state:modified.relation", "state:modified.contract",
      "state:modified.persisted_descriptions", "state:modified.macros")
    methods.foreach { m =>
      val full = Selector.withState(old)(Selector.select(cur, d2, Seq(m)))
      val fromArtifact = Selector.withStateSide(artifact)(
        Selector.select(cur, d2, Seq(m)))
      assert(fromArtifact === full, s"$m diverged between artifact and manifest state")
    }
    // sanity on the absolute sets, not just agreement
    val modified = Selector.withStateSide(artifact)(
      Selector.select(cur, d2, Seq("state:modified")))
    assert(modified.contains("model.graft.m"), "transitive macro edit must select the caller")
    assert(!modified.contains("model.graft.same"))
    assert(Selector.withStateSide(artifact)(
      Selector.select(cur, d2, Seq("state:new"))) === Set("model.graft.fresh"))
  }
}
