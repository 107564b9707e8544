package graft.graph

import graft.core.{Manifest, Node}

/** Dependency graph over manifest nodes — the reference's `Linker`
  * (`core/dbt/compilation.py:116-191`: nx.DiGraph build + cycle check)
  * re-done as plain adjacency maps + Kahn topological sort.
  */
final case class Dag(parents: Map[String, Set[String]]) {

  val children: Map[String, Set[String]] = {
    val pairs = for ((id, ps) <- parents.toSeq; p <- ps) yield p -> id
    val m = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    parents.keys.map(k => k -> m.getOrElse(k, Set.empty[String])).toMap
  }

  def nodes: Set[String] = parents.keySet

  /** Kahn topo order; throws on cycles (reference cycle check
    * `compilation.py:128-135`).
    */
  def topoSort: Seq[String] = {
    val inDeg = scala.collection.mutable.Map(
      parents.view.mapValues(_.count(parents.contains)).toSeq: _*)
    // deterministic: ready nodes processed in sorted order
    val ready = scala.collection.mutable.PriorityQueue[String]()(
      Ordering[String].reverse)
    inDeg.foreach { case (n, d) => if (d == 0) ready.enqueue(n) }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      out += n
      for (c <- children.getOrElse(n, Set.empty)) {
        inDeg(c) -= 1
        if (inDeg(c) == 0) ready.enqueue(c)
      }
    }
    if (out.size != parents.size) {
      // walk an actual cycle among the stuck nodes so the error names
      // the PATH, reference-style (`core/dbt/compilation.py:128-135`:
      // "Found a cycle: a --> b --> a"), not just the member set
      val stuck = parents.keySet -- out
      val start = stuck.toSeq.min
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      var cur = start
      while (!seen.contains(cur)) {
        seen += cur
        // follow any in-cycle parent edge (stuck nodes all have one)
        cur = parents.getOrElse(cur, Set.empty).filter(stuck)
          .toSeq.sorted.headOption.getOrElse(cur)
      }
      val path = seen.toSeq.dropWhile(_ != cur) :+ cur
      throw graft.core.Errors.foundCycle(path)
    }
    out.toSeq
  }

  /** Depth score per node = 1 + max parent score; the reference's
    * priority metric (`core/dbt/graph/queue.py:90-112` `_get_scores`).
    */
  def depthScores: Map[String, Int] = {
    val memo = scala.collection.mutable.Map[String, Int]()
    def score(n: String): Int = memo.getOrElseUpdate(n, {
      val ps = parents.getOrElse(n, Set.empty).filter(parents.contains)
      if (ps.isEmpty) 0 else 1 + ps.map(score).max
    })
    nodes.foreach(score)
    memo.toMap
  }

  def ancestors(id: String, maxDepth: Int = Int.MaxValue): Set[String] =
    bfs(id, parents, maxDepth)

  def descendants(id: String, maxDepth: Int = Int.MaxValue): Set[String] =
    bfs(id, children, maxDepth)

  private def bfs(start: String, adj: Map[String, Set[String]], maxDepth: Int): Set[String] = {
    val seen = scala.collection.mutable.Set[String]()
    var frontier = adj.getOrElse(start, Set.empty)
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      val next = frontier -- seen
      seen ++= next
      frontier = next.flatMap(n => adj.getOrElse(n, Set.empty))
      depth += 1
    }
    seen.toSet
  }
}

object Dag {
  def fromManifest(m: Manifest): Dag = {
    val ids = m.nodes.keySet
    Dag(m.nodes.map { case (id, n) => id -> n.dependsOn.toSet.intersect(ids) })
  }
}

/** Node-selection DSL — the reference's `--select`/`--exclude` grammar
  * (`core/dbt/graph/selector_spec.py:15-24` regex,
  * `selector_methods.py`, union/intersection in `graph/cli.py`):
  * `model_b` (name), `+model_b` (ancestors), `model_b+` (descendants),
  * `2+model_b+3` (bounded), `@model_b` (descendants + their ancestors),
  * `tag:x`, `source:s`, space = union, comma = intersection.
  */
object Selector {

  private val spec = """^(@)?(?:(\d*)(\+))?([^+]+?)(?:(\+)(\d*))?$""".r

  /** state:modified / state:new need the `--state` comparison side
    * (reference `StateSelectorMethod`, `selector_methods.py:609-788`) —
    * either a fully-parsed Manifest (--state-project) or the checksum
    * view read from a saved manifest.json artifact (--state).
    */
  private val stateSideTL = new ThreadLocal[Option[StateSide]] {
    override def initialValue(): Option[StateSide] = None
  }

  def withState[T](state: Manifest)(f: => T): T =
    withStateSide(new ManifestState(state))(f)

  def withStateSide[T](state: StateSide)(f: => T): T = {
    stateSideTL.set(Some(state))
    try f finally stateSideTL.set(None)
  }

  def select(manifest: Manifest, dag: Dag, include: Seq[String],
      exclude: Seq[String] = Nil,
      indirectSelection: String = "eager"): Set[String] = {
    val base =
      if (include.isEmpty) dag.nodes
      else include.map { term =>
        val hits = selectUnion(manifest, dag, term)
        if (hits.isEmpty)
          // reference M030 NoNodesForSelectionCriteria: one warn per
          // criterion that matched nothing (the selection still runs)
          graft.run.EventLog.warn("no_nodes_for_selection_criteria",
            "code" -> "M030", "spec_raw" -> term)
        hits
      }.reduce(_ union _)
    val excluded =
      if (exclude.isEmpty) Set.empty[String]
      else exclude.map(term => selectUnion(manifest, dag, term)).reduce(_ union _)
    // excluded nodes stay out even when indirect selection would pull
    // them back in through a selected parent (reference `selector.py`
    // subtracts the excluded set from the indirect set too)
    expandIndirect(manifest, dag, base -- excluded, indirectSelection) -- excluded
  }

  /** Indirect selection (reference `selector.py:220-280`): tests and
    * unit tests of selected nodes join the selection without being
    * named. `eager` (default) — any tested parent selected; `cautious`
    * — ALL of the test's parents selected; `buildable` — all parents
    * selected or ancestors of selected nodes; `empty` — only directly
    * selected tests run.
    */
  private def expandIndirect(manifest: Manifest, dag: Dag,
      sel: Set[String], mode: String): Set[String] =
    if (mode == "empty") sel
    else {
      lazy val withAncestors = sel ++ sel.flatMap(dag.ancestors(_))
      val extra = manifest.nodes.collect {
        case (id, n) if !sel(id) &&
            (n.resourceType == "test" || n.resourceType == "unit_test") &&
            n.dependsOn.nonEmpty && (mode match {
              case "cautious" => n.dependsOn.forall(sel)
              case "buildable" => n.dependsOn.forall(withAncestors)
              case "eager" => n.dependsOn.exists(sel)
              case other => throw new IllegalArgumentException(
                s"unknown indirect selection mode: $other")
            }) => id
      }
      sel ++ extra
    }

  /** One CLI token: comma-separated atoms intersect. */
  private def selectUnion(manifest: Manifest, dag: Dag, term: String): Set[String] =
    term.split(",").map(atom => selectAtom(manifest, dag, atom.trim))
      .reduce(_ intersect _)

  private def selectAtom(manifest: Manifest, dag: Dag, atom: String): Set[String] =
    atom match {
      case spec(at, preN, pre, body, post, postN) =>
        val matched = method(manifest, body)
        val withPre =
          if (pre != null)
            matched ++ matched.flatMap(id => dag.ancestors(id,
              if (preN != null && preN.nonEmpty) preN.toInt else Int.MaxValue))
          else matched
        val withPost =
          if (post != null)
            withPre ++ matched.flatMap(id => dag.descendants(id,
              if (postN != null && postN.nonEmpty) postN.toInt else Int.MaxValue))
          else withPre
        if (at != null) {
          // @x = x + descendants + ancestors-of-all-of-those
          val desc = matched ++ matched.flatMap(id => dag.descendants(id))
          desc ++ desc.flatMap(id => dag.ancestors(id))
        } else withPost
      case _ => method(manifest, atom)
    }

  /** result: selection needs the previous run's statuses
    * (reference `ResultSelectorMethod`); provided like state.
    */
  private val resultsTL = new ThreadLocal[Option[Map[String, String]]] {
    override def initialValue(): Option[Map[String, String]] = None
  }

  def withResults[T](statuses: Map[String, String])(f: => T): T = {
    resultsTL.set(Some(statuses))
    try f finally resultsTL.set(None)
  }

  /** source_status: needs current freshness statuses (reference
    * `SourceStatusSelectorMethod`); provided like state/results.
    */
  private val sourceStatusTL = new ThreadLocal[Option[Map[String, String]]] {
    override def initialValue(): Option[Map[String, String]] = None
  }

  def withSourceStatus[T](statuses: Map[String, String])(f: => T): T = {
    sourceStatusTL.set(Some(statuses))
    try f finally sourceStatusTL.set(None)
  }

  /** project-relative origin file of a node, "" when synthesized. */
  private def originOf(n: Node): String = n match {
    case m: graft.core.ModelNode => m.originPath
    case s: graft.core.SeedNode => s.originPath
    case s: graft.core.SnapshotNode => s.originPath
    case t: graft.core.TestNode => t.originPath
    case p: graft.core.PythonModelNode => p.originPath
    case _ => ""
  }

  /** fnmatch-style glob → regex (`*` and `?`, like the reference's
    * path selector). */
  private def globRe(p: String): scala.util.matching.Regex =
    p.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }.r

  /** Selection methods (`MethodName`, `selector_methods.py:45-66`):
    * bare name / fqn (incl. `name.v<N>`), tag:, source:,
    * resource_type:, group:, access:, config.<key>:, test_type:,
    * test_name:, exposure:, metric:, semantic_model:, saved_query:,
    * unit_test:, version:, path:, file:, package:, state:, result:,
    * source_status:.
    */
  private def method(manifest: Manifest, body: String): Set[String] = body.split(":", 2) match {
    // explicit `fqn:` = the bare-atom name match (reference MethodName.FQN
    // is the default method, selectable explicitly in selectors.yml)
    case Array("fqn", name) => method(manifest, name)
    case Array(name) =>
      manifest.nodes.collect {
        case (id, n) if n.name == name || id == name ||
          (n match { // versioned-model shorthand: `m.v2`
            case mv: graft.core.ModelNode =>
              mv.version.exists(v => s"${mv.name}.v$v" == name)
            case _ => false
          }) => id
      }.toSet
    case Array("tag", t) =>
      manifest.nodes.collect {
        case (id, n) if n.config.tags.contains(t) => id }.toSet
    case Array("source", src) =>
      manifest.nodes.collect {
        case (id, n: graft.core.SourceNode) if n.sourceName == src || s"${n.sourceName}.${n.name}" == src => id
      }.toSet
    case Array("resource_type", rt) =>
      manifest.nodes.collect { case (id, n) if n.resourceType == rt => id }.toSet
    case Array("state", which) =>
      val state = stateSideTL.get().getOrElse(
        throw new IllegalArgumentException("state: selector needs a comparison manifest — pass --state <artifact-dir> " +
          "(a dir containing manifest.json) or --state-project <dir>"))
      // reference state_checks (`selector_methods.py:736-751`): a node
      // missing from the comparison manifest counts as modified under
      // every `modified*` variant, matching check_modified_content
      // full-content compare matches reference same_contents
      // (nodes.py:353-368): body + config + persisted descriptions +
      // database representation + contract, plus upstream macro edits
      // (check_modified_content also calls check_macros_modified)
      lazy val affected = state.affectedMacros(manifest.macroSources)
      which match {
        case "new" => manifest.nodes.keySet.filterNot(state.contains)
        case "old" => manifest.nodes.keySet.filter(state.contains)
        case "modified" =>
          manifest.nodes.collect {
            case (id, n) if !state.fullSame(id, n) ||
              usesMacro(n, affected) => id
          }.toSet
        case "unmodified" =>
          manifest.nodes.collect {
            case (id, n) if state.fullSame(id, n) &&
              !usesMacro(n, affected) => id
          }.toSet
        case "modified.body" =>
          manifest.nodes.collect {
            case (id, n) if !state.bodySame(id, n) => id }.toSet
        case "modified.configs" =>
          manifest.nodes.collect {
            case (id, n) if !state.configSame(id, n) => id }.toSet
        case "modified.persisted_descriptions" =>
          manifest.nodes.collect {
            case (id, n) if !state.persistedDescSame(id, n) => id }.toSet
        case "modified.relation" =>
          manifest.nodes.collect {
            case (id, n) if !state.relationSame(id, n) => id }.toSet
        case "modified.contract" =>
          manifest.nodes.collect {
            case (id, n) if !state.contractSame(id, n) => id }.toSet
        case "modified.macros" =>
          // reference check_modified_macros looks only at the NEW
          // node's (transitive) macro usage, not at old-node presence
          manifest.nodes.collect {
            case (id, n) if usesMacro(n, affected) => id }.toSet
        case other =>
          throw new IllegalArgumentException(s"unsupported state method: $other")
      }
    case Array("group", g) =>
      manifest.nodes.collect {
        case (id, n) if n.config.group.contains(g) => id }.toSet
    case Array("access", a) =>
      manifest.nodes.collect {
        case (id, n) if n.config.access == a && n.resourceType == "model" => id }.toSet
    case Array(m, v) if m.startsWith("config.") =>
      val key = m.stripPrefix("config.")
      manifest.nodes.collect {
        case (id, n) if configValue(n.config, key).contains(v) => id }.toSet
    case Array("test_type", t) =>
      manifest.nodes.collect {
        case (id, n: graft.core.TestNode)
          if (t == "generic" && n.genericTest.isDefined) ||
             (t == "singular" && n.genericTest.isEmpty) => id
        case (id, n) if t == "unit" && n.resourceType == "unit_test" => id
      }.toSet
    case Array("test_name", tn) =>
      manifest.nodes.collect {
        case (id, n: graft.core.TestNode) if n.genericTest.contains(tn) => id }.toSet
    case Array("exposure", e) =>
      manifest.nodes.collect {
        case (id, n: graft.core.ExposureNode) if n.name == e => id }.toSet
    case Array("metric", mn) =>
      manifest.nodes.collect {
        case (id, n: graft.core.MetricNode) if n.name == mn => id }.toSet
    case Array("semantic_model", sm) =>
      manifest.nodes.collect {
        case (id, n: graft.core.SemanticModelNode) if n.name == sm => id }.toSet
    case Array("saved_query", sq) =>
      manifest.nodes.collect {
        case (id, n: graft.core.SavedQueryNode) if n.name == sq => id }.toSet
    case Array("unit_test", u) =>
      manifest.nodes.collect {
        case (id, n) if n.resourceType == "unit_test" &&
          (n.name == u || id == u) => id }.toSet
    case Array("version", v) =>
      manifest.nodes.collect {
        case (id, n: graft.core.ModelNode) if (v match {
          case "none" => n.version.isEmpty
          case "latest" => n.isLatestVersion
          case "old" =>
            n.version.exists(ver => n.latestVersion.exists(ver < _))
          case "prerelease" =>
            n.version.exists(ver => n.latestVersion.exists(ver > _))
          case num if num.nonEmpty && num.forall(_.isDigit) =>
            n.version.contains(num.toInt)
          case _ => false
        }) => id }.toSet
    case Array("path", p) =>
      val re = globRe(p)
      val prefix = p.stripSuffix("/") + "/"
      manifest.nodes.collect {
        case (id, n) if {
          val op = originOf(n)
          // exact file, glob match, or anything under the directory
          op.nonEmpty && (op == p || re.matches(op) || op.startsWith(prefix))
        } => id }.toSet
    case Array("file", fn) =>
      manifest.nodes.collect {
        case (id, n) if {
          val op = originOf(n)
          op.nonEmpty && {
            val base = op.substring(op.lastIndexOf('/') + 1)
            base == fn || base.replaceAll("\\.[^.]+$", "") == fn
          }
        } => id }.toSet
    case Array("package", p) =>
      // unique ids are <type>.<package>.<name>; this engine is a
      // single-package project ("graft") but the method matches the
      // manifest's actual package segments
      manifest.nodes.collect {
        case (id, n) if n.uniqueId.split("\\.").lift(1).contains(p) => id
      }.toSet
    case Array("source_status", st) =>
      val statuses = sourceStatusTL.get().getOrElse(
        throw new IllegalArgumentException(
          "source_status: selector needs freshness statuses — pass --state <dir> " +
          "containing sources.json from a prior freshness run"))
      statuses.collect { case (id, s) if s == st => id }.toSet
    case Array("result", status) =>
      val results = resultsTL.get().getOrElse(
        throw new IllegalArgumentException(
          "result: selector needs previous run statuses — pass --state <dir> " +
          "containing run_results.json from the prior invocation"))
      results.collect { case (id, st) if st == status => id }.toSet
    case Array(m, _) =>
      throw new IllegalArgumentException(s"unsupported selection method: $m")
  }

  /** Stringly-typed config lookup for `config.<key>:<value>` (the
    * reference matches on the rendered config dict the same way).
    */
  private def configValue(c: graft.core.NodeConfig, key: String): Set[String] = key match {
    case "materialized" => Set(c.materialized)
    case "incremental_strategy" => c.incrementalStrategy.toSet
    case "schema" => c.schema.toSet
    case "alias" => c.alias.toSet
    case "group" => c.group.toSet
    case "access" => Set(c.access)
    case "severity" => Set(c.severity)
    case "on_schema_change" => Set(c.onSchemaChange)
    case "tags" => c.tags
    case _ => Set.empty
  }

  /** Node equivalence for state:modified — raw code + config
    * (reference compares content checksums).
    */
  /** `modified.body` comparison: definition text only, config ignored
    * (reference `same_body`). */
  private def sameBody(a: Node, b: Node): Boolean = (a, b) match {
    case (x: graft.core.ModelNode, y: graft.core.ModelNode) => x.rawSql == y.rawSql
    case (x: graft.core.SnapshotNode, y: graft.core.SnapshotNode) => x.rawSql == y.rawSql
    case (x: graft.core.TestNode, y: graft.core.TestNode) => x.rawSql == y.rawSql
    case (x: graft.core.SeedNode, y: graft.core.SeedNode) => x.csv == y.csv
    case (x, y) => same(x, y)
  }

  private def same(a: Node, b: Node): Boolean = (a, b) match {
    case (x: graft.core.ModelNode, y: graft.core.ModelNode) =>
      x.rawSql == y.rawSql && x.config == y.config
    case (x: graft.core.SnapshotNode, y: graft.core.SnapshotNode) =>
      x.rawSql == y.rawSql && x.config == y.config &&
        x.strategy == y.strategy && x.uniqueKey == y.uniqueKey
    case (x: graft.core.TestNode, y: graft.core.TestNode) =>
      x.rawSql == y.rawSql && x.config == y.config
    case (x: graft.core.SeedNode, y: graft.core.SeedNode) => x.csv == y.csv
    case (x, y) => x == y
  }

  /** Reference same_persisted_description (nodes.py:307-322): only
    * the descriptions persist_docs actually writes count — relation
    * docs gate the node description, column docs gate per-column. */
  private def samePersistedDescription(a: Node, b: Node): Boolean = (a, b) match {
    case (x: graft.core.ModelNode, y: graft.core.ModelNode) =>
      (!y.config.persistDocs.getOrElse("relation", false) ||
        x.description == y.description) &&
      (!y.config.persistDocs.getOrElse("columns", false) ||
        x.columns.map(c => c.name -> c.description).toMap ==
          y.columns.map(c => c.name -> c.description).toMap)
    case _ => true
  }

  /** Reference same_database_representation (nodes.py:327-338):
    * where the relation lands — database/schema/alias. */
  private def sameRelation(a: Node, b: Node): Boolean =
    a.config.database == b.config.database &&
      a.config.schema == b.config.schema &&
      a.config.alias == b.config.alias

  /** Reference ModelNode.same_contract (nodes.py:573-586): both
    * unenforced -> same; enforcement toggled -> modified; both
    * enforced -> the contract surface (column names + data types,
    * the checksum's inputs) must match. */
  private def sameContract(a: Node, b: Node): Boolean = (a, b) match {
    case (x: graft.core.ModelNode, y: graft.core.ModelNode) =>
      if (!x.config.contractEnforced && !y.config.contractEnforced) true
      else x.config.contractEnforced && y.config.contractEnforced &&
        x.columns.map(c => (c.name, c.dataType)) ==
          y.columns.map(c => (c.name, c.dataType))
    case _ => true
  }

  private val MacroCallRx = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r

  private def macroRefs(text: String, known: Set[String]): Set[String] =
    MacroCallRx.findAllMatchIn(text).map(_.group(1)).toSet.intersect(known)

  /** Macro names whose definitions differ between the two manifests,
    * closed transitively over macro->macro calls (reference
    * recursively_check_macros_modified, selector_methods.py:636-664).
    * An empty state-side macro map means the comparison manifest was
    * built without a project load — macro checking is skipped rather
    * than treating every macro as new.
    */
  private def affectedMacros(cur: Map[String, String],
      old: Map[String, String]): Set[String] = {
    if (old.isEmpty || cur.isEmpty) return Set.empty
    val all = cur.keySet ++ old.keySet
    var affected = all.filter(n => cur.get(n) != old.get(n))
    val callees = all.iterator.map { n =>
      n -> macroRefs(cur.getOrElse(n, old.getOrElse(n, "")), all) }.toMap
    var grew = affected.nonEmpty
    while (grew) {
      val next = all.filter(n => !affected(n) && callees(n).exists(affected))
      grew = next.nonEmpty
      affected ++= next
    }
    affected
  }

  /** Does the node's raw text call (directly) an affected macro? */
  private def usesMacro(n: Node, affected: Set[String]): Boolean =
    affected.nonEmpty && (n match {
      case m: graft.core.ModelNode => macroRefs(m.rawSql, affected).nonEmpty
      case s: graft.core.SnapshotNode => macroRefs(s.rawSql, affected).nonEmpty
      case t: graft.core.TestNode => macroRefs(t.rawSql, affected).nonEmpty
      case _ => false
    })

  /** One side of a state comparison. The reference diffs two saved
    * manifests; this engine supports the same two fidelities:
    * [[ManifestState]] wraps a fully-parsed comparison project
    * (--state-project) and compares real nodes; [[ChecksumState]] wraps
    * the `state_checksums` block of a saved manifest.json artifact
    * (--state) and compares content hashes — the reference's CI
    * pattern, where only prod artifacts are kept. Every method takes
    * the NEW node so conditional checks (persist_docs gates, contract
    * enforcement toggles) evaluate exactly as the full compare does;
    * a missing id returns false ("modified") everywhere.
    */
  sealed trait StateSide {
    def contains(id: String): Boolean
    def fullSame(id: String, n: Node): Boolean
    def bodySame(id: String, n: Node): Boolean
    def configSame(id: String, n: Node): Boolean
    def relationSame(id: String, n: Node): Boolean
    def persistedDescSame(id: String, n: Node): Boolean
    def contractSame(id: String, n: Node): Boolean
    /** Macro names differing from the current project's `cur`
      * (name -> body), closed transitively over macro->macro calls. */
    def affectedMacros(cur: Map[String, String]): Set[String]
  }

  final class ManifestState(state: Manifest) extends StateSide {
    def contains(id: String): Boolean = state.nodes.contains(id)
    def fullSame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(o =>
        same(o, n) && samePersistedDescription(o, n) && sameContract(o, n))
    def bodySame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(sameBody(_, n))
    def configSame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(_.config == n.config)
    def relationSame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(sameRelation(_, n))
    def persistedDescSame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(samePersistedDescription(_, n))
    def contractSame(id: String, n: Node): Boolean =
      state.nodes.get(id).exists(sameContract(_, n))
    def affectedMacros(cur: Map[String, String]): Set[String] =
      Selector.affectedMacros(cur, state.macroSources)
  }

  /** Checksum-based comparison against a saved manifest artifact
    * (Artifacts.readStateArtifact). Hash equality over the same inputs
    * the full compare reads is equivalence: each dimension hashes the
    * exact field set its ManifestState twin compares (StateHash), and
    * conditional gates use the NEW node's config + the artifact's
    * recorded contract_enforced flag. */
  final class ChecksumState(
      nodes: Map[String, graft.core.StateHash.Checksums],
      macroShas: Map[String, String]) extends StateSide {
    import graft.core.StateHash
    def contains(id: String): Boolean = nodes.contains(id)
    def fullSame(id: String, n: Node): Boolean =
      nodes.get(id).exists(c =>
        c.content == StateHash.sha(StateHash.contentOf(n)) &&
          persisted(c, n) && contract(c, n))
    def bodySame(id: String, n: Node): Boolean =
      nodes.get(id).exists(_.body == StateHash.sha(StateHash.bodyOf(n)))
    def configSame(id: String, n: Node): Boolean =
      nodes.get(id).exists(_.config == StateHash.sha(StateHash.stable(n.config)))
    def relationSame(id: String, n: Node): Boolean =
      nodes.get(id).exists(_.relation == StateHash.sha(StateHash.stable(
        (n.config.database, n.config.schema, n.config.alias))))
    def persistedDescSame(id: String, n: Node): Boolean =
      nodes.get(id).exists(persisted(_, n))
    def contractSame(id: String, n: Node): Boolean =
      nodes.get(id).exists(contract(_, n))
    private def persisted(c: StateHash.Checksums, n: Node): Boolean = n match {
      case m: graft.core.ModelNode =>
        (!m.config.persistDocs.getOrElse("relation", false) ||
          c.desc == StateHash.sha(m.description)) &&
        (!m.config.persistDocs.getOrElse("columns", false) ||
          c.coldesc == StateHash.sha(StateHash.coldescOf(m)))
      case _ => true
    }
    private def contract(c: StateHash.Checksums, n: Node): Boolean = n match {
      case m: graft.core.ModelNode =>
        if (!m.config.contractEnforced && !c.contractEnforced) true
        else m.config.contractEnforced && c.contractEnforced &&
          c.contract == StateHash.sha(StateHash.contractOf(m))
      case _ => true
    }
    def affectedMacros(cur: Map[String, String]): Set[String] = {
      if (macroShas.isEmpty || cur.isEmpty) return Set.empty
      val all = cur.keySet ++ macroShas.keySet
      var affected = all.filter(n =>
        cur.get(n).map(graft.core.StateHash.sha) != macroShas.get(n))
      // transitive closure over the CURRENT project's call graph —
      // deleted macros carry no body but are already affected directly
      val callees = all.iterator.map(n =>
        n -> macroRefs(cur.getOrElse(n, ""), all)).toMap
      var grew = affected.nonEmpty
      while (grew) {
        val next = all.filter(n => !affected(n) && callees(n).exists(affected))
        grew = next.nonEmpty
        affected ++= next
      }
      affected
    }
  }
}

/** Thread-safe release-on-done scheduler queue — the reference's
  * `GraphQueue` (`core/dbt/graph/queue.py:19-207`): a node becomes
  * ready once all its selected parents are done, and among ready nodes
  * the lowest depth score goes first (then the name), as the
  * reference's priority queue orders them. Workers block in [[take]]
  * and are released by [[markDone]] / [[markFailed]].
  */
final class GraphQueue(dag: Dag, selected: Set[String]) {
  private val scores = dag.depthScores
  private val lock = new Object
  /** Nodes not yet taken, with their unfinished parents. */
  private val remainingParents = scala.collection.mutable.Map(
    selected.toSeq.map(id =>
      id -> dag.parents.getOrElse(id, Set.empty).intersect(selected)
        .to(scala.collection.mutable.Set)): _*)
  private val inProgress = scala.collection.mutable.Set[String]()
  private var stopped = false

  /** Wait until a node is ready and claim it. None once nothing is
    * pending or in progress, or after [[stop]].
    */
  def take(): Option[String] = lock.synchronized {
    var next: Option[String] = None
    while (next.isEmpty && !stopped && !isComplete) {
      val ready = remainingParents.collect { case (id, ps) if ps.isEmpty => id }
      if (ready.isEmpty) lock.wait()
      else {
        val id = ready.minBy(id => (scores.getOrElse(id, 0), id))
        remainingParents.remove(id)
        inProgress += id
        next = Some(id)
      }
    }
    next
  }

  def markDone(id: String): Unit = lock.synchronized {
    inProgress -= id
    remainingParents.values.foreach(_ -= id)
    lock.notifyAll()
  }

  /** Mark failed: downstream nodes are skipped (reference skip cascade,
    * `task/runnable.py:62` MARK_DEPENDENT_ERRORS_STATUSES). Returns the
    * skipped set.
    */
  def markFailed(id: String): Set[String] = lock.synchronized {
    inProgress -= id
    val skipped = dag.descendants(id).intersect(remainingParents.keySet)
    remainingParents --= skipped
    lock.notifyAll()
    skipped
  }

  /** Fail-fast: no node is handed out from now on, and blocked
    * [[take]] calls return None. */
  def stop(): Unit = lock.synchronized {
    stopped = true
    lock.notifyAll()
  }

  def isComplete: Boolean = lock.synchronized {
    remainingParents.isEmpty && inProgress.isEmpty
  }
}
