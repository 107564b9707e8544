package graft.run

import graft.core._
import graft.exec.{Materializer, Warehouse}
import graft.graph.{Dag, GraphQueue, Selector}
import graft.parse.ProjectLoader
import graft.render.{Jinja, Template}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** The engine: manifest → DAG → per-node compile + materialize,
  * scheduled over a thread pool with release-on-done semantics — the
  * Spark-native equivalent of the reference's task layer
  * (`core/dbt/task/{run,test,seed,snapshot,build}.py` +
  * `task/runnable.py:254-298` thread pool).
  *
  * Each node runs inside a Spark job group named by its unique id, so
  * a failing node's jobs can be cancelled without touching siblings
  * (reference fail-fast, `runnable.py:238-251`).
  */
final class Engine(
    val spark: SparkSession,
    val manifest: Manifest,
    val warehouseRoot: String,
    val vars: Map[String, String] = Map.empty,
    val clock: Materializer.Clock = Materializer.systemClock,
    /** list/dict `vars:` entries, typed (scalars live in [[vars]];
      * Jinja's var() checks the string map first so overrides win). */
    val typedVars: Map[String, graft.render.Jinja.JV] = Map.empty,
    val emptyMode: Boolean = false,
    val runStartHooks: Seq[String] = Nil,
    val runEndHooks: Seq[String] = Nil,
    val namespace: String = "",
    val macros: Map[String, Template.MacroDef] = Map.empty,
    /** per-package macro maps (A32 deps) — calling-package precedence:
      * the caller's own package resolves first, then the flat map
      * (root shadows packages; reference `manifest.py:660-730`). */
    val macrosByPackage: Map[String, Map[String, Template.MacroDef]] = Map.empty,
    /** resolved profiles.yml output (`--target`): drives the
      * `target.*` context dict and, via fromProject, the relation
      * namespace (reference target schema). */
    val target: Option[graft.parse.ProjectLoader.TargetDef] = None,
    /** `--warn-error` (reference flag): promote every warn-status
      * result — warn-severity tests, freshness warn thresholds — to
      * error, so CI treats them as failures. */
    val warnError: Boolean = false,
    /** `--warn-error-options` (reference WarnErrorOptions): selective
      * include/exclude/silence lists over reference event class names;
      * supersedes the blanket `--warn-error` (which equals
      * `include: all`). See [[WarnErrorOptions]]. */
    val warnErrorOptions: WarnErrorOptions = WarnErrorOptions.Empty,
    /** Search roots for `{% include %}` / `{% extends %}` template
      * paths (fromProject passes the project dir). */
    val templateDirs: Seq[String] = Nil,
    /** `query-comment` (A37): rendered per node and attached to the
      * warehouse work — in Spark the query-log attribution channel is
      * the job description (shows in the UI/event log the way a SQL
      * comment shows in a warehouse query history). None = reference
      * default JSON header. */
    val queryComment: Option[graft.parse.ProjectLoader.QueryCommentDef] = None,
    /** `quoting:` project config (A-tail, reference column_quoting):
      * `identifier -> false` turns `adapter.quote` into a pass-through
      * so compiled SQL reflects the project's quoting policy. */
    val quoting: Map[String, Boolean] = Map.empty,
    /** Resolved artifacts dir (reference `target-path`): CLI flag >
      * DBT_TARGET_PATH > project config > "target"; fromProject sets
      * it absolute under the project dir. */
    val targetDir: String = "target") {

  val wh = new Warehouse(spark, warehouseRoot)

  /** warn-severity test results promote under --warn-error or an
    * options include of the reference result event
    * (`core/dbt/task/test.py:279-281`: `WARN_ERROR or
    * WARN_ERROR_OPTIONS.includes("LogTestResult")`). */
  private def promoteTestWarn: Boolean =
    warnError || warnErrorOptions.includes("LogTestResult")

  // model SQL can call the graft native kernels (shingles, array_dot,
  // winnow_fingerprint, …) — same surface as
  // spark.sql.extensions=graft.plans.GraftExtensions
  graft.plans.GraftExtensions.installInto(spark)

  /** `--defer`: refs to relations not built in this warehouse resolve
    * to the state engine's relations (reference
    * `core/dbt/context/providers.py:552-570`).
    */
  @volatile var deferEngine: Option[Engine] = None

  /** `--defer --state <artifact-dir>`: the ARTIFACT-ONLY defer side —
    * per-node relation names read from the saved manifest plus a
    * Warehouse recovered at the artifact's recorded root (reference
    * merge_from_artifact, `core/dbt/task/runnable.py:124-132`: the
    * standard CI pattern defers from saved prod artifacts with no prod
    * checkout). Set via [[deferFromArtifact]].
    */
  @volatile var deferArtifact: Option[(Map[String, String], graft.exec.Warehouse)] = None

  /** Arm artifact-only defer from a saved manifest.json. */
  def deferFromArtifact(manifestPath: String): Unit = {
    val (rels, whRoot) = Artifacts.readDeferArtifact(manifestPath)
    deferArtifact = Some((rels, new graft.exec.Warehouse(spark, whRoot)))
  }

  /** Resolve a deferred ref: register the state relation's data under
    * our local relation name. The engine side maps the NODE through the
    * state engine's own relationName (its namespace may differ); the
    * artifact side looks the node up by unique_id in the saved
    * manifest's relation names. */
  private def deferResolve(n: Node, rel: String): Unit = deferEngine match {
    case Some(de) =>
      val stateRel = de.relationName(n)
      if (de.wh.exists(stateRel))
        wh.registerSource(rel, de.wh.read(stateRel))
    case None => deferArtifact.foreach { case (rels, swh) =>
      rels.get(n.uniqueId).filter(swh.exists)
        .foreach(sr => wh.registerSource(rel, swh.read(sr)))
    }
  }

  /** `--favor-state` (reference providers.py:558-563): with defer on,
    * prefer the state relation for any node NOT selected in the
    * current invocation, even when a stale local build exists.
    */
  @volatile var favorState: Boolean = false
  /** `--store-failures` (reference cli/params.py): force the config on
    * for every test this invocation runs. */
  @volatile var forceStoreFailures: Boolean = false

  /** Ids selected by the in-flight run (reference
    * selected_resources.SELECTED_RESOURCES) — favor-state consults it.
    */
  @volatile private var selectedResources: Set[String] = Set.empty

  /** A37 query-comment audit: node unique_id -> (rendered comment,
    * placement). The reference attaches the comment to every SQL it
    * sends (`dbt/adapters/base/query_headers.py` MacroQueryStringSetter
    * add); the Spark analog attaches it to the node's job description
    * (query-log attribution) and records it here for artifacts/tests.
    */
  val queryComments =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Render the query comment for one node. Empty template (reference
    * `query-comment: ''`) disables; absent config emits the reference
    * default header (stable fields only — the JSON the default
    * `query_comment` macro builds, minus per-run ids).
    */
  def commentFor(node: Node): Option[(String, String)] = {
    val qc = queryComment.getOrElse(graft.parse.ProjectLoader.QueryCommentDef(
      s"""{"app": "dbt", "dbt_version": ${"\"" + contextBuiltins("dbt_version") + "\""}, """ +
        s""""profile_name": "${contextBuiltins("target.profile_name")}", """ +
        s""""target_name": "${contextBuiltins("target.name")}", """ +
        s""""node_id": "${node.uniqueId}"}"""))
    if (qc.comment.isEmpty) None
    else {
      val ctx = renderContext().copy(builtins = contextBuiltins ++ Map(
        "node.unique_id" -> node.uniqueId,
        "node.name" -> node.name,
        "node.package_name" -> node.packageName,
        "node.resource_type" -> node.resourceType,
        "node.materialized" -> node.config.materialized))
      val rendered = Jinja.render(qc.comment, ctx).trim
      if (rendered.isEmpty) None
      else Some((rendered, if (qc.append) "append" else "prepend"))
    }
  }

  /** Attach + record the comment for a node about to execute. */
  private def applyQueryComment(node: Node): Unit =
    commentFor(node).foreach { case (c, placement) =>
      queryComments.put(node.uniqueId, (c, placement))
      if (queryComment.forall(_.jobLabel))
        spark.sparkContext.setJobDescription(s"/* $c */")
    }

  /** Reset the thread's job description once a node finishes so later jobs
    * on the same worker thread (hooks, freshness checks, artifact writes)
    * don't inherit the last node's comment in the query-log channel.
    */
  private def clearQueryComment(): Unit =
    spark.sparkContext.setJobDescription(null)

  private val dag = Dag.fromManifest(manifest)
  // eager cycle check (reference `compilation.py:188-191` raises
  // "Found a cycle: ..." at link): the scheduler's depth-score
  // recursion must never see a cycle — unchecked it overflows the
  // stack instead of naming the path
  locally { dag.topoSort: Unit }
  private val runStartedAt = clock()
  val invocationId: String = java.util.UUID.randomUUID().toString

  /** A26 context builtins available as `{{ name }}` in model SQL.
    * `target.*` mirrors the reference's target context dict
    * (`core/dbt/context/base.py` target property): name/schema/threads
    * from the resolved profiles.yml output, adapter-type constant.
    */
  def contextBuiltins: Map[String, String] = Map(
    "run_started_at" -> runStartedAt.toInstant.toString,
    "invocation_id" -> invocationId,
    "target.name" -> target.map(_.name).getOrElse("default"),
    "target.schema" -> target.flatMap(_.schema).getOrElse("default"),
    "target.threads" -> target.flatMap(_.threads).getOrElse(4).toString,
    "target.type" -> "spark",
    "target.profile_name" -> target.map(_.profileName).getOrElse("graft"),
    "thread_id" -> Thread.currentThread().getName,
    "dbt_version" -> "1.9.0-graft")

  /** Single factory for render contexts — every render site (compile,
    * hooks, show, unit tests) goes through here so builtins/vars can't
    * diverge between sites again.
    */
  /** Whether the in-flight invocation runs with --full-refresh —
    * surfaced to templates as `flags.FULL_REFRESH` (reference
    * `base.py:655-668`).
    */
  @volatile private var currentFullRefresh = false

  /** The in-flight task name — `flags.WHICH` /
    * `invocation_args_dict.which` (reference base.py flags property;
    * Cli sets it, programmatic callers keep the "run" default).
    */
  @volatile var currentWhich: String = "run"

  def renderContext(
      resolveRef: String => String = defaultRefResolver,
      resolveSource: (String, String) => String = defaultSourceResolver,
      thisRelation: String = "",
      isIncremental: Boolean = false,
      results: Map[String, Map[String, String]] = Map.empty,
      callerPackage: String = "graft",
      /** The node being rendered, when there is one — drives the
        * `model` / `defer_relation` context values and the seed
        * context's `load_agate_table` (reference providers.py
        * contextproperties on the node context). */
      node: Option[Node] = None,
      /** Result-registry id for `store_result`/`store_raw_result` and
        * live `load_result` in this render (A27). None = read-only
        * snapshot semantics, as before. */
      resultsNodeId: Option[String] = None): Template.Context =
    Template.Context(resolveRef, resolveSource, thisRelation, vars,
      isIncremental, builtins = contextBuiltins, results = results,
      typedVars = typedVars,
      macroResolver = macroResolverFor(callerPackage),
      queryRunner = Some(sparkQueryRunner),
      adapterApi = Some(adapterCall),
      templateLoader = Some(loadTemplateFile),
      flags = Map(
        "FULL_REFRESH" -> graft.render.Jinja.JB(currentFullRefresh),
        "WHICH" -> graft.render.Jinja.JS(currentWhich)),
      typedValues = {
        import graft.render.Jinja._
        // THUNKED: the renderer forces these only on name access.
        // Eager values here recurse — graphJV → nodeDictJV →
        // relationName → (generate_*_name override render) →
        // renderContext → graphJV, a StackOverflow.
        Map[String, JV](
          "graph" -> JThunk(() => graphJV),
          // reference providers.py:1432-1434 — the ids selected by the
          // in-flight invocation (selected_resources.SELECTED_RESOURCES)
          "selected_resources" -> JThunk(() =>
            jlist(selectedResources.toSeq.sorted.map(JS(_)))),
          "invocation_args_dict" -> JThunk(() => JM(Map(
            "which" -> JS(currentWhich),
            "full_refresh" -> JB(currentFullRefresh),
            "profile" -> JS(contextBuiltins("target.profile_name")),
            "target" -> JS(contextBuiltins("target.name")),
            "threads" -> jint(contextBuiltins("target.threads").toLong))))) ++
          node.map(n => "model" -> JThunk(() => nodeDictJV(n))) ++
          node.map(n => "defer_relation" -> JThunk(() => deferRelationJV(n))) ++
          node.collect { case s: SeedNode =>
            "__agate_table" -> JThunk(() => agateTableJV(s)) }
      },
      relationFor = relationJV,
      resultSink = resultsNodeId.map(id =>
        (slot, fields) => storeResult(id, slot, fields)),
      resultLookup = resultsNodeId.map(id =>
        slot => Option(resultSlots.get(id)).flatMap(_.get(slot))))

  /** Wrap a resolved flat relation name into the typed relation value
    * templates see — `ref()`/`source()`/`this` yield BaseRelation
    * objects in the reference (providers.py:498-583), so
    * `this.schema` / `ref('x').identifier` must answer. Empty names
    * (parse-only `this`) stay plain strings so `{% if this %}` keeps
    * its falsy-empty behavior; `--empty` inline subqueries are SQL
    * text, not relations.
    */
  /** Declared schema per flat relation name — a SOURCE's is its source
    * name (the reference's source-schema default), a node with
    * `schema:` config carries that. Everything else answers the target
    * schema. Built once, lazily (source relationName never renders
    * naming macros; config-schema nodes are rare).
    */
  private lazy val declaredSchemas: Map[String, String] =
    manifest.nodes.values.collect {
      case s: SourceNode => relationName(s) -> s.sourceName
      case n if n.config.schema.isDefined => relationName(n) -> n.config.schema.get
    }.toMap

  def relationJV(name: String): graft.render.Jinja.JV = {
    import graft.render.Jinja._
    if (name.isEmpty || name.startsWith("(")) JS(name)
    else if (name.startsWith("__dbt__cte__")) JRel(name, "", Some("cte"))
    else JRel(name,
      declaredSchemas.getOrElse(name, contextBuiltins("target.schema")),
      if (!wh.exists(name)) None
      else Some(if (wh.isView(name)) "view" else "table"))
  }

  /** `model` context value — the node's dict (reference
    * `self.model.to_dict()`, providers.py ModelContext.model). The
    * fields real macros read: identity, config, tags, depends_on.
    */
  private def nodeDictJV(n: Node): graft.render.Jinja.JV = {
    import graft.render.Jinja._
    val cfg = n.config
    JM(Map[String, JV](
      "name" -> JS(n.name),
      "unique_id" -> JS(n.uniqueId),
      "resource_type" -> JS(n.resourceType),
      "package_name" -> JS(n.packageName),
      "alias" -> JS(relationName(n)),
      "schema" -> JS(cfg.schema.getOrElse(contextBuiltins("target.schema"))),
      "database" -> JNull,
      "original_file_path" -> JS(n match {
        case m: ModelNode => m.originPath
        case s: SeedNode => s.originPath
        case s: SnapshotNode => s.originPath
        case t: TestNode => t.originPath
        case p: PythonModelNode => p.originPath
        case _ => ""
      }),
      "description" -> JS(n match {
        case m: ModelNode => m.description
        case _ => ""
      }),
      "tags" -> jlist(cfg.tags.toSeq.sorted.map(JS(_))),
      "depends_on" -> JM(Map("nodes" -> jlist(n.dependsOn.map(JS(_))))),
      "config" -> JM(Map[String, JV](
        "materialized" -> JS(cfg.materialized),
        "enabled" -> JB(cfg.enabled),
        "alias" -> cfg.alias.map(JS(_): JV).getOrElse(JNull),
        "schema" -> cfg.schema.map(JS(_): JV).getOrElse(JNull),
        "tags" -> jlist(cfg.tags.toSeq.sorted.map(JS(_))),
        "meta" -> JM(cfg.meta.map { case (k, v) => k -> (JS(v): JV) }),
        "unique_key" -> jlist(cfg.uniqueKey.map(JS(_))),
        "full_refresh" -> JB(cfg.fullRefresh)))))
  }

  /** `graph` context value (reference providers.py:1229-1320 —
    * `manifest.flat_graph`): node id → node dict, for the codegen /
    * run-operation idiom `{% for n in graph.nodes.values() %}`.
    * Built once per engine (the manifest is immutable here).
    */
  lazy val graphJV: graft.render.Jinja.JV = {
    import graft.render.Jinja._
    def bucket(p: Node => Boolean): JV =
      JM(manifest.nodes.collect {
        case (id, n) if p(n) => id -> nodeDictJV(n)
      })
    val special = Set("source", "exposure", "metric", "semantic_model",
      "saved_query", "group")
    JM(Map(
      "nodes" -> bucket(n => !special(n.resourceType)),
      "sources" -> bucket(_.resourceType == "source"),
      "exposures" -> bucket(_.resourceType == "exposure"),
      "metrics" -> bucket(_.resourceType == "metric"),
      "groups" -> bucket(_.resourceType == "group")))
  }

  /** `defer_relation` context value (reference providers.py:1565-1576):
    * the production relation for THIS node from the --state/--defer
    * source, or none when not deferring / not present there.
    */
  private def deferRelationJV(n: Node): graft.render.Jinja.JV = {
    import graft.render.Jinja._
    deferEngine match {
      case Some(de) =>
        val r = de.relationName(n)
        if (de.wh.exists(r)) JRel(r, "", Some(if (de.wh.isView(r)) "view" else "table"))
        else JNull
      case None => deferArtifact.flatMap { case (rels, swh) =>
        rels.get(n.uniqueId).filter(swh.exists)
          .map(sr => JRel(sr, "", None): JV)
      }.getOrElse(JNull)
    }
  }

  /** `load_agate_table()` payload for seed contexts (reference
    * providers.py:957-969): the parsed seed rows as a table value —
    * `column_names` plus `rows` of per-column dicts, the shape macros
    * iterate.
    */
  private def agateTableJV(s: SeedNode): graft.render.Jinja.JV = {
    import graft.render.Jinja._
    // quote-aware split, matching what the Spark CSV reader that seeds
    // the table does with `"Doe, Jane"` cells ("" = escaped quote)
    def cells(ln: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var inQ = false
      var i = 0
      val d = s.delimiter.headOption.getOrElse(',')
      while (i < ln.length) {
        val c = ln(i)
        if (inQ) {
          if (c == '"' && i + 1 < ln.length && ln(i + 1) == '"') { cur += '"'; i += 1 }
          else if (c == '"') inQ = false
          else cur += c
        } else if (c == '"' && cur.isEmpty) inQ = true
        else if (c == d) { out += cur.result(); cur.clear() }
        else cur += c
        i += 1
      }
      out += cur.result()
      out.result()
    }
    val lines = s.csv.split("\n").toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)
    val header = lines.headOption.map(cells).getOrElse(Nil)
    val rows = lines.drop(1).map { ln =>
      val cs = cells(ln)
      JM(header.zipWithIndex.map { case (h, ix) =>
        h -> (cs.lift(ix).map(JS(_): JV).getOrElse(JNull))
      }.toMap): JV
    }
    JM(Map(
      "column_names" -> jlist(header.map(JS(_))),
      "rows" -> jlist(rows)))
  }

  /** Project-dir-rooted loader for `{% include %}`/`{% extends %}`;
    * rejects path escapes.
    */
  private def loadTemplateFile(name: String): Option[String] = {
    if (name.contains("..")) None
    else templateDirs.iterator
      .map(d => java.nio.file.Paths.get(d, name))
      .find(java.nio.file.Files.isRegularFile(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** adapter metadata methods templates can call (reference adapter
    * wrapper, `core/dbt/context/providers.py:215-380`): column objects
    * expose name/column/dtype, matching what dbt_utils-style macros
    * (`star`, `pivot`) read.
    */
  private def adapterCall(method: String, args: Seq[graft.render.Jinja.JV],
      kw: Map[String, graft.render.Jinja.JV]): graft.render.Jinja.JV = {
    import graft.render.Jinja._
    def relSchema(rel: String): org.apache.spark.sql.types.StructType =
      if (wh.exists(rel)) wh.read(rel).schema else spark.table(rel).schema
    def colDicts(rel: String): Seq[JV] =
      relSchema(rel).fields.toSeq.map(f =>
        JM(Map(
          "name" -> JS(f.name), "column" -> JS(f.name),
          "dtype" -> JS(f.dataType.simpleString),
          "data_type" -> JS(f.dataType.simpleString),
          "quoted" -> JS(s"`${f.name}`"))))
    method match {
      case "get_columns_in_relation" =>
        jlist(colDicts(graft.render.Jinja.show(args.head)))
      case "quote" =>
        // quoting.identifier=false: pass the name through unquoted
        // (reference column_quoting config surface)
        val raw = graft.render.Jinja.show(args.head)
        JS(if (quoting.getOrElse("identifier", true)) s"`$raw`" else raw)
      case "type" => JS("spark")
      // reference BaseAdapter.get_relation(database, schema,
      // identifier) / load_relation(relation): the cached-relation
      // probe custom materializations open with. Flat namespace here —
      // the identifier IS the physical name; database/schema operands
      // cannot disambiguate further.
      case "get_relation" =>
        val name = kw.get("identifier").map(graft.render.Jinja.show)
          .getOrElse(graft.render.Jinja.show(args.last))
        if (wh.exists(name)) relationJV(name) else JNull
      case "load_relation" =>
        val name = kw.get("relation").map(graft.render.Jinja.show).getOrElse(graft.render.Jinja.show(args.head))
        if (wh.exists(name)) relationJV(name) else JNull
      // single-namespace warehouse: every schema "exists", and schema
      // create/drop are no-ops (reference spark adapter treats schemas
      // as namespaces too)
      case "check_schema_exists" => JB(true)
      case "create_schema" | "drop_schema" => JS("")
      case "list_relations_without_caching" =>
        jlist(wh.list.map(relationJV))
      case "drop_relation" =>
        val name = kw.get("relation").map(graft.render.Jinja.show).getOrElse(graft.render.Jinja.show(args.head))
        if (wh.exists(name)) wh.drop(name)
        JS("")
      // reference BaseAdapter.get_missing_columns(from, to): columns
      // in FROM absent from TO — the on_schema_change macro idiom
      case "get_missing_columns" =>
        val from = kw.get("from_relation").orElse(args.headOption)
          .map(graft.render.Jinja.show).getOrElse(
            throw new IllegalArgumentException(
              "adapter.get_missing_columns: from_relation required"))
        val to = kw.get("to_relation").orElse(args.lift(1))
          .map(graft.render.Jinja.show).getOrElse(
            throw new IllegalArgumentException(
              "adapter.get_missing_columns: to_relation required"))
        val have = relSchema(to).fieldNames.toSet
        jlist(colDicts(from).filter {
          case JM(m) => !have(graft.render.Jinja.show(m("name")))
          case _ => false
        })
      // type widening is a warehouse concern the parquet write path
      // already handles (alignSchemas); the reference macro call is a
      // legal no-op here
      case "expand_target_column_types" | "expand_column_types" => JS("")
      case other =>
        throw new IllegalArgumentException(s"adapter.$other is not implemented")
    }
  }

  /** run_query backing: execute against the session, cap rows (the
    * reference streams agate tables; templates only ever consume small
    * dimension lists), convert cells to typed template values.
    */
  private def sparkQueryRunner(sql: String): (Seq[String], Seq[Seq[graft.render.Jinja.JV]]) = {
    import graft.render.Jinja._
    val df = spark.sql(sql).limit(10001)
    val rows = df.collect()
    require(rows.length <= 10000,
      "run_query: result exceeds 10000 rows — templates should only consume small lists")
    val cols = df.columns.toSeq
    (cols, rows.toSeq.map(_.toSeq.map {
      case null => JNull
      case b: Boolean => JB(b)
      case n: Byte => jint(n.toLong)
      case n: Short => jint(n.toLong)
      case n: Int => jint(n.toLong)
      case n: Long => jint(n)
      case n: Float => JN(BigDecimal(n.toDouble), isInt = false)
      case n: Double => JN(BigDecimal(n), isInt = false)
      case d: java.math.BigDecimal => JN(BigDecimal(d), isInt = false)
      case other => JS(String.valueOf(other))
    }))
  }

  /** Package-precedence macro lookup (the parse-time walk resolves
    * macros the same way). */
  def macroResolverFor(callerPackage: String): String => Option[Template.MacroDef] =
    ProjectLoader.macroResolver(macros, macrosByPackage, callerPackage)

  // ------------------------------------------------- A27 result registry

  /** Per-node named result slots (reference `store_result` /
    * `load_result`, `core/dbt/context/providers.py:859-981`):
    * materializations store a `main` slot; post-hooks read it as
    * `{{ load_result('main').rows_affected }}`.
    */
  private val resultSlots =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Map[String, String]]]()

  /** selectors.yml resolution (reference `--selector` flag,
    * `core/dbt/config/selectors.py`): a named selector expands to its
    * flattened (select, exclude) DSL args; the `default: true`
    * selector applies when a task gets no selection flags at all.
    */
  def namedSelector(name: String): (Seq[String], Seq[String]) =
    manifest.selectors.get(name).map(s => (s.select, s.exclude)).getOrElse(
      throw new IllegalArgumentException(s"unknown selector: $name" +
        (if (manifest.selectors.isEmpty) " (no selectors.yml in project)"
         else s" (defined: ${manifest.selectors.keys.toSeq.sorted.mkString(", ")})")))

  def defaultSelector: Option[graft.core.SelectorDef] =
    manifest.selectors.values.find(_.isDefault)

  def storeResult(nodeId: String, slot: String, fields: Map[String, String]): Unit =
    resultSlots.compute(nodeId, (_, prev) =>
      Option(prev).getOrElse(Map.empty) + (slot -> fields))

  def loadResult(nodeId: String, slot: String): Option[Map[String, String]] =
    Option(resultSlots.get(nodeId)).flatMap(_.get(slot))

  private def defaultRefResolver: String => String =
    n => relationName(manifest.resolveRefSpec(n).getOrElse(
      throw new IllegalArgumentException(s"unresolved ref: $n")))

  private def defaultSourceResolver: (String, String) => String =
    (s, t) => relationName(manifest.resolveSource(s, t).getOrElse(
      throw new IllegalArgumentException(s"unresolved source: $s.$t")))

  // register sources as views up front (they're external inputs);
  // format from the `format:` key or the path extension — parquet
  // default, csv with header+inference (agate-typed external files),
  // json, orc
  manifest.sources.values.foreach { s =>
    if (s.path.nonEmpty) {
      val fmt = s.format.getOrElse {
        val p = s.path.toLowerCase
        if (p.endsWith(".csv")) "csv"
        else if (p.endsWith(".json") || p.endsWith(".jsonl") || p.endsWith(".ndjson")) "json"
        else if (p.endsWith(".orc")) "orc"
        else "parquet"
      }
      val df = fmt match {
        case "csv" => spark.read.option("header", "true")
          .option("inferSchema", "true").csv(s.path)
        case other => spark.read.format(other).load(s.path)
      }
      wh.registerSource(relationName(s), df)
    }
  }

  /** Physical relation name (reference `generate_name` /
    * relation_name: alias wins, schema prefixes). The engine
    * `namespace` prefixes every relation because Spark temp views are
    * session-global — two engines sharing one SparkSession would
    * otherwise collide on same-named models (the reference gets this
    * isolation for free from per-target database schemas).
    *
    * Projects may override the naming the way dbt does, by defining
    * `generate_schema_name(custom_schema_name, node)` /
    * `generate_alias_name(custom_alias_name, node)` macros (the
    * reference treats these as known override points,
    * `core/dbt/parser/partial.py:55`). An override REPLACES the
    * built-in schema/alias computation: the rendered schema becomes
    * the full namespace segment, so `{{ target.schema }}_{{
    * custom_schema_name }}`-style bodies compose with profiles.
    */
  def relationName(n: Node): String = {
    val ns = if (namespace.isEmpty) "" else s"${namespace}__"
    n match {
      case s: SourceNode => s"${ns}src_${s.sourceName}_${s.name}"
      case other =>
        // versioned models render as <name>_v<N> unless aliased
        // (reference versioned relation naming)
        val vSuffix = other match {
          case m: ModelNode => m.version.map(v => s"_v$v").getOrElse("")
          case _ => ""
        }
        def overridden(macroName: String, custom: Option[String]): Option[String] =
          macros.get(macroName).map { _ =>
            val arg = custom.map(c => s"'$c'").getOrElse("none")
            Jinja.render(s"{{ $macroName($arg, '${other.name}') }}",
              renderContext()).trim
          }
        val base = overridden("generate_alias_name", other.config.alias)
          .filter(_.nonEmpty)
          .getOrElse(other.config.alias.getOrElse(other.name + vSuffix))
        overridden("generate_schema_name", other.config.schema) match {
          case Some(schema) =>
            if (schema.isEmpty) base else s"${schema}__$base"
          case None =>
            ns + other.config.schema.map(s => s"${s}_$base").getOrElse(base)
        }
    }
  }

  // ------------------------------------------------------------ compile

  /** Render a node's SQL with runtime ref/source resolution; ephemeral
    * refs resolve to `__dbt__cte__<name>` and their (recursively
    * rendered) bodies are spliced into the consumer's WITH clause —
    * the reference's only SQL-level rewrite
    * (`core/dbt/compilation.py:302-392,540-608`).
    */
  /** Per-worker-thread compile-time accumulator: runNode interleaves
    * compile and execute per materialization, so the scheduler derives
    * the Z010 execute share as (total - compile) after the node runs. */
  private val compileNanosTL = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def compile(node: Node, isIncremental: Boolean = false): String = {
    val __t0 = System.nanoTime()
    try compileImpl(node, isIncremental)
    finally compileNanosTL.set(compileNanosTL.get() + (System.nanoTime() - __t0))
  }

  private def compileImpl(node: Node, isIncremental: Boolean): String = {
    val (raw, refs) = node match {
      case m: ModelNode => (m.rawSql, m.refs)
      case s: SnapshotNode => (s.rawSql, s.refs)
      case t: TestNode => (t.rawSql, t.refs)
      case other => throw new IllegalArgumentException(s"not compilable: ${other.uniqueId}")
    }
    // CTEs in post-order: an ephemeral's own ephemeral refs render (and
    // enter the map) before it, so each CTE follows the ones it uses;
    // `rendering` guards a cycle
    val ephemeralDeps = scala.collection.mutable.LinkedHashMap[String, String]()
    val rendering = scala.collection.mutable.Set[String]()

    def resolveRef(from: Node)(name: String): String = {
      // reference-time advisories (reference providers.py ref checks):
      // I066/I067 deprecated-target warnings, I064 unpinned ref while
      // newer versions exist
      manifest.resolveRefSpec(name).foreach {
        case m: ModelNode =>
          m.deprecationDate.foreach { d =>
            Engine.parseDeprecationDate(d).foreach { ts =>
              val (event, code) =
                if (ts.after(clock())) ("upcoming_reference_deprecation", "I066")
                else ("deprecated_reference", "I067")
              EventLog.warn(event, "code" -> code,
                "model_name" -> node.name, "ref_model_name" -> m.name,
                "deprecation_date" -> d)
            }
          }
          if (m.version.isDefined && !name.contains(".v")) {
            val maxV = manifest.nodes.values.collect {
              case o: ModelNode if o.name == m.name && o.version.isDefined =>
                o.version.get
            }.max
            if (maxV > m.version.get)
              EventLog.info("unpinned_ref_new_version_available", "code" -> "I064",
                "model_name" -> node.name, "ref_model_name" -> m.name,
                "resolved_version" -> m.version.get, "newest_version" -> maxV)
          }
        case _ => ()
      }
      manifest.resolveRefSpec(name) match {
        case Some(m: ModelNode)
            if m.config.access == "private" && m.config.group != node.config.group =>
          // A24 access enforcement (reference providers.py:525-544);
          // message = reference DbtReferenceError (exceptions.py:665-678)
          throw graft.core.Errors.referenceNotAllowed(
            node.uniqueId, m.uniqueId, "private",
            m.config.group.getOrElse("-"))
        case Some(m: ModelNode)
            if m.config.access == "protected" &&
              m.packageName != node.packageName &&
              manifest.restrictedPackages(m.packageName) =>
          // protected = package scope, enforced only when the target
          // package declares restrict-access: true (reference
          // manifest.is_invalid_protected_ref, manifest.py:1451)
          throw graft.core.Errors.referenceNotAllowed(
            node.uniqueId, m.uniqueId, "protected", m.packageName)
        // the parse-time walk missed this ref: the DAG (the manifest's
        // copy of the node) lacks the edge
        case Some(n) if !manifest.nodes.getOrElse(from.uniqueId, from)
            .dependsOn.contains(n.uniqueId) =>
          throw graft.core.Errors.refBadContext(from, name)
        case Some(m: ModelNode) if m.config.materialized == "ephemeral" =>
          val cteName = s"__dbt__cte__$name"
          if (!ephemeralDeps.contains(cteName) && rendering.add(cteName))
            ephemeralDeps(cteName) = renderBody(m.rawSql, relationName(m), m)
          cteName
        case Some(n) =>
          val rel = relationName(n)
          // defer lookup maps the NODE through the state engine's own
          // relationName — its namespace/schema may differ from ours.
          // favor-state widens the trigger from "missing locally" to
          // "not selected this invocation" (providers.py:558-567): an
          // unselected node's stale local build loses to state.
          if (!wh.exists(rel) ||
              (favorState && !selectedResources.contains(n.uniqueId)))
            deferResolve(n, rel)
          if (emptyMode) s"(SELECT * FROM $rel LIMIT 0) __empty_$rel" else rel
        case None =>
          // reference TargetNotFoundError (exceptions.py:826-869) with
          // the is-disabled flavor when the target is parked in
          // manifest.disabled, plus a nearest-name suggestion
          throw graft.core.Errors.targetNotFound(node, name, "node",
            disabled = Some(manifest.disabledRefTarget(name).isDefined),
            candidates = manifest.refableNames)
      }
    }

    def resolveSource(s: String, t: String): String =
      manifest.resolveSource(s, t) match {
        case Some(src) =>
          val rel = relationName(src)
          if (emptyMode) s"(SELECT * FROM $rel LIMIT 0) __empty_$rel" else rel
        case None =>
          throw graft.core.Errors.targetNotFound(node, s"$s.$t", "source",
            disabled = Some(manifest.disabledSourceTarget(s, t).isDefined))
      }

    def renderBody(sql: String, thisRel: String, forNode: Node = node): String =
      Jinja.render(sql,
        renderContext(resolveRef(forNode), resolveSource, thisRel, isIncremental,
          callerPackage = node.packageName, node = Some(forNode)))

    val body = renderBody(raw, relationName(node))
    spliceCtes(body, ephemeralDeps.toSeq)
  }

  /** Inject ephemeral CTEs, merging with an existing WITH clause. */
  private def spliceCtes(sql: String, ctes: Seq[(String, String)]): String =
    if (ctes.isEmpty) sql
    else {
      val cteList = ctes.map { case (n, b) => s"$n AS (\n$b\n)" }.mkString(", ")
      val trimmed = sql.trim
      // strip a leading WITH and re-attach its CTE list after ours
      val withRe = "(?is)^\\s*WITH\\s+(.*)$".r
      trimmed match {
        case withRe(rest) => s"WITH $cteList, $rest"
        case _ => s"WITH $cteList\n$trimmed"
      }
    }

  // ---------------------------------------------------------------- run

  /** AmbiguousAliasError (reference `exceptions.py:1138-1156`, raised
    * by the manifest duplicate check at parse): two enabled
    * materializable nodes whose database representation (relationName)
    * collides — e.g. two models configured with the same `alias`.
    * Checked once per engine, at first run/build (relationName needs
    * the engine's macro context, so the check cannot live in the
    * loader). */
  private lazy val uniqueRelationsChecked: Unit = {
    val materializable = manifest.nodes.values.filter(n =>
      Set("model", "seed", "snapshot")(n.resourceType) &&
        n.config.materialized != "ephemeral")
    materializable.groupBy(relationName).filter(_._2.size > 1)
      .toSeq.sortBy(_._1).headOption.foreach { case (rel, ns) =>
        val sorted = ns.toSeq.sortBy(_.uniqueId)
        throw graft.core.Errors.ambiguousAlias(sorted(0), sorted(1), rel)
      }
  }

  /** Execute the selected nodes of `resourceTypes` over `threads`
    * workers: the one path behind `run`, `seed`, `snapshot`, `test` and
    * `build` (reference `GraphRunnableTask`, `task/runnable.py`).
    * Returns results in completion order; dependencies gate scheduling.
    */
  def run(
      select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      threads: Int = 4,
      resourceTypes: Set[String] = Engine.commandTypes("run"),
      failFast: Boolean = false,
      fullRefresh: Boolean = false,
      indirectSelection: String = "eager"): Seq[Materializer.Result] = {
    currentFullRefresh = fullRefresh
    uniqueRelationsChecked
    val selected0 = Selector.select(manifest, dag, select, exclude, indirectSelection)
    // executing a node requires its ancestors' relations to exist; the
    // reference expects them pre-built unless selected — here sources
    // are always available and we only schedule selected nodes.
    val selected = selected0.filter(id =>
      manifest.nodes.get(id).exists(n => resourceTypes.contains(n.resourceType)))
    selectedResources = selected
    if (selected.isEmpty)
      // reference Q035 NothingToDo ("Nothing to do. Try checking your
      // model configs and model specification args")
      EventLog.warn("nothing_to_do", "code" -> "Q035",
        "msg" -> ("Nothing to do. Try checking your model configs and " +
          "model specification args."))
    EventLog.info("invocation_started",
      "invocation_id" -> invocationId, "n_nodes" -> selected.size,
      "threads" -> threads)
    // reference W006 FoundStats ("Found 2 models, 1 test, ...") and
    // Q027 ConcurrencyLine — the two lines every dbt user greps first
    val byType = selected.toSeq.flatMap(manifest.nodes.get)
      .groupBy(_.resourceType).view.mapValues(_.size).toMap
    EventLog.info("found_stats", "code" -> "W006",
      "stat_line" -> byType.toSeq.sorted
        .map { case (t, n) => s"$n $t" + (if (n == 1) "" else "s") }
        .mkString(", "))
    EventLog.info("concurrency_line", "code" -> "Q027",
      "num_threads" -> threads,
      "target_name" -> target.map(_.name).getOrElse("default"))
    val nodeIndex = new java.util.concurrent.atomic.AtomicInteger(0)
    val nTotal = selected.size
    // reference Q007/Q012/Q015/Q016 result lines (LogTestResult /
    // LogModelResult / LogSnapshotResult / LogSeedResult) — one
    // info-level line per finished node with index/total/timing
    def resultLine(id: String, status: String, idx: Int, dt: Double): Unit = {
      val (event, code) =
        manifest.nodes.get(id).map(_.resourceType).getOrElse("model") match {
          case "test" | "unit_test" => ("log_test_result", "Q007")
          case "snapshot" => ("log_snapshot_result", "Q015")
          case "seed" => ("log_seed_result", "Q016")
          case _ => ("log_model_result", "Q012")
        }
      EventLog.info(event, "code" -> code, "unique_id" -> id,
        "status" -> status, "index" -> idx, "total" -> nTotal,
        "execution_time" -> dt)
    }
    val runT0 = System.nanoTime()
    // on-run-start hooks (reference `task/run.py:434-440`)
    runHooks(runStartHooks)
    // selection walks the plain dependency graph; when tests execute
    // beside the nodes they test (`build`), the queue's graph also
    // gates each child on its parents' tests
    val queueDag =
      if (resourceTypes("test") && resourceTypes.exists(Set("model", "seed", "snapshot")))
        testGatedDag
      else dag
    val queue = new GraphQueue(queueDag, selected)
    val results = new ConcurrentLinkedQueue[Materializer.Result]()

    // reference Z010 TimingInfoCollected: one line per timing entry;
    // compile time accumulates across the node's renders
    def emitTiming(id: String, totalNanos: Long): Unit = {
      val compileSec = compileNanosTL.get() / 1e9
      EventLog.emit("timing_info_collected", "debug",
        "code" -> "Z010", "unique_id" -> id,
        "timing_name" -> "compile", "elapsed_sec" -> compileSec)
      EventLog.emit("timing_info_collected", "debug",
        "code" -> "Z010", "unique_id" -> id,
        "timing_name" -> "execute",
        "elapsed_sec" -> math.max(0.0, totalNanos / 1e9 - compileSec))
    }

    /** Record a node's result, emit its result events and release it in
      * the queue. An error or fail skips its pending descendants and,
      * under fail-fast, starts no further node. */
    def finish(node: Node, idx: Int, t0: Long, r0: Materializer.Result): Unit = {
      val id = node.uniqueId
      val failed = r0.status == "error" || r0.status == "fail"
      if (failed && failFast) queue.stop()
      val thread = Thread.currentThread().getName
      try {
        val nanos = System.nanoTime() - t0
        val dt = nanos / 1e9
        emitTiming(id, nanos)
        val r = r0.copy(elapsedSec = dt, threadId = thread)
        results.add(r)
        if (failed)
          EventLog.error("node_finished", "code" -> "Q025", "unique_id" -> id,
            "status" -> r.status, "elapsed_sec" -> dt,
            "message" -> r.message, "invocation_id" -> invocationId)
        else
          EventLog.info("node_finished", "code" -> "Q025", "unique_id" -> id,
            "status" -> r.status, "elapsed_sec" -> dt,
            "invocation_id" -> invocationId)
        resultLine(id, r.status, idx, dt)
        if (r.status == "fail" && Set("test", "unit_test")(node.resourceType))
          // reference Z027 CheckNodeTestFailure: how to inspect the
          // failing rows (store_failures audit relation)
          EventLog.info("check_node_test_failure", "code" -> "Z027",
            "relation_name" -> s"${node.name}__audit",
            "msg" -> (s"compiled test SQL kept the failing rows; " +
              s"with store_failures they persist as ${node.name}__audit"))
      } finally {
        if (!failed) queue.markDone(id)
        else queue.markFailed(id).foreach { sid =>
          results.add(Materializer.Result(sid, "skipped",
            message = s"upstream failure: $id", threadId = thread))
          EventLog.warn("node_finished", "code" -> "Q025", "unique_id" -> sid,
            "status" -> "skipped", "message" -> s"upstream failure: $id",
            "invocation_id" -> invocationId)
          EventLog.error("log_skip_because_error", "code" -> "Z034",
            "unique_id" -> sid, "status" -> "skipped",
            "msg" -> s"SKIP relation $sid due to ancestor failure $id")
          EventLog.info("skipping_details", "code" -> "Q034",
            "unique_id" -> sid, "index" -> nodeIndex.incrementAndGet(),
            "total" -> nTotal)
        }
      }
    }

    def worker(): Unit = {
      var next = queue.take()
      while (next.nonEmpty) {
        val id = next.get
        val node = manifest.nodes(id)
        val t0 = System.nanoTime()
        val idx = nodeIndex.incrementAndGet()
        compileNanosTL.set(0L)
        // reported as is only if the error handling below itself throws
        var result = Materializer.Result(id, "error")
        try {
          spark.sparkContext.setJobGroup(id, s"graft: $id", interruptOnCancel = true)
          applyQueryComment(node)
          EventLog.info("node_started", "code" -> "Q024", "unique_id" -> id,
            "index" -> idx, "total" -> nTotal,
            "invocation_id" -> invocationId)
          // reference Q011 LogStartLine: the "i of N START ..." line
          EventLog.info("log_start_line", "code" -> "Q011",
            "unique_id" -> id, "index" -> idx, "total" -> nTotal)
          result = runNode(node, fullRefresh)
        } catch {
          case e: Throwable =>
            result = Materializer.Result(id, "error", String.valueOf(e.getMessage))
            // reference W004 GenericExceptionOnRun + Z011 debug stack
            // trace (the error channel a log consumer parses)
            EventLog.error("generic_exception_on_run", "code" -> "W004",
              "unique_id" -> id, "exc" -> String.valueOf(e.getMessage))
            EventLog.emit("log_debug_stack_trace", "debug",
              "code" -> "Z011",
              "exc_info" -> e.getStackTrace.take(12).mkString(" <- "))
        } finally {
          spark.sparkContext.clearJobGroup()
          clearQueryComment()
          finish(node, idx, t0, result)
        }
        next = queue.take()
      }
    }

    // dbt names its pool's threads `Thread-N (worker)`; the name is
    // each result's thread_id
    val nWorkers = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) =>
      new Thread(r, s"Thread-${nWorkers.incrementAndGet()} (worker)"))
    try (1 to threads).map(_ => pool.submit((() => worker()): Runnable)).foreach(_.get())
    finally {
      queue.stop() // a worker that died must not leave the others waiting
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS): Unit
    }
    // on-run-end hooks (reference `task/run.py:442-463`) — the context
    // binds `results`: one dict per executed node (status/message/
    // execution_time/node.unique_id), the audit-table upload idiom
    locally {
      import graft.render.Jinja._
      val rs = results.asScala.toSeq
      runHooks(runEndHooks, extra = Map(
        "results" -> jlist(rs.map(r => JM(Map[String, JV](
          "status" -> JS(r.status),
          "message" -> JS(r.message),
          "execution_time" -> JN(BigDecimal(r.elapsedSec), isInt = false),
          "thread_id" -> JS(r.threadId),
          "adapter_response" ->
            (if (r.rowsAffected >= 0)
              JM(Map("rows_affected" -> (jint(r.rowsAffected): JV)))
            else JM(Map.empty[String, JV])),
          "node" -> JM(Map[String, JV](
            "unique_id" -> JS(r.uniqueId),
            "name" -> JS(manifest.nodes.values
              .find(_.uniqueId == r.uniqueId).map(_.name)
              .getOrElse(r.uniqueId.split('.').last))))))))))
    }
    val out = results.asScala.toSeq
    // reference end-of-run block: Z021/Z024 one line per warn/error
    // result, Z030 EndOfRunSummary, Z023 StatsLine
    out.filter(_.status == "warn").foreach { r =>
      EventLog.warn("run_result_warning", "code" -> "Z021",
        "unique_id" -> r.uniqueId, "message" -> r.message)
      // reference Z046: the free-text body printed under the Z021 header
      EventLog.warn("run_result_warning_message", "code" -> "Z046",
        "msg" -> r.message)
    }
    out.filter(r => r.status == "error" || r.status == "fail").foreach { r =>
      // reference Z022 RunResultFailure header + Z024 detail line
      EventLog.error("run_result_failure", "code" -> "Z022",
        "unique_id" -> r.uniqueId, "status" -> r.status)
      EventLog.error("run_result_error", "code" -> "Z024",
        "unique_id" -> r.uniqueId, "message" -> r.message)
    }
    EventLog.info("end_of_run_summary", "code" -> "Z030",
      "num_errors" -> out.count(r => r.status == "error" || r.status == "fail"),
      "num_warnings" -> out.count(_.status == "warn"),
      "keyboard_interrupt" -> false)
    EventLog.info("stats_line", "code" -> "Z023",
      "pass" -> out.count(r => r.status == "success" || r.status == "pass"),
      "warn" -> out.count(_.status == "warn"),
      "error" -> out.count(r => r.status == "error" || r.status == "fail"),
      "skip" -> out.count(_.status == "skipped"),
      "total" -> out.size)
    EventLog.info("invocation_finished",
      "invocation_id" -> invocationId,
      "elapsed_sec" -> (System.nanoTime() - runT0) / 1e9,
      "n_success" -> out.count(_.status == "success"),
      "n_error" -> out.count(_.status == "error"),
      "n_skipped" -> out.count(_.status == "skipped"))
    out
  }

  /** Execute one node; the returned Result carries the dbt-parity
    * status vocabulary (models/seeds/snapshots: success; data tests:
    * pass/warn/fail; unit tests: pass/fail) and rows_affected (rows
    * materialized, or a test's failing-row count) — run_results.json
    * (m31) hash-gates both. Runtime exceptions still propagate to the
    * worker's catch → status=error.
    */
  private def runNode(node: Node, fullRefreshFlag: Boolean): Materializer.Result = node match {
    case sm: ScalaModelNode =>
      runHooks(sm.config.preHook, forNode = Some(sm))
      ScalaModel.run(this, sm)
      runHooks(sm.config.postHook, forNode = Some(sm))
      Materializer.Result(sm.uniqueId, "success",
        rowsAffected = if (wh.exists(relationName(sm)))
          wh.rowCount(relationName(sm)) else -1L)
    case pm: PythonModelNode =>
      runHooks(pm.config.preHook, forNode = Some(pm))
      PythonModel.run(this, pm,
        fullRefresh = fullRefreshFlag || pm.config.fullRefresh)
      runHooks(pm.config.postHook, forNode = Some(pm))
      Materializer.Result(pm.uniqueId, "success",
        rowsAffected = wh.rowCount(relationName(pm)))
    case m: ModelNode =>
      runHooks(m.config.preHook, forNode = Some(m))
      if (m.config.contractEnforced)
        Materializer.enforceContract(
          spark.sql(compile(m)), relationName(m), m.columns)
      m.config.materialized match {
        case "view" => Materializer.view(wh, relationName(m), compile(m))
        case "table" =>
          if (m.config.bucketBy.nonEmpty)
            wh.writeBucketedTable(relationName(m), spark.sql(compile(m)),
              m.config.bucketBy, math.max(1, m.config.numBuckets))
          else
            Materializer.table(wh, relationName(m), compile(m),
              m.config.partitionBy, m.config.clusterBy,
              m.config.fileFormat.getOrElse("parquet"))
        case "incremental" =>
          Materializer.incremental(wh, relationName(m),
            renderedFull = compile(m, isIncremental = false),
            renderedIncremental = compile(m, isIncremental = true),
            strategy = m.config.incrementalStrategy.getOrElse("merge"),
            uniqueKey = m.config.uniqueKey,
            onSchemaChange = m.config.onSchemaChange,
            partitionBy = m.config.partitionBy,
            fullRefresh = fullRefreshFlag || m.config.fullRefresh,
            incrementalPredicates = m.config.incrementalPredicates,
            mergeUpdateColumns = m.config.mergeUpdateColumns,
            mergeExcludeColumns = m.config.mergeExcludeColumns)
        case "materialized_view" =>
          val action = Materializer.materializedView(wh, relationName(m),
            compile(m), m.config.onConfigurationChange)
          if (action == "continue")
            // reference Q019 LogNodeNoOpResult: definition drifted but
            // on_configuration_change=continue keeps the stale MV
            EventLog.info("log_node_no_op_result", "code" -> "Q019",
              "unique_id" -> m.uniqueId, "status" -> "no-op",
              "msg" -> "configuration changed; keeping existing materialized view")
        case "ephemeral" => () // never materialized (inlined at consumers)
        case "analysis" => () // compiled only (reference analysis nodes)
        case other =>
          // custom {% materialization %} blocks: adapter-specific
          // spelling first, then default (reference
          // find_materialization_macro_by_name chain)
          val resolver = macroResolverFor(m.packageName)
          resolver(s"materialization_${other}_spark")
            .orElse(resolver(s"materialization_${other}_default")) match {
            case Some(mac) => runMaterialization(m, mac)
            case None =>
              throw new IllegalArgumentException(s"unknown materialization: $other")
          }
      }
      val builtinKinds = Set("table", "incremental", "view", "materialized_view")
      var rows = -1L
      if (builtinKinds(m.config.materialized) ||
          (!Set("ephemeral", "analysis")(m.config.materialized) &&
            wh.exists(relationName(m)))) {
        val rel = relationName(m)
        rows = wh.rowCount(rel)
        storeResult(m.uniqueId, "main", Map(
          "status" -> "SUCCESS",
          "relation" -> rel,
          "rows_affected" -> rows.toString))
        // grants reconcile AFTER the relation exists (reference
        // apply_grants runs post-materialization); persist_docs writes
        // relation/column comments through when enabled
        if (m.config.grants.nonEmpty)
          wh.applyGrants(rel, m.config.grants)
        if (m.config.persistDocs.getOrElse("relation", false) ||
            m.config.persistDocs.getOrElse("columns", false))
          wh.setComments(rel,
            relation = if (m.config.persistDocs.getOrElse("relation", false))
              Some(m.description) else None,
            columns = if (m.config.persistDocs.getOrElse("columns", false))
              m.columns.map(c => c.name -> c.description)
                .filter(_._2.nonEmpty).toMap
            else Map.empty)
      }
      runHooks(m.config.postHook,
        Option(resultSlots.get(m.uniqueId)).getOrElse(Map.empty),
        forNode = Some(m))
      Materializer.Result(m.uniqueId, "success", rowsAffected = rows)
    case s: SeedNode =>
      // reference Q004 SeedHeader: the per-seed banner line
      EventLog.info("seed_header", "code" -> "Q004",
        "header" -> s"seed file ${s.originPath} -> ${relationName(s)}")
      runHooks(s.config.preHook, forNode = Some(s))
      Materializer.seed(wh, s, relationName(s))
      val rows = wh.rowCount(relationName(s))
      storeResult(s.uniqueId, "main", Map("status" -> "SUCCESS",
        "relation" -> relationName(s),
        "rows_affected" -> rows.toString))
      runHooks(s.config.postHook,
        Option(resultSlots.get(s.uniqueId)).getOrElse(Map.empty),
        forNode = Some(s))
      Materializer.Result(s.uniqueId, "success", rowsAffected = rows)
    case s: SnapshotNode =>
      runHooks(s.config.preHook, forNode = Some(s))
      Materializer.snapshot(wh, relationName(s), compile(s),
        s.uniqueKey, resolveSnapshotStrategy(s), s.invalidateHardDeletes, clock)
      val rows = wh.rowCount(relationName(s))
      storeResult(s.uniqueId, "main", Map("status" -> "SUCCESS",
        "relation" -> relationName(s),
        "rows_affected" -> rows.toString))
      runHooks(s.config.postHook,
        Option(resultSlots.get(s.uniqueId)).getOrElse(Map.empty),
        forNode = Some(s))
      Materializer.Result(s.uniqueId, "success", rowsAffected = rows)
    case t0n: TestNode =>
      val t = if (forceStoreFailures)
        t0n.copy(config = t0n.config.copy(storeFailures = true)) else t0n
      val (raw, failures) = Materializer.runTest(wh, t.copy(rawSql = compile(t)))
      val status = if (promoteTestWarn && raw == "warn") "error" else raw
      Materializer.Result(t.uniqueId, status, s"$failures failures",
        rowsAffected = failures)
    case u: UnitTestNode =>
      try { runUnitTestNode(u); Materializer.Result(u.uniqueId, "pass") }
      catch {
        case e: Throwable =>
          Materializer.Result(u.uniqueId, "fail", String.valueOf(e.getMessage))
      }
    case other => // sources + metadata-only nodes (A29)
      Materializer.Result(other.uniqueId, "success")
  }

  /** Evaluate a custom `snapshot_<name>_strategy` macro (reference
    * custom-strategy dict, `simple_snapshot/fixtures.py:66-85`) into
    * its SQL expressions. Called with the reference signature
    * `(node, snapshotted_rel, current_rel, config, target_exists)`;
    * the relations are passed as the aliases the materializer joins
    * under (`t` = snapshotted, `s` = incoming source).
    */
  private def resolveSnapshotStrategy(node: SnapshotNode): SnapshotStrategy =
    node.strategy match {
      case CustomStrategy(stratName, kw) =>
        // \u0001 is the kwarg-LIST join separator in the config
        // encoding, so it can legally appear inside a value and must
        // not double as the 3-way strat split (ADVICE r14) — \u0002 is
        // reserved nowhere in the encoding
        val sep = "\u0002"
        def q(v: String) = "'" + v.replace("'", "\\'") + "'"
        // decode \u0001-joined list values into Jinja list literals so
        // a macro reading config['check_cols'] sees a real list and
        // \u0001 never reaches the rendered SQL
        def lit(v: String): String =
          if (v.contains("\u0001"))
            v.split('\u0001').map(q).mkString("[", ", ", "]")
          else q(v)
        val cfg = kw.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}: ${lit(v)}" }.mkString("{", ", ", "}")
        val tpl =
          s"{% set strat = snapshot_${stratName}_strategy(${q(node.name)}, " +
            s"'t', 's', $cfg, ${wh.exists(relationName(node))}) %}" +
            s"{{ strat['updated_at'] }}$sep{{ strat['row_changed'] }}$sep{{ strat['scd_id'] }}"
        val rendered = graft.render.Jinja.render(tpl,
          renderContext(callerPackage = node.packageName))
        val parts = rendered.split(sep)
        require(parts.length == 3 && parts.forall(_.trim.nonEmpty),
          s"snapshot_${stratName}_strategy must return a dict with " +
            "updated_at, row_changed and scd_id entries")
        ResolvedCustomStrategy(parts(0).trim, parts(1).trim, parts(2).trim)
      case other => other
    }

  /** Compile a metric to a Spark query over its model (A29 optional
    * path): SELECT dims…, calculation FROM model [WHERE filter]
    * GROUP BY dims.
    */
  /** A metric's aggregation SQL: its own `calculation:`, or derived
    * from the semantic-model measure it names (parse already validated
    * the measure exists — reference simple metrics). */
  private def metricCalc(m: MetricNode): String =
    if (m.calculation.nonEmpty) m.calculation
    else {
      val (_, agg, expr) = manifest.nodes.values.collectFirst {
        case s: SemanticModelNode if s.model == m.model &&
            s.measures.exists(_._1 == m.measure.get) =>
          s.measures.find(_._1 == m.measure.get).get
      }.getOrElse(throw new IllegalArgumentException(
        s"metric ${m.name}: measure ${m.measure.get} not found"))
      s"$agg($expr)"
    }

  def queryMetric(name: String): DataFrame = {
    val metric = manifest.nodes.values.collectFirst {
      case m: MetricNode if m.name == name => m
    }.getOrElse(throw new IllegalArgumentException(s"unknown metric: $name"))
    val model = manifest.resolveRef(metric.model).getOrElse(
      throw new IllegalArgumentException(s"metric $name: unknown model ${metric.model}"))
    val rel = relationName(model)
    val dims = metric.dimensions
    val where = metric.filter.map(f => s" WHERE $f").getOrElse("")
    val calc = metricCalc(metric)
    val sql =
      if (dims.isEmpty)
        s"SELECT $calc AS ${metric.name} FROM $rel$where"
      else
        s"""SELECT ${dims.mkString(", ")}, $calc AS ${metric.name}
           |FROM $rel$where GROUP BY ${dims.mkString(", ")}""".stripMargin
    spark.sql(sql)
  }

  /** Compile a saved query (A29): its metrics' aggregations over the
    * shared model, grouped by the query's group-bys, with the saved
    * where AND each metric's own filter.
    */
  def querySaved(name: String): DataFrame = {
    val sq = manifest.nodes.values.collectFirst {
      case s: SavedQueryNode if s.name == name => s
    }.getOrElse(throw new IllegalArgumentException(s"unknown saved query: $name"))
    val metrics = sq.metrics.map(mn => manifest.nodes.values.collectFirst {
      case m: MetricNode if m.name == mn => m
    }.getOrElse(throw new IllegalArgumentException(
      s"saved query $name: unknown metric $mn")))
    val models = metrics.map(_.model).distinct
    require(models.size == 1,
      s"saved query $name: metrics span multiple models (${models.mkString(", ")})")
    val model = manifest.resolveRef(models.head).getOrElse(
      throw new IllegalArgumentException(s"saved query $name: unknown model ${models.head}"))
    val rel = relationName(model)
    val aggs = metrics.map(m => s"${metricCalc(m)} AS ${m.name}")
    val conds = (sq.where.toSeq ++ metrics.flatMap(_.filter)).distinct
    val where = if (conds.isEmpty) "" else conds.mkString(" WHERE (", ") AND (", ")")
    val sql =
      if (sq.groupBy.isEmpty) s"SELECT ${aggs.mkString(", ")} FROM $rel$where"
      else s"""SELECT ${sq.groupBy.mkString(", ")}, ${aggs.mkString(", ")}
              |FROM $rel$where GROUP BY ${sq.groupBy.mkString(", ")}""".stripMargin
    spark.sql(sql)
  }

  /** `dbt run-operation <macro> --args {…}` (A16, reference
    * `core/dbt/task/run_operation.py`): bind args into the named
    * macro, then process its body in order. `{% call statement('s',
    * fetch_result=true) %}…{% endcall %}` blocks execute eagerly and
    * store `rows_affected`/`first_value` into result slot `s`, which
    * LATER statements in the same body read via
    * `{{ load_result('s').rows_affected }}` — each segment renders
    * against the registry as it stood when the segment ran, matching
    * the reference's in-order Jinja side effects. Plain segments keep
    * `;`-separated multi-statement semantics (semicolons inside string
    * literals unsupported — subset by design, SURVEY §7.4). Returns one
    * DataFrame per executed statement.
    */
  def runOperation(name: String, args: Map[String, String] = Map.empty,
      /** `--args` entries with list/dict values (YAML form): bound as
        * typed `{% set %}` preambles so `{% for s in schemas %}` works
        * — the grant-sweep idiom. */
      typedArgs: Map[String, graft.render.Jinja.JV] = Map.empty): Seq[DataFrame] = {
    val m = macroResolverFor("graft")(name).getOrElse(
      throw new IllegalArgumentException(s"unknown macro: $name"))
    // set-preamble binding (prefixed to EVERY segment render — a set
    // in one segment does not carry into the next)
    val preamble = Template.argPreamble(m,
      args.map { case (k, v) => k -> (graft.render.Jinja.JS(v): graft.render.Jinja.JV) } ++
        typedArgs)
    val opId = s"operation.$name"
    resultSlots.remove(opId) // slots are per-invocation, never stale
    def opResults: Map[String, Map[String, String]] =
      Option(resultSlots.get(opId)).getOrElse(Map.empty)
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var nStatements = 0
    Template.segmentMacroBody(m.body).foreach {
      case Template.CallStatement(slot, fetch, sql) =>
        val df = spark.sql(Jinja.render(preamble + sql, renderContext(results = opResults,
          resultsNodeId = Some(opId))))
        nStatements += 1
        val fields = Map("status" -> "SUCCESS") ++ (if (fetch) {
          val rows = df.limit(10001).collect()
          Map("rows_affected" -> rows.length.toString) ++
            rows.headOption.filter(_.length > 0)
              .map(r => "first_value" -> String.valueOf(r.get(0)))
        } else Map.empty)
        storeResult(opId, slot, fields)
        out += df
      case Template.SqlText(sql) =>
        val rendered = Jinja.render(preamble + sql, renderContext(results = opResults,
          resultsNodeId = Some(opId)))
        val stmts = rendered.split(";").map(_.trim).filter(_.nonEmpty)
        nStatements += stmts.length
        out ++= stmts.map(spark.sql)
    }
    storeResult(opId, "main", Map("status" -> "SUCCESS",
      "statements" -> nStatements.toString))
    out.toSeq
  }

  /** Run a custom `{% materialization %}` macro for a model (reference
    * materialization macros, `core/dbt/task/run.py` — the macro body
    * renders in a context binding `this` / `sql` / `existing_relation`
    * and only `{% call statement('name') %}` blocks EXECUTE, through
    * the warehouse's statement dialect ([[graft.exec.Warehouse#executeSql]]);
    * surrounding template output is rendered for side effects (set,
    * log) and discarded, matching the reference, where a
    * materialization's return value — not its text — is what counts.
    * Statement results land in the node's result slots, so post-hooks
    * can read `{{ load_result('main').rows_affected }}`.
    */
  private def runMaterialization(m: ModelNode, mac: Template.MacroDef): Unit = {
    val rel = relationName(m)
    val compiled = compile(m)
    resultSlots.remove(m.uniqueId)
    def matResults: Map[String, Map[String, String]] =
      Option(resultSlots.get(m.uniqueId)).getOrElse(Map.empty)
    def ctx = {
      val base = renderContext(thisRelation = rel, results = matResults,
        callerPackage = m.packageName, node = Some(m),
        resultsNodeId = Some(m.uniqueId))
      base.copy(builtins = base.builtins ++
        // reference binds BOTH `sql` and `compiled_code` (providers.py
        // ModelContext — compiled_code is the newer name). The `model`
        // dict itself comes from renderContext's typedValues (node=m).
        Map("sql" -> compiled, "compiled_code" -> compiled) ++
        (if (wh.exists(rel)) Map("existing_relation" -> rel) else Map.empty))
    }
    Template.segmentMacroBody(mac.body).foreach {
      case Template.CallStatement(slot, _, sqlTxt) =>
        val rendered = Jinja.render(sqlTxt, ctx).trim
        if (rendered.nonEmpty) {
          val rows = wh.executeSql(rendered)
          storeResult(m.uniqueId, slot, Map("status" -> "SUCCESS",
            "rows_affected" -> rows.toString))
        }
      case Template.SqlText(txt) =>
        Jinja.render(txt, ctx) // side effects only; output discarded
    }
  }

  /** Node-level hooks render with the NODE's context (reference
    * `context/providers.py` hook compilation: `this`, `model`,
    * `target` are all in scope) — `GRANT … ON {{ this }}` /
    * `ANALYZE TABLE {{ this }}` is the canonical post-hook idiom.
    * on-run-start/end hooks pass no node (no `this` there, same as
    * the reference).
    */
  private def runHooks(hooks: Seq[String],
      results: Map[String, Map[String, String]] = Map.empty,
      forNode: Option[Node] = None,
      /** Extra context values for this hook batch — the on-run-end
        * `results` list (reference task/run.py:442-463 safe_run_hooks
        * context). */
      extra: Map[String, graft.render.Jinja.JV] = Map.empty): Unit =
    hooks.zipWithIndex.foreach { case (h, i) =>
      // reference Q032/Q033 hook lines (LogHookStartLine/EndLine)
      val t0 = System.nanoTime()
      EventLog.info("log_hook_start_line", "code" -> "Q032",
        "statement" -> h.take(60), "index" -> (i + 1), "total" -> hooks.size)
      val baseCtx = renderContext(results = results,
        thisRelation = forNode.map(relationName).getOrElse(""),
        node = forNode,
        callerPackage = forNode.map(_.packageName).getOrElse("graft"),
        resultsNodeId = forNode.map(_.uniqueId))
      spark.sql(Jinja.render(h,
        if (extra.isEmpty) baseCtx
        else baseCtx.copy(typedValues = baseCtx.typedValues ++ extra)))
      EventLog.info("log_hook_end_line", "code" -> "Q033",
        "statement" -> h.take(60), "status" -> "OK",
        "index" -> (i + 1), "total" -> hooks.size,
        "execution_time" -> (System.nanoTime() - t0) / 1e9)
    }

  /** `dbt test`: data tests and unit tests. */
  def test(select: Seq[String] = Nil, threads: Int = 4): Seq[Materializer.Result] =
    run(select, threads = threads, resourceTypes = Engine.commandTypes("test"))

  private def runUnitTestNode(u: UnitTestNode): Unit = {
    val model = manifest.resolveRef(u.model).getOrElse(
      throw new IllegalArgumentException(s"unit test ${u.name}: unknown model ${u.model}")) match {
      case m: ModelNode => m
      case other => throw new IllegalArgumentException(s"unit test target not a model: ${other.uniqueId}")
    }
    // fixture views replace real refs: render with resolver → fixture
    // names. All three reference formats (dict/csv/sql,
    // `unit_test_definition.py:25-28`) land here as DataFrames.
    val allGiven: Map[String, UnitFixture] =
      u.given.map { case (k, rows) => k -> (DictRows(rows): UnitFixture) } ++
        u.givenFixtures
    val fixtureViews = allGiven.map { case (refName, fixture) =>
      val viewName =
        if (namespace.isEmpty) s"__utf_${u.name}_$refName"
        else s"__utf_${namespace}_${u.name}_$refName"
      (refName, viewName, fixtureToDf(fixture))
    }.toSeq
    val baseCtx = renderContext(
      resolveRef = name => fixtureViews.find(_._1 == name).map(_._2)
        .getOrElse(relationName(manifest.resolveRefSpec(name).get)),
      resolveSource = (s, t) => fixtureViews.find(_._1 == s"$s.$t").map(_._2)
        .getOrElse(relationName(manifest.resolveSource(s, t).get)),
      thisRelation = relationName(model),
      callerPackage = model.packageName)
    // Macro overrides (reference `UnitTestOverrides.macros`,
    // `unit_test_definition.py:40-44`, applied in
    // `providers.py:1658-1699`): each overridden PROJECT JINJA MACRO's
    // calls return the fixture value verbatim during this render — the
    // override shadows the ordinary package-precedence resolution. A
    // global (unqualified) key overrides unqualified calls and calls
    // qualified with the root package; a `pkg.name` key overrides that
    // exact qualified call (global wins when both match, reference
    // :1693-1699). `is_incremental` is special-cased to the render's
    // incremental flag (reference `parser/unit_tests.py:470-481`) —
    // the only way to unit-test an incremental model's is_incremental
    // branch deterministically.
    val macroOverrides = u.overrideMacros - "is_incremental"
    // Global (unqualified) keys win over package-qualified ones
    // (reference :1693-1699), and a root-package key propagates to
    // unqualified calls the same way the reference propagates a
    // `dbt.`-qualified override to the global namespace (:1689-1691) —
    // root project macros live under the engine's root package "graft".
    def overrideFor(callName: String): Option[String] =
      if (callName.contains(".")) {
        val Array(p, m) = callName.split("\\.", 2)
        (if (p == "graft" || p == model.packageName) macroOverrides.get(m)
         else None).orElse(macroOverrides.get(callName))
      } else macroOverrides.get(callName)
        .orElse(macroOverrides.get(s"graft.$callName"))
    val baseResolver = baseCtx.macroResolver
    val overridingResolver: String => Option[Template.MacroDef] = name =>
      overrideFor(name) match {
        case Some(value) =>
          val orig = baseResolver(name)
          // keep the original signature so existing call sites bind;
          // an override of an unknown macro accepts any args (the
          // reference patches the ctx dict, which has no arity at all)
          val params = orig.map(_.params).getOrElse(
            (1 to 8).map(i => (s"__override_arg$i", Some("none"))))
          Some(Template.MacroDef(name.split("\\.").last, params,
            // the fixture value is LITERAL, never re-templated
            "{% raw %}" + value + "{% endraw %}",
            orig.map(_.pkg).getOrElse(model.packageName)))
        case None => baseResolver(name)
      }
    val sql = Jinja.render(model.rawSql, baseCtx
      // fixture-scoped overrides shadow project vars / process env /
      // macro resolution
      .copy(vars = vars ++ u.overrideVars, envOverrides = u.overrideEnvVars,
        macroResolver = overridingResolver,
        isIncremental = u.overrideMacros.get("is_incremental")
          .exists(_.trim.equalsIgnoreCase("true"))))
    val expectDf = u.expectFixture.map(fixtureToDf)
      .getOrElse(rowsToDf(u.expect))
    val diff = Materializer.runUnitTest(spark, sql,
      fixtureViews.map(f => f._2 -> f._3).toMap, expectDf)
    diff.foreach { d =>
      // structured event with the row-level diff (reference emits the
      // UnitTestDiff into run_results + the rendered daff block into
      // the failure message, task/test.py:236-247)
      EventLog.error("unit_test_diff", "name" -> u.name,
        "missing_count" -> d.missingCount, "extra_count" -> d.extraCount,
        "missing_rows" -> d.missing.mkString("[", ",", "]"),
        "extra_rows" -> d.extra.mkString("[", ",", "]"))
      throw new IllegalStateException(s"unit test ${u.name}: ${d.rendered}")
    }
  }

  private def fixtureToDf(f: UnitFixture): DataFrame = f match {
    case DictRows(rows) => rowsToDf(rows)
    case CsvRows(csv) =>
      // same inference path as seeds (header + inferSchema), no temp
      // file: Spark reads CSV straight from an in-memory Dataset
      import spark.implicits._
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(spark.createDataset(csv.linesIterator.filter(_.nonEmpty).toSeq))
    case SqlRows(sql) =>
      spark.sql(Jinja.render(sql, renderContext()))
  }

  private def rowsToDf(rows: Seq[Map[String, Any]]): DataFrame = {
    import org.apache.spark.sql.types._
    require(rows.nonEmpty, "unit test fixture needs at least one row")
    val cols = rows.head.keys.toSeq
    val fields = cols.map { c =>
      val sample = rows.flatMap(r => Option(r.getOrElse(c, null))).headOption
      val dt = sample match {
        case Some(_: Int) | Some(_: Long) => LongType
        case Some(_: Double) | Some(_: Float) => DoubleType
        case Some(_: Boolean) => BooleanType
        case Some(_: java.sql.Timestamp) => TimestampType
        case Some(_: java.sql.Date) | Some(_: java.time.LocalDate) => DateType
        case Some(_: BigDecimal) | Some(_: java.math.BigDecimal) => DecimalType(38, 18)
        case _ => StringType
      }
      StructField(c, dt)
    }
    val norm = rows.map(r => org.apache.spark.sql.Row(cols.zip(fields).map { case (c, f) =>
      val v = r.getOrElse(c, null)
      (v, f.dataType) match {
        case (null, _) => null
        case (i: Int, LongType) => i.toLong
        case (fl: Float, DoubleType) => fl.toDouble
        case (d: java.time.LocalDate, DateType) => java.sql.Date.valueOf(d)
        case (d: BigDecimal, _: DecimalType) => d.bigDecimal.setScale(18)
        case (d: java.math.BigDecimal, _: DecimalType) => d.setScale(18)
        case (other, StringType) => String.valueOf(other)
        case (other, _) => other
      }
    }: _*))
    spark.createDataFrame(norm.asJava, StructType(fields))
  }

  /** `dbt build`: seeds+models+snapshots+tests in one DAG, with tests
    * gating downstream nodes (reference test-edge augmentation,
    * `core/dbt/compilation.py:193-244`): a test runs as soon as its
    * inputs exist, and a *failing* (error-severity) test skips the
    * nodes it gates. [[run]] over every node type.
    */
  def build(select: Seq[String] = Nil, threads: Int = 4,
      indirectSelection: String = "eager",
      fullRefresh: Boolean = false): Seq[Materializer.Result] =
    run(select, Nil, threads, Engine.commandTypes("build"),
      failFast = false, fullRefresh, indirectSelection)

  /** The build queue's graph: each model or snapshot child of a tested
    * node also waits on the test, when every node the test reads is
    * upstream of the child (dbt's rule: a relationships test on a child
    * that also reads the parent would otherwise gate its own input).
    * Like dbt, only the queue's graph is augmented, not any node's
    * `depends_on`. */
  private lazy val testGatedDag: Dag = {
    val testsOf = manifest.tests.values.toSeq
      .flatMap(t => t.dependsOn.map(_ -> t)).groupMap(_._1)(_._2)
    Dag(dag.parents.map { case (id, ps) =>
      manifest.nodes(id) match {
        case n @ (_: ModelNode | _: SnapshotNode | _: PythonModelNode | _: ScalaModelNode) =>
          lazy val upstream = dag.ancestors(id)
          id -> (ps ++ n.dependsOn.flatMap(testsOf.getOrElse(_, Nil))
            .filter(_.dependsOn.filter(dag.parents.contains).forall(upstream))
            .map(_.uniqueId))
        case _ => id -> ps
      }
    })
  }

  /** `dbt show --inline` (reference `core/dbt/task/show.py:22-62`). */
  def show(inlineSql: String, limit: Int = 5): DataFrame = {
    val rendered = Jinja.render(inlineSql, renderContext())
    spark.sql(rendered).limit(limit)
  }

  /** `dbt compile --inline`: render templated SQL to its compiled
    * form without executing it (reference `core/dbt/task/compile.py`
    * inline node path).
    */
  def compileInline(inlineSql: String): String =
    Jinja.render(inlineSql, renderContext())

  /** `dbt show --select <model>`: preview a model's compiled SQL with
    * an injected limit — upstream relations must already exist, as in
    * the reference.
    */
  def showModel(name: String, limit: Int = 5): DataFrame =
    manifest.resolveRef(name) match {
      case Some(m: ModelNode) => spark.sql(compile(m)).limit(limit)
      case Some(other) => throw new IllegalArgumentException(
        s"show: ${other.uniqueId} is not a model")
      case None => throw new IllegalArgumentException(s"show: unknown model $name")
    }

  /** Source freshness: `loaded_at_field` sources run the max-loaded
    * query; sources with thresholds but NO loaded_at_field use the
    * warehouse-metadata branch (file modification time — reference
    * `task/freshness.py` metadata path, where a `filter` is an error
    * because there is no query to filter).
    */
  /** Write the sources v3 artifact for a freshness result set —
    * `dbt source freshness` writes this standalone (reference
    * task/freshness.py), at `--output` when given. */
  def writeFreshnessArtifact(path: String,
      fresh: Map[String, (String, Double)]): Unit =
    Artifacts.writeSources(path, fresh, runStartedAt, invocationId)

  def sourceFreshness(select: Seq[String] = Nil): Map[String, (String, Double)] = {
    val scope: Set[String] =
      if (select.isEmpty) manifest.sources.keySet
      else Selector.select(manifest, dag, select)
    def finalStatus(raw: String): String =
      // freshness warn thresholds promote under --warn-error or an
      // options include of the reference result event (task pattern of
      // test.py:279-281, freshness twin LogFreshnessResult)
      if ((warnError || warnErrorOptions.includes("LogFreshnessResult")) &&
        raw == "warn") "error" else raw
    val out = manifest.sources.values.filter(s => scope.contains(s.uniqueId)).flatMap { s =>
      s.loadedAtField match {
        case Some(f) =>
          val (raw, age) = Materializer.freshness(wh, relationName(s), f,
            s.freshnessWarnAfterSec, s.freshnessErrorAfterSec, clock,
            s.freshnessFilter)
          Some(s.uniqueId -> ((finalStatus(raw), age)))
        case None if s.freshnessWarnAfterSec.isDefined ||
            s.freshnessErrorAfterSec.isDefined =>
          require(s.freshnessFilter.isEmpty,
            s"A filter cannot be applied to a metadata freshness check on source '${s.name}'.")
          val (raw, age) = Materializer.freshnessFromMetadata(s.path,
            s.freshnessWarnAfterSec, s.freshnessErrorAfterSec, clock)
          Some(s.uniqueId -> ((finalStatus(raw), age)))
        case None => None
      }
    }.toMap
    // reference Q018 LogFreshnessResult (one per source) + Q003
    // FreshnessCheckComplete
    out.toSeq.sortBy(_._1).foreach { case (id, (status, age)) =>
      EventLog.info("log_freshness_result", "code" -> "Q018",
        "unique_id" -> id, "status" -> status, "age_sec" -> age)
    }
    EventLog.info("freshness_check_complete", "code" -> "Q003",
      "n_sources" -> out.size)
    out
  }

  /** `dbt ls` (reference list task): selected unique ids, topo order. */
  def ls(select: Seq[String] = Nil, exclude: Seq[String] = Nil,
      indirectSelection: String = "eager"): Seq[String] = {
    val sel = Selector.select(manifest, dag, select, exclude, indirectSelection)
    dag.topoSort.filter(sel.contains)
  }

  // ----------------------------------------------------------- artifacts

  /** Write target/ artifacts (reference A33): run_results.json,
    * manifest.json, catalog.json.
    */
  def writeArtifacts(targetDir: String, results: Seq[Materializer.Result]): Unit = {
    Artifacts.writeRunResults(s"$targetDir/run_results.json", results,
      invocationId, runStartedAt)
    Artifacts.writeManifest(s"$targetDir/manifest.json", manifest,
      runStartedAt, invocationId,
      relationNameOf = n => Some(relationName(n)), warehouseRoot = Some(wh.root))
    Artifacts.writeCatalog(s"$targetDir/catalog.json", wh, runStartedAt)
    val fresh = sourceFreshness()
    if (fresh.nonEmpty)
      Artifacts.writeSources(s"$targetDir/sources.json", fresh,
        runStartedAt, invocationId)
  }

  /** `dbt docs generate` artifact set (reference
    * `core/dbt/task/docs/generate.py`): manifest + catalog + the
    * vendored docs SPA (index.html / static_index.html) that consumes
    * them — no run_results, no freshness side effects.
    */
  def writeDocsArtifacts(targetDir: String): Unit = {
    Artifacts.writeManifest(s"$targetDir/manifest.json", manifest,
      runStartedAt, invocationId,
      relationNameOf = n => Some(relationName(n)), warehouseRoot = Some(wh.root))
    Artifacts.writeCatalog(s"$targetDir/catalog.json", wh, runStartedAt)
    Artifacts.writeDocsSite(targetDir)
  }

  /** `dbt retry` (reference `core/dbt/task/retry.py:66-145`): re-run
    * only nodes that errored/failed/skipped per a previous
    * run_results.json.
    */
  def retry(runResultsPath: String, threads: Int = 4): Seq[Materializer.Result] = {
    val statuses = Artifacts.readRunStatuses(runResultsPath)
    val rerun = statuses.collect {
      case (id, st) if Set("error", "fail", "skipped")(st) => id }.toSeq
    if (rerun.isEmpty) Nil
    else run(select = rerun, threads = threads,
      resourceTypes = Engine.commandTypes("build"))
  }

  /** `state:modified`-style selection against a state manifest
    * (reference A23): run with the DSL, e.g.
    * `runWithState(state, Seq("state:modified+"))`.
    */
  def runWithState(state: Manifest, select: Seq[String],
      threads: Int = 4): Seq[Materializer.Result] =
    Selector.withState(state) { run(select = select, threads = threads) }

  def lsWithState(state: Manifest, select: Seq[String]): Seq[String] =
    Selector.withState(state) { ls(select) }

  /** Artifact-based state comparison (`--state <artifact-dir>`): the
    * comparison side is a saved manifest.json's state_checksums block,
    * no project re-parse (reference CI pattern). */
  def runWithStateArtifact(manifestPath: String, select: Seq[String],
      threads: Int = 4): Seq[Materializer.Result] = {
    val (cs, macros) = Artifacts.readStateArtifact(manifestPath)
    Selector.withStateSide(new Selector.ChecksumState(cs, macros)) {
      run(select = select, threads = threads)
    }
  }

  def lsWithStateArtifact(manifestPath: String, select: Seq[String]): Seq[String] = {
    val (cs, macros) = Artifacts.readStateArtifact(manifestPath)
    Selector.withStateSide(new Selector.ChecksumState(cs, macros)) { ls(select) }
  }

  /** `dbt clone` (reference `core/dbt/task/clone.py:18-155`): copy
    * relations from another engine's warehouse into this one. Parquet
    * version dirs make this a pointer copy (re-register paths) — the
    * zero-copy-clone analog; set `deep = true` to rewrite data.
    */
  def cloneFrom(other: Engine, names: Seq[String], deep: Boolean = false): Unit =
    names.foreach { n =>
      if (deep) wh.writeTable(n, other.wh.read(n))
      else wh.registerSource(n, other.wh.read(n))
    }
}

object Engine {
  /** The resource types each node-executing command runs. */
  val commandTypes: Map[String, Set[String]] = Map(
    "run" -> Set("model", "seed", "snapshot"),
    "seed" -> Set("seed"),
    "snapshot" -> Set("snapshot"),
    "test" -> Set("test", "unit_test"),
    "build" -> Set("model", "seed", "snapshot", "test", "unit_test"))

  /** Load a project directory and build an engine over it. `target`
    * picks a profiles.yml output (default: the profile's own default);
    * its `schema` becomes the relation namespace unless the caller set
    * one explicitly — the Spark-warehouse analog of dbt's per-target
    * database schema.
    */
  /** `deprecation_date:` value → Timestamp; ISO date or datetime,
    * date-only reads as midnight. Unparseable → None (no warning). */
  private[run] def parseDeprecationDate(s: String): Option[java.sql.Timestamp] =
    try Some(java.sql.Timestamp.valueOf(
      if (s.contains(":")) s.replace("T", " ") else s"$s 00:00:00"))
    catch { case _: IllegalArgumentException => None }

  def fromProject(spark: SparkSession, projectDir: String, warehouseRoot: String,
      vars: Map[String, String] = Map.empty,
      clock: Materializer.Clock = Materializer.systemClock,
      namespace: String = "",
      emptyMode: Boolean = false,
      /** CLI --vars entries with list/dict values (YAML form). CLI
        * vars beat project vars ACROSS both maps. */
      varsTyped: Map[String, graft.render.Jinja.JV] = Map.empty,
      target: Option[String] = None,
      warnError: Boolean = false,
      warnErrorOptions: WarnErrorOptions = WarnErrorOptions.Empty,
      /** `--target-path` CLI flag analog (beats env + project config). */
      targetPath: Option[String] = None,
      /** env lookup seam for DBT_TARGET_PATH (tests inject; default =
        * the real environment). */
      env: Map[String, String] = sys.env,
      /** A31 partial parsing: Some(opts) loads through the saved
        * `partial_parse.bin` state and emits the reference's I0xx
        * events; None (library default) is a plain full parse. */
      partialParse: Option[graft.parse.PartialParse.Options] = None): Engine = {
    val proj = ProjectLoader.load(projectDir, partialParse, vars, varsTyped)
    // partial-parse lifecycle events (reference events/types.py:
    // I028 PartialParsingNotEnabled, I024 UnableToPartialParse,
    // I017 PartialParsingSkipParsing, I040 PartialParsingEnabled)
    proj.partialStats.foreach { st =>
      if (!st.enabled)
        EventLog.emit("partial_parsing_not_enabled", "debug", "code" -> "I028")
      else if (!st.stateLoaded)
        EventLog.emit("unable_to_partial_parse", "info", "code" -> "I024",
          "reason" -> "saved manifest not found. Starting full parse.")
      else if (st.fullReason.isDefined)
        EventLog.emit("unable_to_partial_parse", "info", "code" -> "I024",
          "reason" -> st.fullReason.get)
      else if (st.skipped)
        EventLog.emit("partial_parsing_skip_parsing", "debug", "code" -> "I017")
      else
        EventLog.emit("partial_parsing_enabled", "debug", "code" -> "I040",
          "deleted" -> st.deleted.size, "added" -> st.added.size,
          "changed" -> st.changed.size,
          "parsed" -> st.parsed, "reused" -> st.reused)
    }
    // deprecated project configs fire ONCE as structured warn events;
    // --warn-error (or an options include of the deprecation's
    // reference class name) promotes the first to a hard
    // DeprecationError; an options silence suppresses it entirely
    // (reference deprecations.py + tests/functional/deprecations)
    proj.deprecations.foreach { case (n, c, m) =>
      val refName = Events.nameForCode(c).getOrElse(n)
      if (!warnErrorOptions.silenced(refName))
        Deprecations.warn(n, c, m,
          warnError || warnErrorOptions.includes(refName))
    }
    // I041 PartialParsingFile: one debug line per file delta
    proj.partialStats.filter(st => st.enabled && st.stateLoaded).foreach { st =>
      st.added.foreach(f => EventLog.emit("partial_parsing_file", "debug",
        "code" -> "I041", "operation" -> "added", "path" -> f))
      st.changed.foreach(f => EventLog.emit("partial_parsing_file", "debug",
        "code" -> "I041", "operation" -> "updated", "path" -> f))
      st.deleted.foreach(f => EventLog.emit("partial_parsing_file", "debug",
        "code" -> "I041", "operation" -> "deleted", "path" -> f))
    }
    // parse-time warn advisories (I051 unused config path, I058 schema
    // patch without a node, …) — routed through warn_or_error so
    // --warn-error (blanket, per the reference flag's own help text:
    // "configurations with no associated models" etc.) or an options
    // include promotes each class, and an options silence drops it
    val effOpts =
      if (warnError) warnErrorOptions.copy(includeAll = true)
      else warnErrorOptions
    proj.warnings.foreach { case (event, code, msg) =>
      WarnErrorOptions.warnOrError(effOpts,
        Events.nameForCode(code).getOrElse(event), event, code, msg)
    }
    // I056 UnusedTables: sources defined but referenced by no node
    locally {
      val referenced: Set[String] =
        proj.manifest.nodes.values.flatMap(_.dependsOn).toSet
      val unused = proj.manifest.sources.keys.filterNot(referenced).toSeq.sorted
      if (unused.nonEmpty)
        EventLog.warn("unused_tables", "code" -> "I056",
          "unused_tables" -> unused.mkString(", "))
    }
    // I068 UnsupportedConstraintMaterialization: contracts bind columns
    // at write time — a view/ephemeral has no write to enforce at
    proj.manifest.nodes.values.foreach {
      case m: graft.core.ModelNode if m.config.contractEnforced &&
          !Set("table", "incremental").contains(m.config.materialized) =>
        EventLog.warn("unsupported_constraint_materialization", "code" -> "I068",
          "materialized" -> m.config.materialized, "unique_id" -> m.uniqueId)
      case _ => ()
    }
    // I065 DeprecatedModel: model past its deprecation_date at load
    // (reference parser/manifest.py check_for_model_deprecations)
    proj.manifest.nodes.values.foreach {
      case m: graft.core.ModelNode if m.deprecationDate.exists(d =>
          parseDeprecationDate(d).exists(!_.after(clock()))) =>
        EventLog.warn("deprecated_model", "code" -> "I065",
          "model_name" -> m.name,
          "deprecation_date" -> m.deprecationDate.get)
      case _ => ()
    }
    val targetDef = ProjectLoader.resolveTarget(projectDir, target)
    val ns =
      if (namespace.nonEmpty) namespace
      else targetDef.flatMap(_.schema).getOrElse("")
    val resolvedTarget = java.nio.file.Paths.get(projectDir).resolve(
      ProjectLoader.resolveTargetPath(targetPath, env, proj.targetPath)).toString
    new Engine(spark, proj.manifest, warehouseRoot, proj.vars, clock,
      typedVars = proj.varsTyped,
      emptyMode = emptyMode,
      runStartHooks = proj.onRunStart, runEndHooks = proj.onRunEnd,
      namespace = ns, macros = proj.macros,
      macrosByPackage = proj.macrosByPackage,
      target = targetDef, warnError = warnError,
      warnErrorOptions = warnErrorOptions,
      templateDirs = Seq(projectDir),
      queryComment = proj.queryComment,
      quoting = proj.quoting,
      targetDir = resolvedTarget)
  }
}
