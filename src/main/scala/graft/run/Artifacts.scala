package graft.run

import graft.core._
import graft.exec.Materializer
import java.nio.file.{Files, Paths}

/** Artifact writers — shape-compatible subsets of the reference's
  * `target/manifest.json` (schema v12), `run_results.json` (v6) and
  * `catalog.json` (v1) (`core/dbt/artifacts/schemas/...`). Hand-rolled
  * JSON (no external deps beyond the Spark classpath).
  */
object Artifacts {

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def q(s: String): String = "\"" + esc(s) + "\""
  /** Escaped JSON string literal for other emitters (e.g. `ls --output json`). */
  def jstr(s: String): String = q(s)
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
  private def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  /** `metadata.env` on every artifact (reference
    * `core/dbt/artifacts/schemas/base.py:60` BaseArtifactMetadata.env →
    * get_metadata_vars): the DBT_ENV_CUSTOM_ENV_-prefixed environment,
    * keyed by suffix — the run-annotation channel orchestration tools
    * read back out of manifests.
    */
  private def metadataEnv: String = obj(
    sys.env.toSeq.filter(_._1.startsWith("DBT_ENV_CUSTOM_ENV_")).sortBy(_._1)
      .map { case (k, v) => k.stripPrefix("DBT_ENV_CUSTOM_ENV_") -> q(v) })

  def writeRunResults(
      path: String,
      results: Seq[Materializer.Result],
      invocationId: String,
      generatedAt: java.sql.Timestamp): Unit = {
    val items = results.map { r =>
      obj(Seq(
        "unique_id" -> q(r.uniqueId),
        "status" -> q(r.status),
        // exception messages can carry rendered SQL — secret env var
        // values are masked at the artifact boundary (reference
        // dbt_common scrub_secrets on result messages)
        "message" -> q(graft.render.Secrets.scrub(r.message)),
        "execution_time" -> r.elapsedSec.toString,
        // rows_affected rides in adapter_response, where the reference
        // adapter puts it (run-results v6 has no top-level slot for it)
        "adapter_response" ->
          (if (r.rowsAffected >= 0)
            obj(Seq("rows_affected" -> r.rowsAffected.toString))
          else obj(Nil)),
        "timing" -> arr(Nil),
        "thread_id" -> q(r.threadId),
        "compiled" -> (if (r.status == "skipped") "null" else "true"),
        "compiled_code" -> "null",
        "relation_name" -> "null",
        "failures" -> failures(r)))
    }
    val doc = obj(Seq(
      "metadata" -> obj(Seq(
        "dbt_schema_version" -> q("https://schemas.getdbt.com/dbt/run-results/v6.json"),
        "generated_at" -> q(generatedAt.toInstant.toString),
        "invocation_id" -> q(invocationId),
        "env" -> metadataEnv)),
      "results" -> arr(items),
      "elapsed_time" -> results.map(_.elapsedSec).sum.toString,
      "args" -> obj(Nil)))
    write(path, doc)
  }

  /** A test's failing-row count (reference `RunResult.failures`): 0 on
    * pass, N on warn or fail (a failing unit test counts 1); null for
    * other nodes and for a test that errored before its verdict. */
  private def failures(r: Materializer.Result): String =
    if (!r.uniqueId.startsWith("test.") && !r.uniqueId.startsWith("unit_test.")) "null"
    else if (r.rowsAffected >= 0) r.rowsAffected.toString
    else r.status match {
      case "pass" => "0"
      case "fail" => "1"
      case _ => "null"
    }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Any → JSON value (unit-test fixture rows hold String/boxed
    * numeric/Boolean/null values from the YAML loader).
    */
  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case n: Number => n.toString // incl. scala.BigDecimal (ScalaNumber)
    case other => q(other.toString)
  }

  /** `manifest.json` — the v12 subset, laid out the way the reference
    * schema requires it (`schemas/dbt/manifest/v12.json`): every node
    * kind in its own top-level map (nodes / sources / exposures /
    * metrics / semantic_models / saved_queries / unit_tests), each
    * entry carrying the schema's required identity fields (database/
    * schema/path/original_file_path/fqn/alias/checksum...). `groups`
    * carries declared GroupNodes (name + owner) and `group_map` maps
    * group name -> member unique ids. Sections this engine has no
    * content for (macros, docs, disabled) are present-but-empty —
    * required keys, open maps.
    * ArtifactSchemaSpec validates the emitted files against the
    * reference schemas.
    */
  /** Primary-key inference (reference `ModelNode.infer_primary_key`,
    * `core/dbt/contracts/graph/nodes.py:483-535`): columns carrying
    * BOTH unique and not_null tests; bare-unique columns otherwise.
    */
  def inferPrimaryKey(m: ModelNode): Seq[String] = {
    val unique = m.columns.filter(_.tests.exists(_.testName == "unique")).map(_.name)
    val notNull = m.columns.filter(_.tests.exists(_.testName == "not_null"))
      .map(_.name).toSet
    val both = unique.filter(notNull)
    if (both.nonEmpty) both else unique
  }

  def writeManifest(path: String, manifest: Manifest,
      generatedAt: java.sql.Timestamp, invocationId: String,
      /** Physical relation name per node (the engine's relationName) —
        * with [[warehouseRoot]] this makes the artifact DEFER-SERVEABLE:
        * `--defer --state <dir>` resolves unbuilt refs from the saved
        * manifest alone, no prod checkout (reference providers.py:552-570,
        * merge_from_artifact runnable.py:124-132). */
      relationNameOf: Node => Option[String] = _ => None,
      warehouseRoot: Option[String] = None): Unit = {
    def checksum(content: String): (String, String) =
      "checksum" -> obj(Seq("name" -> q("sha256"), "checksum" -> q(sha256(content))))
    def dependsOn(n: Node): (String, String) =
      "depends_on" -> obj(Seq("nodes" -> arr(n.dependsOn.map(q))))
    def configJson(n: Node): (String, String) =
      "config" -> obj(Seq(
        "materialized" -> q(n.config.materialized),
        "enabled" -> n.config.enabled.toString,
        "tags" -> arr(n.config.tags.toSeq.sorted.map(q))))
    /** The identity fields every executable-node alternative requires. */
    def ident(n: Node, originPath: String, content: String): Seq[(String, String)] = {
      val file = if (originPath.nonEmpty) originPath
        else s"models/${n.name}.sql"
      val fqn = n match {
        case m: ModelNode => Seq("graft", m.name) ++ m.version.map(v => s"v$v")
        case _ => Seq(n.packageName, n.name)
      }
      Seq(
        "database" -> "null",
        "schema" -> q("main"),
        "name" -> q(n.name),
        "resource_type" -> q(n.resourceType),
        "package_name" -> q(n.packageName),
        "path" -> q(file),
        "original_file_path" -> q(file),
        "unique_id" -> q(n.uniqueId),
        "fqn" -> arr(fqn.map(q)),
        "alias" -> q(n.name),
        checksum(content))
    }
    def nodeJson(n: Node): String = {
      val base = n match {
        case m: ModelNode => ident(m, m.originPath, m.rawSql)
        case p: PythonModelNode => ident(p, p.originPath, p.code)
        case s: SeedNode => ident(s, s.originPath, s.csv)
        case s: SnapshotNode => ident(s, s.originPath, s.rawSql)
        case t: TestNode => ident(t, t.originPath, t.rawSql)
        case other => ident(other, "", other.name)
      }
      val common = Seq(dependsOn(n), configJson(n),
        "tags" -> arr(n.config.tags.toSeq.sorted.map(q)),
        // v12 schema field; non-null makes the artifact defer-serveable
        "relation_name" -> relationNameOf(n).map(q).getOrElse("null"))
      val extra = n match {
        // v12 `language` field (reference components.py:210, default
        // "sql"; python models carry "python")
        case p: PythonModelNode =>
          Seq("raw_code" -> q(p.code), "language" -> q("python"))
        case m: ModelNode => Seq("raw_code" -> q(m.rawSql),
          "language" -> q("sql")) ++
          (if (m.description.nonEmpty) Seq("description" -> q(m.description)) else Nil) ++
          (if (m.columns.nonEmpty) Seq("columns" -> obj(m.columns.map(c =>
            c.name -> obj(Seq("name" -> q(c.name)) ++
              c.dataType.map(t => "data_type" -> q(t)) ++
              (if (c.description.nonEmpty) Seq("description" -> q(c.description))
               else Nil)))))
           else Nil) ++
          m.version.map(v => "version" -> v.toString) ++
          m.latestVersion.map(lv => "latest_version" -> lv.toString) ++
          // reference infer_primary_key (nodes.py:483-535) restricted
          // to the signals this model carries: unique+not_null columns
          // first, bare unique columns as the fallback
          (inferPrimaryKey(m) match {
            case Nil => Nil
            case pk => Seq("primary_key" -> arr(pk.map(q)))
          })
        case s: SnapshotNode => Seq("raw_code" -> q(s.rawSql))
        case t: TestNode => Seq("raw_code" -> q(t.rawSql))
        case _ => Nil
      }
      obj(base ++ common ++ extra)
    }
    /** Metadata-node identity (no database/schema/alias/checksum in
      * their schema alternatives).
      */
    def metaIdent(n: Node, file: String): Seq[(String, String)] = Seq(
      "name" -> q(n.name),
      "resource_type" -> q(n.resourceType),
      "package_name" -> q(n.packageName),
      "path" -> q(file),
      "original_file_path" -> q(file),
      "unique_id" -> q(n.uniqueId),
      "fqn" -> arr(Seq(n.packageName, n.name).map(q)))
    def sourceJson(s: SourceNode): String =
      obj(Seq(
        "database" -> "null",
        "schema" -> q("main"),
        "name" -> q(s.name),
        "resource_type" -> q(s.resourceType),
        "package_name" -> q(s.packageName),
        "path" -> q(s.path),
        "original_file_path" -> q("models/sources.yml"),
        "unique_id" -> q(s.uniqueId),
        "fqn" -> arr(Seq("graft", s.sourceName, s.name).map(q)),
        "source_name" -> q(s.sourceName),
        "source_description" -> q(""),
        "loader" -> q(""),
        "identifier" -> q(s.name),
        configJson(s)) ++
        s.loadedAtField.map(f => "loaded_at_field" -> q(f)))
    def exposureJson(e: ExposureNode): String =
      obj(metaIdent(e, "models/schema.yml") ++ Seq(
        "type" -> q(e.exposureType),
        "owner" -> obj(Seq("name" -> (if (e.owner.nonEmpty) q(e.owner) else "null"),
          "email" -> "null")),
        "url" -> (if (e.url.nonEmpty) q(e.url) else "null"),
        dependsOn(e)))
    def metricJson(m: MetricNode): String =
      obj(metaIdent(m, "models/schema.yml") ++ Seq(
        "description" -> q(""),
        "label" -> q(m.name),
        "type" -> q("simple"),
        "type_params" -> obj(Seq("expr" -> q(m.calculation))),
        "model" -> q(m.model),
        dependsOn(m)) ++
        m.filter.map(f => "filter" -> obj(Seq(
          "where_filters" -> arr(Seq(obj(Seq("where_sql_template" -> q(f)))))))))
    def semanticJson(s: SemanticModelNode): String =
      obj(metaIdent(s, "models/schema.yml") ++ Seq(
        "model" -> q(s.model),
        "node_relation" -> obj(Seq(
          "alias" -> q(s.model), "schema_name" -> q("main"))),
        "description" -> q(s.description),
        "entities" -> arr(s.entities.map { case (en, et) =>
          obj(Seq("name" -> q(en), "type" -> q(et))) }),
        "dimensions" -> arr(s.dimensions.map { case (dn, dt) =>
          obj(Seq("name" -> q(dn), "type" -> q(dt))) }),
        "measures" -> arr(s.measures.map { case (mn, ma, me) =>
          obj(Seq("name" -> q(mn), "agg" -> q(ma), "expr" -> q(me))) }),
        dependsOn(s)))
    def savedQueryJson(s: SavedQueryNode): String =
      obj(metaIdent(s, "models/schema.yml") ++ Seq(
        "query_params" -> obj(Seq(
          "metrics" -> arr(s.metrics.map(q)),
          "group_by" -> arr(s.groupBy.map(q)),
          "where" -> s.where.map(w => obj(Seq("where_filters" -> arr(Seq(
            obj(Seq("where_sql_template" -> q(w)))))))).getOrElse("null"))),
        "exports" -> arr(Nil),
        "description" -> q(s.description),
        dependsOn(s)))
    def fixtureRows(rows: Seq[Map[String, Any]]): String =
      arr(rows.map(r => obj(r.toSeq.map { case (k, v) => k -> jval(v) })))
    def fixtureJson(name: Option[String], f: UnitFixture): Seq[(String, String)] =
      (name.map(n => "input" -> q(n)).toSeq) ++ (f match {
        case DictRows(rows) => Seq("rows" -> fixtureRows(rows), "format" -> q("dict"))
        case CsvRows(csv) => Seq("rows" -> q(csv), "format" -> q("csv"))
        case SqlRows(sql) => Seq("rows" -> q(sql), "format" -> q("sql"))
      })
    def unitTestJson(u: UnitTestNode): String = {
      val givenAll: Seq[(String, UnitFixture)] =
        (u.given.view.filterKeys(k => !u.givenFixtures.contains(k))
          .mapValues(DictRows(_)).toSeq ++ u.givenFixtures.toSeq).sortBy(_._1)
      // reference UnitTestOverrides (unit_test_definition.py:40-44):
      // null when no override is set, matching the dataclass default
      val overrides: Seq[(String, String)] =
        if (u.overrideVars.isEmpty && u.overrideEnvVars.isEmpty &&
          u.overrideMacros.isEmpty) Seq("overrides" -> "null")
        else {
          def m(kv: Map[String, String]) =
            obj(kv.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
          Seq("overrides" -> obj(Seq(
            "macros" -> m(u.overrideMacros),
            "vars" -> m(u.overrideVars),
            "env_vars" -> m(u.overrideEnvVars))))
        }
      obj(metaIdent(u, "models/unit_tests.yml") ++ Seq(
        "model" -> q(u.model),
        "given" -> arr(givenAll.map { case (in, f) => obj(fixtureJson(Some(in), f)) }),
        "expect" -> obj(fixtureJson(None,
          u.expectFixture.getOrElse(DictRows(u.expect))))) ++ overrides ++ Seq(
        dependsOn(u)))
    }
    def section(rt: String): Seq[(String, Node)] =
      manifest.nodes.toSeq.filter(_._2.resourceType == rt).sortBy(_._1)
    val execNodes = manifest.nodes.toSeq.filter(n =>
      Set("model", "seed", "snapshot", "test")(n._2.resourceType)).sortBy(_._1)
    val doc = obj(Seq(
      "metadata" -> obj(Seq(
        "dbt_schema_version" -> q("https://schemas.getdbt.com/dbt/manifest/v12.json"),
        "generated_at" -> q(generatedAt.toInstant.toString),
        "invocation_id" -> q(invocationId),
        "project_name" -> q("graft"),
        "adapter_type" -> q("spark"),
        "env" -> metadataEnv)),
      "nodes" -> obj(execNodes.map { case (id, n) => id -> nodeJson(n) }),
      "sources" -> obj(section("source").map {
        case (id, s: SourceNode) => id -> sourceJson(s)
        case (id, n) => id -> nodeJson(n) }),
      // real macro entries (reference v12 Macro: unique_id + macro_sql
      // + path identity) — the bodies make artifact-based
      // `state:modified.macros` possible (check_macros_modified diffs
      // macro definitions between manifests)
      "macros" -> obj(manifest.macroSources.toSeq.sortBy(_._1).map {
        case (name, body) =>
          s"macro.graft.$name" -> obj(Seq(
            "name" -> q(name),
            "resource_type" -> q("macro"),
            "package_name" -> q("graft"),
            "path" -> q(s"macros/$name.sql"),
            "original_file_path" -> q(s"macros/$name.sql"),
            "unique_id" -> q(s"macro.graft.$name"),
            "macro_sql" -> q(body)))
      }),
      "docs" -> obj(Nil),
      "exposures" -> obj(section("exposure").map {
        case (id, e: ExposureNode) => id -> exposureJson(e)
        case (id, n) => id -> nodeJson(n) }),
      "metrics" -> obj(section("metric").map {
        case (id, m: MetricNode) => id -> metricJson(m)
        case (id, n) => id -> nodeJson(n) }),
      "groups" -> obj(section("group").map {
        case (id, g: GroupNode) => id -> obj(Seq(
          "name" -> q(g.name),
          "resource_type" -> q("group"),
          "package_name" -> q(g.packageName),
          "unique_id" -> q(id),
          "owner" -> obj(Seq(
            "name" -> q(g.ownerName),
            "email" -> q(g.ownerEmail)))))
        case (id, n) => id -> nodeJson(n) }),
      "selectors" -> obj(manifest.selectors.toSeq.sortBy(_._1).map {
        case (name, s) => name -> obj(Seq(
          "name" -> q(s.name),
          "default" -> s.isDefault.toString,
          "select" -> arr(s.select.map(q)),
          "exclude" -> arr(s.exclude.map(q)),
          "description" -> q(s.description))) }),
      // reference manifest `disabled` section: unique_id -> LIST of
      // parked node dicts (enabled:false nodes live here, not in nodes)
      "disabled" -> obj(manifest.disabled.toSeq.sortBy(_._1).map {
        case (id, n) => id -> arr(Seq(nodeJson(n))) }),
      "parent_map" -> obj(manifest.parentMap.toSeq.sortBy(_._1).map {
        case (id, ps) => id -> arr(ps.toSeq.sorted.map(q)) }),
      "child_map" -> obj(manifest.nodes.keys.toSeq.sorted.map { id =>
        id -> arr(manifest.childMap.getOrElse(id, Set.empty).toSeq.sorted.map(q)) }),
      "group_map" -> obj(manifest.nodes.values.toSeq
        .filter(n => n.config.group.isDefined && n.resourceType != "group")
        .groupBy(_.config.group.get).toSeq.sortBy(_._1).map {
          case (g, members) =>
            g -> arr(members.map(_.uniqueId).sorted.map(q)) }),
      "saved_queries" -> obj(section("saved_query").map {
        case (id, s: SavedQueryNode) => id -> savedQueryJson(s)
        case (id, n) => id -> nodeJson(n) }),
      "semantic_models" -> obj(section("semantic_model").map {
        case (id, s: SemanticModelNode) => id -> semanticJson(s)
        case (id, n) => id -> nodeJson(n) }),
      "unit_tests" -> obj(section("unit_test").map {
        case (id, u: UnitTestNode) => id -> unitTestJson(u)
        case (id, n) => id -> nodeJson(n) }),
      // engine extension (documented, schema-safe: the reference
      // validators leave additionalProperties open): per-node content
      // checksums for EVERY resource, one per state-comparison
      // dimension — this is what lets `--state <artifact-dir>` run
      // state:modified from the saved manifest alone, the reference's
      // CI pattern (`dbt build --state ./prod-artifacts`), without
      // re-parsing the comparison project tree.
      // engine extension: the warehouse root this manifest's relations
      // were built into — with per-node relation_name this is everything
      // `--defer --state <dir>` needs to serve reads from the artifact
      "warehouse_root" -> warehouseRoot.map(q).getOrElse("null"),
      "state_checksums_format" -> q(graft.core.StateHash.Format),
      "state_checksums" -> obj(manifest.nodes.toSeq.sortBy(_._1).map {
        case (id, n) =>
          val c = graft.core.StateHash.of(n)
          id -> obj(Seq(
            "body" -> q(c.body),
            "config" -> q(c.config),
            "content" -> q(c.content),
            "relation" -> q(c.relation),
            "desc" -> q(c.desc),
            "coldesc" -> q(c.coldesc),
            "contract_enforced" -> c.contractEnforced.toString,
            "contract" -> q(c.contract)))
      })))
    write(path, doc)
  }

  /** Reads the state-comparison view back from a saved manifest.json
    * (the `--state <artifact-dir>` path): per-node [[graft.core.StateHash.Checksums]]
    * plus macro name -> sha256(macro_sql). Fails loudly on a manifest
    * written before the state_checksums extension — the caller should
    * tell the user to regenerate the artifact (or use --state-project). */
  def readStateArtifact(manifestPath: String)
      : (Map[String, graft.core.StateHash.Checksums], Map[String, String]) = {
    import graft.render.Jinja.{JM, JS, JB, JV}
    def str(v: JV): String = v match { case JS(s) => s; case other => sys.error(s"expected string, got $other") }
    val txt = Files.readString(Paths.get(manifestPath))
    val root = graft.render.Jinja.fromJsonValue(txt) match {
      case m: JM => m.m
      case _ => sys.error(s"$manifestPath is not a JSON object")
    }
    root.get("state_checksums_format") match {
      case Some(JS(graft.core.StateHash.Format)) => ()
      case other => sys.error(
        s"$manifestPath state_checksums_format is " +
          s"${other.fold("absent")(_.toString)} but this engine writes " +
          s"format ${graft.core.StateHash.Format} — checksums from " +
          "different rendering schemes must not compare; regenerate the " +
          "artifact with this engine version, or use --state-project")
    }
    val cs = root.get("state_checksums") match {
      case Some(m: JM) => m.m.map {
        case (id, e: JM) =>
          val f = e.m
          id -> graft.core.StateHash.Checksums(
            body = str(f("body")),
            config = str(f("config")),
            content = str(f("content")),
            relation = str(f("relation")),
            desc = str(f("desc")),
            coldesc = str(f("coldesc")),
            contractEnforced = f("contract_enforced") match {
              case JB(b) => b
              case JS(s) => s == "true"
              case other => sys.error(s"bad contract_enforced: $other")
            },
            contract = str(f("contract")))
        case (id, other) => sys.error(s"bad state_checksums entry $id: $other")
      }
      case _ => sys.error(
        s"$manifestPath carries no state_checksums — regenerate the artifact " +
          "with this engine version, or compare against the project tree " +
          "with --state-project")
    }
    val macros = root.get("macros") match {
      case Some(m: JM) => m.m.values.collect {
        case e: JM if e.m.contains("macro_sql") =>
          str(e.m("name")) -> graft.core.StateHash.sha(str(e.m("macro_sql")))
      }.toMap
      case _ => Map.empty[String, String]
    }
    (cs, macros)
  }

  /** Reads the defer view from a saved manifest.json (the
    * `--defer --state <artifact-dir>` path — reference
    * providers.py:552-570 resolves deferred refs from nothing but the
    * saved manifest's relation names): per-node physical relation name
    * plus the warehouse root the artifact's run built into. Fails
    * loudly on an artifact written before the defer extension. */
  def readDeferArtifact(manifestPath: String): (Map[String, String], String) = {
    import graft.render.Jinja.{JM, JS}
    val txt = Files.readString(Paths.get(manifestPath))
    val root = graft.render.Jinja.fromJsonValue(txt) match {
      case m: JM => m.m
      case _ => sys.error(s"$manifestPath is not a JSON object")
    }
    val whRoot = root.get("warehouse_root") match {
      case Some(JS(r)) => r
      case _ => sys.error(
        s"$manifestPath carries no warehouse_root — regenerate the artifact " +
          "with this engine version, or defer through a parsed project " +
          "with --state-project")
    }
    def relNames(section: String): Map[String, String] =
      root.get(section) match {
        case Some(m: JM) => m.m.collect {
          case (id, e: JM) if e.m.get("relation_name").exists(_.isInstanceOf[JS]) =>
            id -> e.m("relation_name").asInstanceOf[JS].s
        }
        case _ => Map.empty[String, String]
      }
    (relNames("nodes") ++ relNames("sources"), whRoot)
  }

  /** `docs generate` lineage graph as GraphViz DOT — the plain-text
    * analog of the reference's interactive site (the site itself is
    * out of scope; the lineage graph it renders is not). Nodes are
    * shaped by resource type; edges follow the parent map.
    */
  def writeLineageDot(path: String, manifest: Manifest): Unit = {
    def shape(rt: String): String = rt match {
      case "source" => "cds"
      case "seed" => "cylinder"
      case "test" | "unit_test" => "note"
      case "exposure" | "metric" | "semantic_model" | "saved_query" => "oval"
      case _ => "box"
    }
    val sb = new StringBuilder("digraph graft {\n  rankdir=LR;\n  node [fontsize=10];\n")
    manifest.nodes.toSeq.sortBy(_._1).foreach { case (id, n) =>
      sb.append(s"""  "$id" [label="${n.name}" shape=${shape(n.resourceType)}];\n""")
    }
    manifest.parentMap.toSeq.sortBy(_._1).foreach { case (child, parents) =>
      parents.toSeq.sorted.foreach(p => sb.append(s"""  "$p" -> "$child";\n"""))
    }
    sb.append("}\n")
    write(path, sb.toString)
  }

  /** `docs generate` static lineage page: a single self-contained HTML
    * file — no scripts, no external assets — rendering each node with
    * its type, description, and upstream/downstream links (anchor
    * navigation). The dependency-free counterpart of the reference's
    * docs site: everything its lineage view answers ("what feeds
    * this?", "what breaks if I change it?") is one click here, and the
    * file ships anywhere a parquet file does.
    */
  def writeLineageHtml(path: String, manifest: Manifest): Unit = {
    def esc(s: String): String = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    val childMap: Map[String, Seq[String]] = manifest.parentMap.toSeq
      .flatMap { case (c, ps) => ps.toSeq.map(_ -> c) }
      .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).sorted }
    def links(ids: Seq[String]): String =
      if (ids.isEmpty) "<em>none</em>"
      else ids.map(i => s"""<a href="#${esc(i)}">${esc(i)}</a>""").mkString(", ")
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\">")
    sb.append(s"<title>graft lineage — ${esc(manifest.nodes.size.toString)} nodes</title>")
    sb.append("<style>body{font-family:sans-serif;margin:2em}" +
      "section{border:1px solid #ccc;border-radius:4px;padding:.6em 1em;margin:.5em 0}" +
      "h2{margin:.2em 0;font-size:1em}.rt{color:#666;font-size:.85em}</style>")
    sb.append("</head><body><h1>graft lineage</h1>")
    manifest.nodes.toSeq.sortBy(_._1).foreach { case (id, n) =>
      val parents = manifest.parentMap.getOrElse(id, Set.empty).toSeq.sorted
      sb.append(s"""<section id="${esc(id)}"><h2>${esc(n.name)} """ +
        s"""<span class="rt">(${esc(n.resourceType)})</span></h2>""")
      sb.append(s"<div>upstream: ${links(parents)}</div>")
      sb.append(s"<div>downstream: ${links(childMap.getOrElse(id, Nil))}</div>")
      sb.append("</section>")
    }
    sb.append("</body></html>")
    write(path, sb.toString)
  }

  /** `docs generate` site assembly (reference
    * `core/dbt/task/docs/generate.py:231,317-330`): copy the published
    * dbt docs SPA (vendored verbatim under resources/graft/docs — see
    * its README for provenance) to `index.html` so the REAL consumer
    * runs over this engine's manifest.json/catalog.json, and emit
    * `static_index.html` with both artifacts inlined (the `--static`
    * single-file variant). The engine's own dependency-free lineage
    * page moves to `lineage.html`. Requires manifest.json and
    * catalog.json to already exist in `targetDir`.
    */
  def writeDocsSite(targetDir: String): Unit = {
    val in = getClass.getResourceAsStream("/graft/docs/index.html")
    require(in != null, "vendored docs SPA missing from resources")
    val spa = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    write(s"$targetDir/index.html", spa)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$targetDir/manifest.json"))
    val catalog = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$targetDir/catalog.json"))
    write(s"$targetDir/static_index.html",
      spa.replace("\"MANIFEST.JSON INLINE DATA\"", manifest)
        .replace("\"CATALOG.JSON INLINE DATA\"", catalog))
  }

  /** `docs generate` catalog: relations + columns from the live
    * warehouse (reference `core/dbt/task/docs/generate.py`).
    */
  def writeCatalog(path: String, wh: graft.exec.Warehouse,
      generatedAt: java.sql.Timestamp): Unit = {
    val nodes = wh.list.map { name =>
      val df = wh.read(name)
      // persist_docs write-through comments surface in the catalog the
      // way adapter catalogs carry COMMENT ON metadata
      val (relComment, colComments) = wh.commentsOf(name)
      val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> obj(Seq(
          "type" -> q(f.dataType.sql),
          "index" -> (i + 1).toString,
          "name" -> q(f.name),
          "comment" -> colComments.get(f.name).map(q).getOrElse("null")))
      }
      name -> obj(Seq(
        "metadata" -> obj(Seq(
          "type" -> q(if (wh.isView(name)) "view" else "table"),
          "schema" -> q("main"),
          "name" -> q(name),
          "comment" -> relComment.map(q).getOrElse("null"))),
        "columns" -> obj(cols.toSeq),
        "stats" -> {
          // row counts from parquet footers (no scan); views = unknown
          val n = wh.rowCount(name)
          if (n < 0) obj(Nil)
          else obj(Seq("row_count" -> obj(Seq(
            "id" -> q("row_count"), "label" -> q("Row Count"),
            "value" -> n.toString, "include" -> "true"))))
        }))
    }
    val doc = obj(Seq(
      "metadata" -> obj(Seq(
        "dbt_schema_version" -> q("https://schemas.getdbt.com/dbt/catalog/v1.json"),
        "generated_at" -> q(generatedAt.toInstant.toString),
        "env" -> metadataEnv)),
      "nodes" -> obj(nodes),
      "sources" -> obj(Nil),
      "errors" -> "null"))
    write(path, doc)
  }

  /** `sources.json` (freshness v3 subset, reference
    * `core/dbt/artifacts/schemas/freshness`): one entry per checked
    * source with status and age seconds.
    */
  def writeSources(path: String,
      freshness: Map[String, (String, Double)],
      generatedAt: java.sql.Timestamp, invocationId: String): Unit = {
    val items = freshness.toSeq.sortBy(_._1).map { case (id, (status, age)) =>
      if (age.isInfinite)
        // never-loaded source: v3's SourceFreshnessRuntimeError
        // alternative (an Infinity age would not even be valid JSON)
        obj(Seq(
          "unique_id" -> q(id),
          "error" -> q("source has no loaded-at rows (never loaded)"),
          "status" -> q("runtime error")))
      else {
      // age was measured against the run clock, so max_loaded_at is the
      // snapshot instant minus the age (sources v3 requires both)
      val snapAt = generatedAt.toInstant
      val maxLoadedAt = snapAt.minusMillis((age * 1000).toLong)
      obj(Seq(
        "unique_id" -> q(id),
        "status" -> q(status),
        "max_loaded_at" -> q(maxLoadedAt.toString),
        "snapshotted_at" -> q(snapAt.toString),
        "max_loaded_at_time_ago_in_s" -> age.toString,
        "criteria" -> obj(Nil),
        "adapter_response" -> obj(Nil),
        "timing" -> arr(Nil),
        "thread_id" -> q("main"),
        "execution_time" -> "0.0"))
      }
    }
    val doc = obj(Seq(
      "metadata" -> obj(Seq(
        "dbt_schema_version" -> q("https://schemas.getdbt.com/dbt/sources/v3.json"),
        "generated_at" -> q(generatedAt.toInstant.toString),
        "invocation_id" -> q(invocationId),
        "env" -> metadataEnv)),
      "results" -> arr(items),
      "elapsed_time" -> "0.0"))
    write(path, doc)
  }

  /** Read statuses back from run_results.json (for `retry`). */
  def readRunStatuses(path: String): Map[String, String] = {
    val txt = Files.readString(Paths.get(path))
    val entry = """"unique_id":\s*"([^"]+)"[^}]*?"status":\s*"([^"]+)"""".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }
}
