package graft.run

import graft.Session

/** Command-line entry point — the analog of the reference's CLI /
  * in-process `dbtRunner.invoke` (`core/dbt/cli/main.py:38-96`).
  *
  * Usage:
  * {{{
  *   graft.run.Cli <command> --project <dir> --warehouse <dir>
  *       [--select a b] [--exclude c] [--threads N] [--vars k=v,...]
  *       [--full-refresh] [--target <profile-target>] [--target-path <dir>]
  *       [--inline "<sql>"] [--limit N] [--empty]
  *       [--log-format text|json] [--log-level debug|info|warn|error]
  *       [--log-path <dir>|none] [--quiet] [--no-partial-parse]
  * }}}
  * Commands: run, test, build, seed, snapshot, list/ls, compile,
  * show, source freshness, retry, docs.
  */
object Cli {

  /** Engine version line (reference `dbt --version`): tracks the
    * reference release whose artifact schemas + behavior this engine
    * mirrors (manifest v12 / run_results v6 era). */
  val version = "graft 1.9.0"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println(usage); sys.exit(2) }
    if (args.contains("--version") || args.head == "version") {
      println(version); return
    }
    val (command, rest) = normalizeCommand(args)
    val opts = parseOpts(rest)
    // logging seams FIRST so even spark-free commands (deps/init/clean)
    // stream structured events like the reference
    EventLog.format = opts.getOrElse("log-format", "text")
    EventLog.minLevel =
      if (opts.contains("quiet")) "error" else opts.getOrElse("log-level", "info")
    try mainImpl(command, args, opts)
    catch {
      case e: Throwable =>
        // reference Z002 MainEncounteredError + Z003 MainStackTrace:
        // the top-level error channel a wrapper parses before exit 2
        EventLog.error("main_encountered_error", "code" -> "Z002",
          "exc" -> String.valueOf(e.getMessage))
        EventLog.error("main_stack_trace", "code" -> "Z003",
          "exc_info" -> e.getStackTrace.take(12).mkString(" <- "))
        sys.exit(2)
    }
  }


  /** `--vars` / `--args` value: the reference's YAML-dict form
    * ('{key: value}') or the legacy k=v,k2=v2 list. Returns
    * (string entries, typed entries). With scalarsTyped, YAML scalars
    * bind typed too (run-operation args: `dry_run: false` must be a
    * real boolean in `{% if %}`); otherwise scalars stay strings
    * (vars: the string map is the override-shadowing channel).
    * Malformed input = the reference's A008 InvalidOptionYAML.
    */
  private def parseVarFlag(raw: String, optionName: String,
      scalarsTyped: Boolean): (Map[String, String], Map[String, graft.render.Jinja.JV]) =
    try {
      if (raw.trim.startsWith("{")) {
        import scala.jdk.CollectionConverters._
        val entries = Option(new org.yaml.snakeyaml.Yaml()
          .load[java.util.Map[String, Any]](raw))
          .map(_.asScala.toSeq.map { case (k, v) => k.toString -> v })
          .getOrElse(Nil)
        def composite(v: Any): Boolean =
          v.isInstanceOf[java.util.Map[_, _]] || v.isInstanceOf[java.util.List[_]]
        if (scalarsTyped)
          (Map.empty,
            entries.map { case (k, v) => k -> graft.render.Jinja.fromAny(v) }.toMap)
        else
          (entries.collect {
            case (k, v) if !composite(v) => k -> String.valueOf(v)
          }.toMap,
            entries.collect {
              case (k, v) if composite(v) => k -> graft.render.Jinja.fromAny(v)
            }.toMap)
      } else (raw.split(",").map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap, Map.empty[String, graft.render.Jinja.JV])
    } catch {
      case _: MatchError | _: org.yaml.snakeyaml.error.YAMLException =>
        // reference A008 InvalidOptionYAML
        EventLog.error("invalid_option_yaml", "code" -> "A008",
          "option_name" -> optionName)
        sys.exit(2)
    }

  private def mainImpl(command: String, args: Array[String],
      opts: Map[String, String]): Unit = {
    val projectDir = opts.getOrElse("project",
      sys.error("--project <dir> is required"))
    // --target names a profiles.yml output (reference -t/--target);
    // --target-path moves the artifacts dir (reference --target-path)
    val targetDir = opts.getOrElse("target-path", s"$projectDir/target")

    // Spark-free commands handled before a session exists, so they are
    // cheap and safe to call from anywhere (reference `init`/`clean`).
    command match {
      case "deps" =>
        // A32: local + tarball package install (reference
        // `core/dbt/task/deps.py:90-277`). Runs before any session —
        // the loader needs dbt_packages/ populated. Hub/git sources
        // need network egress and stay out; Deps.install says so per
        // entry.
        val installed = graft.parse.Deps.install(projectDir)
        if (installed.isEmpty) println("graft deps: no packages.yml entries")
        else installed.foreach(p =>
          println(s"installed ${p.name} (${p.kind}: ${p.location})"))
        return
      case "init" =>
        // reference `dbt init` starter-project parity: a runnable
        // 3-node pipeline (source -> staging view -> mart table) plus
        // a schema test, executable by `run`/`build` unmodified.
        // --source-path points the source at real data (defaults to
        // the bundled sf0.001 orders table so the starter runs as-is).
        val root = java.nio.file.Paths.get(projectDir)
        EventLog.emit("starter_project_path", "debug", "code" -> "A017",
          "dir" -> root.toString)
        if (java.nio.file.Files.exists(root.resolve("dbt_project.yml")))
          EventLog.info("project_name_already_exists", "code" -> "A025",
            "name" -> root.getFileName.toString)
        val srcPath = opts.getOrElse("source-path",
          "/root/testdata/sf0.001/orders.parquet")
        def scaffold(rel: String, content: String): Unit = {
          val p = root.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          if (!java.nio.file.Files.exists(p))
            java.nio.file.Files.writeString(p, content)
        }
        scaffold("dbt_project.yml",
          s"""name: ${root.getFileName}
             |vars: {}
             |""".stripMargin)
        scaffold("models/sources.yml",
          s"""sources:
             |  - name: main
             |    tables:
             |      - name: orders
             |        path: $srcPath
             |""".stripMargin)
        scaffold("models/staging/stg_orders.sql",
          """{{ config(materialized='view') }}
            |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            |FROM {{ source('main', 'orders') }}
            |""".stripMargin)
        scaffold("models/marts/fct_customer_orders.sql",
          """{{ config(materialized='table') }}
            |SELECT o_custkey,
            |       CAST(COUNT(*) AS BIGINT) AS n_orders,
            |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_spend
            |FROM {{ ref('stg_orders') }}
            |GROUP BY o_custkey
            |""".stripMargin)
        scaffold("models/schema.yml",
          """models:
            |  - name: fct_customer_orders
            |    description: Per-customer order counts and spend.
            |    columns:
            |      - name: o_custkey
            |        tests: [not_null, unique]
            |""".stripMargin)
        EventLog.info("project_created", "code" -> "A026",
          "project_name" -> root.getFileName.toString)
        println(s"initialized starter project at $projectDir " +
          "(source -> stg_orders -> fct_customer_orders + tests); " +
          "run it with: run --project <dir> --warehouse <dir>")
        return
      case "clean" =>
        // reference clean task (Z012-Z015): check each path, refuse
        // paths outside the project (protected), confirm the removals
        val projRoot = java.nio.file.Paths.get(projectDir)
          .toAbsolutePath.normalize()
        def rm(p: java.nio.file.Path): Unit = {
          val abs = p.toAbsolutePath.normalize()
          EventLog.info("check_clean_path", "code" -> "Z012",
            "path" -> abs.toString)
          if (!abs.startsWith(projRoot)) {
            EventLog.info("protected_clean_path", "code" -> "Z014",
              "path" -> abs.toString)
            println(s"protected path, skipping: $abs")
          } else if (java.nio.file.Files.exists(abs)) {
            java.nio.file.Files.walk(abs).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.delete(f))
            EventLog.info("confirm_clean_path", "code" -> "Z013",
              "path" -> abs.toString)
            println(s"cleaned $abs")
          }
        }
        rm(java.nio.file.Paths.get(targetDir))
        EventLog.info("finished_clean_paths", "code" -> "Z015")
        return
      case _ => ()
    }

    // profiles.yml: the selected output supplies warehouse path and
    // thread default when flags don't (flag > profile > fallback)
    // --warn-error-options: selective include/exclude/silence lists
    // (reference WarnErrorOptionsType); mutually exclusive with the
    // blanket --warn-error, like the reference's CLI validation
    val warnErrorOpts = opts.get("warn-error-options")
      .orElse(sys.env.get("DBT_WARN_ERROR_OPTIONS")) match {
      case Some(yamlStr) =>
        if (opts.contains("warn-error"))
          throw new IllegalArgumentException(
            "--warn-error and --warn-error-options are mutually exclusive")
        WarnErrorOptions.parse(yamlStr)
      case None => WarnErrorOptions.Empty
    }
    val targetName = opts.get("target")
    val targetDef =
      try graft.parse.ProjectLoader.resolveTarget(projectDir, targetName,
        opts.get("profiles-dir"), opts.get("profile"))
      catch {
        case e: Throwable =>
          // reference A011 LogDbtProfileError
          EventLog.error("profile_error", "code" -> "A011",
            "exc" -> String.valueOf(e.getMessage))
          sys.exit(2)
      }
    if (targetDef.isEmpty && targetName.isDefined)
      // reference A005 MissingProfileTarget: named target not found;
      // the engine proceeds on fallbacks
      EventLog.info("missing_profile_target", "code" -> "A005",
        "profile_name" -> "default", "target_name" -> targetName.get)
    val warehouseDir = opts.get("warehouse")
      .orElse(targetDef.flatMap(_.warehouse))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val threads = opts.get("threads").map(_.toInt)
      .orElse(targetDef.flatMap(_.threads)).getOrElse(4)
    val rawSelect = opts.get("select").map(_.split("\\s+").toSeq).getOrElse(Nil)
    val rawExclude = opts.get("exclude").map(_.split("\\s+").toSeq).getOrElse(Nil)
    val (vars, varsTyped) = opts.get("vars")
      .map(parseVarFlag(_, "vars", scalarsTyped = false))
      .getOrElse((Map.empty[String, String],
        Map.empty[String, graft.render.Jinja.JV]))

    // --log-format/--log-level/--quiet were applied in main() before
    // the spark-free commands; `quiet` also filters the result echo
    val quiet = opts.contains("quiet")
    // reference file channel: logs/dbt.log under --log-path (or
    // DBT_LOG_PATH, or <project>/logs) — always JSON, always debug,
    // regardless of the console level. Opened before the banner so
    // A001/A002 reach the file.
    if (!opts.get("log-path").orElse(sys.env.get("DBT_LOG_PATH")).contains("none")) {
      val logDir = opts.get("log-path").orElse(sys.env.get("DBT_LOG_PATH"))
        .getOrElse(s"$projectDir/logs")
      EventLog.openLogFile(java.nio.file.Paths.get(logDir, "dbt.log"))
    }
    // reference A001/A002: version + args banner, first lines of every
    // invocation; Q039 CommandCompleted fires from the exit hook below.
    // ONE shutdown hook emits then closes — two hooks would race (hook
    // order is unspecified) and could close the file before Q039 lands.
    EventLog.info("main_report_version", "code" -> "A001",
      "version" -> "graft 0.1.0", "log_version" -> 3)
    EventLog.emit("main_report_args", "debug", "code" -> "A002",
      "args" -> args.mkString(" "))
    val cmdT0 = System.nanoTime()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // reference Z051 ResourceReport: process stats a perf consumer
      // scrapes at command end, then Q039 CommandCompleted
      val rt = Runtime.getRuntime
      EventLog.emit("resource_report", "debug", "code" -> "Z051",
        "command_name" -> command,
        "command_wall_clock_time" -> (System.nanoTime() - cmdT0) / 1e9,
        "process_memory_used_mb" -> (rt.totalMemory() - rt.freeMemory()) / 1e6,
        "process_num_cpus" -> rt.availableProcessors())
      EventLog.emit("command_completed", "debug", "code" -> "Q039",
        "command" -> command,
        "elapsed" -> (System.nanoTime() - cmdT0) / 1e9)
      EventLog.closeLogFile()
    }))
    val indirect = opts.getOrElse("indirect-selection", "eager")

    val spark = Session.build(Session.dirBytes(warehouseDir))

    // A31: partial parsing is ON by default like the reference;
    // --no-partial-parse forces a full parse (beats DBT_PARTIAL_PARSE
    // env, which beats the project `flags:` setting).
    val engine =
      try Engine.fromProject(spark, projectDir, warehouseDir, vars,
        varsTyped = varsTyped,
        emptyMode = opts.contains("empty"), target = targetName,
        warnError = opts.contains("warn-error"),
        warnErrorOptions = warnErrorOpts,
        partialParse = Some(graft.parse.PartialParse.Options(
          enabled = if (opts.contains("no-partial-parse")) Some(false) else None,
          cliTargetPath = opts.get("target-path"))))
      catch {
        case e: graft.run.Deprecations.DeprecationError => throw e
        case e: Throwable =>
          // reference A009 LogDbtProjectError: the project failed to
          // load/parse — structured error, exit 2
          EventLog.error("project_error", "code" -> "A009",
            "exc" -> String.valueOf(e.getMessage))
          sys.exit(2)
      }
    // --selector resolves a selectors.yml name; with no selection flags
    // at all, the default: true selector (if any) applies — reference
    // behavior for named selectors.
    val (select, exclude) = opts.get("selector") match {
      case Some(n) =>
        try engine.namedSelector(n)
        catch {
          case e: Throwable =>
            // reference M010 SelectorReportInvalidSelector
            EventLog.info("selector_report_invalid_selector", "code" -> "M010",
              "spec" -> n, "valid_selectors" ->
                engine.manifest.selectors.keys.toSeq.sorted.mkString(", "))
            throw e
        }
      case None if rawSelect.isEmpty && rawExclude.isEmpty =>
        val d = engine.defaultSelector
        d.foreach(sel =>
          // reference Q023 DefaultSelector: a default: true selector
          // applies when no selection flags were given
          EventLog.info("default_selector", "code" -> "Q023",
            "name" -> sel.name))
        d.map(s => (s.select, s.exclude)).getOrElse((Nil, Nil))
      case None => (rawSelect, rawExclude)
    }
    // reference --state/--defer (`dbt run --select state:modified+
    // --state <artifacts> --defer`): the hermetic analog points at the
    // comparison PROJECT tree (+ its warehouse) and re-parses it — the
    // artifact manifest is a lossy v12 subset, and state comparison
    // needs full node bodies + macro sources. With --defer, refs to
    // relations not built locally resolve through the state engine's
    // warehouse (favor-state semantics live in Engine's defer lookup).
    val stateEngine = opts.get("state-project").map { sp =>
      val swh = opts.getOrElse("state-warehouse",
        java.nio.file.Files.createTempDirectory("graft_state_wh").toString)
      Engine.fromProject(spark, sp, swh, vars, varsTyped = varsTyped)
    }
    // reference `--state <artifact-dir>` (the CI pattern: only prod
    // artifacts are kept — `dbt build --state ./prod-artifacts`): the
    // saved manifest.json's state_checksums + macro entries carry the
    // comparison side; no project re-parse. --state-project remains the
    // full-fidelity path (and the one that can serve --defer reads).
    val stateArtifact = opts.get("state").flatMap { dir =>
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
        sys.error(s"--state: $dir is not a directory")
      val mf = java.nio.file.Paths.get(dir, "manifest.json")
      // an artifact dir carrying NONE of the three artifact files is
      // almost certainly a typo or a pre-extension target dir — say so
      // NOW rather than letting a later state:/result: selector fail
      // with a bare "needs a comparison manifest"
      val present = Seq("manifest.json", "run_results.json", "sources.json")
        .filter(f => java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f)))
      if (present.isEmpty)
        System.err.println(s"[graft] warning: --state $dir contains no " +
          "manifest.json, run_results.json, or sources.json — state:/result:/" +
          "source_status: selectors and --defer will find nothing there")
      // manifest.json is optional: `--state` with only run_results.json
      // still serves `result:` selection (reference allows exactly that);
      // a state: selector without the manifest errors in the Selector
      if (java.nio.file.Files.exists(mf)) {
        val (cs, macros) = Artifacts.readStateArtifact(mf.toString)
        Some(new graft.graph.Selector.ChecksumState(cs, macros))
      } else None
    }
    if (stateEngine.nonEmpty && stateArtifact.nonEmpty)
      sys.error("pass either --state <artifact-dir> or --state-project <dir>, not both")
    if (opts.contains("defer")) {
      // two defer sides (reference merge_from_artifact): a parsed
      // comparison project (--state-project) or a saved artifact dir
      // (--state) whose manifest carries relation_name + warehouse_root
      stateEngine match {
        case Some(se) => engine.deferEngine = Some(se)
        case None =>
          val dir = opts.getOrElse("state",
            sys.error("--defer needs --state <artifact-dir> or " +
              "--state-project <dir> [--state-warehouse <dir>]"))
          val mf = java.nio.file.Paths.get(dir, "manifest.json")
          if (!java.nio.file.Files.exists(mf))
            sys.error(s"--defer --state: $dir has no manifest.json")
          engine.deferFromArtifact(mf.toString)
      }
      // --favor-state: unselected nodes read from state even when a
      // stale local build exists (reference providers.py:558-563)
      engine.favorState = opts.contains("favor-state")
    }
    // reference `result:`/`source_status:` selection (documented CI
    // workflows: `dbt run --select result:error+ --state ./target`,
    // `dbt build --select source_status:fresher+`): when the --state
    // artifact dir carries run_results.json / sources.json, their
    // statuses arm the corresponding selector methods.
    val stateResults = opts.get("state")
      .map(d => java.nio.file.Paths.get(d, "run_results.json"))
      .filter(java.nio.file.Files.exists(_))
      .map(p => Artifacts.readRunStatuses(p.toString))
    val stateSourceStatus = opts.get("state")
      .map(d => java.nio.file.Paths.get(d, "sources.json"))
      .filter(java.nio.file.Files.exists(_))
      .map(p => Artifacts.readRunStatuses(p.toString)) // same id->status shape
    def inState[T](body: => T): T = {
      def withArtifacts: T = {
        def b1: T = stateSourceStatus match {
          case Some(ss) => graft.graph.Selector.withSourceStatus(ss)(body)
          case None => body
        }
        stateResults match {
          case Some(rs) => graft.graph.Selector.withResults(rs)(b1)
          case None => b1
        }
      }
      stateEngine match {
        case Some(se) => graft.graph.Selector.withState(se.manifest)(withArtifacts)
        case None => stateArtifact match {
          case Some(cs) => graft.graph.Selector.withStateSide(cs)(withArtifacts)
          case None => withArtifacts
        }
      }
    }
    def report(results: Seq[graft.exec.Materializer.Result]): Unit = {
      val shown = if (quiet)
        results.filter(r => r.status == "error" || r.status == "fail")
      else results
      shown.foreach(r => println(f"${r.status.toUpperCase}%-8s ${r.uniqueId} (${r.elapsedSec}%.2fs) ${r.message}"))
      // --no-write-json (reference p.write_json): skip the artifact
      // writes for this invocation; artifacts from prior runs stay
      if (!opts.contains("no-write-json"))
        engine.writeArtifacts(targetDir, results)
      if (results.exists(r => r.status == "error" || r.status == "fail")) sys.exit(1)
    }

    // reference flags.WHICH / invocation_args_dict.which: the task name
    engine.currentWhich = command match {
      case "ls" => "list"
      case "freshness" => "source-freshness"
      case c => c
    }
    command match {
      case c if Engine.commandTypes.contains(c) =>
        report(inState(runNodes(engine, c, opts, select, exclude, threads)))
      case "ls" =>
        // reference `dbt ls` (core/dbt/task/list.py): --resource-type
        // filters; --output selector|name|path|json (default selector,
        // cli/params.py:232-234), --output-keys filters the json keys
        val types = opts.get("resource-type")
          .map(_.split(",").map(_.trim).toSet)
        // resource type via the manifest node when present, else from the
        // unique-id prefix (`<type>.<pkg>.<name>`) — so ids the DAG knows
        // but the node map keys differently (e.g. versioned models) are
        // still filterable instead of silently dropped
        def resType(id: String): String =
          engine.manifest.nodes.get(id).map(_.resourceType)
            .getOrElse(id.takeWhile(_ != '.'))
        // --exclude-resource-type (reference params.py): subtractive
        // twin of --resource-type
        val exTypes = opts.get("exclude-resource-type")
          .map(_.split("[,\\s]+").filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
        val ids = inState(engine.ls(select, exclude, indirect))
          .filter(id => types.forall(_(resType(id))) && !exTypes(resType(id)))
        val mode = opts.getOrElse("output", "selector")
        val keys = opts.get("output-keys")
          .map(_.split("[,\\s]+").filter(_.nonEmpty).toSet)
        ids.foreach { id =>
          // ids the manifest keys differently (versioned aliases) fall
          // back to the raw unique id rather than dropping silently; in
          // json mode the fallback stays a JSON object so the output is
          // uniformly NDJSON (reference errors here — we degrade)
          val line = engine.manifest.nodes.get(id)
            .map(n => lsLine(n, mode, keys))
            .getOrElse(
              if (mode == "json")
                s"""{"unique_id":${graft.run.Artifacts.jstr(id)}}"""
              else id)
          // reference Z049 ListCmdOut: stdout carries the line; the
          // event mirrors it into the log-file channel
          EventLog.info("list_cmd_out", "code" -> "Z049", "msg" -> line)
          println(line)
        }
      case "compile" if opts.contains("inline") =>
        // reference `dbt compile --inline '<sql>'`: print the rendered
        // SQL without executing it; render failures are the I069
        // ParseInlineNodeError channel
        val compiled =
          try engine.compileInline(opts("inline"))
          catch {
            case e: Throwable =>
              EventLog.error("parse_inline_node_error", "code" -> "I069",
                "exc" -> String.valueOf(e.getMessage))
              sys.exit(1)
          }
        // reference Q042 CompiledNode: the compiled-SQL output event
        EventLog.info("compiled_node", "code" -> "Q042",
          "unique_id" -> "sql_operation.graft.inline_query",
          "compiled" -> compiled)
        println(compiled)
      case "compile" =>
        inState(engine.ls(select, exclude))
          .flatMap(id => engine.manifest.nodes.get(id))
          .collect { case m: graft.core.ModelNode => m }
          .foreach { m =>
            val out = java.nio.file.Paths.get(s"$targetDir/compiled/${m.name}.sql")
            java.nio.file.Files.createDirectories(out.getParent)
            java.nio.file.Files.writeString(out, engine.compile(m))
            // reference Z026 SQLCompiledPath + Q042 CompiledNode
            EventLog.info("sql_compiled_path", "code" -> "Z026",
              "path" -> out.toString)
            EventLog.info("compiled_node", "code" -> "Q042",
              "unique_id" -> m.uniqueId)
            println(s"compiled ${m.name} -> $out")
          }
        // reference Q002 CompileComplete
        EventLog.info("compile_complete", "code" -> "Q002")
      case "show" =>
        val limit = opts.getOrElse("limit", "5").toInt
        val df = (opts.get("inline"), select.headOption) match {
          case (Some(sql), _) => engine.show(sql, limit)
          case (None, Some(model)) => engine.showModel(model, limit)
          case _ => sys.error("show needs --inline '<sql>' or --select <model>")
        }
        // reference Q041 ShowNode: the preview event a wrapper parses
        EventLog.info("show_node", "code" -> "Q041",
          "unique_id" -> select.headOption.getOrElse("inline_query"),
          "preview_rows" -> df.count())
        df.show(truncate = false)
      case "freshness" =>
        if (engine.runStartHooks.nonEmpty || engine.runEndHooks.nonEmpty)
          // reference D017: source freshness does not run project hooks
          Deprecations.warn("source-freshness-project-hooks", "D017",
            "In a future version of dbt, the `source freshness` command " +
              "will start running `on-run-start` and `on-run-end` hooks " +
              "by default. It does not run them today.")
        val fresh = engine.sourceFreshness(select)
        fresh.toSeq.sortBy(_._1).foreach {
          case (id, (status, age)) => println(f"$status%-6s $id age=${age}%.0fs")
        }
        // the standalone freshness artifact (reference task/freshness.py
        // writes sources.json; -o/--output relocates it)
        if (!opts.contains("no-write-json")) {
          val outPath = opts.getOrElse("output", s"$targetDir/sources.json")
          engine.writeFreshnessArtifact(outPath, fresh)
        }
        if (fresh.values.exists(_._1 == "error")) sys.exit(1)
      case "retry" => report(engine.retry(s"$targetDir/run_results.json", threads))
      case "parse" =>
        // manifest without executing anything (reference `dbt parse`)
        engine.writeArtifacts(targetDir, Nil)
        println(s"wrote $targetDir/manifest.json " +
          s"(${engine.manifest.nodes.size} nodes)")
      case "debug" =>
        // reference debug task (core/dbt/task/debug.py): a structured
        // check list with per-check pass/fail lines (Z047), a result
        // summary (Z048), non-zero exit on any failure; --connection
        // restricts to the connection probes (DebugRunStatus shape)
        val connectionOnly = opts.contains("connection")
        var nFailed = 0
        def check(name: String)(body: => String): Unit = {
          val (ok, detail) =
            try (true, body)
            catch { case e: Throwable => (false, String.valueOf(e.getMessage)) }
          if (!ok) nFailed += 1
          EventLog.info("debug_cmd_out", "code" -> "Z047",
            "check_name" -> name,
            "status" -> (if (ok) "pass" else "fail"), "detail" -> detail)
          println(f"  $name%-28s ${if (ok) "[OK]" else "[ERROR]"}%-8s $detail")
        }
        if (!connectionOnly) {
          check("project file") {
            val p = java.nio.file.Paths.get(projectDir, "dbt_project.yml")
            require(java.nio.file.Files.exists(p),
              s"dbt_project.yml not found under $projectDir")
            p.toString
          }
          check("profile / target") {
            targetDef match {
              case Some(t) =>
                s"profile '${t.profileName}' target '${t.name}'" +
                  t.schema.map(s => s" schema '$s'").getOrElse("")
              case None => "no profiles.yml target (engine defaults apply)"
            }
          }
          check("manifest parse") {
            s"${engine.manifest.nodes.size} nodes " +
              engine.manifest.nodes.values.groupBy(_.resourceType)
                .map { case (t, ns) => s"$t=${ns.size}" }
                .toSeq.sorted.mkString("(", " ", ")")
          }
        }
        check("connection: spark session") {
          s"spark ${spark.version} master=${spark.sparkContext.master}"
        }
        check("connection: warehouse write probe") {
          // round-trip a one-row relation through the warehouse and
          // drop it — the adapter "ping" of the reference
          val probe = "__graft_debug_probe"
          engine.wh.writeTable(probe, spark.range(1).toDF("ok"))
          val n = engine.wh.rowCount(probe)
          engine.wh.drop(probe)
          require(n == 1L, s"probe round-trip returned $n rows")
          s"$warehouseDir writable"
        }
        EventLog.info("debug_cmd_result", "code" -> "Z048",
          "status" -> (if (nFailed == 0) "pass" else "fail"),
          "failures" -> nFailed)
        println(
          if (nFailed == 0) "All checks passed!"
          else s"$nFailed check(s) failed")
        if (nFailed > 0) sys.exit(1)
      case "clone" =>
        // reference `dbt clone`: relations from a state warehouse into
        // this one — pointer clone by default, --deep copies data
        val stateWh = opts.getOrElse("state-warehouse",
          sys.error("clone needs --state-warehouse <dir>"))
        val stateEng = Engine.fromProject(spark, projectDir, stateWh, vars, varsTyped = varsTyped)
        val names =
          (if (select.isEmpty) engine.ls(Nil, Nil) else engine.ls(select, exclude))
            .flatMap(id => engine.manifest.nodes.get(id))
            .filter(n => n.resourceType == "model" || n.resourceType == "seed")
            .map(_.name)
            .filter(n => stateEng.wh.list.contains(n))
        engine.cloneFrom(stateEng, names, deep = opts.contains("deep"))
        println(s"cloned ${names.size} relations: ${names.mkString(", ")}")
      case "run-operation" =>
        val macroName = args.tail.headOption.filterNot(_.startsWith("--"))
          .getOrElse(sys.error("run-operation <macro-name> required"))
        // --args: YAML dict (reference form; scalars bind TYPED so
        // `dry_run: false` is a real boolean) or legacy k=v list
        val (opArgs, opTyped) = opts.get("args")
          .map(parseVarFlag(_, "args", scalarsTyped = true))
          .getOrElse((Map.empty[String, String],
            Map.empty[String, graft.render.Jinja.JV]))
        try engine.runOperation(macroName, opArgs, opTyped)
          .lastOption.foreach(_.show(truncate = false))
        catch {
          case e: Throwable =>
            // reference Q001 RunningOperationCaughtError
            EventLog.error("running_operation_caught_error", "code" -> "Q001",
              "exc" -> String.valueOf(e.getMessage))
            sys.exit(1)
        }
      case "docs" =>
        // the vendored dbt docs SPA (index.html) fetches manifest.json
        // + catalog.json at load — write all three together
        engine.writeDocsArtifacts(targetDir)
        graft.run.Artifacts.writeLineageDot(s"$targetDir/graph.dot",
          engine.manifest)
        graft.run.Artifacts.writeLineageHtml(s"$targetDir/lineage.html",
          engine.manifest)
        println(s"wrote $targetDir/{manifest,catalog}.json, graph.dot, " +
          s"index.html (dbt docs app), static_index.html and lineage.html")
        // --serve: block on a local static server over target/
        // (reference `dbt docs serve`, core/dbt/task/docs/serve.py)
        if (opts.contains("serve")) {
          val port = opts.getOrElse("port", "8080").toInt
          val server = DocsServer.serve(targetDir, port)
          println(s"serving docs at http://127.0.0.1:${server.getAddress.getPort}/ (ctrl-c to stop)")
          Thread.currentThread().join()
        }
      case other =>
        println(s"unknown command: $other\n$usage"); sys.exit(2)
    }
    spark.stop()
  }

  /** `run`, `seed`, `snapshot`, `test` and `build`: one engine run over
    * the command's resource types, every selection and execution flag
    * honoured alike (reference `GraphRunnableTask` behind all five). */
  private[run] def runNodes(engine: Engine, command: String,
      opts: Map[String, String], select: Seq[String], exclude: Seq[String],
      threads: Int): Seq[graft.exec.Materializer.Result] = {
    engine.forceStoreFailures = opts.contains("store-failures")
    engine.run(select, exclude, threads, Engine.commandTypes(command),
      failFast = opts.contains("fail-fast"),
      fullRefresh = opts.contains("full-refresh"),
      indirectSelection = opts.getOrElse("indirect-selection", "eager"))
  }

  /** Reference spellings: `list` is the primary name (`ls` the
    * alias), and freshness is the `source freshness` subcommand
    * (ref `core/dbt/cli/main.py` command groups).
    */
  /** One `dbt ls` output line for a node (reference
    * core/dbt/task/list.py:100-150): `selector` is the fqn-joined
    * dotted path with a `type:` prefix for non-fqn-addressed types,
    * `name` the search name, `path` the originating file, `json` a
    * per-node object restricted to ALLOWED_KEYS or --output-keys.
    */
  private[run] def lsLine(n: graft.core.Node, mode: String,
      outputKeys: Option[Set[String]]): String = {
    import graft.core._
    def originOf: String = n match {
      case m: ModelNode => m.originPath
      case s: SeedNode => s.originPath
      case s: SnapshotNode => s.originPath
      case t: TestNode => t.originPath
      case s: SourceNode => s.path
      case p: PythonModelNode => p.originPath
      case _ => ""
    }
    def fqn: Seq[String] = {
      // models/marts/fct.sql → intermediate dirs [marts]; reference fqn
      // = [package] ++ subfolders ++ [name] (++ [vN] for versioned
      // models, nodes.py fqn building)
      val parts = originOf.split('/').toSeq
      val dirs = if (parts.size > 2) parts.drop(1).dropRight(1) else Nil
      val ver = n match {
        case m: ModelNode => m.version.map(v => s"v$v").toSeq
        case _ => Nil
      }
      ((n.packageName +: dirs) :+ n.name) ++ ver
    }
    def selector: String = n match {
      case s: SourceNode => s"source:${s.packageName}.${s.sourceName}.${s.name}"
      case e: ExposureNode => s"exposure:${e.packageName}.${e.name}"
      case m: MetricNode => s"metric:${m.packageName}.${m.name}"
      case q: SavedQueryNode => s"saved_query:${q.packageName}.${q.name}"
      case sm: SemanticModelNode => s"semantic_model:${sm.packageName}.${sm.name}"
      case u: UnitTestNode => s"unit_test:${u.packageName}.${u.name}"
      case _ => fqn.mkString(".")
    }
    def searchName: String = n match {
      case s: SourceNode => s"${s.sourceName}.${s.name}"
      case _ => n.name
    }
    def json: String = {
      import graft.run.Artifacts.jstr
      // reference ALLOWED_KEYS (task/list.py:42-55): config is the
      // node-config dict, source_name present only for sources
      val configObj = Seq(
        "materialized" -> jstr(n.config.materialized),
        "enabled" -> n.config.enabled.toString,
        "tags" -> n.config.tags.toSeq.sorted.map(jstr).mkString("[", ",", "]"))
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      val all: Seq[(String, String)] = Seq(
        "name" -> jstr(n.name),
        "resource_type" -> jstr(n.resourceType),
        "package_name" -> jstr(n.packageName),
        "original_file_path" -> jstr(originOf),
        "unique_id" -> jstr(n.uniqueId),
        "alias" -> n.config.alias.map(jstr).getOrElse("null"),
        "config" -> configObj,
        "tags" -> n.config.tags.toSeq.sorted.map(jstr).mkString("[", ",", "]"),
        "depends_on" ->
          s"""{"nodes":${n.dependsOn.map(jstr).mkString("[", ",", "]")}}""") ++
        (n match {
          case s: SourceNode => Seq("source_name" -> jstr(s.sourceName))
          case _ => Nil
        })
      val keep = outputKeys.getOrElse(all.map(_._1).toSet)
      all.filter(kv => keep(kv._1))
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    }
    mode match {
      case "json" => json
      case "name" => searchName
      case "path" => originOf
      case _ => selector
    }
  }

  private[run] def normalizeCommand(args: Array[String]): (String, List[String]) =
    args.head match {
      case "list" => ("ls", args.tail.toList)
      case "source" if args.length > 1 && args(1) == "freshness" =>
        ("freshness", args.drop(2).toList)
      case c => (c, args.tail.toList)
    }

  private[run] def parseOpts(args: List[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: tail if flag.startsWith("--") =>
          // reference spelling aliases (cli/params.py): --project-dir
          // is the reference's name for our --project; --models/--model
          // are the deprecated list/ls spellings of --select
          val key = flag.drop(2) match {
            case "project-dir" => "project"
            case "models" | "model" => "select"
            // --defer-state names a state dir used for defer only; the
            // engine's single --state dir serves both selection and
            // defer, so the reference spelling folds into it
            case "defer-state" => "state"
            case "resource-types" => "resource-type"
            case "exclude-resource-types" => "exclude-resource-type"
            case other => other
          }
          tail match {
            case v :: t2 if !v.startsWith("--") =>
              // greedily absorb space-separated values (for --select a b)
              val (vals, t3) = t2.span(x => !x.startsWith("--"))
              loop(t3, acc + (key -> (v +: vals).mkString(" ")))
            case _ => loop(tail, acc + (key -> "true"))
          }
        case _ :: tail => loop(tail, acc)
      }
    loop(args, Map.empty)
  }

  private val usage: String =
    """usage: graft.run.Cli <run|test|build|seed|snapshot|ls|compile|show|freshness|retry|docs|deps|run-operation|parse|debug|clone|init|clean>
      |  --project <dir> [--warehouse <dir>] [--target <profile-target>]
      |  [--target-path <dir>] [--threads N]
      |  [--select a b] [--exclude c] [--selector <name>] [--vars k=v,...] [--full-refresh]
      |  [--inline "<sql>"] [--limit N] [--empty] [--log-format text|json]
      |  [--warn-error] [--warn-error-options '{"include": ..., "exclude": ..., "silence": ...}']
      |  [--fail-fast] [--quiet] [--profiles-dir <dir>]
      |  [--state <artifact-dir>] [--state-project <dir> [--state-warehouse <dir>]] [--defer] [--favor-state]
      |  [--indirect-selection eager|cautious|buildable|empty]
      |  ls [--resource-type model,seed,...] [--output selector|name|path|json] [--output-keys "name unique_id ..."]
      |  run-operation <macro> [--args k=v,...]
      |  clone --state-warehouse <dir> [--deep]""".stripMargin
}
