package graft.run

import org.scalatest.funsuite.AnyFunSuite

class CliSpec extends AnyFunSuite {

  test("option parsing: flags, values, multi-values, booleans") {
    val opts = Cli.parseOpts(List(
      "--project", "/p", "--select", "a", "b+", "--threads", "8",
      "--full-refresh", "--vars", "k=v,x=y"))
    assert(opts("project") === "/p")
    assert(opts("select") === "a b+")
    assert(opts("threads") === "8")
    assert(opts("full-refresh") === "true")
    assert(opts("vars") === "k=v,x=y")
  }

  test("trailing boolean flag and empty args") {
    assert(Cli.parseOpts(Nil) === Map.empty)
    val opts = Cli.parseOpts(List("--warehouse", "/w", "--full-refresh"))
    assert(opts === Map("warehouse" -> "/w", "full-refresh" -> "true"))
  }

  test("new flags parse: fail-fast, quiet, profiles-dir, resource-type, output") {
    val opts = Cli.parseOpts(List(
      "--fail-fast", "--quiet", "--profiles-dir", "/profs",
      "--resource-type", "model,seed", "--output", "json",
      "--indirect-selection", "cautious"))
    assert(opts("fail-fast") === "true")
    assert(opts("quiet") === "true")
    assert(opts("profiles-dir") === "/profs")
    assert(opts("resource-type") === "model,seed")
    assert(opts("output") === "json")
    assert(opts("indirect-selection") === "cautious")
  }

  test("profiles-dir flag beats the project-dir profiles.yml") {
    val proj = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("cli_proj"))
    val profs = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("cli_profs"))
    java.nio.file.Files.writeString(proj.resolve("dbt_project.yml"), "name: p1\n")
    java.nio.file.Files.writeString(proj.resolve("profiles.yml"),
      """p1:
        |  target: local
        |  outputs:
        |    local:
        |      schema: from_project
        |""".stripMargin)
    java.nio.file.Files.writeString(profs.resolve("profiles.yml"),
      """p1:
        |  target: flagged
        |  outputs:
        |    flagged:
        |      schema: from_flag
        |""".stripMargin)
    val viaProject = graft.parse.ProjectLoader.resolveTarget(proj.toString, None)
    assert(viaProject.flatMap(_.schema) === Some("from_project"))
    val viaFlag = graft.parse.ProjectLoader.resolveTarget(
      proj.toString, None, Some(profs.toString))
    assert(viaFlag.flatMap(_.schema) === Some("from_flag"))
  }

  test("state/defer flags parse (CLI analog of --state/--defer)") {
    val o = Cli.parseOpts(List("--state-project", "/tmp/prod",
      "--state-warehouse", "/tmp/prod_wh", "--defer",
      "--select", "state:modified+"))
    assert(o("state-project") === "/tmp/prod")
    assert(o("state-warehouse") === "/tmp/prod_wh")
    assert(o("defer") === "true")
    assert(o("select") === "state:modified+")
  }

  test("command normalization: list alias, source freshness subcommand") {
    assert(Cli.normalizeCommand(Array("list", "--select", "a")) ===
      ("ls", List("--select", "a")))
    assert(Cli.normalizeCommand(Array("ls")) === ("ls", Nil))
    assert(Cli.normalizeCommand(Array("source", "freshness", "--select", "s")) ===
      ("freshness", List("--select", "s")))
    // bare `source` is not a command; left untouched for the unknown-
    // command error path
    assert(Cli.normalizeCommand(Array("source")) === ("source", Nil))
    assert(Cli.normalizeCommand(Array("run", "--threads", "2")) ===
      ("run", List("--threads", "2")))
  }

  test("docs server: serves generated files, 404s outside the root") {
    val dir = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("docs_srv"))
    java.nio.file.Files.writeString(dir.resolve("index.html"), "<html>lineage</html>")
    java.nio.file.Files.writeString(dir.resolve("catalog.json"), "{\"nodes\":{}}")
    val server = DocsServer.serve(dir.toString, 0)
    try {
      val port = server.getAddress.getPort
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        val body = new String(is.readAllBytes(), "UTF-8")
        (code, body)
      }
      assert(get("/") === ((200, "<html>lineage</html>")))
      assert(get("/catalog.json")._1 === 200)
      assert(get("/nope.html")._1 === 404)
      assert(get("/../etc/passwd")._1 === 404) // path traversal stays inside root
    } finally server.stop(0)
  }

  test("event log: json lines are machine-parseable, text is one-line") {
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val (f0, s0, l0) = (EventLog.format, EventLog.sink, EventLog.minLevel)
    try {
      EventLog.format = "json"; EventLog.sink = captured += _; EventLog.minLevel = "info"
      EventLog.info("node_finished",
        "unique_id" -> "model.graft.x", "status" -> "success",
        "elapsed_sec" -> 1.25, "n" -> 3L,
        "message" -> "line1\nline2\t\"quoted\"")
      assert(captured.size === 1)
      // parse back (JSON is valid YAML; snakeyaml is the test harness'
      // parser of record)
      val m = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Any]](captured.head)
      assert(m.get("event") === "node_finished")
      assert(m.get("unique_id") === "model.graft.x")
      assert(m.get("status") === "success")
      assert(m.get("elapsed_sec") === 1.25)
      assert(m.get("n") === 3)
      assert(m.get("message") === "line1\nline2\t\"quoted\"")
      assert(m.containsKey("ts") && m.get("level") === "info")
      // level filter: debug below info is dropped
      EventLog.emit("noise", "debug", "x" -> 1)
      assert(captured.size === 1)
      // text mode: single line, key=value
      captured.clear(); EventLog.format = "text"
      EventLog.info("node_started", "unique_id" -> "model.graft.x")
      assert(captured.size === 1 && captured.head.contains("unique_id=model.graft.x")
        && !captured.head.contains("\n"))
    } finally { EventLog.format = f0; EventLog.sink = s0; EventLog.minLevel = l0 }
  }

  test("log file channel: always-JSON, always-debug, independent of console level") {
    // reference logs/dbt.log: file gets debug-level JSON even while the
    // console is quiet (minLevel=error) and in text mode
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val (f0, s0, l0) = (EventLog.format, EventLog.sink, EventLog.minLevel)
    val dir = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("graft_logs"))
    val logFile = dir.resolve("logs/dbt.log")
    try {
      EventLog.format = "text"; EventLog.sink = captured += _
      EventLog.minLevel = "error"
      EventLog.openLogFile(logFile)
      EventLog.emit("partial_parsing_enabled", "debug", "code" -> "I040",
        "changed" -> 1)
      EventLog.info("node_finished", "unique_id" -> "model.graft.x",
        "status" -> "success")
      EventLog.error("run_result_error", "code" -> "Z024", "unique_id" -> "t")
      // console saw ONLY the error (text mode)
      assert(captured.size === 1 && captured.head.contains("run_result_error"))
      EventLog.closeLogFile()
      val lines = java.nio.file.Files.readAllLines(logFile)
      assert(lines.size === 3, s"file channel must carry all levels: $lines")
      val yaml = new org.yaml.snakeyaml.Yaml()
      val events = lines.toArray.map(l =>
        yaml.load[java.util.Map[String, Any]](l.toString).get("event"))
      assert(events.toSeq === Seq("partial_parsing_enabled", "node_finished",
        "run_result_error"))
      // reopen appends, never truncates
      EventLog.openLogFile(logFile)
      EventLog.error("x", "more" -> 1)
      EventLog.closeLogFile()
      assert(java.nio.file.Files.readAllLines(logFile).size === 4)
    } finally {
      EventLog.closeLogFile()
      EventLog.format = f0; EventLog.sink = s0; EventLog.minLevel = l0
    }
  }

  test("ls output modes: selector/name/path/json + --output-keys (task/list.py)") {
    import graft.core._
    val m = ModelNode("fct_orders", "select 1",
      config = NodeConfig(tags = Set("nightly", "core")),
      dependsOn = Seq("model.graft.stg_orders"),
      originPath = "models/marts/fct_orders.sql")
    // selector = fqn dotted path: package + subfolders + name
    assert(Cli.lsLine(m, "selector", None) === "graft.marts.fct_orders")
    assert(Cli.lsLine(m, "name", None) === "fct_orders")
    assert(Cli.lsLine(m, "path", None) === "models/marts/fct_orders.sql")
    val j = Cli.lsLine(m, "json", None)
    assert(j.contains("\"unique_id\":\"model.graft.fct_orders\""))
    assert(j.contains("\"tags\":[\"core\",\"nightly\"]"))
    assert(j.contains("\"depends_on\":{\"nodes\":[\"model.graft.stg_orders\"]}"))
    assert(j.contains("\"alias\":null"))
    // --output-keys restricts to the requested keys only
    val jk = Cli.lsLine(m, "json", Some(Set("name", "resource_type")))
    assert(jk === "{\"name\":\"fct_orders\",\"resource_type\":\"model\"}")
    // sources: type-prefixed selector, dotted search name
    val src = SourceNode("raw", "orders", "warehouse/raw/orders.parquet")
    assert(Cli.lsLine(src, "selector", None) === "source:graft.raw.orders")
    assert(Cli.lsLine(src, "name", None) === "raw.orders")
    // exposures: type-prefixed pkg.name
    val e = ExposureNode("weekly_kpis")
    assert(Cli.lsLine(e, "selector", None) === "exposure:graft.weekly_kpis")
  }

  test("--warn-error-options: YAML parse, aliases, validation, exclusivity") {
    // reference WarnErrorOptionsType (cli/option_types.py:46-66):
    // include 'all' | [names]; error/warn are exclusive aliases of
    // include/exclude; names validate against the event-name table
    val o = WarnErrorOptions.parse(
      """{"include": "all", "exclude": ["NoNodeForYamlKey"], "silence": ["UnusedResourceConfigPath"]}""")
    assert(o.includeAll)
    assert(o.includes("LogTestResult"))
    assert(!o.includes("NoNodeForYamlKey"), "exclude beats include: all")
    assert(!o.includes("UnusedResourceConfigPath") &&
      o.silenced("UnusedResourceConfigPath"))
    // named include: only the listed class promotes
    val n = WarnErrorOptions.parse("""{"include": ["LogTestResult"]}""")
    assert(n.includes("LogTestResult") && !n.includes("NoNodeForYamlKey"))
    // error/warn aliases map onto include/exclude
    val a = WarnErrorOptions.parse(
      """{"error": ["LogTestResult"], "warn": ["NoNodeForYamlKey"]}""")
    assert(a.includes("LogTestResult") && a.exclude.contains("NoNodeForYamlKey"))
    // primary + alias together is the reference's validation error
    val both = intercept[IllegalArgumentException] {
      WarnErrorOptions.parse("""{"include": "all", "error": ["LogTestResult"]}""")
    }
    assert(both.getMessage.contains("not both"))
    // unknown event names are rejected (ALL_EVENT_NAMES analog)
    val unk = intercept[IllegalArgumentException] {
      WarnErrorOptions.parse("""{"include": ["Bogus"]}""")
    }
    assert(unk.getMessage.contains("Bogus"))
    // the CLI string parses through parseOpts as one value
    val opts = Cli.parseOpts(List("--warn-error-options",
      """{"include": ["LogTestResult"]}"""))
    assert(opts("warn-error-options") === """{"include": ["LogTestResult"]}""")
    // empty/default
    assert(WarnErrorOptions.parse("{}") === WarnErrorOptions.Empty)
  }

  // ---- reference flag-matrix parity audit (VERDICT r15 item 3) ----
  //
  // Every long flag from `core/dbt/cli/params.py` (command decorators in
  // `cli/main.py` + the global_flags group), classified:
  //   exists — the engine reads this exact option key (the string
  //            literal must appear in Cli.scala / Engine.scala);
  //   alias  — accepted under the reference spelling, normalized by
  //            parseOpts to an engine key (the mapping must exist);
  //   n/a    — architecturally not applicable, with reason (>= 10 chars).
  // The engine's option namespace is global click-style: any accepted
  // flag parses on every command and commands read the keys they honor —
  // the same superset direction as click's global_flags group.
  private val flagAudit: Seq[(String, String, String)] = Seq(
    ("--select", "exists", "select"),
    ("--exclude", "exists", "exclude"),
    ("--selector", "exists", "selector"),
    ("--vars", "exists", "vars"),
    ("--threads", "exists", "threads"),
    ("--target", "exists", "target"),
    ("--target-path", "exists", "target-path"),
    ("--profiles-dir", "exists", "profiles-dir"),
    ("--project-dir", "alias", "project-dir"),
    ("--full-refresh", "exists", "full-refresh"),
    ("--store-failures", "exists", "store-failures"),
    ("--empty", "exists", "empty"),
    ("--inline", "exists", "inline"),
    ("--limit", "exists", "limit"),
    ("--args", "exists", "args"),
    ("--output", "exists", "output"),
    ("--output-keys", "exists", "output-keys"),
    ("--resource-type", "exists", "resource-type"),
    ("--resource-types", "alias", "resource-types"),
    ("--exclude-resource-type", "exists", "exclude-resource-type"),
    ("--exclude-resource-types", "alias", "exclude-resource-types"),
    ("--models", "alias", "models"),
    ("--model", "alias", "model"),
    ("--state", "exists", "state"),
    ("--defer-state", "alias", "defer-state"),
    ("--indirect-selection", "exists", "indirect-selection"),
    ("--log-format", "exists", "log-format"),
    ("--log-level", "exists", "log-level"),
    ("--log-path", "exists", "log-path"),
    ("--warn-error", "exists", "warn-error"),
    ("--warn-error-options", "exists", "warn-error-options"),
    ("--version", "exists", "--version"),
    ("--connection", "exists", "connection"),
    ("--port", "exists", "port"),
    ("--source", "exists", "source"),
    // booleans spelled via click flag pairs in the reference
    ("--fail-fast", "exists", "fail-fast"),
    ("--quiet", "exists", "quiet"),
    ("--no-partial-parse", "exists", "no-partial-parse"),
    ("--no-write-json", "exists", "no-write-json"),
    ("--defer", "exists", "defer"),
    ("--favor-state", "exists", "favor-state"),
    // ---- n/a rows, each with its architectural reason ----
    ("--add-package", "n/a", "deps installs from packages.yml only; editing it belongs to the user in a zero-egress build"),
    ("--lock", "n/a", "the hermetic deps flow writes package-lock.yml on every install; a lock-only pass has nothing extra to do"),
    ("--upgrade", "n/a", "hub/git upgrade resolution needs network egress, excluded by design (m13 hermetic equivalents)"),
    ("--config-dir", "n/a", "debug prints the resolved project/profile paths unconditionally; there is no separate config dir"),
    ("--static", "n/a", "docs generate always writes static_index.html alongside the SPA — the flag's behavior is the default"),
    ("--empty-catalog", "n/a", "the catalog builds from the engine's in-memory warehouse map; there are no warehouse introspection queries to skip"),
    ("--skip-profile-setup", "n/a", "init scaffolds a complete project including profiles.yml; no interactive profile wizard exists to skip"),
    ("--partial-parse-file-path", "n/a", "partial-parse state lives at a content-addressed path under target/; relocating it has no use case"),
    ("--log-format-file", "n/a", "the file log channel is always JSON at debug level by design (CliSpec pins this)"),
    ("--log-level-file", "n/a", "the file log channel is always JSON at debug level by design (CliSpec pins this)"),
    ("--log-file-max-bytes", "n/a", "log rotation is delegated to the host; the engine writes one file per invocation"),
    ("--printer-width", "n/a", "no interactive progress printer; output is event lines"),
    ("--record-timing-info", "n/a", "per-node timing is always recorded in run_results.json"),
    ("--profile", "exists", "profile"),
    ("--deprecated-defer", "n/a", "deprecated spelling in the reference itself"),
    ("--deprecated-favor-state", "n/a", "deprecated spelling in the reference itself"),
    ("--deprecated-state", "n/a", "deprecated spelling in the reference itself"),
    ("--show", "n/a", "the seed/build inline preview duplicates the first-class `show` command, which is wired (--inline/--limit)"))

  test("reference CLI flag matrix: exists keys are read, aliases normalize, n/a rows carry reasons") {
    val cliSrc = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/run/Cli.scala"))
    val engineSrc = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/run/Engine.scala"))
    val src = cliSrc + engineSrc
    for ((flag, disp, detail) <- flagAudit) disp match {
      case "exists" =>
        assert(src.contains("\"" + detail + "\""),
          s"$flag: option key <$detail> not read anywhere in Cli/Engine")
      case "alias" =>
        val key = detail
        assert(cliSrc.contains("\"" + key + "\""),
          s"$flag: alias spelling <$key> not normalized in parseOpts")
      case "n/a" =>
        assert(detail.length >= 10, s"$flag: n/a reason too thin")
      case other => fail(s"$flag: unknown disposition $other")
    }
    // no duplicate rows; every reference long flag from params.py is
    // covered (spot-pin the count so a reference-side addition is a
    // loud diff next audit, not a silent omission)
    assert(flagAudit.map(_._1).distinct.size === flagAudit.size)
    assert(flagAudit.size >= 57)
  }

  test("--profile selects a named profiles.yml entry; a missing name is a hard error") {
    val proj = graft.SparkSpec.registerScratch(
      java.nio.file.Files.createTempDirectory("cli_profsel"))
    java.nio.file.Files.writeString(proj.resolve("dbt_project.yml"), "name: p1\n")
    java.nio.file.Files.writeString(proj.resolve("profiles.yml"),
      """p1:
        |  target: local
        |  outputs:
        |    local:
        |      schema: main_schema
        |alt:
        |  target: other
        |  outputs:
        |    other:
        |      schema: alt_schema
        |""".stripMargin)
    import graft.parse.ProjectLoader
    // default: keyed by project name
    assert(ProjectLoader.resolveTarget(proj.toString, None)
      .get.schema === Some("main_schema"))
    // --profile overrides the project-name keying
    assert(ProjectLoader.resolveTarget(proj.toString, None, None, Some("alt"))
      .get.schema === Some("alt_schema"))
    val e = intercept[IllegalArgumentException](
      ProjectLoader.resolveTarget(proj.toString, None, None, Some("nope")))
    assert(e.getMessage.contains("Could not find profile named 'nope'"))
  }

  test("alias spellings normalize to engine keys in parseOpts") {
    val opts = Cli.parseOpts(List(
      "--project-dir", "/p", "--models", "m1", "--defer-state", "/st",
      "--resource-types", "model,seed", "--exclude-resource-types", "test"))
    assert(opts("project") === "/p")
    assert(opts("select") === "m1")
    assert(opts("state") === "/st")
    assert(opts("resource-type") === "model,seed")
    assert(opts("exclude-resource-type") === "test")
  }

  test("every node command honours --exclude and --fail-fast (build and test too)") {
    val proj = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("cli_nodes"))
    def write(rel: String, content: String): Unit = {
      val p = proj.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content): Unit
    }
    write("dbt_project.yml", "name: clinodes\n")
    // with one thread, a_bad runs first (lowest depth, then id)
    write("models/a_bad.sql", "SELECT no_such_col FROM range(1)")
    write("models/b.sql", "SELECT 1 AS id")
    write("models/c.sql", "SELECT 2 AS id")
    write("tests/a_fails.sql", "SELECT 1 AS id")
    write("models/schema.yml",
      """models:
        |  - name: b
        |    columns:
        |      - name: id
        |        tests: [not_null]
        |""".stripMargin)
    // Cli.main stops the session at its end, so drive the dispatch itself
    val eng = Engine.fromProject(graft.SparkSpec.session, proj.toString,
      graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("cli_nodes_wh")).toString)
    def ids(command: String, exclude: Seq[String], flags: String*): Set[String] =
      Cli.runNodes(eng, command, Cli.parseOpts(flags.toList), Nil, exclude, threads = 1)
        .map(_.uniqueId.split('.').last).toSet
    assert(ids("build", Seq("c")) === Set("a_bad", "b", "not_null_b_id", "a_fails"))
    assert(ids("build", Nil, "--fail-fast") === Set("a_bad"))
    assert(ids("test", Seq("a_fails")) === Set("not_null_b_id"))
    assert(ids("test", Nil, "--fail-fast") === Set("a_fails"))
    assert(ids("run", Seq("a_bad"), "--fail-fast") === Set("b", "c"))
  }
}
