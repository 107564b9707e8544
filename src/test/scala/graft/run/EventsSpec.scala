package graft.run

import org.scalatest.funsuite.AnyFunSuite

/** The structured-event coverage boundary is a measured fact:
  *  - the set of event-code literals at emit sites in main sources
  *    equals Events.table's Emitted set exactly (no phantom table rows,
  *    no unregistered emits);
  *  - EVENTS.md matches the generated markdown;
  *  - every reference code appears exactly once in the table, and the
  *    snake_case event names are unique across emitted rows.
  */
class EventsSpec extends AnyFunSuite {

  /** Emit sites live in these trees; queries/ is excluded because gate
    * fixtures quote codes in oracle strings, tools/ because EventsMd
    * prints counts. Events.scala itself is the table, not a site. */
  private val scanDirs = Seq("run", "parse", "exec", "graph", "render",
    "streaming", "plans", "functions", "sources")

  /** The three emit shapes: `"code" -> "XNNN"` (EventLog fields), the
    * resultLine `("event_name", "XNNN")` tuples, and the deprecation
    * `(name, "XNNN", msg)` triples. Anchored so unrelated "C444"-style
    * literals (Y4M colorspace tags etc.) never match. */
  private val emitShapes = Seq(
    """"code"\s*->\s*"([A-Z]\d{3})"""".r,
    """\("[a-z_]+", "([A-Z]\d{3})"\)""".r,
    """", "([A-Z]\d{3})",""".r)

  private def emitSiteCodes: Set[String] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    scanDirs.flatMap { d =>
      val dir = root.resolve(d)
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val files = java.nio.file.Files.walk(dir).iterator()
        val buf = scala.collection.mutable.ArrayBuffer[String]()
        files.forEachRemaining { f =>
          if (f.toString.endsWith(".scala") &&
              !f.getFileName.toString.equals("Events.scala")) {
            java.nio.file.Files.readAllLines(f).forEach { line =>
              val t = line.trim
              if (!t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*"))
                emitShapes.foreach(
                  _.findAllMatchIn(line).foreach(m => buf += m.group(1)))
            }
          }
        }
        buf
      }
    }.toSet
  }

  test("emit-site code literals == Events.table Emitted set") {
    val sites = emitSiteCodes
    val table = Events.emittedCodes
    val unregistered = sites -- table
    val phantom = table -- sites
    assert(unregistered.isEmpty,
      s"codes emitted but not Emitted in Events.table: ${unregistered.toSeq.sorted}")
    assert(phantom.isEmpty,
      s"codes Emitted in Events.table but never emitted: ${phantom.toSeq.sorted}")
  }

  test("EVENTS.md matches the generated table") {
    val path = java.nio.file.Paths.get("EVENTS.md")
    assert(java.nio.file.Files.exists(path),
      "EVENTS.md missing — run `sbt \"runMain graft.tools.EventsMd\"`")
    assert(java.nio.file.Files.readString(path) == Events.markdown,
      "EVENTS.md is stale — run `sbt \"runMain graft.tools.EventsMd\"`")
  }

  test("table shape: 169 unique codes, unique emitted event names") {
    assert(Events.table.size == 169)
    assert(Events.table.map(_.code).distinct.size == 169)
    val events = Events.table.filter(_.status == Events.Emitted).map(_.event)
    assert(events.forall(_.nonEmpty))
    // `deprecation` is deliberately shared by the D-coded rows (one
    // event stream keyed by the code field, like the reference's
    // deprecations funnel); all other event names are unique
    val nonDep = events.filterNot(_ == "deprecation")
    assert(nonDep.distinct.size == nonDep.size,
      s"duplicate event names: ${nonDep.diff(nonDep.distinct).distinct}")
  }

  test("runtime smoke: a failing run emits the coded lifecycle set") {
    // the cheap end-to-end: one project with a passing model, a failing
    // test and a skipped dependent covers start/result/skip/summary
    val root = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("events_smoke"))
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content): Unit
    }
    write("dbt_project.yml", "name: smoke\n")
    write("models/base.sql", "SELECT 1 AS id UNION ALL SELECT 1 AS id")
    write("models/child.sql", "SELECT * FROM {{ ref('base') }}")
    write("models/schema.yml",
      """models:
        |  - name: base
        |    columns:
        |      - name: id
        |        data_tests: [unique]
        |""".stripMargin)
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val (f0, s0, l0) = (EventLog.format, EventLog.sink, EventLog.minLevel)
    val codes = try {
      EventLog.format = "json"
      EventLog.minLevel = "debug"
      EventLog.sink = s => captured.synchronized { captured += s; () }
      val spark = graft.SparkSpec.session
      val eng = Engine.fromProject(spark, root.toString,
        graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("events_wh")).toString)
      eng.build()
      val re = """"code": "([A-Z]\d{3})"""".r
      captured.flatMap(l => re.findFirstMatchIn(l).map(_.group(1))).toSet
    } finally { EventLog.format = f0; EventLog.sink = s0; EventLog.minLevel = l0 }
    val expected = Set("W006", "Q027", "Q024", "Q011", "Z010", "Q012",
      "Q007", "Q025", "Q034", "Z034", "Z027", "Z022", "Z024", "Z023", "Z030")
    val missing = expected -- codes
    assert(missing.isEmpty, s"lifecycle codes not observed: $missing " +
      s"(saw ${codes.toSeq.sorted})")
    // and every observed code is a registered Emitted row
    val unregistered = codes -- Events.emittedCodes
    assert(unregistered.isEmpty, s"unregistered codes observed: $unregistered")
  }

  test("graft test runs the run hooks and emits the per-node lifecycle codes") {
    val root = graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("events_test"))
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content): Unit
    }
    write("dbt_project.yml",
      """name: testcmd
        |on-run-start: "SELECT 1"
        |on-run-end: "SELECT 2"
        |""".stripMargin)
    write("models/base.sql", "SELECT 1 AS id")
    write("models/schema.yml",
      """models:
        |  - name: base
        |    columns:
        |      - name: id
        |        data_tests: [not_null]
        |""".stripMargin)
    // a test that errors at execution (W004), beside one that passes
    write("tests/broken.sql", "SELECT no_such_col FROM {{ ref('base') }}")
    val spark = graft.SparkSpec.session
    val eng = Engine.fromProject(spark, root.toString,
      graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("events_test_wh")).toString)
    assert(eng.run().forall(_.status == "success"))
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val (f0, s0, l0) = (EventLog.format, EventLog.sink, EventLog.minLevel)
    val (results, codes) = try {
      EventLog.format = "json"
      EventLog.minLevel = "debug"
      EventLog.sink = s => captured.synchronized { captured += s; () }
      val res = eng.test()
      val re = """"code": "([A-Z]\d{3})"""".r
      (res, captured.flatMap(l => re.findFirstMatchIn(l).map(_.group(1))).toSet)
    } finally { EventLog.format = f0; EventLog.sink = s0; EventLog.minLevel = l0 }
    assert(results.map(_.status).sorted === Seq("error", "pass"), results.mkString("; "))
    val expected = Set("Q032", "Q033", "Q024", "Q011", "Q025", "Z010", "W004",
      "Q007", "Z023", "Z030")
    val missing = expected -- codes
    assert(missing.isEmpty, s"lifecycle codes not observed: $missing " +
      s"(saw ${codes.toSeq.sorted})")
  }
}
