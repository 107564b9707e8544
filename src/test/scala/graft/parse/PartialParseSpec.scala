package graft.parse

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** A31 partial parsing (reference `core/dbt/parser/partial.py` +
  * `tests/functional/partial_parsing/test_partial_parsing.py`):
  * a second invocation reuses the saved per-file parse state, reparsing
  * exactly the changed/added files plus anything whose out-of-file
  * inputs (schema-yml patch, versions entry, config-tree slice)
  * changed. The warm manifest must equal a cold parse's bit for bit.
  */
class PartialParseSpec extends AnyFunSuite {

  private def mkProject(nModels: Int = 6): Path = {
    val dir = graft.SparkSpec.registerScratch(Files.createTempDirectory("pp_proj"))
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("seeds"))
    Files.createDirectories(dir.resolve("snapshots"))
    Files.createDirectories(dir.resolve("tests"))
    Files.createDirectories(dir.resolve("macros"))
    Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\n")
    (0 until nModels).foreach { i =>
      Files.writeString(dir.resolve(s"models/m_$i.sql"),
        s"SELECT $i AS id, 'x' AS payload")
    }
    Files.writeString(dir.resolve("models/schema.yml"),
      """models:
        |  - name: m_0
        |    description: the zeroth
        |    columns:
        |      - name: id
        |        tests: [not_null]
        |""".stripMargin)
    Files.writeString(dir.resolve("seeds/s1.csv"), "a,b\n1,2\n")
    Files.writeString(dir.resolve("snapshots/snap1.sql"),
      """{{ config(strategy='timestamp', unique_key='id', updated_at='ts') }}
        |SELECT * FROM {{ ref('m_0') }}""".stripMargin)
    Files.writeString(dir.resolve("tests/t1.sql"),
      "SELECT * FROM {{ ref('m_0') }} WHERE id < 0")
    Files.writeString(dir.resolve("macros/helpers.sql"),
      "{% macro shout(x) %}{{ x }}!{% endmacro %}")
    dir
  }

  private def load(dir: Path): graft.parse.ProjectLoader.Project =
    ProjectLoader.load(dir.toString, PartialParse.Options(env = Map.empty))

  private def stats(p: ProjectLoader.Project): PartialParse.Stats =
    p.partialStats.getOrElse(fail("partialStats missing"))

  test("a CLI vars change re-walks the .sql files") {
    val dir = mkProject()
    Files.writeString(dir.resolve("models/m_1.sql"),
      "{{ config(materialized=var('mat', 'table')) }}\nSELECT 1 AS id")
    def loadWith(vars: Map[String, String]): ProjectLoader.Project =
      ProjectLoader.load(dir.toString, Some(PartialParse.Options(env = Map.empty)),
        vars, Map.empty)
    def mat(p: ProjectLoader.Project): String =
      p.manifest.nodes.values.collectFirst {
        case m: graft.core.ModelNode if m.name == "m_1" => m.config.materialized
      }.get
    assert(mat(loadWith(Map.empty)) === "table")
    assert(stats(loadWith(Map.empty)).parsed === 0, "same vars: everything reused")
    val changed = loadWith(Map("mat" -> "view"))
    assert(mat(changed) === "view", "the walk sees the CLI var")
    // 6 models, 1 snapshot, 1 singular test re-walk; the schema yml,
    // seed and macro file do not read vars
    assert(stats(changed).parsed === 8)
    assert(stats(changed).reused === 3)
  }

  test("an env var or macro the walk read re-walks its file when it changes") {
    val dir = mkProject()
    Files.writeString(dir.resolve("models/m_1.sql"),
      """{{ config(materialized=env_var('MAT', 'table')) }}
        |SELECT * FROM {{ ref(env_var('SRC')) }}""".stripMargin)
    Files.writeString(dir.resolve("models/m_2.sql"), "SELECT * FROM {{ up() }}")
    Files.writeString(dir.resolve("macros/up.sql"),
      "{% macro up() %}{{ ref('m_3') }}{% endmacro %}")
    def loadEnv(env: Map[String, String]): ProjectLoader.Project =
      ProjectLoader.load(dir.toString, PartialParse.Options(env = env))
    def model(p: ProjectLoader.Project, name: String): graft.core.ModelNode =
      p.manifest.nodes.values.collectFirst {
        case m: graft.core.ModelNode if m.name == name => m
      }.get
    val env = Map("SRC" -> "m_0")
    assert(model(loadEnv(env), "m_1").refs === Seq("m_0"))
    assert(stats(loadEnv(env)).parsed === 0, "same env: everything reused")

    val changed = loadEnv(Map("SRC" -> "m_4", "MAT" -> "view"))
    assert(model(changed, "m_1").refs === Seq("m_4"))
    assert(model(changed, "m_1").config.materialized === "view")
    assert(stats(changed).parsed === 1, "only the file that read the env vars")

    assert(model(changed, "m_2").refs === Seq("m_3"))
    Files.writeString(dir.resolve("macros/up.sql"),
      "{% macro up() %}{{ ref('m_5') }}{% endmacro %}")
    val edited = loadEnv(Map("SRC" -> "m_4", "MAT" -> "view"))
    assert(model(edited, "m_2").refs === Seq("m_5"), "the caller re-walks")
    // the macro file and the one model that called it
    assert(stats(edited).parsed === 2)
  }

  test("cold parse: full, state saved; warm parse: everything reused, manifest identical") {
    val dir = mkProject()
    val cold = load(dir)
    val st0 = stats(cold)
    assert(st0.enabled && !st0.stateLoaded)
    assert(st0.parsed > 0 && st0.reused == 0)
    assert(Files.exists(dir.resolve("target/partial_parse.bin")))

    val warm = load(dir)
    val st1 = stats(warm)
    assert(st1.stateLoaded)
    assert(st1.parsed == 0, s"warm reparse parsed ${st1.parsed} files: ${st1.changed}")
    assert(st1.reused == st0.parsed)
    assert(st1.skipped)
    assert(warm.manifest === cold.manifest, "warm manifest must equal cold parse")
  }

  test("editing one model file reparses exactly that file") {
    val dir = mkProject()
    load(dir)
    Files.writeString(dir.resolve("models/m_3.sql"), "SELECT 33 AS id")
    val p = load(dir)
    val st = stats(p)
    assert(st.parsed == 1)
    assert(st.changed === Seq("models/m_3.sql"))
    assert(st.added.isEmpty && st.deleted.isEmpty)
    assert(p.manifest.models.get("model.graft.m_3").map(_.rawSql).orNull == "SELECT 33 AS id")
  }

  test("editing a schema yml reparses the yml plus exactly the models it patches") {
    val dir = mkProject()
    load(dir)
    // patch m_0's description — m_0's cache context changes; m_1..m_5,
    // seeds, snapshots, tests, macros must all replay from state
    Files.writeString(dir.resolve("models/schema.yml"),
      """models:
        |  - name: m_0
        |    description: UPDATED
        |    columns:
        |      - name: id
        |        tests: [not_null]
        |""".stripMargin)
    val p = load(dir)
    val st = stats(p)
    assert(st.changed === Seq("models/schema.yml"))
    assert(st.parsed == 2, s"expected yml+m_0 only, got ${st.parsed}")
    assert(p.manifest.models.get("model.graft.m_0").map(_.description).orNull == "UPDATED")
    // byte-identical to a cold parse of the same tree
    val coldDir = dir // force full: drop state
    Files.delete(coldDir.resolve("target/partial_parse.bin"))
    val cold = load(coldDir)
    assert(p.manifest === cold.manifest)
  }

  test("editing a seeds:/snapshots: yml entry reparses the seed/snapshot, not the models") {
    val dir = mkProject()
    Files.writeString(dir.resolve("seeds/seeds.yml"),
      """seeds:
        |  - name: s1
        |    config:
        |      column_types:
        |        a: bigint
        |""".stripMargin)
    val p0 = load(dir)
    assert(p0.manifest.seeds.values.find(_.name == "s1")
      .map(_.columnTypes).contains(Map("a" -> "bigint")))
    // widen the cast — the yml patch is part of the seed file's cache
    // context, so a content-only cache must NOT serve the stale seed
    Files.writeString(dir.resolve("seeds/seeds.yml"),
      """seeds:
        |  - name: s1
        |    config:
        |      column_types:
        |        a: double
        |""".stripMargin)
    val p = load(dir)
    val st = stats(p)
    assert(st.changed === Seq("seeds/seeds.yml"))
    assert(p.manifest.seeds.values.find(_.name == "s1")
      .map(_.columnTypes).contains(Map("a" -> "double")))
    // the seed reparsed; the model files replayed from state (yml +
    // seed csv (+ snapshot file: its ctx carries ALL snapshot patches))
    assert(st.parsed <= 3, s"expected yml+seed(+snapshot) only, got ${st.parsed}")
    // byte-identical to a cold parse of the same tree
    Files.delete(dir.resolve("target/partial_parse.bin"))
    val cold = load(dir)
    assert(p.manifest === cold.manifest)
  }

  test("adding and deleting files is reported and reflected") {
    val dir = mkProject()
    load(dir)
    Files.writeString(dir.resolve("models/m_new.sql"), "SELECT 99 AS id")
    Files.delete(dir.resolve("models/m_5.sql"))
    val p = load(dir)
    val st = stats(p)
    assert(st.added === Seq("models/m_new.sql"))
    assert(st.deleted === Seq("models/m_5.sql"))
    assert(st.parsed == 1) // only the new file
    assert(p.manifest.models.contains("model.graft.m_new"))
    assert(!p.manifest.models.contains("model.graft.m_5"))
  }

  test("redefining a special override macro drops the whole cache") {
    val dir = mkProject()
    load(dir)
    // a generate_schema_name override changes how every file resolves
    // (reference partial.py:52-59 special_override_macros)
    Files.writeString(dir.resolve("macros/helpers.sql"),
      "{% macro generate_schema_name(n) %}x_{{ n }}{% endmacro %}")
    val p = load(dir)
    val st = stats(p)
    assert(st.fullReason.exists(_.contains("generate_schema_name")))
    assert(st.reused == 0, "special macro change must invalidate everything")
    // and DELETING it afterwards also forces a full reparse
    Files.delete(dir.resolve("macros/helpers.sql"))
    val p2 = load(dir)
    assert(stats(p2).fullReason.exists(_.contains("generate_schema_name")))
  }

  test("disablement precedence: env beats project flag; Options beats env") {
    val dir = mkProject()
    // project flag off
    Files.writeString(dir.resolve("dbt_project.yml"),
      "name: pp\nflags:\n  partial_parse: false\n")
    val p1 = ProjectLoader.load(dir.toString, PartialParse.Options(env = Map.empty))
    assert(!stats(p1).enabled)
    // env on beats flag off
    val p2 = ProjectLoader.load(dir.toString,
      PartialParse.Options(env = Map("DBT_PARTIAL_PARSE" -> "true")))
    assert(stats(p2).enabled)
    // explicit Options off beats env on (CLI --no-partial-parse)
    val p3 = ProjectLoader.load(dir.toString, PartialParse.Options(
      enabled = Some(false), env = Map("DBT_PARTIAL_PARSE" -> "true")))
    assert(!stats(p3).enabled)
  }

  test("corrupt state degrades to a full parse, never fails") {
    val dir = mkProject()
    load(dir)
    Files.writeString(dir.resolve("target/partial_parse.bin"), "not java serial")
    val p = load(dir)
    val st = stats(p)
    assert(!st.stateLoaded && st.parsed > 0)
    assert(p.manifest.models.size == 6)
  }

  test("a PACKAGE macro gaining a special override drops the whole cache, root included") {
    // the root project parses first — the pre-scan must therefore run
    // over every root (root + installed packages) BEFORE any parsing,
    // or the root's files would already have replayed from cache
    val dir = mkProject()
    Files.createDirectories(dir.resolve("dbt_packages/pkg/macros"))
    Files.writeString(dir.resolve("dbt_packages/pkg/dbt_project.yml"), "name: pkg\n")
    Files.writeString(dir.resolve("dbt_packages/pkg/macros/util.sql"),
      "{% macro harmless(x) %}{{ x }}{% endmacro %}")
    load(dir)
    Files.writeString(dir.resolve("dbt_packages/pkg/macros/util.sql"),
      "{% macro generate_alias_name(n) %}a_{{ n }}{% endmacro %}")
    val p = load(dir)
    val st = stats(p)
    assert(st.fullReason.exists(_.contains("generate_alias_name")))
    assert(st.reused == 0,
      s"root files must not replay from cache (reused=${st.reused})")
  }

  test("invalidateAll keeps the diff baseline: deletions still report during a full reparse") {
    val dir = mkProject()
    load(dir)
    // special-macro change (forces invalidateAll) + a genuine deletion
    Files.writeString(dir.resolve("macros/helpers.sql"),
      "{% macro ref(x) %}override{% endmacro %}")
    Files.delete(dir.resolve("models/m_4.sql"))
    val p = load(dir)
    val st = stats(p)
    assert(st.fullReason.isDefined)
    assert(st.deleted === Seq("models/m_4.sql"),
      s"deletion lost during invalidated reparse: ${st.deleted}")
    assert(st.changed === Seq("macros/helpers.sql"))
    assert(st.added.isEmpty, s"spurious adds: ${st.added.take(3)}...")
  }

  test("package files cache under their own rootKey; editing one reparses only it") {
    val dir = mkProject()
    // installed package with its own model (A32 layout)
    Files.createDirectories(dir.resolve("dbt_packages/pkg/models"))
    Files.writeString(dir.resolve("dbt_packages/pkg/dbt_project.yml"), "name: pkg\n")
    Files.writeString(dir.resolve("dbt_packages/pkg/models/p_1.sql"),
      "SELECT 1 AS pid")
    load(dir)
    val warm = load(dir)
    assert(stats(warm).parsed == 0, "package files must replay from cache too")
    Files.writeString(dir.resolve("dbt_packages/pkg/models/p_1.sql"),
      "SELECT 11 AS pid")
    val p = load(dir)
    val st = stats(p)
    assert(st.parsed == 1)
    assert(st.changed === Seq("pkg/models/p_1.sql"))
    assert(p.manifest.models.get("model.pkg.p_1").map(_.rawSql)
      .orElse(p.manifest.models.collectFirst {
        case (_, m) if m.name == "p_1" => m.rawSql
      }).contains("SELECT 11 AS pid"))
  }

  test("v3 codec covers EVERY node type: kitchen-sink project fully reuses warm") {
    // the failure mode this guards: a parse-output class missing from
    // StateCodec.allowed makes writeState throw (state never saved) or
    // readState degrade — either way warm reuse silently dies and every
    // run cold-parses. A full-surface project must round-trip with
    // parsed == 0 on the second load.
    val dir = graft.SparkSpec.registerScratch(Files.createTempDirectory("pp_sink"))
    def put(rel: String, c: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, c): Unit
    }
    put("dbt_project.yml", "name: sink\n")
    put("models/m1.sql", "SELECT 1 AS id")
    put("models/v_model.sql", "SELECT 2 AS id")
    put("models/schema.yml",
      """sources:
        |  - name: ext
        |    tables:
        |      - name: t1
        |        path: /tmp/t1.parquet
        |        loaded_at_field: ts
        |        freshness: {warn_after_sec: 10}
        |groups:
        |  - name: g1
        |    owner: {name: Owner, email: o@example.com}
        |models:
        |  - name: m1
        |    description: has docs
        |    config: {group: g1, contract: {enforced: true}}
        |    columns:
        |      - name: id
        |        data_type: bigint
        |        tests: [unique, not_null]
        |  - name: v_model
        |    versions:
        |      - v: 1
        |      - v: 2
        |exposures:
        |  - name: dash
        |    type: dashboard
        |    depends_on: [m1]
        |semantic_models:
        |  - name: sm1
        |    model: m1
        |    entities: [{name: id, type: primary}]
        |    dimensions: [{name: id_cat, type: categorical}]
        |    measures: [{name: n_rows, agg: count, expr: id}]
        |metrics:
        |  - name: met1
        |    model: m1
        |    measure: n_rows
        |saved_queries:
        |  - name: sq1
        |    metrics: [met1]
        |unit_tests:
        |  - name: ut1
        |    model: m1
        |    given: []
        |    expect:
        |      rows:
        |        - {id: 1}
        |""".stripMargin)
    put("seeds/s1.csv", "a,b\n1,x\n")
    put("snapshots/snaps.sql",
      """{% snapshot snap_ts %}
        |{{ config(strategy='timestamp', unique_key='id', updated_at='ts') }}
        |SELECT * FROM {{ ref('m1') }}
        |{% endsnapshot %}
        |{% snapshot snap_check %}
        |{{ config(strategy='check', check_cols='a,b', unique_key='id') }}
        |SELECT * FROM {{ ref('m1') }}
        |{% endsnapshot %}
        |{% snapshot snap_custom %}
        |{{ config(strategy='bespoke', unique_key='id', updated_at='ts') }}
        |SELECT * FROM {{ ref('m1') }}
        |{% endsnapshot %}
        |""".stripMargin)
    put("tests/singular.sql", "SELECT * FROM {{ ref('m1') }} WHERE id < 0")
    put("macros/helpers.sql",
      "{% macro shout(x, suffix='!') %}{{ x }}{{ suffix }}{% endmacro %}")
    val cold = load(dir)
    val st0 = stats(cold)
    assert(st0.parsed > 0)
    assert(Files.exists(dir.resolve("target/partial_parse.bin")),
      "state not saved — a parse-output class is missing from StateCodec.allowed")
    val warm = load(dir)
    val st1 = stats(warm)
    assert(st1.parsed == 0,
      s"warm reparse parsed ${st1.parsed} files (${st1.changed}) — " +
        "some cached value failed to encode or decode")
    assert(warm.manifest === cold.manifest)
    // the round-tripped graph really carries the exotic node types
    val n = warm.manifest.nodes
    assert(n.keys.exists(_.startsWith("snapshot.")))
    assert(n.keys.exists(_.startsWith("exposure.")))
    assert(n.keys.exists(_.startsWith("semantic_model.")))
    assert(n.keys.exists(_.startsWith("saved_query.")))
    assert(n.keys.exists(_.startsWith("metric.")))
    assert(n.keys.exists(_.startsWith("unit_test.")))
    assert(n.keys.exists(_.startsWith("group.")))
  }

  test("v2 -> v3 migration: a Java-serialized state file degrades to a cold parse") {
    val dir = mkProject()
    load(dir) // writes v3 state
    // plant a v2-era file: Java serialization of a State-shaped object.
    // v3's reader must reject it at the magic check WITHOUT ever
    // constructing an ObjectInputStream over it.
    val path = dir.resolve("target/partial_parse.bin")
    val out = new java.io.ObjectOutputStream(Files.newOutputStream(path))
    out.writeObject(PartialParse.State(2, Map("" -> Map.empty)))
    out.close()
    assert(PartialParse.readState(path).isEmpty, "v2 file must read as absent")
    val p = load(dir)
    val st = stats(p)
    assert(!st.stateLoaded && st.parsed > 0, "v2 state must cold-parse")
    assert(p.manifest.models.size == 6)
    // and the cold parse re-saves v3: next load is warm again
    assert(stats(load(dir)).parsed == 0)
  }

  test("v3 codec: state round-trips bit-equal through the data-only encoding") {
    val dir = mkProject()
    load(dir)
    val path = dir.resolve("target/partial_parse.bin")
    val st1 = PartialParse.readState(path).getOrElse(fail("state unreadable"))
    // write what we read, re-read, compare: codec is a fixpoint
    PartialParse.writeState(path, st1)
    val st2 = PartialParse.readState(path).getOrElse(fail("rewrite unreadable"))
    assert(st1 === st2)
    assert(st1.format == PartialParse.Format)
    // the cached graph contains real parse output (nodes, macros)
    assert(st1.roots("").nonEmpty)
  }

  test("v3 codec: a stream naming an unlisted class is rejected (no gadget surface)") {
    val dir = graft.SparkSpec.registerScratch(Files.createTempDirectory("pp_evil"))
    val path = dir.resolve("partial_parse.bin")
    val out = new java.io.DataOutputStream(Files.newOutputStream(path))
    out.writeInt(0x47465433) // correct magic
    out.writeByte('P')
    val name = "java.lang.ProcessBuilder".getBytes("UTF-8")
    out.writeInt(name.length); out.write(name)
    out.writeInt(1)
    out.writeByte('L'); out.writeInt(0) // one empty-list arg
    out.close()
    assert(PartialParse.readState(path).isEmpty,
      "unlisted class must fail decode and degrade to cold parse")
  }

  test("warm reparse of a 20k-model project is fast and reuse-complete") {
    // 20k-file fixture: leaked copies accumulate into /tmp small-file
    // forests that journal-pressure the filesystem and poison later
    // write-path measurements (r13 lesson, see ParsePerfSpec) — delete.
    val dir = graft.SparkSpec.registerScratch(Files.createTempDirectory("pp20k"))
    try {
      Files.createDirectories(dir.resolve("models"))
      Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\n")
      (0 until 20000).foreach { i =>
        Files.writeString(dir.resolve(s"models/m_$i.sql"), s"SELECT $i AS id")
      }
      load(dir)
      val t0 = System.nanoTime()
      val p = load(dir)
      val warmSec = (System.nanoTime() - t0) / 1e9
      val st = stats(p)
      info(f"warm 20k-model reparse: $warmSec%.2f s (parsed=${st.parsed}, reused=${st.reused})")
      assert(st.parsed == 0 && st.reused == 20000)
      assert(warmSec < 5.0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }
}
