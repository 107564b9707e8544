package graft.run

import graft.SparkSpec
import graft.core._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Self-contained shape check of `run_results.json` and `manifest.json`:
  * the keys, value types and status vocabularies dbt's consumers read,
  * written down from the engine's own fields. It needs no reference
  * schema tree, so it holds wherever the suite runs; ArtifactSchemaSpec
  * validates against the published schemas where those are present.
  */
class ArtifactShapeSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** One build that yields every result status: success, error,
    * skipped, pass, fail and warn. */
  private lazy val (runResults, manifest) = {
    val seed = SeedNode("s_seed", "id,name\n1,x\n2,y\n2,z")
    val tbl = ModelNode("s_tbl", "SELECT id, name FROM {{ ref('s_seed') }}",
      config = NodeConfig(materialized = "table"), refs = Seq("s_seed"))
    val notNull = TestNode("not_null_s_tbl_id",
      "SELECT * FROM {{ ref('s_tbl') }} WHERE id IS NULL",
      refs = Seq("s_tbl"), genericTest = Some("not_null"))
    val unique = TestNode("unique_s_tbl_id",
      "SELECT id FROM {{ ref('s_tbl') }} GROUP BY id HAVING count(*) > 1",
      refs = Seq("s_tbl"), genericTest = Some("unique"))
    val warned = TestNode("warn_s_tbl_two",
      "SELECT * FROM {{ ref('s_tbl') }} WHERE id = 2",
      config = NodeConfig(materialized = "test", severity = "warn"),
      refs = Seq("s_tbl"))
    val bad = ModelNode("s_bad", "SELECT * FROM missing_relation_xyz",
      config = NodeConfig(materialized = "table"))
    val down = ModelNode("s_down", "SELECT * FROM {{ ref('s_bad') }}",
      config = NodeConfig(materialized = "table"), refs = Seq("s_bad"))
    val eng = new Engine(spark, graft.parse.ProjectLoader.link(Manifest(
      Seq(seed, tbl, notNull, unique, warned, bad, down)
        .map(n => n.uniqueId -> n).toMap)), tmpDir("wh_shape"))
    val results = eng.build()
    val target = tmpDir("target_shape")
    eng.writeArtifacts(target, results)
    def read(f: String) = mapper.readTree(Files.readString(Paths.get(target, f)))
    (read("run_results.json"), read("manifest.json"))
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet
  private def byId: Map[String, JsonNode] = runResults.get("results").elements
    .asScala.map(r => r.get("unique_id").asText -> r).toMap
  private def instant(n: JsonNode) = java.time.Instant.parse(n.asText)
  private def isTimestamp(n: JsonNode): Boolean =
    n.isTextual && scala.util.Try(instant(n)).isSuccess

  test("run_results.json: top-level keys and metadata") {
    assert(keys(runResults) === Set("metadata", "results", "elapsed_time", "args"))
    val md = runResults.get("metadata")
    assert(md.get("dbt_schema_version").asText.endsWith("/run-results/v6.json"))
    assert(isTimestamp(md.get("generated_at")))
    assert(md.get("invocation_id").isTextual && md.get("invocation_id").asText.nonEmpty)
    assert(md.get("env").isObject)
    assert(runResults.get("elapsed_time").isNumber)
    assert(runResults.get("args").isObject)
  }

  test("run_results.json: every result carries the v6 keys with their types") {
    val required = Set("unique_id", "status", "message", "execution_time",
      "adapter_response", "timing", "thread_id", "compiled", "compiled_code",
      "relation_name", "failures")
    assert(byId.size === 7)
    byId.foreach { case (id, r) =>
      assert(required.subsetOf(keys(r)), s"$id lacks ${required -- keys(r)}")
      assert(r.get("execution_time").isNumber, id)
      assert(r.get("execution_time").asDouble >= 0, id)
      assert(r.get("adapter_response").isObject, id)
      assert(r.get("message").isTextual || r.get("message").isNull, id)
      // the engine's worker pool names its threads as dbt does
      assert(r.get("thread_id").asText.matches("""Thread-\d+ \(worker\)"""),
        s"$id thread_id ${r.get("thread_id")}")
      // timing: a list of {name, started_at, completed_at} entries
      assert(r.get("timing").isArray, id)
      r.get("timing").elements.asScala.foreach { t =>
        assert(Set("compile", "execute")(t.get("name").asText), s"$id timing $t")
        assert(isTimestamp(t.get("started_at")) && isTimestamp(t.get("completed_at")),
          s"$id timing $t")
        assert(!instant(t.get("completed_at")).isBefore(instant(t.get("started_at"))),
          s"$id timing $t")
      }
    }
  }

  test("run_results.json: status vocabulary and failures per resource type") {
    val status = byId.map { case (id, r) => id -> r.get("status").asText }
    assert(status === Map(
      "seed.graft.s_seed" -> "success",
      "model.graft.s_tbl" -> "success",
      "model.graft.s_bad" -> "error",
      "model.graft.s_down" -> "skipped",
      "test.graft.not_null_s_tbl_id" -> "pass",
      "test.graft.unique_s_tbl_id" -> "fail",
      "test.graft.warn_s_tbl_two" -> "warn"))
    val failures = byId.map { case (id, r) => id -> r.get("failures") }
    // failures: null for non-tests, the failing-row count for tests
    failures.filter(_._1.startsWith("test.")).foreach { case (id, f) =>
      assert(f.isIntegralNumber, s"$id failures $f")
    }
    failures.filterNot(_._1.startsWith("test.")).foreach { case (id, f) =>
      assert(f.isNull, s"$id failures $f")
    }
    assert(failures("test.graft.not_null_s_tbl_id").asInt === 0)
    assert(failures("test.graft.unique_s_tbl_id").asInt === 1)
    assert(failures("test.graft.warn_s_tbl_two").asInt === 2)
    // a skipped node was never compiled; an executed one was
    assert(byId("model.graft.s_down").get("compiled").isNull)
    assert(byId("model.graft.s_tbl").get("compiled").asBoolean)
    assert(byId("model.graft.s_down").get("message").asText.contains("model.graft.s_bad"))
  }

  test("manifest.json: top-level sections and node identity fields") {
    // the v12 sections; the engine adds its own (warehouse_root, the
    // state checksums), which consumers ignore
    val sections = Set("metadata", "nodes", "sources", "macros",
      "docs", "exposures", "metrics", "groups", "selectors", "disabled",
      "parent_map", "child_map", "group_map", "saved_queries",
      "semantic_models", "unit_tests")
    assert(sections.subsetOf(keys(manifest)), sections -- keys(manifest))
    val md = manifest.get("metadata")
    assert(md.get("dbt_schema_version").asText.endsWith("/manifest/v12.json"))
    assert(md.get("invocation_id").asText ===
      runResults.get("metadata").get("invocation_id").asText)
    assert(isTimestamp(md.get("generated_at")))
    val nodes = manifest.get("nodes").properties.asScala
      .map(e => e.getKey -> e.getValue).toMap
    assert(nodes.keySet === byId.keySet)
    val identity = Set("database", "schema", "name", "resource_type",
      "package_name", "path", "original_file_path", "unique_id", "fqn",
      "alias", "checksum", "depends_on", "config", "tags", "relation_name")
    nodes.foreach { case (id, n) =>
      assert(identity.subsetOf(keys(n)), s"$id lacks ${identity -- keys(n)}")
      assert(n.get("unique_id").asText === id)
      assert(id.startsWith(n.get("resource_type").asText + "."), id)
      assert(Set("model", "seed", "snapshot", "test")(n.get("resource_type").asText))
      assert(n.get("fqn").isArray && n.get("fqn").size > 0, id)
      assert(n.get("checksum").get("name").asText === "sha256", id)
      assert(n.get("checksum").get("checksum").asText.matches("[0-9a-f]{64}"), id)
      assert(n.get("config").get("materialized").isTextual, id)
      // every edge points at a node the manifest lists
      n.get("depends_on").get("nodes").elements.asScala.foreach { d =>
        assert(nodes.contains(d.asText), s"$id depends on unknown ${d.asText}")
      }
    }
    assert(nodes("model.graft.s_down").get("depends_on").get("nodes")
      .elements.asScala.map(_.asText).toSeq === Seq("model.graft.s_bad"))
  }

  test("manifest.json: parent_map and child_map mirror depends_on") {
    val parents = manifest.get("parent_map")
    val children = manifest.get("child_map")
    def ids(n: JsonNode): Set[String] = n.elements.asScala.map(_.asText).toSet
    assert(ids(parents.get("test.graft.unique_s_tbl_id")) === Set("model.graft.s_tbl"))
    assert(ids(children.get("model.graft.s_tbl")) === Set(
      "test.graft.not_null_s_tbl_id", "test.graft.unique_s_tbl_id",
      "test.graft.warn_s_tbl_two"))
    assert(ids(children.get("model.graft.s_down")).isEmpty)
  }
}
