package graft.render

import graft.core.NodeConfig
import graft.parse.ProjectLoader
import org.scalatest.funsuite.AnyFunSuite

/** Dict-valued config plumbing for grants / persist_docs: the
  * `{...}` config() kwargs (ProjectLoader.configKwargs), the `k=v1|v2;...`
  * encoding, and the DictKeyAppend merge semantics (reference
  * `context_config.py:322-341`). The end-to-end cascade is gated by
  * m33/m34; these pin the pure corners.
  */
class GrantsConfigSpec extends AnyFunSuite {

  test("parseKwargs encodes dict values (lists and scalars)") {
    def kwargs(args: String) =
      ProjectLoader.configKwargs(Jinja.capture(s"{{ config($args) }}"))
    val kw = kwargs(
      "materialized='table', grants={'+select': ['bi', 'analyst'], 'insert': ['loader']}, alias='x'")
    assert(kw("materialized") === "table")
    assert(kw("grants") === "+select=bi|analyst;insert=loader")
    assert(kw("alias") === "x", "kwargs after the dict still parse")
    val pd = kwargs("persist_docs={'relation': true, 'columns': false}")
    assert(pd("persist_docs") === "relation=true;columns=false")
  }

  test("mergeGrants: bare key clobbers, +key appends distinct, result unprefixed") {
    val base = Map("select" -> Seq("analyst"), "insert" -> Seq("loader"))
    val clobbered = NodeConfig.mergeGrants(base, Map("select" -> Seq("ops")))
    assert(clobbered === Map("select" -> Seq("ops"), "insert" -> Seq("loader")))
    val appended = NodeConfig.mergeGrants(base,
      Map("+select" -> Seq("bi", "analyst")))
    assert(appended("select") === Seq("analyst", "bi"), "distinct append")
    val fresh = NodeConfig.mergeGrants(Map.empty, Map("+update" -> Seq("etl")))
    assert(fresh === Map("update" -> Seq("etl")), "+key with nothing to extend sets")
  }

  test("NodeConfig.merge carries grants through the cascade") {
    val parent = NodeConfig(grants = Map("select" -> Seq("analyst")))
    val child = NodeConfig(grants = Map("+select" -> Seq("bi")))
    assert(parent.merge(child).grants === Map("select" -> Seq("analyst", "bi")))
    val pdocs = NodeConfig(persistDocs = Map("relation" -> true))
      .merge(NodeConfig(persistDocs = Map("columns" -> true)))
    assert(pdocs.persistDocs === Map("relation" -> true, "columns" -> true))
  }
}
