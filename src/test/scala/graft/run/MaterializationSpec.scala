package graft.run

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Custom `{% materialization %}` blocks (reference materialization
  * macros, `core/dbt/task/run.py` `find_materialization_macro_by_name`
  * + `core/dbt/clients/jinja.py` MATERIALIZATION_KEY): user-defined
  * materializations drive models through statement blocks, the
  * adapter-specific spelling beats `default`, packages can ship
  * materializations, and statement results feed post-hooks.
  */
class MaterializationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def write(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def baseProject(root: Path): Unit = {
    write(root, "dbt_project.yml", "name: matproj\n")
    write(root, "models/sources.yml",
      s"""sources:
         |  - name: main
         |    tables:
         |      - name: orders
         |        path: $sf/orders.parquet
         |""".stripMargin)
  }

  test("custom table materialization via statement('main') + create_table_as") {
    val root = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_custom"))
    baseProject(root)
    write(root, "macros/my_mat.sql",
      """{% materialization plain_table, default %}
        |  {% call statement('main') %}
        |    {{ create_table_as(False, this, sql) }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin)
    write(root, "models/mat_orders.sql",
      """{{ config(materialized='plain_table') }}
        |SELECT o_orderstatus, COUNT(*) AS n
        |FROM {{ source('main', 'orders') }}
        |GROUP BY o_orderstatus""".stripMargin)
    val eng = Engine.fromProject(spark, root.toString, tmpDir("wh"))
    val results = eng.run()
    assert(results.forall(_.status == "success"), results.mkString("; "))
    val out = eng.wh.read("mat_orders")
    assert(out.count() === 3)
    assert(out.columns.toSeq === Seq("o_orderstatus", "n"))
  }

  test("custom view materialization via create_view_as") {
    val root = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_view"))
    baseProject(root)
    write(root, "macros/my_view_mat.sql",
      """{% materialization lazy_view, default %}
        |  {% call statement('main') %}
        |    {{ create_view_as(this, sql) }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin)
    write(root, "models/mat_v.sql",
      """{{ config(materialized='lazy_view') }}
        |SELECT o_orderkey FROM {{ source('main', 'orders') }} WHERE o_orderkey < 100""".stripMargin)
    val eng = Engine.fromProject(spark, root.toString, tmpDir("wh"))
    assert(eng.run().forall(_.status == "success"))
    assert(eng.wh.isView("mat_v"))
    assert(eng.wh.read("mat_v").count() > 0)
  }

  test("adapter-specific materialization beats default; unknown still errors") {
    val root = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_adapter"))
    baseProject(root)
    write(root, "macros/mats.sql",
      """{% materialization pick_me, default %}
        |  {% call statement('main') %}
        |    CREATE OR REPLACE TABLE {{ this }} AS SELECT 'default' AS chosen
        |  {% endcall %}
        |{% endmaterialization %}
        |{% materialization pick_me, adapter='spark' %}
        |  {% call statement('main') %}
        |    CREATE OR REPLACE TABLE {{ this }} AS SELECT 'spark' AS chosen
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin)
    write(root, "models/mat_pick.sql",
      "{{ config(materialized='pick_me') }}\nSELECT 1 AS x")
    val eng = Engine.fromProject(spark, root.toString, tmpDir("wh"))
    assert(eng.run().forall(_.status == "success"))
    assert(eng.wh.read("mat_pick").collect().head.getString(0) === "spark")

    write(root, "models/mat_bad.sql",
      "{{ config(materialized='no_such_mat') }}\nSELECT 1 AS x")
    val eng2 = Engine.fromProject(spark, root.toString, tmpDir("wh2"))
    val res = eng2.run()
    assert(res.exists(r => r.status == "error" &&
      r.message.contains("no_such_mat")))
  }

  test("a package can ship a materialization; post-hook reads statement results") {
    val pkg = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_pkg"))
    write(pkg, "dbt_project.yml", "name: mat_pkg\n")
    write(pkg, "macros/pkg_mat.sql",
      """{% materialization audit_table, default %}
        |  {% call statement('main') %}
        |    {{ create_table_as(False, this, sql) }}
        |  {% endcall %}
        |{% endmaterialization %}""".stripMargin)

    val root = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_root"))
    baseProject(root)
    write(root, "packages.yml", s"packages:\n  - local: $pkg\n")
    write(root, "models/mat_audit.sql",
      """{{ config(materialized='audit_table',
        |          post_hook="CREATE OR REPLACE TEMP VIEW mat_audit_log AS
        |                     SELECT {{ load_result('main').rows_affected }} AS rows_written") }}
        |SELECT o_orderstatus, COUNT(*) AS n
        |FROM {{ source('main', 'orders') }}
        |GROUP BY o_orderstatus""".stripMargin)
    graft.parse.Deps.install(root.toString)
    val eng = Engine.fromProject(spark, root.toString, tmpDir("wh"))
    val results = eng.run()
    assert(results.forall(_.status == "success"), results.mkString("; "))
    assert(eng.wh.read("mat_audit").count() === 3)
    assert(spark.table("mat_audit_log").collect().head
      .getAs[Number](0).longValue === 3L)
  }

  test("rows_affected counts every partition of a partitioned table and of a snapshot") {
    val root = graft.SparkSpec.registerScratch(Files.createTempDirectory("mat_rows"))
    baseProject(root)
    write(root, "models/orders_by_status.sql",
      """{{ config(materialized='table', partition_by='o_orderstatus') }}
        |SELECT o_orderkey, o_orderstatus FROM {{ source('main', 'orders') }}""".stripMargin)
    write(root, "snapshots/orders_snap.sql",
      """{{ config(strategy='check', unique_key='o_orderkey', check_cols=['o_orderstatus']) }}
        |SELECT o_orderkey, o_orderstatus FROM {{ source('main', 'orders') }}""".stripMargin)
    val eng = Engine.fromProject(spark, root.toString, tmpDir("wh"))
    val results = eng.run()
    assert(results.forall(_.status == "success"), results.mkString("; "))
    for (name <- Seq("orders_by_status", "orders_snap")) {
      val r = results.find(_.uniqueId.endsWith(s".$name")).get
      val n = eng.wh.read(name).count()
      assert(n > 0)
      assert(r.rowsAffected === n, name)
    }
  }
}
