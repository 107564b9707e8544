package graft.queries

import graft.QueryDef
import graft.core._
import graft.exec.Materializer
import graft.run.Engine
import org.apache.spark.sql.functions._

/** Framework-operator correctness queries: each runs a REAL engine
  * flow (materializations, snapshots, tests, seeds) against a scratch
  * warehouse and returns the resulting relation; the DuckDB oracle
  * computes the expected end-state independently (closed-form SQL over
  * the same inputs). This is how SURVEY §2A operators plug into the
  * driver's hash-compare gate (SURVEY §2 "declared-query contract").
  */
object Framework {

  /** Scratch warehouses must outlive the returned (lazy) DataFrame —
    * the driver writes it to parquet after the query function returns —
    * so cleanup happens at JVM exit, not eagerly.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { root =>
        def rm(f: java.io.File): Unit = {
          val children = f.listFiles()
          if (children != null) children.foreach(rm)
          f.delete(): Unit
        }
        rm(root)
      }))

  private def scratch(): String = {
    cleanupHook
    val dir = java.nio.file.Files.createTempDirectory("graft_wh")
    scratchDirs.add(dir.toFile)
    dir.toString
  }

  /** Frozen clocks: batch k commits at 2000-01-01 + k days UTC. */
  private def clockAt(day: Int): Materializer.Clock =
    () => java.sql.Timestamp.valueOf(java.time.LocalDateTime
      .of(2000, 1, 1 + day, 0, 0, 0))

  private val ts99 = "TIMESTAMP '1999-01-01 00:00:00'"

  // Every Framework entry is a correctness m-gate (engine run against a
  // scratch warehouse), never a throughput query — flagged structurally
  // so the bench headline set is a typed partition, not a name filter.
  val queries: Seq[QueryDef] = rawQueries.map(_.copy(isThroughput = false))

  private def rawQueries: Seq[QueryDef] = Seq(

    // A7 snapshot SCD2, timestamp strategy: 3 scripted batches over
    // orders (update %10=0 at batch1, update %10=1 at batch2, hard
    // delete %10=2 at batch2, insert %10=3 from batch1). Oracle writes
    // the expected end-state in closed form.
    QueryDef(
      "m01_snapshot_scd2",
      s"""WITH base AS (
         |  SELECT o_orderkey AS id, o_orderstatus AS status,
         |         o_orderdate AS base_ts, o_orderkey % 10 AS grp
         |  FROM orders
         |)
         |-- timestamp-strategy subtlety: an update only supersedes when its
         |-- updated_at EXCEEDS the stored one, so rows whose base_ts is
         |-- already past the scripted change timestamp stay open untouched.
         |SELECT id, status, dbt_updated_at, dbt_valid_from, dbt_valid_to FROM (
         |  -- original versions
         |  SELECT id, status, base_ts AS dbt_updated_at, base_ts AS dbt_valid_from,
         |         CASE WHEN grp = 0 AND base_ts < $ts99 + INTERVAL 1 DAY
         |                THEN $ts99 + INTERVAL 1 DAY
         |              WHEN grp = 1 AND base_ts < $ts99 + INTERVAL 2 DAY
         |                THEN $ts99 + INTERVAL 2 DAY
         |              WHEN grp = 2 THEN TIMESTAMP '2000-01-03 00:00:00'
         |              ELSE NULL END AS dbt_valid_to
         |  FROM base WHERE grp <> 3
         |  UNION ALL
         |  -- updated versions opened at their change timestamps
         |  SELECT id, 'U1', $ts99 + INTERVAL 1 DAY, $ts99 + INTERVAL 1 DAY, NULL
         |  FROM base WHERE grp = 0 AND base_ts < $ts99 + INTERVAL 1 DAY
         |  UNION ALL
         |  SELECT id, 'U2', $ts99 + INTERVAL 2 DAY, $ts99 + INTERVAL 2 DAY, NULL
         |  FROM base WHERE grp = 1 AND base_ts < $ts99 + INTERVAL 2 DAY
         |  UNION ALL
         |  -- late inserts (first seen at batch 1, payload unchanged)
         |  SELECT id, status, base_ts, base_ts, NULL FROM base WHERE grp = 3
         |) v
         |ORDER BY id, dbt_valid_from""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      def batchView(k: Int): String = {
        // payload + updated_at as deterministic functions of batch no.
        val sql =
          s"""SELECT o_orderkey AS id,
             |  CASE WHEN o_orderkey % 10 = 0 AND $k >= 1 THEN 'U1'
             |       WHEN o_orderkey % 10 = 1 AND $k >= 2 THEN 'U2'
             |       ELSE o_orderstatus END AS status,
             |  CASE WHEN o_orderkey % 10 = 0 AND $k >= 1
             |         THEN TIMESTAMP '1999-01-02 00:00:00'
             |       WHEN o_orderkey % 10 = 1 AND $k >= 2
             |         THEN TIMESTAMP '1999-01-03 00:00:00'
             |       ELSE o_orderdate END AS updated_at
             |FROM orders
             |WHERE NOT (o_orderkey % 10 = 2 AND $k >= 2)
             |  AND NOT (o_orderkey % 10 = 3 AND $k = 0)""".stripMargin
        s.sql(sql).createOrReplaceTempView(s"m01_src")
        "SELECT * FROM m01_src"
      }
      val eng = new Engine(s, Manifest(Map.empty), wh)
      (0 to 2).foreach { k =>
        Materializer.snapshot(eng.wh, "m01_snap", batchView(k), Seq("id"),
          TimestampStrategy("updated_at"), invalidateHardDeletes = true, clockAt(k))
      }
      eng.wh.read("m01_snap")
        .select("id", "status", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")
        .orderBy("id", "dbt_valid_from")
    },

    // A3 incremental merge: batch1 = pre-1997 orders; batch2 = the rest
    // plus "late updates" (keys %100=0 re-arrive doubled). Final state
    // must equal: batch2 row where present, else batch1 row.
    QueryDef(
      "m02_incremental_merge",
      """WITH b1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |), b2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(20,4)) * 2 AS DOUBLE) AS o_totalprice
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' OR o_orderkey % 100 = 0
        |)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM b2
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice FROM b1
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val b1 =
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin
      val b2 =
        """SELECT o_orderkey, o_custkey,
          |       CAST(CAST(o_totalprice AS DECIMAL(20,4)) * 2 AS DOUBLE) AS o_totalprice
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' OR o_orderkey % 100 = 0""".stripMargin
      Materializer.incremental(eng.wh, "m02_inc", b1, b1, "merge",
        Seq("o_orderkey"), "ignore", Nil, fullRefresh = false)
      Materializer.incremental(eng.wh, "m02_inc", b1, b2, "merge",
        Seq("o_orderkey"), "ignore", Nil, fullRefresh = false)
      // reference-MERGE parity: a delta with two rows for one existing
      // key must RAISE (nondeterministic update), and the failed merge
      // must leave the target untouched
      val dup =
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0
          |UNION ALL
          |SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0""".stripMargin
      val before = eng.wh.read("m02_inc").count()
      val raised =
        try {
          Materializer.incremental(eng.wh, "m02_inc", b1, dup, "merge",
            Seq("o_orderkey"), "ignore", Nil, fullRefresh = false)
          false
        } catch { case _: IllegalStateException => true }
      require(raised, "merge must raise on duplicate source keys")
      require(eng.wh.read("m02_inc").count() == before,
        "a failed merge must not modify the target")
      eng.wh.read("m02_inc").orderBy("o_orderkey")
    },

    // A3 insert_overwrite: partition-level replacement by month.
    QueryDef(
      "m03_insert_overwrite",
      """WITH full_t AS (
        |  SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr, o_totalprice
        |  FROM orders
        |), delta AS (
        |  SELECT o_orderkey, CAST(1998 AS BIGINT) AS yr,
        |         CAST(0.0 AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE YEAR(o_orderdate) = 1998 AND o_orderkey % 2 = 0
        |)
        |SELECT * FROM (
        |  SELECT * FROM full_t WHERE yr <> 1998
        |  UNION ALL SELECT * FROM delta) t
        |ORDER BY o_orderkey, yr""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val full =
        """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr, o_totalprice
          |FROM orders""".stripMargin
      val delta =
        """SELECT o_orderkey, CAST(1998 AS BIGINT) AS yr, CAST(0.0 AS DOUBLE) AS o_totalprice
          |FROM orders WHERE YEAR(o_orderdate) = 1998 AND o_orderkey % 2 = 0""".stripMargin
      Materializer.incremental(eng.wh, "m03_iow", full, delta, "insert_overwrite",
        Nil, "ignore", Seq("yr"), fullRefresh = false)
      Materializer.incremental(eng.wh, "m03_iow", full, delta, "insert_overwrite",
        Nil, "ignore", Seq("yr"), fullRefresh = false)
      eng.wh.read("m03_iow").select("o_orderkey", "yr", "o_totalprice")
        .orderBy("o_orderkey", "yr")
    },

    // A9/A10 generic tests: the built-in four, evaluated through the
    // engine's test wrapper; oracle recomputes each failure count.
    QueryDef(
      "m04_generic_tests",
      """SELECT 'accepted_values_status' AS test_name,
        |       CAST((SELECT COUNT(*) FROM (
        |         SELECT o_orderstatus FROM orders GROUP BY o_orderstatus
        |         HAVING o_orderstatus NOT IN ('O','F')) t) AS BIGINT) AS failures
        |UNION ALL
        |SELECT 'not_null_custkey',
        |       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
        |UNION ALL
        |SELECT 'relationships_orders_customer',
        |       CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |             ON c.c_custkey = o.o_custkey
        |             WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT)
        |UNION ALL
        |SELECT 'unique_orderkey',
        |       CAST((SELECT COUNT(*) FROM (
        |         SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
        |         GROUP BY o_orderkey HAVING COUNT(*) > 1) t) AS BIGINT)
        |ORDER BY test_name""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val specs = Seq(
        ("unique_orderkey", Materializer.genericTestSql("unique", "orders", "o_orderkey", Map.empty)),
        ("not_null_custkey", Materializer.genericTestSql("not_null", "orders", "o_custkey", Map.empty)),
        ("accepted_values_status", Materializer.genericTestSql(
          "accepted_values", "orders", "o_orderstatus", Map("values" -> "O,F"))),
        ("relationships_orders_customer", Materializer.genericTestSql(
          "relationships", "orders", "o_custkey", Map("to" -> "customer", "field" -> "c_custkey"))))
      val rows = specs.map { case (nm, sql) =>
        val (_, failures) = Materializer.runTest(eng.wh,
          TestNode(nm, sql, NodeConfig(materialized = "test", severity = "warn")))
        (nm, failures)
      }
      import s.implicits._
      rows.toDF("test_name", "failures").orderBy("test_name")
    },

    // A8 seed: inline CSV with type overrides; oracle = VALUES literal.
    QueryDef(
      "m05_seed",
      """SELECT * FROM (VALUES
        |  ('US', 'United States', CAST(331 AS BIGINT), CAST(9.83 AS DOUBLE)),
        |  ('DE', 'Germany', CAST(83 AS BIGINT), CAST(0.36 AS DOUBLE)),
        |  ('JP', 'Japan', CAST(126 AS BIGINT), CAST(0.38 AS DOUBLE))
        |) t(code, name, pop, area)
        |ORDER BY code""".stripMargin) { (s, dir) =>
      val wh = scratch()
      val eng = new Engine(s, Manifest(Map.empty), wh)
      Materializer.seed(eng.wh, SeedNode("m05_codes",
        "code,name,pop,area\nUS,United States,331,9.83\nDE,Germany,83,0.36\nJP,Japan,126,0.38\n",
        columnTypes = Map("pop" -> "bigint", "area" -> "double")))
      eng.wh.read("m05_codes").orderBy("code")
    },

    // A1/A2/A5/A24/A25: a full mini-project end to end — source →
    // ephemeral staging (CTE-inlined) → view → incremental table, with
    // var substitution; returns the final table. Oracle is the composed
    // plain SQL.
    QueryDef(
      "m06_project_run",
      """SELECT o_custkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m06_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m06\nvars:\n  cutoff: '1996-01-01 00:00:00'\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/stg_orders.sql",
        """{{ config(materialized='ephemeral') }}
          |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
          |FROM {{ source('main', 'orders') }}""".stripMargin)
      write("models/mid_orders.sql",
        """SELECT * FROM {{ ref('stg_orders') }}
          |WHERE o_orderdate >= TIMESTAMP '{{ var('cutoff') }}'""".stripMargin)
      write("models/m06_fct.sql",
        """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='o_custkey') }}
          |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
          |FROM {{ ref('mid_orders') }}
          |GROUP BY o_custkey""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m06 run failed: ${results.filterNot(_.status == "success").mkString("; ")}")
      eng.wh.read("m06_fct").orderBy("o_custkey")
    },

    // A14 freshness: age of orders vs a frozen clock, closed-form.
    QueryDef(
      "m07_freshness",
      """SELECT CAST(DATE_DIFF('second', MAX(o_orderdate),
        |                      TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS age_sec
        |FROM orders""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val (_, age) = Materializer.freshness(eng.wh, "orders", "o_orderdate",
        Some(3600), Some(86400), clockAt(0))
      import s.implicits._
      Seq(age.toLong).toDF("age_sec")
    },

    // A24 model versions end-to-end under the oracle: a two-version
    // model family where the UNPINNED consumer must resolve to the
    // latest version (v2, doubled revenue) and the PINNED consumer to
    // v1 — the oracle computes both in closed form from orders, so a
    // wrong resolution (either direction) breaks the hash.
    QueryDef(
      "m08_versioned_refs",
      """SELECT 'latest' AS which, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM orders
        |UNION ALL
        |SELECT 'pinned', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
        |FROM orders
        |ORDER BY which""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m08_proj")
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m08proj\n")
      write("models/schema.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |models:
           |  - name: m08_rev
           |    latest_version: 2
           |    versions:
           |      - v: 1
           |      - v: 2
           |""".stripMargin)
      write("models/m08_rev_v1.sql",
        "SELECT o_custkey, o_totalprice AS rev FROM {{ source('main','orders') }}")
      write("models/m08_rev_v2.sql",
        "SELECT o_custkey, o_totalprice * 2 AS rev FROM {{ source('main','orders') }}")
      write("models/m08_latest.sql",
        """SELECT 'latest' AS which, CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(rev AS DECIMAL(20,4))) AS DOUBLE) AS total
          |FROM {{ ref('m08_rev') }}""".stripMargin)
      write("models/m08_pinned.sql",
        """SELECT 'pinned' AS which, CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(rev AS DECIMAL(20,4))) AS DOUBLE) AS total
          |FROM {{ ref('m08_rev', v=1) }}""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m08 run failed: ${results.filterNot(_.status == "success").mkString("; ")}")
      eng.wh.read("m08_latest").unionByName(eng.wh.read("m08_pinned"))
        .orderBy("which")
    },

    // A16 `{% call statement %}` under the oracle: the macro's first
    // statement counts orders into a result slot; the second renders
    // `load_result` fields into a view. Wrong in-order side effects (or
    // a stale slot) break the hash against the closed-form count.
    QueryDef(
      "m09_call_statement",
      """SELECT CAST(1 AS INT) AS fetched_rows,
        |       CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m09_proj")
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m09proj\n")
      write("models/schema.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("macros/m09.sql",
        """{% macro m09_audit(view_name) %}
          |{% call statement('cnt', fetch_result=true) %}
          |SELECT COUNT(*) AS n FROM {{ source('main','orders') }}
          |{% endcall %}
          |CREATE OR REPLACE TEMP VIEW {{ view_name }} AS
          |SELECT CAST({{ load_result('cnt').rows_affected }} AS INT) AS fetched_rows,
          |       CAST({{ load_result('cnt').first_value }} AS BIGINT) AS order_count
          |{% endmacro %}""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      eng.runOperation("m09_audit", Map("view_name" -> "m09_out"))
      s.table("m09_out")
    },

    // A11 store_failures under the oracle: an accepted_values test
    // restricted to ('O','F') fails on status 'P'; the persisted audit
    // table must contain exactly the closed-form failing group.
    QueryDef(
      "m10_store_failures",
      """SELECT o_orderstatus AS value_field,
        |       CAST(COUNT(*) AS BIGINT) AS n_records
        |FROM orders GROUP BY o_orderstatus
        |HAVING o_orderstatus NOT IN ('O', 'F')
        |ORDER BY value_field""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val test = TestNode("m10_accepted",
        Materializer.genericTestSql("accepted_values", "orders",
          "o_orderstatus", Map("values" -> "O,F")),
        config = NodeConfig(storeFailures = true),
        genericTest = Some("accepted_values"))
      val (status, failures) = Materializer.runTest(eng.wh, test)
      require(status != "pass" && failures > 0, s"expected failures, got $status")
      // store_failures_as (config.py:172,179-191): "view" registers a
      // lazy audit view; "ephemeral" overrides store_failures=true to
      // store nothing; the audit content below comes from the default
      // (bool -> table) mode
      val asView = test.copy(name = "m10_as_view",
        config = NodeConfig(storeFailuresAs = Some("view")))
      Materializer.runTest(eng.wh, asView)
      require(eng.wh.exists("dbt_test__audit__m10_as_view"),
        "store_failures_as=view: audit view missing")
      val asEphemeral = test.copy(name = "m10_as_eph",
        config = NodeConfig(storeFailures = true,
          storeFailuresAs = Some("ephemeral")))
      Materializer.runTest(eng.wh, asEphemeral)
      require(!eng.wh.exists("dbt_test__audit__m10_as_eph"),
        "store_failures_as=ephemeral must override store_failures=true")
      eng.wh.read("dbt_test__audit__m10_accepted").orderBy("value_field")
    },

    // A4 on_schema_change=append_new_columns under the oracle: batch 2
    // arrives with an extra column; rows from batch 1 must survive with
    // NULL in the new column, batch-2 rows carry real values — the
    // closed form is a CASE split on the batch predicate.
    QueryDef(
      "m11_schema_evolution",
      """SELECT o_orderkey,
        |       o_orderstatus,
        |       CASE WHEN o_orderkey % 2 = 1
        |            THEN CAST(o_totalprice AS DOUBLE) END AS extra
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val b1 = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0"
      val b2 = """SELECT o_orderkey, o_orderstatus,
                 |       CAST(o_totalprice AS DOUBLE) AS extra
                 |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin
      Materializer.incremental(eng.wh, "m11_evo", b1, b1, "append",
        Nil, "append_new_columns", Nil, fullRefresh = false)
      Materializer.incremental(eng.wh, "m11_evo", b1, b2, "append",
        Nil, "append_new_columns", Nil, fullRefresh = false)
      eng.wh.read("m11_evo")
        .select("o_orderkey", "o_orderstatus", "extra")
        .orderBy("o_orderkey")
    },

    // cluster_by materialization under the oracle: the range-clustered
    // write (repartitionByRange + sortWithinPartitions) must be
    // CONTENT-LOSSLESS — layout changes, rows don't. TasksSpec proves
    // the pruning property (disjoint per-file min/max footers); this
    // flow proves the data survives the layout transform bit-for-bit,
    // which is the invariant an OPTIMIZE/cluster job must never break.
    QueryDef(
      "m12_cluster_by",
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      Materializer.table(eng.wh, "m12_clustered",
        """SELECT o_orderkey, o_custkey,
          |       CAST(o_totalprice AS DOUBLE) AS price
          |FROM orders""".stripMargin,
        clusterBy = Seq("o_custkey"))
      eng.wh.read("m12_clustered")
        .select("o_orderkey", "o_custkey", "price")
        .orderBy("o_orderkey")
    },

    // A32 deps end-to-end under the oracle: a root project declares a
    // LOCAL package (packages.yml), `deps` installs it into
    // dbt_packages/, and the run exercises every namespacing path —
    // the packaged model reads the source through its OWN unqualified
    // macro (calling-package precedence), the root model refs the
    // packaged model and calls a package macro QUALIFIED
    // (util_pkg.money). The oracle composes the same SQL in closed
    // form, so a macro resolved from the wrong namespace (or a
    // packaged model that fails to load) breaks the hash.
    QueryDef(
      "m13_deps_package",
      """SELECT o_custkey,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
        |FROM orders
        |WHERE o_orderkey % 2 = 0
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val pkgDir = java.nio.file.Files.createTempDirectory("m13_pkg")
      val root = java.nio.file.Files.createTempDirectory("m13_root")
      scratchDirs.add(pkgDir.toFile); scratchDirs.add(root.toFile)
      def write(base: java.nio.file.Path, rel: String, content: String): Unit = {
        val p = base.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write(pkgDir, "dbt_project.yml", "name: util_pkg\n")
      write(pkgDir, "models/m13_base.sql",
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM {{ source('main', 'orders') }}
          |WHERE {{ even_rows('o_orderkey') }}""".stripMargin)
      write(pkgDir, "macros/utils.sql",
        """{% macro even_rows(c) %}{{ c }} % 2 = 0{% endmacro %}
          |{% macro money(c) %}CAST({{ c }} AS DECIMAL(20,4)){% endmacro %}""".stripMargin)
      write(root, "dbt_project.yml", "name: m13root\n")
      write(root, "packages.yml", s"packages:\n  - local: $pkgDir\n")
      write(root, "models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write(root, "models/m13_fct.sql",
        """{{ config(materialized='table') }}
          |SELECT o_custkey,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM({{ util_pkg.money('o_totalprice') }}) AS DOUBLE) AS spend
          |FROM {{ ref('m13_base') }}
          |GROUP BY o_custkey""".stripMargin)
      graft.parse.Deps.install(root.toString)
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m13 run failed: ${results.filterNot(_.status == "success").mkString("; ")}")
      eng.wh.read("m13_fct").orderBy("o_custkey")
    },

    // A23 state:modified under the oracle: v2 of a two-model project
    // textually modifies ONLY the base model (its batch literal flips
    // 1→2); `state:modified` against the v1 manifest must re-run base
    // and NOT the downstream agg. The returned union makes both sides
    // of that boundary data-visible: base rows must carry batch 2
    // (re-ran), agg rows must still carry batch 1 aggregates (did not
    // re-run). Wrong selection in either direction breaks the hash.
    QueryDef(
      "m15_state_modified",
      """SELECT 'agg' AS part, CAST(1 AS BIGINT) AS batch,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT 'base', CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 0
        |ORDER BY part""".stripMargin) { (s, dir) =>
      def project(batch: Int): Map[String, String] = Map(
        "dbt_project.yml" -> "name: m15\n",
        "models/sources.yml" ->
          s"""sources:
             |  - name: main
             |    tables:
             |      - name: orders
             |        path: $dir/orders.parquet
             |""".stripMargin,
        "models/m15_base.sql" ->
          s"""{{ config(materialized='table') }}
             |SELECT o_orderkey, CAST($batch AS BIGINT) AS batch
             |FROM {{ source('main', 'orders') }} WHERE o_orderkey % 4 = 0""".stripMargin,
        "models/m15_agg.sql" ->
          """{{ config(materialized='table') }}
            |SELECT MIN(batch) * {{ m15_scale() }} AS batch,
            |       CAST(COUNT(*) AS BIGINT) AS n
            |FROM {{ ref('m15_base') }}""".stripMargin,
        // identical macro in v1/v2 (agg must NOT re-run); v3 below
        // edits only this body to prove state:modified.macros
        "macros/m15_macros.sql" ->
          "{% macro m15_scale() %}1{% endmacro %}")
      def writeProj(files: Map[String, String]): String = {
        val d = java.nio.file.Files.createTempDirectory("m15_proj")
        scratchDirs.add(d.toFile)
        files.foreach { case (rel, c) =>
          val p = d.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, c)
        }
        d.toString
      }
      val wh = scratch()
      val eng1 = Engine.fromProject(s, writeProj(project(1)), wh)
      require(eng1.run(threads = 2).forall(_.status == "success"), "m15 v1 run failed")
      val eng2 = Engine.fromProject(s, writeProj(project(2)), wh)
      val res = eng2.runWithState(eng1.manifest, Seq("state:modified"), threads = 2)
      require(res.forall(_.status == "success"), s"m15 v2 run failed: $res")
      require(res.map(_.uniqueId) == Seq("model.graft.m15_base"),
        s"state:modified selected ${res.map(_.uniqueId)} (want only m15_base)")
      // r10: state:modified.macros — v3 differs from v1 ONLY in the
      // m15_scale macro body; the agg (its only caller) must select
      // under modified.macros AND under plain modified (reference
      // check_modified_content includes check_macros_modified), while
      // modified.body still sees only the base's literal flip.
      val v3files = project(1) +
        ("macros/m15_macros.sql" ->
          "{%- macro m15_scale() -%}(0 + 1){%- endmacro -%}")
      val eng3 = Engine.fromProject(s, writeProj(v3files), wh)
      val byMacro = eng3.lsWithState(eng1.manifest,
        Seq("state:modified.macros")).toSet
      require(byMacro == Set("model.graft.m15_agg"),
        s"state:modified.macros selected $byMacro (want only m15_agg)")
      val fullMod = eng3.lsWithState(eng1.manifest, Seq("state:modified")).toSet
      require(fullMod == Set("model.graft.m15_agg"),
        s"v3 state:modified selected $fullMod (want only m15_agg)")
      eng2.wh.read("m15_agg")
        .select(lit("agg").as("part"), col("batch"), col("n"))
        .unionByName(eng2.wh.read("m15_base")
          .agg(min("batch").as("batch"), count(lit(1)).as("n"))
          .select(lit("base").as("part"), col("batch"), col("n")))
        .orderBy("part")
    },

    // A15 hooks under the oracle: on-run-start creates the audit
    // table; the model's pre-hook logs phase order; its post-hook reads
    // the A27 result registry ({{ load_result('main').rows_affected }})
    // and appends the row count; on-run-end stamps completion. The
    // returned audit trail is closed-form (phases in order + the
    // count), so a hook firing out of order, not at all, or reading a
    // stale result slot breaks the hash.
    QueryDef(
      "m16_hooks_audit",
      """SELECT * FROM (
        |  SELECT 'run_start' AS phase, CAST(0 AS BIGINT) AS val
        |  UNION ALL
        |  SELECT 'pre_hook', CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'post_hook',
        |         CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS BIGINT)
        |  UNION ALL
        |  SELECT 'run_end', CAST(0 AS BIGINT)
        |) t ORDER BY phase""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m16_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      // each phase derives a NEW view from the previous one (a temp
      // view cannot be redefined from itself — recursive view)
      write("dbt_project.yml",
        """name: m16
          |on-run-start: "CREATE OR REPLACE TEMP VIEW m16_a0 AS SELECT 'run_start' AS phase, CAST(0 AS BIGINT) AS val"
          |on-run-end: "CREATE OR REPLACE TEMP VIEW m16_a3 AS SELECT * FROM m16_a2 UNION ALL SELECT 'run_end', CAST(0 AS BIGINT)"
          |""".stripMargin)
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m16_m.sql",
        """{{ config(materialized='table',
          |   pre_hook="CREATE OR REPLACE TEMP VIEW m16_a1 AS SELECT * FROM m16_a0 UNION ALL SELECT 'pre_hook', CAST(0 AS BIGINT)",
          |   post_hook="CREATE OR REPLACE TEMP VIEW m16_a2 AS SELECT * FROM m16_a1 UNION ALL SELECT 'post_hook', CAST({{ load_result('main').rows_affected }} AS BIGINT)") }}
          |SELECT o_orderkey FROM {{ source('main', 'orders') }}
          |WHERE o_orderkey % 3 = 0""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      val res = eng.run(threads = 1)
      require(res.forall(_.status == "success"), s"m16 run failed: $res")
      s.table("m16_a3").orderBy("phase")
    },

    // A20 build with test-blocking edges under the oracle: two
    // parallel chains — a PASSING test gates child_ok (must build), a
    // FAILING error-severity test gates child_blocked (must be
    // SKIPPED). The result reports each child's existence in the
    // warehouse, so a build that ignores test edges (child_blocked
    // exists) or over-blocks (child_ok missing) breaks the hash.
    QueryDef(
      "m17_build_test_edges",
      """SELECT * FROM (
        |  SELECT 'child_blocked' AS child, CAST(0 AS BIGINT) AS built
        |  UNION ALL
        |  SELECT 'child_ok', CAST(1 AS BIGINT)
        |) t ORDER BY child""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m17_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m17\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/base_ok.sql",
        """{{ config(materialized='table') }}
          |SELECT o_orderkey FROM {{ source('main', 'orders') }}""".stripMargin)
      write("models/base_bad.sql",
        """{{ config(materialized='table') }}
          |SELECT o_orderstatus FROM {{ source('main', 'orders') }}""".stripMargin)
      write("models/child_ok.sql",
        """{{ config(materialized='table') }}
          |SELECT COUNT(*) AS n FROM {{ ref('base_ok') }}""".stripMargin)
      write("models/child_blocked.sql",
        """{{ config(materialized='table') }}
          |SELECT COUNT(*) AS n FROM {{ ref('base_bad') }}""".stripMargin)
      write("models/schema.yml",
        """models:
          |  - name: base_ok
          |    columns:
          |      - name: o_orderkey
          |        tests: [unique]
          |  - name: base_bad
          |    columns:
          |      - name: o_orderstatus
          |        tests: [unique]
          |""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      val res = eng.build(threads = 2)
      val byId = res.map(r => r.uniqueId -> r.status).toMap
      require(byId.exists { case (id, st) => id.contains("unique_base_bad") && st == "fail" },
        s"m17: expected the base_bad unique test to fail: $res")
      // build() executes in its own engine scope; node statuses are the
      // observable contract (skipped = never materialized)
      import s.implicits._
      Seq(
        ("child_blocked",
          if (byId.get("model.graft.child_blocked").contains("success")) 1L else 0L),
        ("child_ok",
          if (byId.get("model.graft.child_ok").contains("success")) 1L else 0L))
        .toDF("child", "built").orderBy("child")
    },

    // A7 hard-delete + revival parity — the reference's scripted
    // invalidate-hard-deletes sequence (`tests/functional/
    // simple_snapshot/test_hard_delete_snapshot.py`): snapshot all rows,
    // hard-delete two key groups (their rows close at the snapshot
    // clock), then REVIVE one group with a fresh updated_at — revived
    // keys must open a NEW version (the old closed row stays closed),
    // the never-revived group stays invalidated, everyone else stays
    // open and untouched. This is the SCD2 edge that bites real users:
    // a revived key has no open row, so it must re-enter through the
    // insert path, not the change path.
    QueryDef(
      "m14_snapshot_hard_delete",
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status,
        |         o_orderdate AS ts, o_orderkey % 10 AS grp
        |  FROM orders
        |)
        |SELECT id, status, dbt_updated_at, dbt_valid_from, dbt_valid_to FROM (
        |  -- original versions: open unless hard-deleted at batch 1
        |  SELECT id, status, ts AS dbt_updated_at, ts AS dbt_valid_from,
        |         CASE WHEN grp IN (6, 7)
        |              THEN TIMESTAMP '2000-01-02 00:00:00' END AS dbt_valid_to
        |  FROM base
        |  UNION ALL
        |  -- revived versions: new open rows at the revival updated_at
        |  SELECT id, 'RV', TIMESTAMP '1999-06-01 00:00:00',
        |         TIMESTAMP '1999-06-01 00:00:00', NULL
        |  FROM base WHERE grp = 6
        |) v
        |ORDER BY id, dbt_valid_from""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val all =
        """SELECT o_orderkey AS id, o_orderstatus AS status,
          |       o_orderdate AS updated_at
          |FROM orders""".stripMargin
      val afterDelete = s"$all WHERE NOT (o_orderkey % 10 IN (6, 7))"
      val withRevived =
        s"""$afterDelete
           |UNION ALL
           |SELECT o_orderkey AS id, 'RV' AS status,
           |       TIMESTAMP '1999-06-01 00:00:00' AS updated_at
           |FROM orders WHERE o_orderkey % 10 = 6""".stripMargin
      Seq(all, afterDelete, withRevived).zipWithIndex.foreach { case (sql, k) =>
        Materializer.snapshot(eng.wh, "m14_snap", sql, Seq("id"),
          TimestampStrategy("updated_at"), invalidateHardDeletes = true,
          clockAt(k))
      }
      eng.wh.read("m14_snap")
        .select("id", "status", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")
        .orderBy("id", "dbt_valid_from")
    },

    // A17 clone under the oracle (reference `core/dbt/task/clone.py:
    // 18-155`): a prod engine builds a table model; a dev engine
    // pointer-clones it (re-register the parquet version dir — the
    // zero-copy-clone analog) and another deep-clones it (rewrite).
    // Both clones must serve EXACTLY the prod data — the hash breaks
    // if a clone re-runs the model, drops rows, or serves a stale
    // version.
    QueryDef(
      "m18_clone",
      """WITH agg AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 'deep' AS mode, status, n, spend FROM agg
        |  UNION ALL
        |  SELECT 'pointer', status, n, spend FROM agg
        |) t ORDER BY mode, status""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m18_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m18\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/clone_src.sql",
        """{{ config(materialized='table') }}
          |SELECT o_orderstatus AS status,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
          |FROM {{ source('main', 'orders') }}
          |GROUP BY o_orderstatus""".stripMargin)
      val prod = Engine.fromProject(s, projDir.toString, scratch())
      require(prod.run().forall(_.status == "success"), "m18: prod run failed")
      val devPtr = new Engine(s, Manifest(Map.empty), scratch())
      devPtr.cloneFrom(prod, Seq("clone_src"))
      val devDeep = new Engine(s, Manifest(Map.empty), scratch())
      devDeep.cloneFrom(prod, Seq("clone_src"), deep = true)
      devDeep.wh.read("clone_src")
        .select(lit("deep").as("mode"), col("status"), col("n"), col("spend"))
        .unionByName(devPtr.wh.read("clone_src")
          .select(lit("pointer").as("mode"), col("status"), col("n"), col("spend")))
        .orderBy("mode", "status")
    },

    // A6 materialized-view config drift under the oracle (reference
    // `on_configuration_change`, `core/dbt/artifacts/resources/v1/
    // materialized_view.py`): after the MV's definition changes,
    // `continue` must KEEP SERVING the old definition's data (stale by
    // design) and `apply` must rebuild onto the new one. The gate
    // reads the MV's rows at both points, so serving fresh data under
    // `continue` (or stale under `apply`) breaks the hash — exactly
    // the drift semantics Spark's lack of native MVs makes easy to
    // fumble.
    QueryDef(
      "m19_materialized_view",
      """SELECT * FROM (
        |  SELECT 'apply_fresh' AS phase,
        |         CAST((SELECT COUNT(*) FROM orders
        |               WHERE o_orderstatus IN ('F', 'O')) AS BIGINT) AS n
        |  UNION ALL
        |  SELECT 'continue_stale',
        |         CAST((SELECT COUNT(*) FROM orders
        |               WHERE o_orderstatus = 'O') AS BIGINT)
        |) t ORDER BY phase""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), scratch())
      val defA = "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'O'"
      val defB = "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus IN ('F', 'O')"
      require(Materializer.materializedView(eng.wh, "m19_mv", defA, "continue") == "create")
      require(Materializer.materializedView(eng.wh, "m19_mv", defA, "continue") == "refresh")
      // drift: continue keeps serving defA's data
      require(Materializer.materializedView(eng.wh, "m19_mv", defB, "continue") == "continue")
      val stale = eng.wh.read("m19_mv").head().getLong(0)
      // drift: apply rebuilds onto defB
      require(Materializer.materializedView(eng.wh, "m19_mv", defB, "apply") == "apply")
      val fresh = eng.wh.read("m19_mv").head().getLong(0)
      import s.implicits._
      Seq(("apply_fresh", fresh), ("continue_stale", stale))
        .toDF("phase", "n").orderBy("phase")
    },

    // A21 retry under the oracle (reference `core/dbt/task/retry.py:
    // 66-145`): a run where a mid-chain model errors (its child
    // SKIPS), then `retry` against the written run_results re-runs
    // ONLY the errored + skipped nodes with the fixed config. The
    // gate reports per-node build counts from the warehouse's version
    // dirs plus final row counts — a retry that re-runs the healthy
    // node (builds=2), or fails to resume the skipped child, breaks
    // the hash.
    QueryDef(
      "m20_retry",
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders)
        |SELECT * FROM (
        |  SELECT 'bad_mid' AS node, CAST(1 AS BIGINT) AS builds, c AS rows_out FROM n
        |  UNION ALL
        |  SELECT 'child_agg', CAST(1 AS BIGINT), CAST(1 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT 'ok_base', CAST(1 AS BIGINT), c FROM n
        |) t ORDER BY node""".stripMargin) { (s, dir) =>
      val whRoot = scratch()
      val target = scratch()
      def manifestWith(vars: Map[String, String]): (Manifest, Map[String, String]) = {
        val src = SourceNode("main", "orders", s"$dir/orders.parquet")
        val okBase = ModelNode("ok_base",
          "SELECT o_orderkey, o_custkey FROM {{ source('main', 'orders') }}",
          config = NodeConfig(materialized = "table"),
          sources = Seq(("main", "orders")))
        val badMid = ModelNode("bad_mid",
          "SELECT o_orderkey, {{ var('price_col') }} AS price FROM {{ source('main', 'orders') }}",
          config = NodeConfig(materialized = "table"),
          sources = Seq(("main", "orders")))
        val child = ModelNode("child_agg",
          "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {{ ref('bad_mid') }}",
          config = NodeConfig(materialized = "table"), refs = Seq("bad_mid"))
        (graft.parse.ProjectLoader.link(Manifest(
          Seq(src, okBase, badMid, child).map(n => n.uniqueId -> n).toMap)), vars)
      }
      // first run: bad_mid errors (no such column), child_agg skips
      val (m1, v1) = manifestWith(Map("price_col" -> "no_such_column"))
      val eng1 = new Engine(s, m1, whRoot, v1)
      val r1 = eng1.run()
      eng1.writeArtifacts(target, r1)
      val st1 = r1.map(r => r.uniqueId -> r.status).toMap
      require(st1.get("model.graft.bad_mid").contains("error"), s"m20: $st1")
      require(st1.get("model.graft.child_agg").contains("skipped"), s"m20: $st1")
      // fixed engine over the SAME warehouse: retry = errored + skipped only
      val (m2, v2) = manifestWith(Map("price_col" -> "o_totalprice"))
      val eng2 = new Engine(s, m2, whRoot, v2)
      val r2 = eng2.retry(s"$target/run_results.json")
      require(r2.map(_.uniqueId).toSet ==
        Set("model.graft.bad_mid", "model.graft.child_agg"),
        s"m20: retry must rerun exactly the errored+skipped nodes: $r2")
      require(r2.forall(_.status == "success"), s"m20: $r2")
      import s.implicits._
      Seq("bad_mid", "child_agg", "ok_base").map { n =>
        val builds = Option(new java.io.File(whRoot, n).listFiles())
          .map(_.count(_.isDirectory).toLong).getOrElse(0L)
        (n, builds, eng2.wh.read(n).count())
      }.toDF("node", "builds", "rows_out").orderBy("node")
    },

    // A12 singular tests under the oracle (reference
    // `core/dbt/parser/singular_test.py`): tests/*.sql files whose
    // SELECT returns the FAILING rows. One passes (empty result), one
    // warns (config severity) with a closed-form failing-row count —
    // status strings and counts both hash-gated.
    QueryDef(
      "m21_singular_tests",
      """SELECT * FROM (
        |  SELECT 'assert_no_negative_price' AS test, 'pass' AS status,
        |         CAST(0 AS BIGINT) AS failing_rows
        |  UNION ALL
        |  SELECT 'assert_no_open_orders', 'warn',
        |         CAST((SELECT COUNT(*) FROM orders
        |               WHERE o_orderstatus = 'O') AS BIGINT)
        |) t ORDER BY test""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m21_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m21\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("tests/assert_no_negative_price.sql",
        """SELECT * FROM {{ source('main', 'orders') }}
          |WHERE o_totalprice < 0""".stripMargin)
      write("tests/assert_no_open_orders.sql",
        """{{ config(severity='warn') }}
          |SELECT * FROM {{ source('main', 'orders') }}
          |WHERE o_orderstatus = 'O'""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      val res = eng.test()
      import s.implicits._
      res.map(r => (r.uniqueId.split('.').last, r.status,
          math.max(r.rowsAffected, 0L)))
        .toDF("test", "status", "failing_rows").orderBy("test")
    },

    // A29 metrics + saved queries under the oracle (reference
    // `core/dbt/contracts/graph/nodes.py` Metric/SavedQuery): a saved
    // query compiles its metrics' calculations over the shared model
    // with the saved where + group-bys. The gate returns the compiled
    // query's DATA, so a wrong aggregation, filter, or grouping breaks
    // the hash — metric compilation is semantics, not metadata.
    QueryDef(
      "m22_saved_query",
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
        |         AS total_spend
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY status""".stripMargin) { (s, dir) =>
      val src = SourceNode("main", "orders", s"$dir/orders.parquet")
      val model = ModelNode("m22_rev",
        """SELECT o_orderkey, o_orderstatus,
          |       CAST(o_totalprice AS DECIMAL(20,4)) AS price
          |FROM {{ source('main', 'orders') }}""".stripMargin,
        config = NodeConfig(materialized = "table"),
        sources = Seq(("main", "orders")))
      val mCount = MetricNode("n_orders", "m22_rev", "CAST(COUNT(*) AS BIGINT)")
      val mSpend = MetricNode("total_spend", "m22_rev",
        "CAST(SUM(price) AS DOUBLE)")
      val saved = SavedQueryNode("m22_sq",
        metrics = Seq("n_orders", "total_spend"),
        groupBy = Seq("o_orderstatus"),
        where = Some("o_orderstatus <> 'P'"))
      val manifest = graft.parse.ProjectLoader.link(Manifest(
        Seq(src, model, mCount, mSpend, saved).map(n => n.uniqueId -> n).toMap))
      val eng = new Engine(s, manifest, scratch())
      require(eng.run(resourceTypes = Set("model")).forall(_.status == "success"),
        "m22: model run failed")
      require(eng.queryMetric("total_spend").count() > 0, "m22: metric compile")
      eng.querySaved("m22_sq")
        .select(col("o_orderstatus").as("status"), col("n_orders"),
          col("total_spend"))
        .orderBy("status")
    },

    // A28 Scala code models under the oracle (the Python-model analog,
    // reference `core/dbt/parser/models.py` PythonParser): a typed
    // DataFrame body runs inside the DAG like any model, and its
    // MATERIALIZED table must match the oracle's SQL — the gate proves
    // code models share the scheduler, warehouse, and ref/source
    // context rather than living beside them.
    QueryDef(
      "m23_scala_model",
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin) { (s, dir) =>
      val src = SourceNode("main", "orders", s"$dir/orders.parquet")
      val sm = ScalaModelNode(
        name = "m23_code_model",
        declaredRefs = Nil,
        declaredSources = Seq(("main", "orders")),
        body = ctx => ctx.source("main", "orders")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(20, 4)))
              .cast("double").as("spend")))
      val base = Manifest(Map(src.uniqueId -> src))
      val linked = graft.run.ScalaModel.link(sm, base)
      val eng = new Engine(s, Manifest(base.nodes + (linked.uniqueId -> linked)),
        scratch())
      require(eng.run().forall(_.status == "success"), "m23: run failed")
      eng.wh.read("m23_code_model").orderBy("status")
    },

    // A9 custom generic tests under the oracle (reference `{% test %}`
    // blocks, `core/dbt/parser/generic_test_builders.py`): a
    // project-defined test macro attaches via schema YAML with kwargs,
    // once passing (no forbidden rows) and once warning with a
    // closed-form failing-row count — proving the macro registers as
    // test_<name>, kwargs bind into the body, and severity configs
    // ride along exactly like the builtin four.
    QueryDef(
      "m24_custom_generic_test",
      """SELECT * FROM (
        |  SELECT 'no_status_m24_orders_o_orderstatus_P' AS test,
        |         'warn' AS status,
        |         CAST((SELECT COUNT(*) FROM orders
        |               WHERE o_orderstatus = 'P') AS BIGINT) AS failing_rows
        |  UNION ALL
        |  SELECT 'no_status_m24_orders_o_orderstatus_X', 'pass',
        |         CAST(0 AS BIGINT)
        |) t ORDER BY test""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m24_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m24\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m24_orders.sql",
        "SELECT * FROM {{ source('main', 'orders') }}")
      write("macros/m24_tests.sql",
        """{% test no_status(model, column_name, forbidden) %}
          |SELECT {{ column_name }} AS bad FROM {{ model }}
          |WHERE {{ column_name }} = '{{ forbidden }}'
          |{% endtest %}""".stripMargin)
      write("models/schema.yml",
        """models:
          |  - name: m24_orders
          |    columns:
          |      - name: o_orderstatus
          |        tests:
          |          - no_status:
          |              forbidden: X
          |          - no_status:
          |              forbidden: P
          |              severity: warn
          |""".stripMargin)
      val eng = Engine.fromProject(s, projDir.toString, scratch())
      require(eng.run().forall(_.status == "success"), "m24: run failed")
      val res = eng.test()
      import s.implicits._
      res.map(r => (r.uniqueId.split('.').last, r.status,
          math.max(r.rowsAffected, 0L)))
        .toDF("test", "status", "failing_rows").orderBy("test")
    },

    // profiles.yml / --target under the oracle (reference
    // `core/dbt/config/profile.py`): one project, two profile outputs.
    // The model's body reads `{{ target.name/schema/threads }}`, so a
    // target context that fails to bind — or a namespace that doesn't
    // isolate the two runs' relations — breaks the hash. Both engines
    // share one warehouse root: only the schema-derived namespace
    // keeps dev/prod apart, exactly like dbt's per-target schemas.
    QueryDef(
      "m25_profile_targets",
      """SELECT * FROM (
        |  SELECT 'dev' AS target_name, 'dev_wh' AS target_schema,
        |         2 AS threads,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders
        |  UNION ALL
        |  SELECT 'prod', 'prod_wh', 8,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
        |) t ORDER BY target_name""".stripMargin) { (s, dir) =>
      val projDir = java.nio.file.Files.createTempDirectory("m25_proj")
      scratchDirs.add(projDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = projDir.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m25\nprofile: m25_profile\n")
      write("profiles.yml",
        """m25_profile:
          |  target: dev
          |  outputs:
          |    dev:
          |      type: spark
          |      schema: dev_wh
          |      threads: 2
          |    prod:
          |      type: spark
          |      schema: prod_wh
          |      threads: 8
          |""".stripMargin)
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m25_env.sql",
        """{{ config(materialized='table') }}
          |SELECT '{{ target.name }}' AS target_name,
          |       '{{ target.schema }}' AS target_schema,
          |       CAST({{ target.threads }} AS INT) AS threads,
          |       CAST(COUNT(*) AS BIGINT) AS n_orders
          |FROM {{ source('main', 'orders') }}""".stripMargin)
      val wh = scratch()
      val dev = Engine.fromProject(s, projDir.toString, wh)
      require(dev.run().forall(_.status == "success"), "m25: dev run failed")
      val prod = Engine.fromProject(s, projDir.toString, wh,
        target = Some("prod"))
      require(prod.run().forall(_.status == "success"), "m25: prod run failed")
      dev.wh.read("dev_wh__m25_env")
        .unionAll(prod.wh.read("prod_wh__m25_env"))
        .orderBy("target_name")
    },

    // Custom {% materialization %} blocks under the oracle (reference
    // materialization macros, task/run.py find_materialization_macro_
    // by_name): a package ships an `audit_table` materialization whose
    // statement('main') drives create_table_as, and the root model uses
    // it. The oracle is the model's own aggregate in closed form — a
    // materialization that fails to run, runs the wrong SQL, or writes
    // the wrong relation breaks rows/schema/hash.
    QueryDef(
      "m26_custom_materialization",
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val pkgDir = java.nio.file.Files.createTempDirectory("m26_pkg")
      val root = java.nio.file.Files.createTempDirectory("m26_root")
      scratchDirs.add(pkgDir.toFile); scratchDirs.add(root.toFile)
      def write(base: java.nio.file.Path, rel: String, content: String): Unit = {
        val p = base.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write(pkgDir, "dbt_project.yml", "name: m26_pkg\n")
      write(pkgDir, "macros/audit_mat.sql",
        """{% materialization audit_table, default %}
          |  {% call statement('main') %}
          |    {{ create_table_as(False, this, sql) }}
          |  {% endcall %}
          |{% endmaterialization %}""".stripMargin)
      write(root, "dbt_project.yml", "name: m26root\n")
      write(root, "packages.yml", s"packages:\n  - local: $pkgDir\n")
      write(root, "models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write(root, "models/m26_fct.sql",
        """{{ config(materialized='audit_table') }}
          |SELECT o_orderstatus,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
          |FROM {{ source('main', 'orders') }}
          |GROUP BY o_orderstatus""".stripMargin)
      graft.parse.Deps.install(root.toString)
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m26 run failed: ${results.filterNot(_.status == "success").mkString("; ")}")
      eng.wh.read("m26_fct").orderBy("o_orderstatus")
    },

    // dbt-spark `file_format` config end-to-end: a model materializes
    // as ORC (config parse → Engine → Warehouse format-aware write),
    // the on-disk files must really be ORC, and a SECOND Warehouse
    // over the same root must replay the commit manifest WITH its
    // format header — the gate reads through the recovered warehouse,
    // so a format lost anywhere in the chain (write, manifest,
    // recovery, read) breaks the hash.
    QueryDef(
      "m27_file_format_orc",
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("m27_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m27proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m27_fct.sql",
        """{{ config(materialized='table', file_format='orc') }}
          |SELECT o_orderpriority,
          |       CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
          |FROM {{ source('main', 'orders') }}
          |GROUP BY o_orderpriority""".stripMargin)
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m27 run failed: ${results.filterNot(_.status == "success").mkString("; ")}")
      require(eng.wh.formatOf("m27_fct") == "orc", "relation must be ORC")
      val files = java.nio.file.Files.walk(
          java.nio.file.Paths.get(whRoot, "m27_fct"))
        .iterator()
      val hasOrc = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
        .asScala.exists(_.toString.endsWith(".orc"))
      require(hasOrc, "on-disk files must be .orc")
      // durability: a fresh Warehouse must recover the format
      val wh2 = new graft.exec.Warehouse(s, whRoot)
      require(wh2.formatOf("m27_fct") == "orc",
        "recovered warehouse must replay the format header")
      wh2.read("m27_fct").orderBy("o_orderpriority")
    },

    // A18 show/preview under the oracle: `dbt show --inline` renders
    // the template (ref() resolution included) and previews through
    // the engine's limit path. A deterministic ORDER BY inside the
    // preview makes the LIMIT 7 slice exact, so the oracle can
    // reproduce it in closed form.
    QueryDef(
      "m28_show_preview",
      """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'F'
        |      ORDER BY o_orderkey LIMIT 7) t
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), scratch())
      eng.show(
        """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
          |FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY o_orderkey""".stripMargin, limit = 7)
        .orderBy("o_orderkey")
    },

    // A22 selection DSL under the oracle: a 4-model diamond where the
    // run selects `+mid_b` (ancestors-of) — exactly {base, mid_b} must
    // materialize; mid_a and leaf must NOT exist afterwards. The gate
    // serves mid_b's data THROUGH the selective run's warehouse, and
    // the require() pins the anti-set, so a selector that over- or
    // under-selects fails before the hash is even compared.
    QueryDef(
      "m29_graph_selection",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders WHERE o_totalprice > 100
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("m29_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m29proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m29_base.sql",
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM {{ source('main', 'orders') }} WHERE o_totalprice > 100""".stripMargin)
      write("models/m29_mid_a.sql",
        "SELECT o_orderkey FROM {{ ref('m29_base') }}")
      write("models/m29_mid_b.sql",
        """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
          |FROM {{ ref('m29_base') }} GROUP BY o_orderstatus""".stripMargin)
      write("models/m29_leaf.sql",
        "SELECT * FROM {{ ref('m29_mid_b') }}")
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run(select = Seq("+m29_mid_b"), threads = 2)
      require(results.forall(_.status == "success"),
        s"m29 run failed: ${results.mkString("; ")}")
      require(results.map(_.uniqueId.split('.').last).toSet ==
        Set("m29_base", "m29_mid_b"),
        s"selection must be exactly base+mid_b, got ${results.map(_.uniqueId)}")
      require(!eng.wh.exists("m29_mid_a") && !eng.wh.exists("m29_leaf"),
        "unselected models must not materialize")
      eng.wh.read("m29_mid_b").orderBy("o_orderstatus")
    },

    // A30 docs-generate catalog, oracle-gated: run a scripted project,
    // write catalog.json, parse it BACK, and hash the table/column
    // content (names, 1-based indexes, SQL types, footer row counts)
    // against closed-form expectations over the same input.
    QueryDef(
      "m30_docs_catalog",
      """WITH rc AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'm30_fct' AS relation, 'o_custkey' AS column_name,
        |         CAST(1 AS INTEGER) AS column_index, 'BIGINT' AS column_type, rc.n AS row_count FROM rc
        |  UNION ALL SELECT 'm30_fct', 'n_orders', CAST(2 AS INTEGER), 'BIGINT', rc.n FROM rc
        |  UNION ALL SELECT 'm30_fct', 'spend', CAST(3 AS INTEGER), 'DOUBLE', rc.n FROM rc
        |) ORDER BY column_index""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m30_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m30proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m30_stg.sql",
        """{{ config(materialized='view') }}
          |SELECT o_orderkey, o_custkey, o_totalprice
          |FROM {{ source('main', 'orders') }}""".stripMargin)
      write("models/m30_fct.sql",
        """{{ config(materialized='table') }}
          |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS spend
          |FROM {{ ref('m30_stg') }} GROUP BY o_custkey""".stripMargin)
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m30 run failed: ${results.mkString("; ")}")
      val target = scratch()
      eng.writeArtifacts(target, results)
      val cat = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$target/catalog.json")))
      // views are cataloged too — pinned here, hashed content is the table
      require(cat.at("/nodes/m30_stg/metadata/type").asText == "view",
        "m30_stg must appear in the catalog as a view")
      val fct = cat.at("/nodes/m30_fct")
      require(fct.at("/metadata/type").asText == "table")
      val rowCount = fct.at("/stats/row_count/value").asLong
      val cols = fct.get("columns")
      val rows = cols.properties().iterator()
      val buf = scala.collection.mutable.Buffer[(String, String, Int, String, Long)]()
      while (rows.hasNext) {
        val e = rows.next()
        buf += (("m30_fct", e.getKey, e.getValue.get("index").asInt,
          e.getValue.get("type").asText, rowCount))
      }
      buf.toSeq.toDF("relation", "column_name", "column_index",
        "column_type", "row_count").orderBy("column_index")
    },

    // A33 run_results, oracle-gated: a scripted build with a passing
    // test, a deterministically failing singular test, and a blocked
    // downstream model; run_results.json is parsed BACK and statuses /
    // failures / adapter rows_affected hash-compare against the
    // closed-form expectation.
    QueryDef(
      "m31_run_results",
      """WITH rc AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'model.graft.m31_down' AS unique_id, 'skipped' AS status,
        |         CAST(0 AS BIGINT) AS failures, CAST(0 AS BIGINT) AS rows_affected FROM rc
        |  UNION ALL SELECT 'model.graft.m31_fct', 'success', 0, rc.n FROM rc
        |  UNION ALL SELECT 'test.graft.m31_bad', 'fail', 1, 1 FROM rc
        |  UNION ALL SELECT 'test.graft.not_null_m31_fct_o_custkey', 'pass', 0, 0 FROM rc
        |) ORDER BY unique_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m31_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m31proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m31_fct.sql",
        """{{ config(materialized='table') }}
          |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
          |FROM {{ source('main', 'orders') }} GROUP BY o_custkey""".stripMargin)
      write("models/m31_down.sql",
        "SELECT * FROM {{ ref('m31_fct') }}")
      write("models/schema.yml",
        """models:
          |  - name: m31_fct
          |    columns:
          |      - name: o_custkey
          |        tests: [not_null]
          |""".stripMargin)
      // exactly one failing row, independent of the data
      write("tests/m31_bad.sql",
        "SELECT 1 AS bad FROM {{ ref('m31_fct') }} LIMIT 1")
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.build(Nil)
      val target = scratch()
      eng.writeArtifacts(target, results)
      val rr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$target/run_results.json")))
      val buf = scala.collection.mutable.Buffer[(String, String, Long, Long)]()
      rr.get("results").forEach { item =>
        val failures =
          if (item.get("failures").isNull) 0L else item.get("failures").asLong
        val rowsAffected = Option(item.at("/adapter_response/rows_affected"))
          .filterNot(_.isMissingNode).map(_.asLong).getOrElse(0L)
        buf += ((item.get("unique_id").asText, item.get("status").asText,
          failures, rowsAffected))
      }
      buf.toSeq.toDF("unique_id", "status", "failures", "rows_affected")
        .orderBy("unique_id")
    },

    // A25 Jinja macro namespaces + filter blocks under the oracle
    // (reference uses native Jinja2, `core/dbt/clients/jinja.py`, so
    // `{% import %}`/`{% from %}`/`{% filter %}` all work there): a
    // model imports a helper file that is NOT on any macro load path —
    // reachable only through the template loader — calls a namespace
    // member whose body calls a SIBLING macro from the same file, binds
    // a second macro via from-import-as, and assembles an aggregate
    // through a {% filter lower | trim %} block. r12 additions: the
    // GROUP BY list is counted through namespace() mutation across a
    // for loop (jinja2.utils.Namespace), and the CASE literals pass
    // through a PROJECT-macro custom filter (`| sqlquote`). Any failure
    // in namespace binding, sibling resolution, kwargs, cross-iteration
    // namespace state, custom-filter dispatch, or filter-block
    // application changes the generated SQL and breaks the hash.
    QueryDef(
      "m32_jinja_namespaces",
      """SELECT o_orderstatus AS status,
        |       CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS price_band,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY status, price_band""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("m32_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m32proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      // deliberately outside models/ and macros/: only {% import %}
      // can reach it, so project-wide macro registration can't mask a
      // broken namespace path
      write("snippets/m32_helpers.sql",
        """{% macro ident(c) %}{{ c }}{% endmacro %}
          |{% macro pick(c, alias='') %}{{ ident(c) }}{% if alias %} AS {{ alias }}{% endif %}{% endmacro %}
          |{% macro price_band(c, hi, lo) %}CASE WHEN {{ ident(c) }} > 150000 THEN {{ hi }} ELSE {{ lo }} END{% endmacro %}
          |""".stripMargin)
      // project macro doubling as a custom filter (`| sqlquote`) — the
      // hermetic analog of Jinja2 filter registration
      write("macros/m32_filters.sql",
        """{% macro sqlquote(v) %}'{{ v }}'{% endmacro %}""")
      // the GROUP BY list is assembled through namespace() mutation
      // across the for loop (jinja2.utils.Namespace semantics): if
      // cross-iteration state breaks, the GROUP BY arity changes and
      // the oracle hash breaks with it
      write("models/m32_fct.sql",
        """{{ config(materialized='table') }}
          |{% import 'snippets/m32_helpers.sql' as h %}
          |{% from 'snippets/m32_helpers.sql' import price_band as pb %}
          |{% set ns = namespace(n=0) %}
          |{% for c in ['o_orderstatus', 'o_totalprice'] %}{% set ns.n = ns.n + 1 %}{% endfor %}
          |{% set hi_lit = 'hi' | sqlquote %}
          |{% set lo_lit = 'lo' | sqlquote %}
          |SELECT {{ h.pick('o_orderstatus', alias='status') }},
          |       {{ pb('o_totalprice', hi_lit, lo_lit) }} AS price_band,
          |       {% filter lower | trim %} COUNT(*) {% endfilter %} AS n_orders
          |FROM {{ source('main', 'orders') }}
          |GROUP BY {% for i in range(1, ns.n + 1) %}{{ i }}{% if not loop.last %}, {% endif %}{% endfor %}""".stripMargin)
      val eng = Engine.fromProject(s, root.toString, scratch())
      require(eng.run().forall(_.status == "success"), "m32: run failed")
      eng.wh.read("m32_fct")
        .withColumn("n_orders", org.apache.spark.sql.functions.col("n_orders").cast("long"))
        .orderBy("status", "price_band")
    },

    // Grants config (reference `grants`, config.py:110-112 +
    // context_config.py:322-341 DictKeyAppend; apply flow
    // dbt/adapters/base/impl.py apply_grants): project-level +grants
    // cascade, model-level `+select` EXTENDS while bare `insert`
    // clobbers, re-run with unchanged grants is a no-op (idempotent
    // diff), and a grants change reconciles with explicit grant+revoke
    // actions. The oracle pins the full audit + final state, anchored
    // to a real aggregate of the orders table.
    QueryDef(
      "m33_grants",
      """WITH rc AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'm33_fct' AS relation, 'insert' AS privilege, 'loader' AS grantee,
        |         'grant' AS action, CAST(1 AS INTEGER) AS phase, rc.n AS n_rows FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'analyst', 'grant', 1, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'bi', 'grant', 1, rc.n FROM rc
        |  UNION ALL SELECT 'm33_stg', 'select', 'analyst', 'grant', 1, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'insert', 'loader', 'revoke', 2, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'analyst', 'revoke', 2, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'bi', 'revoke', 2, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'ops', 'grant', 2, rc.n FROM rc
        |  UNION ALL SELECT 'm33_fct', 'select', 'ops', 'has', 3, rc.n FROM rc
        |  UNION ALL SELECT 'm33_stg', 'select', 'analyst', 'has', 3, rc.n FROM rc
        |) ORDER BY phase, relation, privilege, grantee, action""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m33_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml",
        """name: m33proj
          |models:
          |  m33proj:
          |    +grants:
          |      select: ['analyst']
          |""".stripMargin)
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m33_stg.sql",
        """{{ config(materialized='view') }}
          |SELECT o_orderkey, o_custkey FROM {{ source('main', 'orders') }}""".stripMargin)
      val fctSqlV1 =
        """{{ config(materialized='table', grants={'+select': ['bi'], 'insert': ['loader']}) }}
          |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
          |FROM {{ ref('m33_stg') }} GROUP BY o_custkey""".stripMargin
      write("models/m33_fct.sql", fctSqlV1)
      val whDir = scratch()
      val eng1 = Engine.fromProject(s, root.toString, whDir)
      require(eng1.run().forall(_.status == "success"), "m33 phase-1 run failed")
      val phase1 = eng1.wh.grantLog
      require(eng1.wh.grantsOf("m33_fct") ==
        Map("select" -> Seq("analyst", "bi"), "insert" -> Seq("loader")),
        s"m33: fct grants cascade wrong: ${eng1.wh.grantsOf("m33_fct")}")
      // unchanged re-run: the diff must be empty (reference apply_grants
      // short-circuits when show_grants matches the config)
      val engSame = Engine.fromProject(s, root.toString, whDir)
      require(engSame.run().forall(_.status == "success"), "m33 re-run failed")
      require(engSame.wh.grantLog.isEmpty,
        s"m33: unchanged grants must reconcile to zero actions, got ${engSame.wh.grantLog}")
      // phase 2: the model clobbers select (bare key) and drops insert
      write("models/m33_fct.sql", fctSqlV1.replace(
        "grants={'+select': ['bi'], 'insert': ['loader']}",
        "grants={'select': ['ops']}"))
      val eng2 = Engine.fromProject(s, root.toString, whDir)
      require(eng2.run().forall(_.status == "success"), "m33 phase-2 run failed")
      val phase2 = eng2.wh.grantLog
      val finals = (eng2.wh.grantsOf("m33_fct").toSeq.map(("m33_fct", _)) ++
        eng2.wh.grantsOf("m33_stg").toSeq.map(("m33_stg", _)))
        .flatMap { case (rel, (priv, gs)) => gs.map(g => (rel, priv, g, "has", 3)) }
      val rows =
        phase1.map(a => (a.relation, a.privilege, a.grantee, a.action, 1)) ++
          phase2.map(a => (a.relation, a.privilege, a.grantee, a.action, 2)) ++
          finals
      val nRows = eng2.wh.rowCount("m33_fct")
      rows.toDF("relation", "privilege", "grantee", "action", "phase")
        .withColumn("n_rows", lit(nRows))
        .orderBy("phase", "relation", "privilege", "grantee", "action")
    },

    // persist_docs (reference `persist_docs`, MergeBehavior.Update;
    // adapters write COMMENT ON through when relation/columns flags are
    // set): model + column descriptions from schema YAML flow into the
    // warehouse comment sidecars and surface in catalog.json — but ONLY
    // for the enabled scopes (relation-only model keeps columns bare;
    // undocumented model stays commentless).
    QueryDef(
      "m34_persist_docs",
      """WITH rc AS (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'm34_doc' AS relation, '_table_' AS column_name,
        |         'Orders per status.' AS comment, rc.n AS n_rows FROM rc
        |  UNION ALL SELECT 'm34_doc', 'o_orderstatus', 'Status code.', rc.n FROM rc
        |  UNION ALL SELECT 'm34_doc', 'n_orders', 'Orders in status.', rc.n FROM rc
        |  UNION ALL SELECT 'm34_rel', '_table_', 'Relation-only docs.', rc.n FROM rc
        |) ORDER BY relation, column_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m34_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m34proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/schema.yml",
        """models:
          |  - name: m34_doc
          |    description: 'Orders per status.'
          |    config:
          |      persist_docs: {relation: true, columns: true}
          |    columns:
          |      - name: o_orderstatus
          |        description: 'Status code.'
          |      - name: n_orders
          |        description: 'Orders in status.'
          |  - name: m34_rel
          |    description: 'Relation-only docs.'
          |    config:
          |      persist_docs: {relation: true}
          |    columns:
          |      - name: o_orderstatus
          |        description: 'Never persisted.'
          |  - name: m34_plain
          |    description: 'No persist_docs at all.'
          |""".stripMargin)
      val body =
        """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
          |FROM {{ source('main', 'orders') }} GROUP BY o_orderstatus""".stripMargin
      write("models/m34_doc.sql", s"{{ config(materialized='table') }}\n$body")
      write("models/m34_rel.sql", s"{{ config(materialized='table') }}\n$body")
      write("models/m34_plain.sql", s"{{ config(materialized='table') }}\n$body")
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run()
      require(results.forall(_.status == "success"),
        s"m34 run failed: ${results.mkString("; ")}")
      // catalog surfaces exactly the persisted comments
      val target = scratch()
      eng.writeArtifacts(target, results)
      val cat = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$target/catalog.json")))
      require(cat.at("/nodes/m34_plain/metadata/comment").isNull,
        "m34_plain must have no relation comment")
      require(cat.at("/nodes/m34_rel/columns/o_orderstatus/comment").isNull,
        "m34_rel columns must not be persisted (relation-only)")
      require(!cat.at("/nodes/m34_doc/columns/n_orders/comment").isNull,
        "m34_doc column comments must persist")
      val rows = scala.collection.mutable.Buffer[(String, String, String)]()
      for (rel <- Seq("m34_doc", "m34_rel", "m34_plain")) {
        val relComment = cat.at(s"/nodes/$rel/metadata/comment")
        if (!relComment.isNull) rows += ((rel, "_table_", relComment.asText))
        val it = cat.at(s"/nodes/$rel/columns").properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.get("comment")
          if (!c.isNull) rows += ((rel, e.getKey, c.asText))
        }
      }
      val nRows = eng.wh.rowCount("m34_doc")
      rows.toSeq.toDF("relation", "column_name", "comment")
        .withColumn("n_rows", lit(nRows))
        .orderBy("relation", "column_name")
    },

    // Custom snapshot strategy (reference `snapshot_<name>_strategy`
    // macro shape, simple_snapshot/fixtures.py:66-85): a 'lag' strategy
    // whose row_changed DEBOUNCES updates — a source row supersedes
    // only when its updated_at is >= 1 day past the snapshotted row's.
    // Batch 2 updates ids%10=0 by +2 days (captured as SCD2 versions)
    // and ids%10=1 by +12 hours (ignored — the behavior no builtin
    // strategy can express). The oracle writes the expected end state
    // in closed form.
    QueryDef(
      "m35_custom_snapshot_strategy",
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status, o_orderkey % 10 AS grp
        |  FROM orders
        |)
        |SELECT id, status, dbt_valid_from, dbt_valid_to FROM (
        |  -- closed first version of the +2d-updated rows
        |  SELECT id, status, TIMESTAMP '1999-01-01 00:00:00' AS dbt_valid_from,
        |         TIMESTAMP '1999-01-03 00:00:00' AS dbt_valid_to
        |  FROM base WHERE grp = 0
        |  UNION ALL
        |  -- their open second version
        |  SELECT id, 'U1', TIMESTAMP '1999-01-03 00:00:00', NULL FROM base WHERE grp = 0
        |  UNION ALL
        |  -- debounced +12h updates keep the ORIGINAL open row
        |  SELECT id, status, TIMESTAMP '1999-01-01 00:00:00', NULL FROM base WHERE grp <> 0
        |) v
        |ORDER BY id, dbt_valid_from""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("m35_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      val srcDir = java.nio.file.Files.createTempDirectory("m35_src")
      scratchDirs.add(srcDir.toFile)
      write("dbt_project.yml", "name: m35proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: m35_src
           |        path: $srcDir/src.parquet
           |""".stripMargin)
      write("macros/lag_strategy.sql",
        """{% macro snapshot_lag_strategy(node, snapshotted_rel, current_rel, config, target_exists) %}
          |{% set ua = config['updated_at'] %}
          |{{ return({
          |  'unique_key': config['unique_key'],
          |  'updated_at': ua,
          |  'row_changed': current_rel ~ '.' ~ ua ~ ' >= ' ~ snapshotted_rel ~ '.' ~ ua ~ ' + INTERVAL 1 DAY',
          |  'scd_id': "md5(concat_ws('|', cast(id as string), cast(" ~ ua ~ " as string)))"
          |}) }}
          |{% endmacro %}""".stripMargin)
      write("snapshots/m35_snap.sql",
        """{% snapshot m35_snap %}
          |{{ config(strategy='lag', unique_key='id', updated_at='updated_at') }}
          |SELECT * FROM {{ source('main', 'm35_src') }}
          |{% endsnapshot %}""".stripMargin)
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          (col("o_orderkey") % 10).as("grp"))
      def writeBatch(second: Boolean): Unit = {
        val ts0 = to_timestamp(lit("1999-01-01 00:00:00"))
        val b =
          if (!second) orders.select(col("id"), col("status"), ts0.as("updated_at"))
          else orders.select(col("id"),
            when(col("grp") === 0, "U1")
              .when(col("grp") === 1, "U2").otherwise(col("status")).as("status"),
            when(col("grp") === 0, to_timestamp(lit("1999-01-03 00:00:00")))
              .when(col("grp") === 1, to_timestamp(lit("1999-01-01 12:00:00")))
              .otherwise(ts0).as("updated_at"))
        b.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/src.parquet")
      }
      val whDir = scratch()
      writeBatch(second = false)
      val eng1 = Engine.fromProject(s, root.toString, whDir)
      require(eng1.run().forall(_.status == "success"), "m35 run 1 failed")
      writeBatch(second = true)
      val eng2 = Engine.fromProject(s, root.toString, whDir)
      require(eng2.run().forall(_.status == "success"), "m35 run 2 failed")
      eng2.wh.read("m35_snap")
        .select("id", "status", "dbt_valid_from", "dbt_valid_to")
        .orderBy("id", "dbt_valid_from")
    },

    // Source overrides (reference SourcePatcher,
    // `core/dbt/parser/sources.py`; tests/functional/source_overrides):
    // the installed package points its `ext.orders` source at the
    // sf0.001 dataset; the ROOT project overrides that source to the
    // gate's actual dataset. The package model's `source()` call must
    // resolve to the overridden path — the oracle computes from the
    // real data, so serving the package's original (1/10th-sized)
    // dataset hash-fails.
    QueryDef(
      "m36_source_override",
      """SELECT o_orderstatus AS status,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin) { (s, dir) =>
      val pkgDir = java.nio.file.Files.createTempDirectory("m36_pkg")
      val root = java.nio.file.Files.createTempDirectory("m36_root")
      scratchDirs.add(pkgDir.toFile); scratchDirs.add(root.toFile)
      def write(base: java.nio.file.Path, rel: String, content: String): Unit = {
        val p = base.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      val wrongDir = java.nio.file.Paths.get(dir).getParent.resolve("sf0.001")
      write(pkgDir, "dbt_project.yml", "name: m36_pkg\n")
      write(pkgDir, "models/sources.yml",
        s"""sources:
           |  - name: ext
           |    tables:
           |      - name: orders
           |        path: $wrongDir/orders.parquet
           |""".stripMargin)
      write(pkgDir, "models/m36_fct.sql",
        """{{ config(materialized='table') }}
          |SELECT o_orderstatus AS status,
          |       CAST(COUNT(*) AS BIGINT) AS n_orders,
          |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
          |FROM {{ source('ext', 'orders') }} GROUP BY o_orderstatus""".stripMargin)
      write(root, "dbt_project.yml", "name: m36root\n")
      write(root, "packages.yml", s"packages:\n  - local: $pkgDir\n")
      write(root, "models/sources.yml",
        s"""sources:
           |  - name: ext
           |    overrides: m36_pkg
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      graft.parse.Deps.install(root.toString)
      val eng = Engine.fromProject(s, root.toString, scratch())
      val results = eng.run(threads = 2)
      require(results.forall(_.status == "success"),
        s"m36 run failed: ${results.mkString("; ")}")
      eng.wh.read("m36_fct").orderBy("status")
    },

    // query-comment (A37; reference `core/dbt/contracts/project.py:259`
    // + `dbt/adapters/base/query_headers.py`): the comment header the
    // engine attaches to every executed node's warehouse work. Spark
    // has no SQL text channel for a running job, so the attribution
    // channel is the job description (Spark UI / event-log analog of a
    // query-history comment) plus a per-run audit map. Three phases:
    // absent config -> the reference default JSON header; string form
    // -> Jinja-rendered per node (node.* + target.* context); dict
    // form -> append placement + job-label off. The oracle pins every
    // rendered comment and placement, anchored to a real aggregate.
    QueryDef(
      "m37_query_comment",
      """WITH rc AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS phase, 'model.graft.m37_a' AS node_id,
        |         '{"app": "dbt", "dbt_version": "1.9.0-graft", "profile_name": "graft", "target_name": "default", "node_id": "model.graft.m37_a"}' AS comment,
        |         'prepend' AS placement, rc.n AS n_rows FROM rc
        |  UNION ALL SELECT 2, 'model.graft.m37_a',
        |         'run m37_a as view for default', 'prepend', rc.n FROM rc
        |  UNION ALL SELECT 3, 'model.graft.m37_a',
        |         'tail of model.graft.m37_a', 'append', rc.n FROM rc
        |  UNION ALL SELECT 1, 'model.graft.m37_b',
        |         '{"app": "dbt", "dbt_version": "1.9.0-graft", "profile_name": "graft", "target_name": "default", "node_id": "model.graft.m37_b"}',
        |         'prepend', rc.n FROM rc
        |  UNION ALL SELECT 2, 'model.graft.m37_b',
        |         'run m37_b as table for default', 'prepend', rc.n FROM rc
        |  UNION ALL SELECT 3, 'model.graft.m37_b',
        |         'tail of model.graft.m37_b', 'append', rc.n FROM rc
        |) ORDER BY phase, node_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m37_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      val projBase = "name: m37proj\n"
      write("dbt_project.yml", projBase)
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m37_a.sql",
        """{{ config(materialized='view') }}
          |SELECT o_custkey FROM {{ source('main', 'orders') }} GROUP BY o_custkey""".stripMargin)
      write("models/m37_b.sql",
        """{{ config(materialized='table') }}
          |SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {{ ref('m37_a') }}""".stripMargin)
      val whDir = scratch()
      def phaseRun(projYml: String): Map[String, (String, String)] = {
        write("dbt_project.yml", projYml)
        val eng = Engine.fromProject(s, root.toString, whDir)
        require(eng.run(threads = 2).forall(_.status == "success"),
          "m37 run failed")
        import scala.jdk.CollectionConverters._
        eng.queryComments.asScala.toMap
      }
      val p1 = phaseRun(projBase)
      val p2 = phaseRun(projBase +
        "query-comment: \"run {{ node.name }} as {{ node.materialized }} for {{ target.name }}\"\n")
      val p3 = phaseRun(projBase +
        """query-comment:
          |  comment: "tail of {{ node.unique_id }}"
          |  append: true
          |  job-label: false
          |""".stripMargin)
      val rows = Seq(p1, p2, p3).zipWithIndex.flatMap { case (m, i) =>
        m.toSeq.map { case (id, (c, place)) => (i + 1, id, c, place) }
      }
      val nRows = graft.Tables.load(s, dir, "orders")
        .select(countDistinct("o_custkey")).head().getLong(0)
      rows.toDF("phase", "node_id", "comment", "placement")
        .withColumn("n_rows", lit(nRows))
        .orderBy("phase", "node_id")
    },

    // Metadata source freshness (reference `task/freshness.py`
    // metadata branch): a source with freshness thresholds but NO
    // loaded_at_field asks the warehouse for last-modified metadata —
    // here the newest file mtime under the source path, no data scan.
    // Gate: three copies of orders.parquet with pinned mtimes against
    // a pinned clock hit pass/warn/error exactly; a filter on a
    // metadata check fails loudly (reference raises); and the
    // data_tests/tests dual-key parse error is asserted alongside.
    QueryDef(
      "m38_metadata_freshness",
      """SELECT * FROM (
        |  SELECT 'src_fresh' AS tbl, 'pass' AS status, CAST(600 AS BIGINT) AS age_sec
        |  UNION ALL SELECT 'src_mid', 'warn', 7200
        |  UNION ALL SELECT 'src_old', 'error', 172800
        |  UNION ALL SELECT 'filter_check', 'raises', -1
        |  UNION ALL SELECT 'dual_test_keys', 'raises', -1
        |) ORDER BY tbl""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m38_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      // clock pinned to 2000-01-01; copies of orders.parquet with
      // mtimes 10 min / 2 h / 2 d before it
      val clock = clockAt(0)
      val now = clock().getTime
      val data = root.resolve("data")
      java.nio.file.Files.createDirectories(data)
      def copyWithAge(name: String, ageSec: Long): Unit = {
        val dst = data.resolve(s"$name.parquet")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "orders.parquet"), dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(now - ageSec * 1000))
      }
      copyWithAge("src_fresh", 600)
      copyWithAge("src_mid", 7200)
      copyWithAge("src_old", 172800)
      write("dbt_project.yml", "name: m38proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: meta
           |    tables:
           |      - name: src_fresh
           |        path: $data/src_fresh.parquet
           |        freshness: {warn_after_sec: 3600, error_after_sec: 86400}
           |      - name: src_mid
           |        path: $data/src_mid.parquet
           |        freshness: {warn_after_sec: 3600, error_after_sec: 86400}
           |      - name: src_old
           |        path: $data/src_old.parquet
           |        freshness: {warn_after_sec: 3600, error_after_sec: 86400}
           |""".stripMargin)
      val eng = Engine.fromProject(s, root.toString, scratch(), clock = clock)
      val fresh = eng.sourceFreshness()
      val rows = fresh.toSeq.map { case (id, (status, age)) =>
        (id.split("\\.").last, status, age.toLong)
      }
      // filter on a metadata check must raise (reference parity)
      write("models/sources.yml",
        s"""sources:
           |  - name: meta
           |    tables:
           |      - name: src_fresh
           |        path: $data/src_fresh.parquet
           |        freshness: {warn_after_sec: 3600, filter: "o_custkey > 0"}
           |""".stripMargin)
      val engF = Engine.fromProject(s, root.toString, scratch(), clock = clock)
      val filterRaises =
        try { engF.sourceFreshness(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("metadata freshness"); }
      require(filterRaises, "m38: filter + metadata freshness must raise")
      // tests + data_tests on one node must be a parse error
      write("models/sources.yml",
        s"""sources:
           |  - name: meta
           |    tables:
           |      - name: src_fresh
           |        path: $data/src_fresh.parquet
           |""".stripMargin)
      write("models/m38_m.sql", "SELECT 1 AS one")
      write("models/schema.yml",
        """models:
          |  - name: m38_m
          |    tests: [{not_null: {column_name: one}}]
          |    data_tests: [{unique: {column_name: one}}]
          |""".stripMargin)
      val dualRaises =
        try { Engine.fromProject(s, root.toString, scratch()); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("data_tests"); }
      require(dualRaises, "m38: tests + data_tests together must raise")
      (rows :+ (("filter_check", "raises", -1L)) :+ (("dual_test_keys", "raises", -1L)))
        .toDF("tbl", "status", "age_sec")
        .orderBy("tbl")
    },

    // A3 at 100 TB: partition-pruned incremental merge — a delta that
    // touches 2 of the 7 year-partitions (1998 updates + keys MOVING
    // from 1997 to 1998) must rewrite ONLY those two partition dirs;
    // the other 5 carry into the new commit by reference (hard-linked
    // files, the object-storage metadata-copy analog), and the final
    // table must equal the oracle's from-scratch recompute bit-for-bit.
    // Reference semantics: tests/functional/materializations/
    // test_incremental.py:33-53.
    QueryDef(
      "m40_pruned_merge",
      """WITH full_t AS (
        |  SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders
        |), delta AS (
        |  SELECT o_orderkey, CAST(1998 AS BIGINT) AS yr, cents * 2 AS cents
        |  FROM full_t
        |  WHERE (yr = 1998 AND o_orderkey % 10 = 0)
        |     OR (yr = 1997 AND o_orderkey % 100 = 0)
        |)
        |SELECT o_orderkey, yr, cents FROM delta
        |UNION ALL
        |SELECT o_orderkey, yr, cents FROM full_t
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |ORDER BY o_orderkey, yr""".stripMargin) { (s, dir) =>
      val wh = scratch()
      graft.Tables.registerAll(s, dir)
      val eng = new Engine(s, Manifest(Map.empty), wh)
      val full =
        """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
          |       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
          |FROM orders""".stripMargin
      val delta =
        """SELECT o_orderkey, CAST(1998 AS BIGINT) AS yr, cents * 2 AS cents
          |FROM (SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
          |             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
          |      FROM orders) t
          |WHERE (yr = 1998 AND o_orderkey % 10 = 0)
          |   OR (yr = 1997 AND o_orderkey % 100 = 0)""".stripMargin
      Materializer.incremental(eng.wh, "m40_inc", full, full, "merge",
        Seq("o_orderkey"), "ignore", Seq("yr"), fullRefresh = false)
      Materializer.lastPrunedWrite.set(None)
      Materializer.incremental(eng.wh, "m40_inc", full, delta, "merge",
        Seq("o_orderkey"), "ignore", Seq("yr"), fullRefresh = false)
      val stats = Materializer.lastPrunedWrite.get()
      require(stats.isDefined, "m40: merge must take the pruned write path")
      val (_, rewritten, carriedParts, linked) = stats.get
      require(rewritten == 2,
        s"m40: delta touches exactly {1997,1998}, rewrote $rewritten")
      require(carriedParts == 5,
        s"m40: 5 of 7 partitions must carry by reference, carried $carriedParts")
      require(linked > 0, "m40: carried partitions must link files, not rewrite")
      // file-level proof of the write volume: in the new commit dir,
      // carried partitions hold ONLY hard-linked files (named with the
      // source-version prefix) and rewritten partitions ONLY fresh ones
      val commit = new java.io.File(s"$wh/m40_inc/v1")
      require(commit.isDirectory, s"m40: expected second commit at $commit")
      for (pd <- commit.listFiles() if pd.isDirectory) {
        val fresh = pd.listFiles().count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
          !f.getName.startsWith("v0_"))
        val linkedIn = pd.listFiles().count(_.getName.startsWith("v0_"))
        if (pd.getName == "yr=1997" || pd.getName == "yr=1998")
          require(fresh > 0 && linkedIn == 0,
            s"m40: ${pd.getName} must be freshly written, got fresh=$fresh linked=$linkedIn")
        else
          require(fresh == 0 && linkedIn > 0,
            s"m40: ${pd.getName} must be carried by reference, got fresh=$fresh linked=$linkedIn")
      }
      eng.wh.read("m40_inc").select("o_orderkey", "yr", "cents")
        .orderBy("o_orderkey", "yr")
    },

    // A26 context-builtin long tail (reference base.py:374-727):
    // a macro-driven model that round-trips YAML -> dict -> JSON and
    // derives its SQL from the parsed config — plus zip, set,
    // diff_of_two_dicts, flags, modules.re and modules.datetime, each
    // pinned by a literal the oracle recomputes. Any drift in the
    // builtin semantics breaks the hash.
    QueryDef(
      "m39_context_builtins",
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
        |            WHEN 'P' THEN 'pending' ELSE 'other' END AS status_label,
        |       '["n_orders", "cents"]' AS measures_json,
        |       '{"m": ["b"]}' AS diff_json,
        |       '[[1, "x"], [2, "y"]]' AS zip_json,
        |       '[1, 2, 3]' AS set_json,
        |       'incr' AS refresh_mode,
        |       '2020-01-01' AS run_day,
        |       'openorders' AS re_clean,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("m39_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      write("dbt_project.yml", "name: m39proj\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: orders
           |        path: $dir/orders.parquet
           |""".stripMargin)
      write("models/m39_fct.sql",
        """{{ config(materialized='table') }}
          |{% set cfg_yaml %}
          |statuses:
          |  - code: O
          |    label: open
          |  - code: F
          |    label: filled
          |  - code: P
          |    label: pending
          |measures: [n_orders, cents]
          |{% endset %}
          |{% set cfg = fromyaml(cfg_yaml) %}
          |{% set zipped = zip([1, 2], ['x', 'y']) %}
          |{% set deduped = set([1, 2, 2, 3]) %}
          |{% set dd = diff_of_two_dicts({'m': ['a', 'b']}, {'M': ['A']}) %}
          |SELECT CASE o_orderstatus
          |  {%- for st in cfg['statuses'] %}
          |  WHEN '{{ st['code'] }}' THEN '{{ st['label'] }}'
          |  {%- endfor %}
          |  ELSE 'other' END AS status_label,
          |  '{{ tojson(cfg['measures']) }}' AS measures_json,
          |  '{{ tojson(dd, sort_keys=true) }}' AS diff_json,
          |  '{{ tojson(zipped) }}' AS zip_json,
          |  '{{ tojson(deduped) }}' AS set_json,
          |  '{% if flags.FULL_REFRESH %}full{% else %}incr{% endif %}' AS refresh_mode,
          |  '{{ modules.datetime.date(2020, 1, 1).isoformat() }}' AS run_day,
          |  '{{ modules.re.sub('[^a-z]', '', 'Open Orders-99' | lower) }}' AS re_clean,
          |  COUNT(*) AS n_orders
          |FROM {{ source('main', 'orders') }}
          |GROUP BY 1""".stripMargin)
      val eng = Engine.fromProject(s, root.toString, scratch())
      require(eng.run().forall(_.status == "success"), "m39: run failed")
      eng.wh.read("m39_fct")
        .withColumn("n_orders", org.apache.spark.sql.functions.col("n_orders").cast("long"))
        .orderBy("status_label")
    },

    // Framework edge surface (VERDICT-r7 item 3), three reference test
    // families through real project runs:
    //  - deprecation warnings as STRUCTURED events + --warn-error
    //    promotion (tests/functional/deprecations/test_deprecations.py)
    //  - target-path override precedence cli > env > project > default
    //    (tests/functional/custom_target_path/test_custom_target_path.py)
    //  - quoting config: seeds quote_columns case folding and
    //    adapter.quote pass-through under quoting.identifier=false
    //    (tests/functional/column_quoting/test_column_quotes.py)
    QueryDef(
      "m41_edge_surface",
      """SELECT * FROM (VALUES
        |  ('dep_active', 'install-packages-path,project-config-data-paths,project-config-log-path,project-config-target-path'),
        |  ('dep_event_fields', 'deprecation/warn/D004'),
        |  ('dep_warn_error', 'raises:renamed'),
        |  ('target_project', 'project_target/no_default'),
        |  ('target_env', 'env_target'),
        |  ('target_cli', 'cli_target'),
        |  ('seed_quoted_cols', 'col_A,col_B'),
        |  ('seed_unquoted_cols', 'col_a,col_b'),
        |  ('quote_on', '`col_A`'),
        |  ('quote_off', 'col_A'),
        |  ('incremental_reruns', '3,3')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def mkProj(name: String): java.nio.file.Path = {
        val root = java.nio.file.Files.createTempDirectory(s"${name}_proj")
        scratchDirs.add(root.toFile)
        root
      }
      def write(root: java.nio.file.Path, rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()

      // ---- project A: deprecated configs + project target-path +
      // quoted seed + adapter.quote model (incremental, rerun twice)
      val pa = mkProj("m41a")
      write(pa, "dbt_project.yml",
        """name: m41a
          |data-paths: [data]
          |log-path: customlogs
          |target-path: project_target
          |clean-targets: [dbt_modules]
          |seeds:
          |  quote_columns: true
          |""".stripMargin)
      write(pa, "seeds/quoted_seed.csv", "col_A,col_B\n1,2\n3,4\n5,6\n")
      write(pa, "models/m41_q.sql",
        """{{ config(materialized='incremental', incremental_strategy='merge',
          |          unique_key='col_A') }}
          |SELECT {{ adapter.quote('col_A') }} AS col_A,
          |       {{ adapter.quote('col_B') }} AS col_B
          |FROM {{ ref('quoted_seed') }}""".stripMargin)
      graft.run.Deprecations.reset()
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val (prevFmt, prevSink) = (graft.run.EventLog.format, graft.run.EventLog.sink)
      graft.run.EventLog.format = "json"
      graft.run.EventLog.sink = line => { events.add(line); () }
      val engA =
        try Engine.fromProject(s, pa.toString, scratch())
        finally { graft.run.EventLog.format = prevFmt; graft.run.EventLog.sink = prevSink }
      rows += (("dep_active",
        graft.run.Deprecations.activeDeprecations.toSeq.sorted.mkString(",")))
      // the event is structured: one warn line carrying name+code fields
      import scala.jdk.CollectionConverters._
      val depLine = events.asScala.find(l =>
        l.contains("\"event\": \"deprecation\"") &&
          l.contains("project-config-data-paths"))
      rows += (("dep_event_fields", depLine match {
        case Some(l) if l.contains("\"level\": \"warn\"") && l.contains("\"D004\"") =>
          "deprecation/warn/D004"
        case other => s"missing:$other"
      }))
      // --warn-error: first deprecation raises (reference CompilationError)
      graft.run.Deprecations.reset()
      val raised =
        try { Engine.fromProject(s, pa.toString, scratch(), warnError = true); "no" }
        catch { case e: graft.run.Deprecations.DeprecationError =>
          if (e.getMessage.contains("has been renamed")) "raises:renamed" else "raises:other"
        }
      graft.run.Deprecations.reset()
      rows += (("dep_warn_error", raised))

      // run the project: seed + incremental model, then rerun (the
      // column_quoting contract: quoted identifiers survive both runs)
      require(engA.run().forall(_.status == "success"), "m41: run A failed")
      require(engA.run().forall(_.status == "success"), "m41: rerun A failed")
      val n1 = engA.wh.read("quoted_seed").count()
      val n2 = engA.wh.read("m41_q").count()
      rows += (("incremental_reruns", s"$n1,$n2"))
      rows += (("seed_quoted_cols",
        engA.wh.read("quoted_seed").columns.mkString(",")))
      // project target-path honored: artifacts land under
      // <proj>/project_target, never <proj>/target
      engA.writeArtifacts(engA.targetDir, Nil)
      rows += (("target_project",
        (if (java.nio.file.Files.isDirectory(pa.resolve("project_target"))) "project_target"
         else "missing") +
          (if (java.nio.file.Files.exists(pa.resolve("target"))) "/default_leak"
           else "/no_default")))
      // env + cli precedence through the fromProject seam
      val engEnv = Engine.fromProject(s, pa.toString, scratch(),
        env = Map("DBT_TARGET_PATH" -> "env_target"))
      rows += (("target_env",
        java.nio.file.Paths.get(engEnv.targetDir).getFileName.toString))
      val engCli = Engine.fromProject(s, pa.toString, scratch(),
        targetPath = Some("cli_target"),
        env = Map("DBT_TARGET_PATH" -> "env_target"))
      rows += (("target_cli",
        java.nio.file.Paths.get(engCli.targetDir).getFileName.toString))
      // adapter.quote under the default quoting config
      rows += (("quote_on", engA.compileInline("{{ adapter.quote('col_A') }}")))

      // ---- project B: quoting disabled — seeds fold to lowercase,
      // adapter.quote passes through
      val pb = mkProj("m41b")
      write(pb, "dbt_project.yml",
        """name: m41b
          |quoting:
          |  identifier: false
          |seeds:
          |  quote_columns: false
          |""".stripMargin)
      write(pb, "seeds/folded_seed.csv", "col_A,col_B\n1,2\n3,4\n5,6\n")
      val engB = Engine.fromProject(s, pb.toString, scratch())
      require(engB.run().forall(_.status == "success"), "m41: run B failed")
      rows += (("seed_unquoted_cols",
        engB.wh.read("folded_seed").columns.mkString(",")))
      rows += (("quote_off", engB.compileInline("{{ adapter.quote('col_A') }}")))

      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A31 partial parsing through the driver (reference
    // `core/dbt/parser/partial.py` + tests/functional/partial_parsing):
    // 20k-model project; cold parse vs warm skip, one schema-yml edit
    // reparses EXACTLY the yml + the one model it patches (counts
    // asserted), warm manifest equal to a cold parse, add/delete
    // reported, special-override-macro change drops the whole cache,
    // and the I024/I017/I040 events stream through the engine seam.
    QueryDef(
      "m42_partial_parse",
      """SELECT * FROM (VALUES
        |  ('add_delete', 'added=models/m_x.sql,deleted=models/m_9.sql,parsed=1'),
        |  ('cold', 'stateLoaded=false,parsed=2002,reused=0'),
        |  ('events', 'I017,I024,I040'),
        |  ('manifest_identity', 'identical'),
        |  ('model_edit', 'changed=models/m_7.sql,parsed=1'),
        |  ('schema_edit', 'changed=models/schema.yml,parsed=2,reused=2000'),
        |  ('special_macro', 'full:generate_schema_name,reused=0'),
        |  ('warm', 'skipped,parsed=0,reused=2002')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.parse.{PartialParse, ProjectLoader}
      val root = java.nio.file.Files.createTempDirectory("m42_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: pp\n")
      // 2k models keeps the gate purely behavioral (cheap, load-insensitive);
      // the 20k/50k timing bars live in ParsePerfSpec + PartialParseSpec.
      (0 until 2000).foreach(i => write(s"models/m_$i.sql", s"SELECT $i AS id"))
      write("models/schema.yml",
        "models:\n  - name: m_0\n    description: zeroth\n")
      write("macros/helpers.sql", "{% macro shout(x) %}{{ x }}!{% endmacro %}")
      def load() =
        ProjectLoader.load(root.toString, PartialParse.Options(env = Map.empty))
      def st(p: ProjectLoader.Project) = p.partialStats.get
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()

      val cold = load()
      rows += (("cold", s"stateLoaded=${st(cold).stateLoaded}," +
        s"parsed=${st(cold).parsed},reused=${st(cold).reused}"))

      val warm = load()
      rows += (("warm", s"${if (st(warm).skipped) "skipped" else "ran"}," +
        s"parsed=${st(warm).parsed},reused=${st(warm).reused}"))

      write("models/schema.yml",
        "models:\n  - name: m_0\n    description: UPDATED\n")
      val p3 = load()
      rows += (("schema_edit", s"changed=${st(p3).changed.mkString(";")}," +
        s"parsed=${st(p3).parsed},reused=${st(p3).reused}"))
      // warm manifest must equal a from-scratch parse of the same tree
      java.nio.file.Files.delete(root.resolve("target/partial_parse.bin"))
      val recold = load()
      rows += (("manifest_identity",
        if (p3.manifest == recold.manifest) "identical" else "DIVERGED"))

      write("models/m_7.sql", "SELECT 777 AS id")
      val p4 = load()
      rows += (("model_edit", s"changed=${st(p4).changed.mkString(";")}," +
        s"parsed=${st(p4).parsed}"))

      write("models/m_x.sql", "SELECT 999 AS id")
      java.nio.file.Files.delete(root.resolve("models/m_9.sql"))
      val p5 = load()
      rows += (("add_delete", s"added=${st(p5).added.mkString(";")}," +
        s"deleted=${st(p5).deleted.mkString(";")},parsed=${st(p5).parsed}"))

      write("macros/helpers.sql",
        "{% macro generate_schema_name(n) %}x_{{ n }}{% endmacro %}")
      val p6 = load()
      rows += (("special_macro",
        st(p6).fullReason match {
          case Some(r) if r.contains("generate_schema_name") =>
            s"full:generate_schema_name,reused=${st(p6).reused}"
          case other => s"missing:$other"
        }))

      // engine seam: the reference's partial-parse lifecycle events
      // (I024 no saved state, I017 skip, I040 enabled-with-changes)
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val (prevFmt, prevSink, prevLvl) =
        (graft.run.EventLog.format, graft.run.EventLog.sink, graft.run.EventLog.minLevel)
      graft.run.EventLog.format = "json"
      graft.run.EventLog.minLevel = "debug"
      graft.run.EventLog.sink = line => { events.add(line); () }
      try {
        def eng() = Engine.fromProject(s, root.toString, scratch(),
          partialParse = Some(PartialParse.Options(env = Map.empty)))
        java.nio.file.Files.delete(root.resolve("target/partial_parse.bin"))
        eng() // no saved state -> I024
        eng() // no changes -> I017
        write("models/m_7.sql", "SELECT 7777 AS id")
        eng() // one change -> I040
      } finally {
        graft.run.EventLog.format = prevFmt
        graft.run.EventLog.sink = prevSink
        graft.run.EventLog.minLevel = prevLvl
      }
      import scala.jdk.CollectionConverters._
      val codes = Seq("I017", "I024", "I040")
        .filter(c => events.asScala.exists(_.contains("\"" + c + "\"")))
      rows += (("events", codes.mkString(",")))

      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // B22 streaming checkpoint recovery as a DRIVER-hashed gate
    // (VERDICT-r8 item 7; promotes StreamingSpec's stop/restart test):
    // instance 1 drains half the orderkey-partitioned files and stops;
    // instance 2 on the SAME checkpoint + table resumes from the
    // recorded offsets. The served (fold-on-read) pair index after
    // recovery must hash-match DuckDB's batch co-purchase twin — any
    // double-processed or dropped micro-batch changes the counts.
    QueryDef(
      "m43_stream_recovery",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |         CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT pa, pb, cab FROM pairs WHERE cab >= 2
        |ORDER BY pa, pb""".stripMargin) { (s, dir) =>
      val li = graft.Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
      val parted = li.repartition(4, col("l_orderkey"))
      val stage = scratch()
      parted.write.mode("overwrite").parquet(stage)
      val files = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(files.length == 4, s"m43: expected 4 staged files, got ${files.length}")
      val src = scratch()
      def addFile(i: Int): Unit = {
        java.nio.file.Files.copy(files(i).toPath,
          java.nio.file.Paths.get(src, files(i).getName)): Unit
      }
      addFile(0); addFile(1)
      val wh = new Engine(s, Manifest(Map.empty), scratch()).wh
      val ckpt = scratch()
      def startQuery() = graft.streaming.StreamMaterializer.maintainPairIndex(
        wh, "m43_pairs",
        s.readStream.schema(li.schema).option("maxFilesPerTrigger", "1").parquet(src),
        ckpt)
      require(startQuery().awaitTermination(300000),
        "m43: first stream instance did not drain within 300s")
      val commitsFirst = wh.commitCount("m43_pairs")
      require(commitsFirst >= 1, "m43: first instance appended no deltas")
      val massFirst = wh.read("m43_pairs").agg(sum("cab")).first().getLong(0)
      addFile(2); addFile(3)
      require(startQuery().awaitTermination(300000),
        "m43: restarted stream instance did not drain within 300s")
      require(wh.commitCount("m43_pairs") > commitsFirst,
        "m43: second instance appended nothing — checkpoint not resumed")
      val massFinal = wh.read("m43_pairs").agg(sum("cab")).first().getLong(0)
      require(massFirst < massFinal,
        "m43: restart did not add the remaining files' deltas")
      wh.read("m43_pairs")
        .groupBy("pa", "pb").agg(sum("cab").cast("long").as("cab"))
        .filter(col("cab") >= 2)
        .orderBy("pa", "pb")
    },

    // A13 unit-test diff RENDERING parity (VERDICT-r8 item 8; reference
    // task/test.py:236-247 daff semantics): row order never fails a
    // test (daff CompareFlags.ordered=false), bag semantics count
    // duplicate rows, and the rendered block is header + one `-` line
    // per missing row + one `+` line per unexpected row, truncated at
    // 20 rows/side with an explicit `... N more` marker.
    QueryDef(
      "m44_unit_diff_render",
      """SELECT * FROM (VALUES
        |  ('dup_rows', 'fail:missing=0,extra=1'),
        |  ('permuted_pass', 'pass'),
        |  ('rendered_shape', 'header/plus_lines=1/minus_lines=0'),
        |  ('truncation', 'fail:missing=25,shown=20,more_line=true')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m44_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m44\n")
      write("seeds/src.csv", "id\n1\n2\n")
      write("models/m_perm.sql", "SELECT id FROM {{ ref('src') }}")
      write("models/m_dup.sql",
        "SELECT CAST(1 AS BIGINT) AS id UNION ALL SELECT CAST(1 AS BIGINT) AS id")
      write("models/m_one.sql", "SELECT CAST(1 AS BIGINT) AS id")
      val truncExpect = (1 to 26).map(i => s"        - {id: $i}").mkString("\n")
      write("models/schema.yml",
        s"""unit_tests:
           |  - name: ut_perm
           |    model: m_perm
           |    given:
           |      - input: ref('src')
           |        rows:
           |          - {id: 1}
           |          - {id: 2}
           |    expect:
           |      rows:
           |        - {id: 2}
           |        - {id: 1}
           |  - name: ut_dup
           |    model: m_dup
           |    expect:
           |      rows:
           |        - {id: 1}
           |  - name: ut_trunc
           |    model: m_one
           |    expect:
           |      rows:
           |$truncExpect
           |""".stripMargin)
      val eng = Engine.fromProject(s, root.toString, scratch())
      val res = eng.test().map(r => r.uniqueId -> r).toMap
      def of(name: String) = res.collectFirst {
        case (id, r) if id.endsWith(name) => r
      }.getOrElse(sys.error(s"m44: no result for $name"))
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      rows += (("permuted_pass", of("ut_perm").status))
      val dupMsg = of("ut_dup").message
      rows += (("dup_rows",
        if (of("ut_dup").status == "fail" &&
            dupMsg.contains("0 expected row(s) missing, 1 unexpected row(s)"))
          "fail:missing=0,extra=1" else s"unexpected:$dupMsg"))
      rows += (("rendered_shape",
        "header/plus_lines=" + dupMsg.linesIterator.count(_.startsWith("+ ")) +
          "/minus_lines=" + dupMsg.linesIterator.count(_.startsWith("- "))))
      val trMsg = of("ut_trunc").message
      val shown = trMsg.linesIterator.count(_.startsWith("- "))
      rows += (("truncation",
        if (of("ut_trunc").status == "fail" &&
            trMsg.contains("25 expected row(s) missing"))
          s"fail:missing=25,shown=$shown,more_line=${trMsg.contains("... 5 more")}"
        else s"unexpected:$trMsg"))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A29 semantic-manifest validation (reference
    // `core/dbt/parser/manifest.py:471-473` via
    // dbt-semantic-interfaces): measures referenced by metrics must
    // exist, saved-query exports must resolve to metrics, every
    // semantic model needs exactly one primary entity, referenced
    // models must resolve. Structural rules from the validator's rule
    // set: lower_snake_case names, one namespace per semantic model,
    // globally-unique measures, closed aggregation set, group-bys
    // resolving through a covering semantic model. Invalid fixtures
    // raise SPECIFIC parse errors (I070 event first); the valid
    // fixture round-trips with an identical manifest, a
    // measure-backed metric computes, and an entity group-by compiles.
    QueryDef(
      "m45_semantic_validation",
      """SELECT * FROM (VALUES
        |  ('valid_load', 'ok'),
        |  ('measure_metric_value', '60'),
        |  ('saved_query_value', '60,3'),
        |  ('saved_query_grouped', '3'),
        |  ('invalid_measure', 'error:measure'),
        |  ('missing_primary', 'error:primary'),
        |  ('unknown_metric_export', 'error:exports'),
        |  ('unknown_model', 'error:model'),
        |  ('bad_agg', 'error:aggregation'),
        |  ('dup_measure', 'error:unique'),
        |  ('element_collision', 'error:namespace'),
        |  ('invalid_name', 'error:lower_snake_case'),
        |  ('bad_group_by', 'error:dimension or entity'),
        |  ('manifest_identity', 'identical')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def mkProj(semanticYml: String): java.nio.file.Path = {
        val root = java.nio.file.Files.createTempDirectory("m45_proj")
        scratchDirs.add(root.toFile)
        def write(rel: String, content: String): Unit = {
          val p = root.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, content): Unit
        }
        write("dbt_project.yml", "name: m45\n")
        write("models/orders_sm.sql",
          "SELECT 1 AS order_id, 10 AS amount UNION ALL " +
            "SELECT 2 AS order_id, 20 AS amount UNION ALL " +
            "SELECT 3 AS order_id, 30 AS amount")
        write("models/semantic.yml", semanticYml)
        root
      }
      val validYml =
        """semantic_models:
          |  - name: orders_semantics
          |    model: orders_sm
          |    entities:
          |      - {name: order_id, type: primary}
          |    measures:
          |      - {name: order_total, agg: sum, expr: amount}
          |      - {name: order_count, agg: count, expr: order_id}
          |metrics:
          |  - name: total_revenue
          |    model: orders_sm
          |    measure: order_total
          |  - name: n_orders
          |    model: orders_sm
          |    measure: order_count
          |saved_queries:
          |  - name: revenue_report
          |    metrics: [total_revenue, n_orders]
          |  - name: revenue_by_order
          |    metrics: [total_revenue]
          |    group_by: [order_id]
          |""".stripMargin
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()

      val valid = mkProj(validYml)
      val eng = Engine.fromProject(s, valid.toString, scratch())
      require(eng.run().forall(_.status == "success"), "m45: run failed")
      rows += (("valid_load", "ok"))
      rows += (("measure_metric_value",
        eng.queryMetric("total_revenue").first().getLong(0).toString))
      val sq = eng.querySaved("revenue_report").first()
      rows += (("saved_query_value", s"${sq.getLong(0)},${sq.getLong(1)}"))
      // entity group-by resolves through the covering semantic model
      rows += (("saved_query_grouped",
        eng.querySaved("revenue_by_order").count().toString))
      // reloading the same tree parses to an identical manifest (the
      // validation pass is read-only)
      val reload = Engine.fromProject(s, valid.toString, scratch())
      rows += (("manifest_identity",
        if (reload.manifest == eng.manifest) "identical" else "DIVERGED"))

      def errCase(label: String, yml: String, needle: String): Unit = {
        val p = mkProj(yml)
        val got =
          try { Engine.fromProject(s, p.toString, scratch()); "no-error" }
          catch { case e: IllegalArgumentException =>
            if (e.getMessage.contains("semantic manifest") &&
                e.getMessage.contains(needle)) s"error:$needle"
            else s"wrong-error:${e.getMessage}"
          }
        rows += ((label, got))
      }
      errCase("invalid_measure",
        validYml.replace("measure: order_total", "measure: no_such_measure"),
        "measure")
      errCase("missing_primary",
        validYml.replace("type: primary", "type: foreign"), "primary")
      errCase("unknown_metric_export",
        validYml.replace("metrics: [total_revenue, n_orders]",
          "metrics: [ghost_metric]"), "exports")
      errCase("unknown_model",
        validYml.replace("model: orders_sm\n    measure: order_total",
          "model: no_such_model\n    measure: order_total"), "model")
      errCase("bad_agg",
        validYml.replace("agg: sum", "agg: total"), "aggregation")
      errCase("dup_measure",
        validYml.replace("\nmetrics:",
          "\n  - name: orders_semantics_b\n    model: orders_sm\n" +
            "    entities:\n      - {name: order_id, type: primary}\n" +
            "    measures:\n" +
            "      - {name: order_total, agg: sum, expr: amount}\nmetrics:"),
        "unique")
      errCase("element_collision",
        validYml.replace("    measures:",
          "    dimensions:\n      - {name: order_id, type: categorical}\n" +
            "    measures:"), "namespace")
      errCase("invalid_name",
        validYml.replace("name: orders_semantics", "name: Orders__Semantics"),
        "lower_snake_case")
      errCase("bad_group_by",
        validYml.replace("metrics: [total_revenue, n_orders]",
          "metrics: [total_revenue, n_orders]\n    group_by: [ghost_dim]"),
        "dimension or entity")

      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A35/A24 groups as first-class resources (reference
    // `core/dbt/artifacts/resources/v1/group.py`, parse checks
    // `core/dbt/parser/manifest.py:1307` check_valid_group_config and
    // `:1335` check_valid_access_property): `groups:` yml declares
    // name+owner; a node's `group` config must reference a declared
    // group (specific parse error otherwise); a public model cannot be
    // ephemeral; private refs stay group-fenced at compile; the v12
    // manifest artifact carries `groups` (with owner) and `group_map`
    // (group -> member unique ids).
    QueryDef(
      "m46_groups",
      """SELECT * FROM (VALUES
        |  ('valid_load', 'ok'),
        |  ('manifest_groups', 'present'),
        |  ('group_map', 'model.graft.fin_base,model.graft.fin_report'),
        |  ('invalid_group', 'error:Invalid group'),
        |  ('public_ephemeral', 'error:access field'),
        |  ('private_cross_group', 'error:not allowed')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def mkProj(reportConfig: String, extraSql: Map[String, String] = Map.empty)
          : java.nio.file.Path = {
        val root = java.nio.file.Files.createTempDirectory("m46_proj")
        scratchDirs.add(root.toFile)
        def write(rel: String, content: String): Unit = {
          val p = root.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, content): Unit
        }
        write("dbt_project.yml", "name: m46\n")
        write("models/schema.yml",
          """groups:
            |  - name: finance
            |    owner: {name: Fin Team, email: fin@corp.example}
            |  - name: marketing
            |    owner: {name: Mkt Team}
            |""".stripMargin)
        write("models/fin_base.sql",
          "{{ config(materialized='table', group='finance', access='private') }}\n" +
            "SELECT 1 AS v")
        write("models/fin_report.sql",
          s"{{ config($reportConfig) }}\nSELECT v FROM {{ ref('fin_base') }}")
        extraSql.foreach { case (rel, sql) => write(rel, sql) }
        root
      }
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()

      val valid = mkProj("materialized='table', group='finance'")
      val eng = Engine.fromProject(s, valid.toString, scratch())
      val results = eng.run()
      require(results.forall(_.status == "success"), "m46: run failed")
      rows += (("valid_load", "ok"))
      val target = scratch()
      eng.writeArtifacts(target, results)
      val mf = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$target/manifest.json"))
      rows += (("manifest_groups",
        if (mf.contains("\"group.graft.finance\"") &&
            mf.contains("\"fin@corp.example\"") &&
            mf.contains("\"group.graft.marketing\"")) "present"
        else "MISSING"))
      rows += (("group_map",
        if (mf.contains("\"finance\": [\"model.graft.fin_base\", " +
            "\"model.graft.fin_report\"]"))
          "model.graft.fin_base,model.graft.fin_report"
        else "MISSING"))

      def errCase(label: String, proj: java.nio.file.Path, needle: String): Unit = {
        val got =
          try { Engine.fromProject(s, proj.toString, scratch()); "no-error" }
          catch { case ex: IllegalArgumentException =>
            if (ex.getMessage.contains(needle)) s"error:$needle"
            else s"wrong-error:${ex.getMessage}"
          }
        rows += ((label, got))
      }
      errCase("invalid_group",
        mkProj("materialized='table', group='ghost'"), "Invalid group")
      errCase("public_ephemeral",
        mkProj("materialized='table', group='finance'",
          Map("models/pub_eph.sql" ->
            "{{ config(materialized='ephemeral', access='public') }}\nSELECT 2 AS w")),
        "access field")
      // private refs stay group-fenced at COMPILE (A24, runtime path):
      // run() captures the worker's throw as a per-node error result
      val crossEng = Engine.fromProject(s,
        mkProj("materialized='table', group='marketing'").toString, scratch())
      val crossRes = crossEng.run()
      rows += (("private_cross_group",
        crossRes.find(_.uniqueId == "model.graft.fin_report") match {
          case Some(r) if r.status == "error" && r.message.contains("not allowed") =>
            "error:not allowed"
          case other => s"unexpected:$other"
        }))

      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A23 artifact-based --state (reference `dbt build --state
    // ./prod-artifacts`, selector_methods.py:609-788 diffing SAVED
    // manifests): v1 runs and writes its manifest.json; every later
    // comparison runs from that ARTIFACT alone — no v1 re-parse. The
    // state_checksums block + real macro entries carry the comparison:
    // body edits select the edited model, macro edits select the
    // caller (transitively, through check_macros_modified semantics),
    // config/relation edits select under their submethods, a new model
    // selects under state:new. Any checksum-dimension mix-up, a stale
    // artifact reader, or hash-input drift between writer and selector
    // breaks the expected selection strings and the oracle hash.
    QueryDef(
      "m47_state_artifact",
      """SELECT * FROM (VALUES
        |  ('artifact_checksums', 'present'),
        |  ('run_selected_v2', 'model.graft.m47_base'),
        |  ('modified_body_v2', 'model.graft.m47_base'),
        |  ('modified_macros_v3', 'model.graft.m47_agg'),
        |  ('modified_full_v3', 'model.graft.m47_agg'),
        |  ('modified_configs_v4', 'model.graft.m47_base'),
        |  ('modified_relation_v4', 'model.graft.m47_base'),
        |  ('state_new_v5', 'model.graft.m47_extra'),
        |  ('base_batch_after_v2', '2'),
        |  ('agg_batch_after_v2', '1')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def project(batch: Int, macroBody: String = "{% macro m47_scale() %}1{% endmacro %}",
          baseCfg: String = "materialized='table'",
          extra: Map[String, String] = Map.empty): Map[String, String] = Map(
        "dbt_project.yml" -> "name: m47\n",
        "models/sources.yml" ->
          s"""sources:
             |  - name: main
             |    tables:
             |      - name: orders
             |        path: $dir/orders.parquet
             |""".stripMargin,
        "models/m47_base.sql" ->
          s"""{{ config($baseCfg) }}
             |SELECT o_orderkey, CAST($batch AS BIGINT) AS batch
             |FROM {{ source('main', 'orders') }} WHERE o_orderkey % 5 = 0""".stripMargin,
        "models/m47_agg.sql" ->
          """{{ config(materialized='table') }}
            |SELECT MIN(batch) * {{ m47_scale() }} AS batch,
            |       CAST(COUNT(*) AS BIGINT) AS n
            |FROM {{ ref('m47_base') }}""".stripMargin,
        "macros/m47_macros.sql" -> macroBody) ++ extra
      def writeProj(files: Map[String, String]): String = {
        val d = java.nio.file.Files.createTempDirectory("m47_proj")
        scratchDirs.add(d.toFile)
        files.foreach { case (rel, c) =>
          val p = d.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, c): Unit
        }
        d.toString
      }
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val wh = scratch()
      // v1: run + SAVE ARTIFACTS; v1's engine is never consulted again
      val eng1 = Engine.fromProject(s, writeProj(project(1)), wh)
      val res1 = eng1.run(threads = 2)
      require(res1.forall(_.status == "success"), "m47 v1 run failed")
      val target = scratch()
      eng1.writeArtifacts(target, res1)
      val mfPath = s"$target/manifest.json"
      rows += (("artifact_checksums",
        if (java.nio.file.Files.readString(java.nio.file.Paths.get(mfPath))
            .contains("\"state_checksums\"")) "present" else "MISSING"))
      // v2: only the base body flips 1 -> 2
      val eng2 = Engine.fromProject(s, writeProj(project(2)), wh)
      val res2 = eng2.runWithStateArtifact(mfPath, Seq("state:modified"), threads = 2)
      require(res2.forall(_.status == "success"), s"m47 v2 run failed: $res2")
      rows += (("run_selected_v2", res2.map(_.uniqueId).sorted.mkString(",")))
      rows += (("modified_body_v2",
        eng2.lsWithStateArtifact(mfPath, Seq("state:modified.body"))
          .sorted.mkString(",")))
      // v3: ONLY the macro body differs from v1 — the caller selects
      val eng3 = Engine.fromProject(s, writeProj(project(1,
        macroBody = "{%- macro m47_scale() -%}(0 + 1){%- endmacro -%}")), wh)
      rows += (("modified_macros_v3",
        eng3.lsWithStateArtifact(mfPath, Seq("state:modified.macros"))
          .sorted.mkString(",")))
      rows += (("modified_full_v3",
        eng3.lsWithStateArtifact(mfPath, Seq("state:modified"))
          .sorted.mkString(",")))
      // v4: ONLY the base's config gains an alias — configs AND
      // relation submethods flag it (alias is a relation field)
      val eng4 = Engine.fromProject(s, writeProj(project(1,
        baseCfg = "materialized='table', alias='m47_alias'")), wh)
      rows += (("modified_configs_v4",
        eng4.lsWithStateArtifact(mfPath, Seq("state:modified.configs"))
          .sorted.mkString(",")))
      rows += (("modified_relation_v4",
        eng4.lsWithStateArtifact(mfPath, Seq("state:modified.relation"))
          .sorted.mkString(",")))
      // v5: a brand-new model selects under state:new
      val eng5 = Engine.fromProject(s, writeProj(project(1,
        extra = Map("models/m47_extra.sql" ->
          "{{ config(materialized='view') }}\nSELECT 7 AS x"))), wh)
      rows += (("state_new_v5",
        eng5.lsWithStateArtifact(mfPath, Seq("state:new")).sorted.mkString(",")))
      // selection boundary is data-visible: base re-ran (batch 2), agg
      // did not (still batch 1 from v1)
      rows += (("base_batch_after_v2",
        eng2.wh.read("m47_base").agg(max("batch")).collect()(0).getLong(0).toString))
      rows += (("agg_batch_after_v2",
        eng2.wh.read("m47_agg").agg(max("batch")).collect()(0).getLong(0).toString))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A23 artifact-only defer (reference providers.py:552-570 +
    // merge_from_artifact runnable.py:124-132 — the standard CI
    // pattern `dbt run --defer --state ./prod-artifacts` with NO prod
    // checkout): prod runs once and saves artifacts; a CI engine over
    // an EMPTY warehouse defers unbuilt refs straight from the saved
    // manifest's relation_name + warehouse_root. favor-state variant:
    // an unselected node's LOCAL build loses to state; without
    // favor-state the local build wins.
    QueryDef(
      "m48_defer_artifact",
      """SELECT * FROM (VALUES
        |  ('artifact_defer_fields', 'present'),
        |  ('deferred_run', 'success'),
        |  ('agg_from_state', '1'),
        |  ('base_not_built_locally', 'true'),
        |  ('favor_state_agg', '1'),
        |  ('local_wins_without_favor', '2')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def project(batch: Int): Map[String, String] = Map(
        "dbt_project.yml" -> "name: m48\n",
        "models/sources.yml" ->
          s"""sources:
             |  - name: main
             |    tables:
             |      - name: orders
             |        path: $dir/orders.parquet
             |""".stripMargin,
        "models/m48_base.sql" ->
          s"""{{ config(materialized='table') }}
             |SELECT o_orderkey, CAST($batch AS BIGINT) AS batch
             |FROM {{ source('main', 'orders') }} WHERE o_orderkey % 7 = 0""".stripMargin,
        "models/m48_agg.sql" ->
          """{{ config(materialized='table') }}
            |SELECT MAX(batch) AS batch, CAST(COUNT(*) AS BIGINT) AS n
            |FROM {{ ref('m48_base') }}""".stripMargin)
      def writeProj(files: Map[String, String]): String = {
        val d = java.nio.file.Files.createTempDirectory("m48_proj")
        scratchDirs.add(d.toFile)
        files.foreach { case (rel, c) =>
          val p = d.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, c): Unit
        }
        d.toString
      }
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      // prod: full run into warehouse A, save artifacts; prod's engine
      // and project tree are never consulted again
      val projDir = writeProj(project(1))
      val whProd = scratch()
      val engProd = Engine.fromProject(s, projDir, whProd, namespace = "m48prod")
      val resProd = engProd.run(threads = 2)
      require(resProd.forall(_.status == "success"), s"m48 prod run failed: $resProd")
      val target = scratch()
      engProd.writeArtifacts(target, resProd)
      val mfPath = s"$target/manifest.json"
      val mfTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(mfPath))
      rows += (("artifact_defer_fields",
        if (mfTxt.contains("\"warehouse_root\"") &&
            mfTxt.contains("\"relation_name\": \"m48prod__m48_base\"")) "present"
        else "MISSING"))
      // CI over an EMPTY warehouse: run ONLY the downstream model; its
      // ref('m48_base') must resolve from the artifact alone
      val whCi = scratch()
      val engCi = Engine.fromProject(s, projDir, whCi, namespace = "m48ci")
      engCi.deferFromArtifact(mfPath)
      val resCi = engCi.run(select = Seq("m48_agg"), threads = 1)
      rows += (("deferred_run",
        if (resCi.nonEmpty && resCi.forall(_.status == "success")) "success"
        else resCi.mkString(";")))
      rows += (("agg_from_state",
        engCi.wh.read("m48ci__m48_agg").agg(max("batch")).collect()(0)
          .getLong(0).toString))
      rows += (("base_not_built_locally",
        (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(whCi, "m48ci__m48_base"))).toString))
      // favor-state: base IS built locally (batch 2) but unselected —
      // state wins (reference providers.py:558-567)
      val whFav = scratch()
      val projDir2 = writeProj(project(2))
      val engLocal = Engine.fromProject(s, projDir2, whFav, namespace = "m48fav")
      val resLocal = engLocal.run(select = Seq("m48_base"), threads = 1)
      require(resLocal.forall(_.status == "success"), "m48 local base failed")
      val engFav = Engine.fromProject(s, projDir2, whFav, namespace = "m48fav")
      engFav.deferFromArtifact(mfPath)
      engFav.favorState = true
      val resFav = engFav.run(select = Seq("m48_agg"), threads = 1)
      require(resFav.forall(_.status == "success"), s"m48 favor run failed: $resFav")
      rows += (("favor_state_agg",
        engFav.wh.read("m48fav__m48_agg").agg(max("batch")).collect()(0)
          .getLong(0).toString))
      // without favor-state the existing local build wins
      val engNoFav = Engine.fromProject(s, projDir2, whFav, namespace = "m48fav")
      engNoFav.deferFromArtifact(mfPath)
      val resNoFav = engNoFav.run(select = Seq("m48_agg"), threads = 1)
      require(resNoFav.forall(_.status == "success"), "m48 no-favor run failed")
      rows += (("local_wins_without_favor",
        engNoFav.wh.read("m48fav__m48_agg").agg(max("batch")).collect()(0)
          .getLong(0).toString))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A13 unit-test MACRO overrides (VERDICT r12 item 3; reference
    // `UnitTestOverrides.macros`, `unit_test_definition.py:40-44`,
    // applied `providers.py:1658-1699`): a project Jinja macro named in
    // `overrides.macros` returns the fixture value verbatim during that
    // unit test's render — and ONLY there (the real macro still renders
    // every other unit test and the actual build). Covers: a no-arg
    // stub, an override of a macro WITH args (original signature kept
    // so call sites bind), a package-qualified key, the special
    // `is_incremental` toggle (reference `parser/unit_tests.py:470-481`),
    // and the real-build control.
    QueryDef(
      "m49_unit_macro_override",
      """SELECT * FROM (VALUES
        |  ('ut_stub_zero_tax', 'pass'),
        |  ('ut_real_macro', 'pass'),
        |  ('ut_arg_override', 'pass'),
        |  ('ut_qualified', 'pass'),
        |  ('ut_incremental_on', 'pass'),
        |  ('ut_incremental_off', 'pass'),
        |  ('build_uses_real_macro', '330')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m49_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m49\n")
      write("seeds/src.csv", "id,amount\n1,100\n2,200\n")
      write("macros/helpers.sql",
        """{% macro tax_rate() %}0.10{% endmacro %}
          |{% macro double_col(c) %}{{ c }} * 2{% endmacro %}
          |""".stripMargin)
      write("models/m_price.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT id, CAST(amount + amount * {{ tax_rate() }} AS BIGINT) " +
          "AS total FROM {{ ref('src') }}")
      write("models/m_arg.sql",
        "SELECT id, CAST({{ double_col('amount') }} AS BIGINT) AS v " +
          "FROM {{ ref('src') }}")
      write("models/m_incr.sql",
        "{{ config(materialized='incremental') }}\n" +
          "SELECT id FROM {{ ref('src') }} " +
          "{% if is_incremental() %} WHERE id > 1 {% endif %}")
      write("models/schema.yml",
        """unit_tests:
          |  - name: ut_stub_zero_tax
          |    model: m_price
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1, amount: 100}]
          |    expect:
          |      rows: [{id: 1, total: 100}]
          |    overrides:
          |      macros:
          |        tax_rate: "0.00"
          |  - name: ut_real_macro
          |    model: m_price
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1, amount: 100}]
          |    expect:
          |      rows: [{id: 1, total: 110}]
          |  - name: ut_arg_override
          |    model: m_arg
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1, amount: 100}]
          |    expect:
          |      rows: [{id: 1, v: 100}]
          |    overrides:
          |      macros:
          |        double_col: amount
          |  - name: ut_qualified
          |    model: m_price
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1, amount: 100}]
          |    expect:
          |      rows: [{id: 1, total: 200}]
          |    overrides:
          |      macros:
          |        graft.tax_rate: "1.00"
          |  - name: ut_incremental_on
          |    model: m_incr
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1}, {id: 2}]
          |    expect:
          |      rows: [{id: 2}]
          |    overrides:
          |      macros:
          |        is_incremental: true
          |  - name: ut_incremental_off
          |    model: m_incr
          |    given:
          |      - input: ref('src')
          |        rows: [{id: 1}, {id: 2}]
          |    expect:
          |      rows: [{id: 1}, {id: 2}]
          |""".stripMargin)
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.build()
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      for (ut <- Seq("ut_stub_zero_tax", "ut_real_macro", "ut_arg_override",
        "ut_qualified", "ut_incremental_on", "ut_incremental_off")) {
        val r = results.find(_.uniqueId.endsWith(ut)).getOrElse(
          sys.error(s"m49: no result for $ut"))
        rows += ((ut,
          if (r.status == "pass") "pass" else s"${r.status}:${r.message}"))
      }
      // control: the REAL macro (0.10) drove the actual build —
      // overrides never leak outside their unit test's render. Read
      // through a fresh engine over the same warehouse root (build()
      // materializes inside its own augmented-DAG engine, so the outer
      // engine's relation registry predates the table — m43/m48 pattern).
      rows += (("build_uses_real_macro",
        new Engine(s, Manifest(Map.empty), whRoot).wh
          .read("m_price").agg(sum("total")).collect()(0)
          .getLong(0).toString))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A25 custom Jinja TESTS (VERDICT r12 item 5; reference Jinja2
    // custom-test registration — python code registers tests on the
    // environment; a dbt project's only authorable unit is the macro,
    // so macros are the registration surface, exactly like the r12
    // custom filters): `{{ v is my_test(args) }}` dispatches to the
    // same-named project macro with v as first positional arg. The
    // fixture drives MODEL SHAPE through the predicate — a column-
    // allowlist test decides the projection, an arg-taking test and a
    // text-rendering (no return()) test decide literals — and the
    // oracle pins the resulting tables.
    QueryDef(
      "m50_custom_jinja_test",
      """SELECT * FROM (VALUES
        |  ('m_cols_columns', 'id,amount'),
        |  ('m_cols_amount_sum', '300'),
        |  ('m_flags_row', 'even4=1,odd3=1,pos5=1,zero=0')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m50_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m50\n")
      write("seeds/src.csv", "id,amount,secret\n1,100,9\n2,200,9\n")
      write("macros/predicates.sql",
        """{% macro allowed_col(c) %}{{ return(c in ['id', 'amount']) }}{% endmacro %}
          |{% macro multiple_of(v, k) %}{{ return(v % k == 0) }}{% endmacro %}
          |{% macro spelled(v) %}{% if v > 0 %}true{% else %}false{% endif %}{% endmacro %}
          |""".stripMargin)
      write("models/m_cols.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT id" +
          "{% if 'amount' is allowed_col %}, amount{% endif %}" +
          "{% if 'secret' is allowed_col %}, secret{% endif %}" +
          " FROM {{ ref('src') }}")
      write("models/m_flags.sql",
        "{{ config(materialized='table') }}\nSELECT " +
          "{% if 4 is multiple_of(2) %}1{% else %}0{% endif %} AS even4, " +
          "{% if 3 is not multiple_of(2) %}1{% else %}0{% endif %} AS odd3, " +
          "{% if 5 is spelled %}1{% else %}0{% endif %} AS pos5, " +
          "{% if 0 is spelled %}1{% else %}0{% endif %} AS zero")
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.build()
      require(results.forall(r => r.status == "success" || r.status == "pass"),
        s"m50 build failed: ${results.filterNot(r =>
          r.status == "success" || r.status == "pass").mkString("; ")}")
      val wh = new Engine(s, Manifest(Map.empty), whRoot).wh
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val cols = wh.read("m_cols")
      rows += (("m_cols_columns", cols.columns.mkString(",")))
      rows += (("m_cols_amount_sum",
        cols.agg(sum("amount")).collect()(0).getLong(0).toString))
      val f = wh.read("m_flags").collect()(0)
      rows += (("m_flags_row",
        s"even4=${f.getInt(0)},odd3=${f.getInt(1)},pos5=${f.getInt(2)},zero=${f.getInt(3)}"))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A28 PYTHON models (VERDICT r12 item 4 — the one real
    // architectural delta: reference `def model(dbt, session)` .py
    // models, `core/dbt/parser/models.py:30-140` static extraction +
    // `compilation.py:407-416` runtime). The fixture's .py model runs
    // in a real PySpark subprocess (run/PythonModel): it reads its ref
    // FILE-DIRECT from the warehouse, transforms with the pyspark
    // DataFrame API, and its committed table feeds a downstream SQL
    // model through an ordinary ref — static ref extraction put the
    // python node in the DAG, so build order holds. Oracle pins both
    // tables' contents in closed form.
    QueryDef(
      "m51_python_model",
      """SELECT * FROM (VALUES
        |  ('py_rows', '1:100:200|2:200:400'),
        |  ('py_build_status', 'success'),
        |  ('downstream_sum', '600')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m51_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m51\n")
      write("seeds/src.csv", "id,amount\n1,100\n2,200\n3,300\n")
      write("models/py_enrich.py",
        """def model(dbt, session):
          |    dbt.config(materialized="table")
          |    from pyspark.sql import functions as F
          |    src = dbt.ref("src")
          |    return (src
          |        .withColumn("double_amount", F.col("amount") * 2)
          |        .filter(F.col("id") <= 2))
          |""".stripMargin)
      write("models/down.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT CAST(sum(double_amount) AS BIGINT) AS s " +
          "FROM {{ ref('py_enrich') }}")
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.build()
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      rows += (("py_build_status",
        results.find(_.uniqueId == "model.graft.py_enrich")
          .map(r => if (r.status == "success") "success"
            else s"${r.status}:${r.message}").getOrElse("missing")))
      val wh = new Engine(s, Manifest(Map.empty), whRoot).wh
      rows += (("py_rows",
        wh.read("py_enrich").orderBy("id").collect()
          .map(r => s"${r.getInt(0)}:${r.getInt(1)}:${r.getInt(2)}")
          .mkString("|")))
      rows += (("downstream_sum",
        wh.read("down").collect()(0).getLong(0).toString))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A28 INCREMENTAL python models (completes m51; reference python
    // models support table/incremental — the incremental idiom reads a
    // watermark from `dbt.this` under `dbt.is_incremental` and returns
    // only the delta, which the adapter merges). The fixture's model
    // tags every row it emits with the branch that produced it
    // ("full" vs "delta"), so the final table PROVES the second run
    // took the incremental branch and merged: carried row keeps
    // origin=full, updated+inserted rows carry origin=delta. Inside
    // the subprocess, dbt.this is registered as a view over the
    // existing table's files, so the f-string max-watermark SQL works
    // verbatim.
    QueryDef(
      "m52_python_incremental",
      """SELECT * FROM (VALUES
        |  ('run1_rows', '1:100:full|2:200:full'),
        |  ('run2_rows', '1:150:delta|2:200:full|3:300:delta')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m52_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m52\n")
      write("seeds/src.csv", "id,upd,amount\n1,1,100\n2,1,200\n")
      write("models/m_pyinc.py",
        """def model(dbt, session):
          |    dbt.config(materialized="incremental", unique_key="id")
          |    from pyspark.sql import functions as F
          |    src = dbt.ref("src")
          |    if dbt.is_incremental:
          |        wm = session.sql(
          |            f"SELECT max(upd) AS m FROM {dbt.this}").collect()[0][0]
          |        src = src.filter(F.col("upd") > wm)
          |    origin = "delta" if dbt.is_incremental else "full"
          |    return src.withColumn("origin", F.lit(origin))
          |""".stripMargin)
      val whRoot = scratch()
      def runOnce(): Unit = {
        val eng = Engine.fromProject(s, root.toString, whRoot)
        val results = eng.build()
        require(results.forall(r => r.status == "success" || r.status == "pass"),
          s"m52 build failed: ${results.filterNot(r =>
            r.status == "success" || r.status == "pass").mkString("; ")}")
      }
      def snapshotRows(): String =
        new Engine(s, Manifest(Map.empty), whRoot).wh.read("m_pyinc")
          .orderBy("id").collect()
          .map(r => s"${r.getAs[Int]("id")}:${r.getAs[Int]("amount")}:${r.getAs[String]("origin")}")
          .mkString("|")
      runOnce()
      val run1 = snapshotRows()
      // second batch: row 1 updated (upd 2), row 3 inserted (upd 2),
      // row 2 untouched — the model's watermark filter must emit only
      // the two upd>1 rows, and merge must carry row 2 by key
      write("seeds/src.csv", "id,upd,amount\n1,2,150\n2,1,200\n3,2,300\n")
      runOnce()
      val run2 = snapshotRows()
      Seq(("run1_rows", run1), ("run2_rows", run2))
        .toDF("check_name", "result").orderBy("check_name")
    },

    // A13 unit-test FIXTURE FILES (VERDICT r13 item 3; reference
    // `core/dbt/parser/fixtures.py:23-43` FixtureParser over
    // `tests/fixtures/` from `config/project.py:667-671`, looked up by
    // `parser/unit_tests.py:332-341 _get_fixture` and linked into
    // partial parsing via `:289 get_fixture_file_rows`): `format: csv,
    // fixture: <name>` in given/expect reads tests/fixtures/<name>.csv
    // (empty cells → NULL, reference :372-375); `format: sql` fixtures
    // read the file as query text. Covers: given AND expect from csv
    // fixture files, a sql fixture file, the missing-fixture parse
    // error, fixture .sql files NOT becoming singular tests, and
    // partial-parse invalidation on a fixture file edit.
    QueryDef(
      "m53_unit_fixture_files",
      """SELECT * FROM (VALUES
        |  ('cold_pass', 'pass'),
        |  ('fixture_edit_fails_test', 'fail'),
        |  ('fixture_edit_reparses', 'reparsed'),
        |  ('missing_fixture', 'error_named'),
        |  ('sql_fixture_pass', 'pass'),
        |  ('sql_fixture_not_singular_test', 'absent'),
        |  ('warm_skip', 'skipped')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.parse.PartialParse
      val root = java.nio.file.Files.createTempDirectory("m53_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m53\n")
      write("seeds/src.csv", "id,name,amount\n9,zz,900\n")
      write("models/m_fx.sql",
        "SELECT id, upper(name) AS name_up, amount FROM {{ ref('src') }}")
      // empty csv cells (row 2 amount) must land as NULL on both sides
      write("tests/fixtures/fx_given.csv", "id,name,amount\n1,aa,10\n2,bb,\n")
      write("tests/fixtures/fx_expect.csv", "id,name_up,amount\n1,AA,10\n2,BB,\n")
      write("tests/fixtures/fx_sql_given.sql",
        "SELECT 3 AS id, 'cc' AS name, 30 AS amount")
      write("models/schema.yml",
        """unit_tests:
          |  - name: ut_csv_fixtures
          |    model: m_fx
          |    given:
          |      - input: ref('src')
          |        format: csv
          |        fixture: fx_given
          |    expect:
          |      format: csv
          |      fixture: fx_expect
          |  - name: ut_sql_fixture
          |    model: m_fx
          |    given:
          |      - input: ref('src')
          |        format: sql
          |        fixture: fx_sql_given
          |    expect:
          |      rows: [{id: 3, name_up: CC, amount: 30}]
          |""".stripMargin)
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val whRoot = scratch()
      val opts = PartialParse.Options(env = Map.empty)
      def utStatus(results: Seq[graft.exec.Materializer.Result],
          ut: String): String =
        results.find(_.uniqueId.endsWith(ut))
          .map(_.status).getOrElse("missing")
      val eng1 = Engine.fromProject(s, root.toString, whRoot,
        partialParse = Some(opts))
      val res1 = eng1.build()
      rows += (("cold_pass", utStatus(res1, "ut_csv_fixtures")))
      rows += (("sql_fixture_pass", utStatus(res1, "ut_sql_fixture")))
      // the fixture .sql file is fixture data, not a singular test
      rows += (("sql_fixture_not_singular_test",
        if (eng1.manifest.tests.values.exists(_.name == "fx_sql_given"))
          "PARSED_AS_TEST" else "absent"))
      // warm reload with nothing changed: full cache reuse
      val p2 = graft.parse.ProjectLoader.load(root.toString, opts)
      rows += (("warm_skip",
        if (p2.partialStats.exists(_.skipped)) "skipped"
        else s"ran:${p2.partialStats.map(_.parsed)}"))
      // EDIT the expect fixture: the schema yml's bytes are unchanged,
      // so a cache that ignores fixtures would serve the stale unit
      // test (still passing); the ctx link must reparse the schema doc
      // and the test must now FAIL against the new expectation
      write("tests/fixtures/fx_expect.csv", "id,name_up,amount\n1,AA,99\n2,BB,\n")
      val p3 = graft.parse.ProjectLoader.load(root.toString, opts)
      rows += (("fixture_edit_reparses",
        if (p3.partialStats.exists(st => !st.skipped && st.parsed > 0))
          "reparsed" else s"stale:${p3.partialStats.map(_.parsed)}"))
      val eng3 = Engine.fromProject(s, root.toString, whRoot,
        partialParse = Some(opts))
      rows += (("fixture_edit_fails_test",
        utStatus(eng3.build(), "ut_csv_fixtures")))
      // a `fixture:` naming no file is the reference's ParsingError
      val root2 = java.nio.file.Files.createTempDirectory("m53_missing")
      scratchDirs.add(root2.toFile)
      def write2(rel: String, content: String): Unit = {
        val p = root2.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write2("dbt_project.yml", "name: m53b\n")
      write2("models/m_b.sql", "SELECT 1 AS id")
      write2("tests/fixtures/present.csv", "id\n1\n")
      write2("models/schema.yml",
        """unit_tests:
          |  - name: ut_missing
          |    model: m_b
          |    given: []
          |    expect:
          |      format: csv
          |      fixture: no_such_fixture
          |""".stripMargin)
      rows += (("missing_fixture",
        try { Engine.fromProject(s, root2.toString, scratch()); "NO_ERROR" }
        catch {
          case e: Throwable if String.valueOf(e.getMessage)
            .contains("File not found for fixture 'no_such_fixture'") =>
            "error_named"
          case e: Throwable => s"wrong_error:${e.getMessage.take(60)}"
        }))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // `--warn-error-options` (VERDICT r13 item 5; reference
    // `core/dbt/cli/option_types.py:46-66` WarnErrorOptionsType +
    // dbt_common warn_or_error; test promotion
    // `core/dbt/task/test.py:279-281`): include promotes a NAMED
    // warning class to error while unlisted classes stay warnings;
    // exclude exempts a class from `include: all`; silence suppresses
    // a class entirely. Names are reference event class names,
    // validated against the event table like the reference's
    // ALL_EVENT_NAMES.
    QueryDef(
      "m54_warn_error_options",
      """SELECT * FROM (VALUES
        |  ('baseline', 'test=warn,ghost_warned=true'),
        |  ('exclude_beats_include_all', 'test=warn'),
        |  ('include_other_promotes', 'promoted:NoNodeForYamlKey'),
        |  ('include_test_promotes', 'test=error,ghost_warned=true'),
        |  ('silence_suppresses', 'test=warn,ghost_warned=false'),
        |  ('unknown_name_rejected', 'rejected')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.run.WarnErrorOptions
      val root = java.nio.file.Files.createTempDirectory("m54_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m54\n")
      write("seeds/src.csv", "id,v\n1,\n") // empty field -> NULL v
      write("models/m_warn.sql", "SELECT id, v FROM {{ ref('src') }}")
      write("models/schema.yml",
        """models:
          |  - name: m_warn
          |    columns:
          |      - name: v
          |        data_tests:
          |          - not_null:
          |              severity: warn
          |  - name: ghost_model
          |    description: no sql file exists -> I058 NoNodeForYamlKey
          |""".stripMargin)
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      // capture warn events so "stays a warning" is observable
      def withEvents[T](body: => T): (T, Seq[String]) = {
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val (pf, ps, pl) = (graft.run.EventLog.format,
          graft.run.EventLog.sink, graft.run.EventLog.minLevel)
        graft.run.EventLog.format = "json"
        graft.run.EventLog.minLevel = "warn"
        graft.run.EventLog.sink = l => { seen.add(l); () }
        try { val r = body; (r, scala.jdk.CollectionConverters
          .IteratorHasAsScala(seen.iterator()).asScala.toSeq) }
        finally {
          graft.run.EventLog.format = pf
          graft.run.EventLog.sink = ps
          graft.run.EventLog.minLevel = pl
        }
      }
      def runWith(weo: WarnErrorOptions): (String, Boolean) = {
        val (status, events) = withEvents {
          val eng = Engine.fromProject(s, root.toString, scratch(),
            warnErrorOptions = weo)
          eng.run(threads = 1)
          eng.test().headOption.map(_.status).getOrElse("none")
        }
        (status, events.exists(_.contains("\"I058\"")))
      }
      val (st0, ghost0) = runWith(WarnErrorOptions.Empty)
      rows += (("baseline", s"test=$st0,ghost_warned=$ghost0"))
      val (st1, ghost1) = runWith(WarnErrorOptions(
        include = Set("LogTestResult")))
      rows += (("include_test_promotes", s"test=$st1,ghost_warned=$ghost1"))
      // the OTHER class promotes at load; LogTestResult stays untouched
      val promoted =
        try { runWith(WarnErrorOptions(include = Set("NoNodeForYamlKey")))
          "NO_ERROR" }
        catch {
          case e: Throwable if String.valueOf(e.getMessage)
            .contains("NoNodeForYamlKey") => "promoted:NoNodeForYamlKey"
          case e: Throwable => s"wrong:${String.valueOf(e.getMessage).take(50)}"
        }
      rows += (("include_other_promotes", promoted))
      val (st3, ghost3) = runWith(WarnErrorOptions(
        silence = Set("NoNodeForYamlKey")))
      rows += (("silence_suppresses", s"test=$st3,ghost_warned=$ghost3"))
      // exclude exempts LogTestResult from include: all (the I058 class
      // is silenced so the blanket include cannot fail the load)
      val (st4, _) = runWith(WarnErrorOptions(includeAll = true,
        exclude = Set("LogTestResult"), silence = Set("NoNodeForYamlKey")))
      rows += (("exclude_beats_include_all", s"test=$st4"))
      rows += (("unknown_name_rejected",
        try { WarnErrorOptions.parse("""{"include": ["NotARealEvent"]}"""); "accepted" }
        catch { case e: Throwable
          if String.valueOf(e.getMessage).contains("NotARealEvent") => "rejected" }))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // A26 context surface completion (reference providers.py context
    // members): relation VALUES from ref()/this (BaseRelation attribute
    // surface — identifier/schema/database), the `model` and `graph`
    // dicts, invocation_args_dict, sql_now, defer_relation,
    // store_raw_result/load_result in a run-operation,
    // try_or_compiler_error, and adapter.get_relation's found/missing
    // split. All rendered INTO table contents so the oracle pins them.
    QueryDef(
      "m55_context_surface",
      """SELECT * FROM (VALUES
        |  ('adapter_rel', 'found=1,missing=1,nodefer=1'),
        |  ('ctx_model', 'ctx_probe|table|default|current_timestamp()'),
        |  ('graph_models', 'adapter_probe,ctx_probe,rel_probe'),
        |  ('store_load', 'hello:3'),
        |  ('this_attrs', 'rel_probe|default|1|src'),
        |  ('try_ok', '42')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m55_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m55\n")
      write("seeds/src.csv", "id,amount\n1,100\n2,200\n")
      write("models/rel_probe.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT '{{ this.identifier }}' AS self_id, " +
          "'{{ this.schema }}' AS self_schema, " +
          "{% if this.database is none %}1{% else %}0{% endif %} AS db_none, " +
          "'{{ ref('src').identifier }}' AS src_id " +
          "FROM {{ ref('src') }} LIMIT 1")
      write("models/ctx_probe.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT '{{ model.name }}' AS m_name, " +
          "'{{ model.config.materialized }}' AS m_mat, " +
          "'{{ invocation_args_dict.target }}' AS tgt, " +
          "'{{ sql_now }}' AS now_fn")
      write("models/adapter_probe.sql",
        "{{ config(materialized='table') }}\n" +
          "{% set r = adapter.get_relation(database=none, schema=none, identifier='src') %}\n" +
          "{% set r2 = adapter.get_relation(database=none, schema=none, identifier='no_such_rel') %}\n" +
          "SELECT {% if r is not none %}1{% else %}0{% endif %} AS found, " +
          "{% if r2 is none %}1{% else %}0{% endif %} AS missing, " +
          "{% if defer_relation is none %}1{% else %}0{% endif %} AS nodefer " +
          "FROM {{ ref('src') }} LIMIT 1")
      write("macros/ops.sql",
        """{% macro twice(x) %}{{ return(x * 2) }}{% endmacro %}
          |{% macro graph_scan() %}
          |{% set names = [] %}
          |{% for n in graph.nodes.values() %}{% if n.resource_type == 'model' %}{% do names.append(n.name) %}{% endif %}{% endfor %}
          |SELECT '{{ names | sort | join(",") }}' AS model_names
          |{% endmacro %}
          |{% macro store_load_probe() %}
          |{% do store_raw_result('x', message='hello', code='OK', rows_affected='3') %}
          |SELECT '{{ load_result("x").message }}:{{ load_result("x").rows_affected }}' AS sr
          |{% endmacro %}
          |{% macro try_probe() %}
          |SELECT {{ try_or_compiler_error('should not fire', twice, 21) }} AS tv
          |{% endmacro %}
          |""".stripMargin)
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.build()
      require(results.forall(r => r.status == "success" || r.status == "pass"),
        s"m55 build failed: ${results.filterNot(r =>
          r.status == "success" || r.status == "pass").mkString("; ")}")
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val wh = new Engine(s, Manifest(Map.empty), whRoot).wh
      val rp = wh.read("rel_probe").collect()(0)
      rows += (("this_attrs",
        s"${rp.getString(0)}|${rp.getString(1)}|${rp.getInt(2)}|${rp.getString(3)}"))
      val cp = wh.read("ctx_probe").collect()(0)
      rows += (("ctx_model",
        s"${cp.getString(0)}|${cp.getString(1)}|${cp.getString(2)}|${cp.getString(3)}"))
      val ap = wh.read("adapter_probe").collect()(0)
      rows += (("adapter_rel",
        s"found=${ap.getInt(0)},missing=${ap.getInt(1)},nodefer=${ap.getInt(2)}"))
      rows += (("graph_models",
        eng.runOperation("graph_scan").head.collect()(0).getString(0)))
      rows += (("store_load",
        eng.runOperation("store_load_probe").head.collect()(0).getString(0)))
      rows += (("try_ok",
        String.valueOf(eng.runOperation("try_probe").head.collect()(0).get(0))))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // Cross-database `dbt.*` macro namespace (render/CrossDb — the
    // adapters-package global macros real projects call; the reference
    // resolves them through the internal `dbt` namespace after project
    // macros). The fixture renders the whole surface into table
    // CONTENTS so the oracle pins each expansion's VALUE, plus the
    // dispatch-override rule: a project `spark__type_string` beats the
    // builtin, and an unqualified call falls through to the builtin at
    // lowest precedence.
    QueryDef(
      "m56_cross_db_macros",
      """SELECT * FROM (VALUES
        |  ('agg', 'lg=x|x|x,anyflag=true,n=3'),
        |  ('except_rows', '1'),
        |  ('override', 'varchar(99)|int'),
        |  ('scalar1', '2020-01-04|31|abc|12|b|2020-01-01'),
        |  ('scalar2', 'null|lo|3|bbb|5|2020-02-29'),
        |  ('scalar3', '7694f4a66316e53c8cdd9d9954bd611d|lit|true')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m56_proj")
      scratchDirs.add(root.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m56\n")
      write("seeds/src.csv", "id,v,flag\n1,x,true\n2,x,false\n3,x,false\n")
      // a project-level spark__ macro must beat the builtin (dispatch
      // order); the unqualified call resolves the builtin as fallback
      write("macros/overrides.sql",
        "{% macro spark__type_string() %}varchar(99){% endmacro %}")
      write("models/xscalar.sql",
        """{{ config(materialized='table') }}
          |SELECT
          |  cast({{ dbt.dateadd('day', 3, "DATE '2020-01-01'") }} as date) AS d_add,
          |  {{ dbt.datediff("DATE '2020-01-01'", "DATE '2020-02-01'", 'day') }} AS d_diff,
          |  {{ dbt.concat(["'a'", "'b'", "'c'"]) }} AS cc,
          |  cast('12' as {{ dbt.type_bigint() }}) AS big,
          |  {{ dbt.split_part("'a-b-c'", "'-'", 2) }} AS sp,
          |  cast({{ dbt.date_trunc('month', "DATE '2020-01-15'") }} as date) AS mt,
          |  {{ dbt.safe_cast("'oops'", dbt.type_int()) }} AS sc,
          |  {{ dbt.right("'hello'", 2) }} AS r2,
          |  {{ dbt.position("'ll'", "'hello'") }} AS pos,
          |  {{ dbt.replace("'aaa'", "'a'", "'b'") }} AS rep,
          |  {{ dbt.length("'hello'") }} AS len,
          |  cast({{ dbt.last_day("DATE '2020-02-10'", 'month') }} as date) AS ld,
          |  {{ dbt.hash("'q'") }} AS h,
          |  {{ dbt.string_literal('lit') }} AS sl,
          |  {{ dbt.cast("'1'", dbt.type_boolean()) }} AS casted""".stripMargin)
      write("models/xagg.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT {{ dbt.listagg('v', \"'|'\") }} AS lg, " +
          "{{ dbt.bool_or('flag') }} AS anyflag, count(*) AS n " +
          "FROM {{ ref('src') }}")
      write("models/xset.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT 1 AS k {{ dbt.except() }} SELECT 2 AS k")
      write("models/xover.sql",
        "{{ config(materialized='table') }}\n" +
          "SELECT '{{ dbt.type_string() }}' AS overridden, " +
          "'{{ type_int() }}' AS fallback")
      val whRoot = scratch()
      val eng = Engine.fromProject(s, root.toString, whRoot)
      val results = eng.build()
      require(results.forall(r => r.status == "success" || r.status == "pass"),
        s"m56 build failed: ${results.filterNot(r =>
          r.status == "success" || r.status == "pass").mkString("; ")}")
      val wh = new Engine(s, Manifest(Map.empty), whRoot).wh
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val sc = wh.read("xscalar").collect()(0)
      def v(i: Int): String = String.valueOf(sc.get(i))
      rows += (("scalar1", (0 to 5).map(v).mkString("|")))
      rows += (("scalar2", (6 to 11).map(v).mkString("|")))
      rows += (("scalar3", (12 to 14).map(v).mkString("|")))
      val ag = wh.read("xagg").collect()(0)
      rows += (("agg",
        s"lg=${ag.getString(0)},anyflag=${ag.getBoolean(1)},n=${ag.getLong(2)}"))
      rows += (("except_rows",
        wh.read("xset").collect().map(_.getInt(0)).mkString(",")))
      val ov = wh.read("xover").collect()(0)
      rows += (("override", s"${ov.getString(0)}|${ov.getString(1)}"))
      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // Exception-surface parity (VERDICT r15 item 2; reference
    // `core/dbt/exceptions.py` — the messages users debug against):
    // seven misconfigured projects, each driven into its SPECIFIC
    // reference-text error. The result strings classify the caught
    // message by its reference phrases; ERRORS.md carries the full
    // class inventory and ErrorsSpec pins the exact texts.
    QueryDef(
      "m57_error_surface",
      """SELECT * FROM (VALUES
        |  ('ambiguous_alias', 'database-representation/both-ids'),
        |  ('cycle', 'found-a-cycle/closed/3-hops'),
        |  ('dup_resource', 'two-models/ref-name/both-ids'),
        |  ('private_ref', 'attempted-to-reference/private/finance-group'),
        |  ('ref_disabled', 'is-disabled'),
        |  ('ref_not_found', 'not-found/suggests:stg_orders'),
        |  ('src_not_found', 'source-not-found')
        |) AS t(check_name, result)
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      def mkProj(tag: String, files: Map[String, String]): String = {
        val root = java.nio.file.Files.createTempDirectory(s"m57_$tag")
        scratchDirs.add(root.toFile)
        files.foreach { case (rel, content) =>
          val p = root.resolve(rel)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, content): Unit
        }
        root.toString
      }
      def errOf(body: => Unit): String =
        try { body; "NO-ERROR" }
        catch { case e: Throwable => String.valueOf(e.getMessage) }
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()

      // 1. DuplicateResourceNameError: two models named dm
      val mDup = errOf(Engine.fromProject(s, mkProj("dup", Map(
        "dbt_project.yml" -> "name: m57a\n",
        "models/dm.sql" -> "SELECT 1 AS x",
        "models/sub/dm.sql" -> "SELECT 2 AS x")), scratch()))
      rows += (("dup_resource",
        if (mDup.contains("dbt found two models with the name \"dm\"") &&
          mDup.contains("when looking for ref(\"dm\")") &&
          mDup.contains("model.graft.dm")) "two-models/ref-name/both-ids"
        else s"unexpected:$mDup"))

      // 2. TargetNotFoundError (+ nearest-name suggestion extension)
      val mRef = errOf(Engine.fromProject(s, mkProj("ref", Map(
        "dbt_project.yml" -> "name: m57b\n",
        "models/stg_orders.sql" -> "SELECT 1 AS x",
        "models/rpt.sql" -> "SELECT * FROM {{ ref('stg_order') }}")), scratch()))
      rows += (("ref_not_found",
        if (mRef.contains("Model 'model.graft.rpt'") &&
          mRef.contains("depends on a node named 'stg_order' which was not found") &&
          mRef.contains("Did you mean 'stg_orders'?")) "not-found/suggests:stg_orders"
        else s"unexpected:$mRef"))

      // 3. TargetNotFoundError, is-disabled flavor (enabled: false)
      val mDis = errOf(Engine.fromProject(s, mkProj("dis", Map(
        "dbt_project.yml" -> "name: m57c\n",
        "models/parked.sql" -> "{{ config(enabled=false) }}\nSELECT 1 AS x",
        "models/uses.sql" -> "SELECT * FROM {{ ref('parked') }}")), scratch()))
      rows += (("ref_disabled",
        if (mDis.contains("depends on a node named 'parked'") &&
          mDis.contains("which is disabled")) "is-disabled"
        else s"unexpected:$mDis"))

      // 4. the cycle error: a <-> b, reference "Found a cycle: ..."
      // (raised at engine link, before any scheduling)
      val mCyc = errOf(Engine.fromProject(s, mkProj("cyc", Map(
        "dbt_project.yml" -> "name: m57d\n",
        "models/ca.sql" -> "SELECT * FROM {{ ref('cb') }}",
        "models/cb.sql" -> "SELECT * FROM {{ ref('ca') }}")), scratch()))
      val hops = mCyc.split(" --> ", -1).length - 1
      rows += (("cycle",
        if (mCyc.startsWith("Found a cycle: ") && hops == 2 &&
          mCyc.contains("model.graft.ca") && mCyc.contains("model.graft.cb"))
          "found-a-cycle/closed/3-hops"
        else s"unexpected:$mCyc"))

      // 5. DbtReferenceError: private model referenced across groups
      val mPriv = errOf {
        val eng = Engine.fromProject(s, mkProj("priv", Map(
          "dbt_project.yml" -> "name: m57e\n",
          "models/groups.yml" ->
            """groups:
              |  - name: finance
              |    owner: {name: fin}
              |  - name: marketing
              |    owner: {name: mkt}
              |models:
              |  - name: sec
              |    access: private
              |    group: finance
              |  - name: leak
              |    group: marketing
              |""".stripMargin,
          "models/sec.sql" -> "SELECT 1 AS x",
          "models/leak.sql" -> "SELECT * FROM {{ ref('sec') }}")), scratch())
        // compile throws; run() would capture it as a node-result error
        val leak = eng.manifest.nodes.values.find(_.name == "leak").get
        eng.compile(leak): Unit
      }
      rows += (("private_ref",
        if (mPriv.contains("attempted to reference node model.graft.sec") &&
          mPriv.contains("is private to the 'finance' group"))
          "attempted-to-reference/private/finance-group"
        else s"unexpected:$mPriv"))

      // 6. AmbiguousAliasError: two models sharing one alias
      val mAmb = errOf {
        val eng = Engine.fromProject(s, mkProj("amb", Map(
          "dbt_project.yml" -> "name: m57f\n",
          "models/a1.sql" -> "{{ config(alias='shared') }}\nSELECT 1 AS x",
          "models/a2.sql" -> "{{ config(alias='shared') }}\nSELECT 2 AS x")), scratch())
        eng.run(): Unit
      }
      rows += (("ambiguous_alias",
        if (mAmb.contains("dbt found two resources with the database representation \"shared\"") &&
          mAmb.contains("model.graft.a1") && mAmb.contains("model.graft.a2"))
          "database-representation/both-ids"
        else s"unexpected:$mAmb"))

      // 7. TargetNotFoundError, source flavor
      val mSrc = errOf(Engine.fromProject(s, mkProj("src", Map(
        "dbt_project.yml" -> "name: m57g\n",
        "models/sources.yml" ->
          s"""sources:
             |  - name: main
             |    tables:
             |      - name: orders
             |        path: $dir/orders.parquet
             |""".stripMargin,
        "models/uses_src.sql" ->
          "SELECT * FROM {{ source('main', 'nope') }}")), scratch()))
      rows += (("src_not_found",
        if (mSrc.contains("depends on a source named 'main.nope'") &&
          mSrc.contains("was not found")) "source-not-found"
        else s"unexpected:$mSrc"))

      rows.toSeq.toDF("check_name", "result").orderBy("check_name")
    },

    // --full-refresh (VERDICT r15 item 3; reference cli/params.py
    // full_refresh + tests/functional/materializations incremental
    // full_refresh path): an incremental model appends across two
    // batches, then a fullRefresh run REBUILDS it from the current
    // source only — the incremental state is discarded. The oracle
    // derives all three phase counts from orders in closed form.
    QueryDef(
      "m58_full_refresh",
      """WITH b1 AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 2 = 0),
        |     b2 AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT * FROM (VALUES
        |  ('p1_initial',     (SELECT CAST(COUNT(*) AS BIGINT) FROM b1), 'b1'),
        |  ('p2_incremental', (SELECT CAST(COUNT(*) AS BIGINT) FROM b1) +
        |                     (SELECT CAST(COUNT(*) AS BIGINT) FROM b2), 'b1,b2'),
        |  ('p3_full_refresh',(SELECT CAST(COUNT(*) AS BIGINT) FROM b2), 'b2')
        |) AS t(phase, n_rows, batches)
        |ORDER BY phase""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("m58_proj")
      scratchDirs.add(root.toFile)
      val srcDir = java.nio.file.Files.createTempDirectory("m58_src")
      scratchDirs.add(srcDir.toFile)
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content): Unit
      }
      write("dbt_project.yml", "name: m58\n")
      write("models/sources.yml",
        s"""sources:
           |  - name: main
           |    tables:
           |      - name: feed
           |        path: $srcDir/feed.parquet
           |""".stripMargin)
      write("models/inc.sql",
        """{{ config(materialized='incremental', incremental_strategy='append') }}
          |SELECT id, batch FROM {{ source('main', 'feed') }}
          |{% if is_incremental() %}
          |WHERE batch NOT IN (SELECT DISTINCT batch FROM {{ this }})
          |{% endif %}""".stripMargin)
      val orders = graft.Tables.load(s, dir, "orders")
      def writeBatch(tag: String, parity: Int): Unit =
        orders.filter(col("o_orderkey") % 2 === parity)
          .select(col("o_orderkey").as("id"), lit(tag).as("batch"))
          .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/feed.parquet")
      val whDir = scratch()
      val rows = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
      def snapshotPhase(name: String): Unit = {
        val t = new Engine(s, Manifest(Map.empty), whDir).wh.read("inc")
        rows += ((name, t.count(),
          t.select("batch").distinct().collect().map(_.getString(0)).sorted.mkString(",")))
      }
      writeBatch("b1", 0)
      require(Engine.fromProject(s, root.toString, whDir).run()
        .forall(_.status == "success"), "m58 run 1 failed")
      snapshotPhase("p1_initial")
      writeBatch("b2", 1)
      val r2 = Engine.fromProject(s, root.toString, whDir).run()
      require(r2.forall(_.status == "success"),
        s"m58 run 2 failed: ${r2.filterNot(_.status == "success")
          .map(r => s"${r.uniqueId}: ${r.message}").mkString("; ")}")
      snapshotPhase("p2_incremental")
      // same source, --full-refresh: the model rebuilds from b2 only
      require(Engine.fromProject(s, root.toString, whDir)
        .run(fullRefresh = true).forall(_.status == "success"),
        "m58 full-refresh run failed")
      snapshotPhase("p3_full_refresh")
      rows.toSeq.toDF("phase", "n_rows", "batches").orderBy("phase")
    }
  )
}
