package graft.exec

import graft.SparkSpec
import graft.run.Engine
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The data schema each write records in its `_commits` manifest: a
  * read through it must equal Spark's footer-inferred read of the same
  * files, in schema and rows, for every write path — and with it a
  * recovered warehouse answers reads and artifacts without Spark jobs.
  */
class RecordedSchemaSpec extends SparkSpec {

  private def writeProject(files: Map[String, String]): String = {
    val dir = Paths.get(tmpDir("schema_proj"))
    files.foreach { case (rel, content) =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    dir.toString
  }

  /** Seed-fed project with one model per write path. Round 2 changes
    * grp 'c' only, so the partitioned incremental models carry grp
    * 'a'/'b' by link (the pruned path) and the snapshot closes rows. */
  private val project: Map[String, String] = Map(
    "dbt_project.yml" ->
      """name: schemaproj
        |vars:
        |  round: '1'
        |""".stripMargin,
    "seeds/raw.csv" ->
      """id,grp,v,ts
        |1,a,10,2020-01-01 00:00:00
        |2,a,20,2020-01-02 00:00:00
        |3,b,30,2020-01-03 00:00:00
        |4,c,40,2020-01-04 00:00:00
        |""".stripMargin,
    "models/stg.sql" ->
      """SELECT id, grp,
        |  CAST(v + CASE WHEN grp = 'c' THEN {{ var('round') }} ELSE 0 END AS DOUBLE) AS v,
        |  CAST(ts AS TIMESTAMP) AS ts, DATE '2020-01-01' AS d,
        |  CAST(v AS DECIMAL(12, 2)) AS amount
        |FROM {{ ref('raw') }}""".stripMargin,
    "models/t_plain.sql" ->
      "{{ config(materialized='table') }}\nSELECT * FROM {{ ref('stg') }}",
    "models/t_part.sql" ->
      "{{ config(materialized='table', partition_by='grp') }}\nSELECT * FROM {{ ref('stg') }}",
    "models/t_clust.sql" ->
      "{{ config(materialized='table', cluster_by='v') }}\nSELECT * FROM {{ ref('stg') }}",
    "models/t_orc.sql" ->
      "{{ config(materialized='table', file_format='orc') }}\nSELECT * FROM {{ ref('stg') }}",
    "models/i_merge.sql" ->
      incremental("incremental_strategy='merge', unique_key='id'"),
    "models/i_merge_part.sql" ->
      incremental("incremental_strategy='merge', unique_key='id', partition_by='grp'"),
    "models/i_append.sql" ->
      incremental("incremental_strategy='append'"),
    "models/i_delete_insert.sql" ->
      incremental("incremental_strategy='delete+insert', unique_key='id'"),
    "models/i_overwrite.sql" ->
      incremental("incremental_strategy='insert_overwrite', partition_by='grp'"),
    "models/i_new_cols.sql" ->
      """{{ config(materialized='incremental', unique_key='id',
        |   on_schema_change='append_new_columns') }}
        |SELECT id, grp, v{% if var('round') == '2' %}, v * 2 AS v2{% endif %}
        |FROM {{ ref('stg') }}
        |{% if is_incremental() %}WHERE grp = 'c'{% endif %}""".stripMargin,
    "models/i_sync.sql" ->
      """{{ config(materialized='incremental', unique_key='id',
        |   on_schema_change='sync_all_columns') }}
        |SELECT id, grp,
        |  {% if var('round') == '2' %}CAST(v AS BIGINT) AS w{% else %}ts{% endif %}
        |FROM {{ ref('stg') }}
        |{% if is_incremental() %}WHERE grp = 'c'{% endif %}""".stripMargin,
    "snapshots/snap.sql" ->
      """{{ config(strategy='check', unique_key='id', check_cols=['v']) }}
        |SELECT id, grp, v FROM {{ ref('stg') }}""".stripMargin)

  private def incremental(cfg: String): String =
    s"""{{ config(materialized='incremental', $cfg) }}
       |SELECT * FROM {{ ref('stg') }}
       |{% if is_incremental() %}WHERE grp = 'c'{% endif %}""".stripMargin

  private val stored = Seq("raw", "t_plain", "t_part", "t_clust", "t_orc", "i_merge",
    "i_merge_part", "i_append", "i_delete_insert", "i_overwrite", "i_new_cols",
    "i_sync", "snap")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Reads through the recorded schema == Spark-inferred reads of the
    * same files, both with and without the hidden columns. */
  private def assertMatchesInference(wh: Warehouse, name: String): Unit = {
    assert(Warehouse.readCommitsFile(wh.root, name).flatMap(_.schema).isDefined,
      s"$name: no schema line")
    val (fmt, paths, hide) = wh.physical(name).get
    val inferredRaw = spark.read.format(fmt).load(paths: _*)
    val inferred = if (hide.isEmpty) inferredRaw else inferredRaw.drop(hide: _*)
    assert(wh.readRaw(name).schema === inferredRaw.schema, name)
    assert(wh.read(name).schema === inferred.schema, name)
    assert(rows(wh.readRaw(name)) === rows(inferredRaw), name)
    assert(rows(wh.read(name)) === rows(inferred), name)
    assert(rows(spark.table(name)) === rows(inferred), s"$name view")
  }

  private def build(root: String, whRoot: String, round: Int): Engine = {
    val eng = Engine.fromProject(spark, root, whRoot, vars = Map("round" -> round.toString))
    val results = eng.build(threads = 2)
    val bad = results.filterNot(r => r.status == "success" || r.status == "pass")
    assert(bad.isEmpty, bad.mkString("; "))
    eng
  }

  test("every write path records a schema that reads exactly like inference, before and after recovery") {
    val root = writeProject(project)
    val whRoot = tmpDir("schema_wh")
    val eng1 = build(root, whRoot, 1)
    stored.foreach(assertMatchesInference(eng1.wh, _))
    val eng2 = build(root, whRoot, 2)
    stored.foreach(assertMatchesInference(eng2.wh, _))
    // round 2 took the pruned paths: carried partitions are links to
    // version-prefixed files of the previous commit
    for (name <- Seq("i_merge_part", "i_overwrite")) {
      val dir = Paths.get(eng2.wh.physical(name).get._2.head)
      val linked = Files.walk(dir).iterator.asScala
        .exists(p => p.getFileName.toString.matches("v\\d+_part-.*"))
      assert(linked, s"$name: no carried partition under $dir")
    }
    // the snapshot closed grp 'c' rows into a hidden-column partition
    assert(eng2.wh.readRaw("snap").columns.contains("dbt_part"))
    assert(!eng2.wh.read("snap").columns.contains("dbt_part"))
    assert(eng2.wh.read("snap").where("dbt_valid_to IS NOT NULL").count() === 1)
    assert(eng2.wh.read("i_new_cols").columns.contains("v2"))
    assert(eng2.wh.read("i_sync").columns.toSeq === Seq("id", "grp", "w"))
    assert(eng2.wh.commitCount("i_append") === 2)
    val recovered = new Warehouse(spark, whRoot)
    stored.foreach(assertMatchesInference(recovered, _))
  }

  test("a manifest without the schema line recovers through inference and gains it at the next replace") {
    val whRoot = tmpDir("legacy_wh")
    val wh = new Warehouse(spark, whRoot)
    val df = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
    wh.writeTable("legacy", df)
    val c = Warehouse.readCommitsFile(whRoot, "legacy").get
    assert(c.schema.isDefined)
    // the manifest an older writer left: no schema line
    Warehouse.writeCommitsFile(whRoot, "legacy",
      c.versions.map(v => s"$whRoot/legacy/$v"), c.fmt, c.hide)
    val old = new Warehouse(spark, whRoot)
    assert(rows(old.read("legacy")) === rows(wh.read("legacy")))
    assert(old.read("legacy").schema === wh.read("legacy").schema)
    // an append keeps reading through inference
    old.appendTable("legacy", spark.range(5, 7).selectExpr("id", "CAST(id AS STRING) AS s"))
    assert(Warehouse.readCommitsFile(whRoot, "legacy").get.schema.isEmpty)
    assert(old.read("legacy").count() === 7)
    old.writeTable("legacy", old.read("legacy"))
    assert(Warehouse.readCommitsFile(whRoot, "legacy").get.schema.isDefined)
    assertMatchesInference(new Warehouse(spark, whRoot), "legacy")
  }

  test("_commits round-trips every header line through the one parser") {
    val whRoot = tmpDir("commits_wh")
    Warehouse.writeCommitsFile(whRoot, "t", Seq(s"$whRoot/t/v0", s"$whRoot/t/v3"),
      "orc", Seq("dbt_part"), Some("""{"type":"struct","fields":[]}"""))
    assert(Warehouse.readCommitsFile(whRoot, "t") === Some(Warehouse.Commits("orc",
      Seq("dbt_part"), Some("""{"type":"struct","fields":[]}"""), Seq("v0", "v3"))))
    Warehouse.writeCommitsFile(whRoot, "u", Seq(s"$whRoot/u/v1"))
    assert(Warehouse.readCommitsFile(whRoot, "u") ===
      Some(Warehouse.Commits("parquet", Nil, None, Seq("v1"))))
    assert(Warehouse.readCommitsFile(whRoot, "absent") === None)
  }

  /** Spark jobs started on this thread while `body` runs. Listener
    * events arrive in order, so once the end marker's job is seen every
    * job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      body
      sc.setJobGroup(s"$group-end", "probe end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "listener never saw the end marker")
      seen.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("an engine over a recovered warehouse and its artifacts launch no Spark job") {
    // the project has no external sources, so any job here would be
    // warehouse metadata work
    val root = writeProject(project)
    val whRoot = tmpDir("jobs_wh")
    build(root, whRoot, 1)
    val target = tmpDir("jobs_target")
    val jobs = jobsDuring {
      val eng = Engine.fromProject(spark, root, whRoot)
      eng.writeArtifacts(target, Nil)
    }
    assert(jobs === 0)
    val catalog = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(target, "catalog.json").toFile)
    stored.foreach(n => assert(catalog.at(s"/nodes/$n/columns").size() > 0, n))
  }
}
