package graft.tools

import graft.Session
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Execution-scale macro-benchmark (VERDICT r15 item 4): the
  * reference's perf project (`performance/projects/01_2000_simple_models`)
  * is parse-only and ParsePerfSpec pins that phase; this main pins the
  * BUILD wall on the same synthetic 2000-node DAG — scheduler +
  * materialization overhead at node scale, the phase the reference
  * never published numbers for.
  *
  * DAG shape: 1800 chained trivial views (every 10th a root) + 100
  * table models + 100 not_null tests over the tables — views dominate
  * (pure scheduler + analysis overhead), tables exercise the write
  * path, tests the test runner. Two full cycles run (fresh project
  * parse + fresh engine + fresh warehouse each) so the artifact shows
  * a cold and a JIT-warm wall; per-phase walls for both cycles land in
  * RUN_SCALE_r15.json and the last stdout line is the compact JSON the
  * driver can capture. RunScaleSpec enforces a generous bound on the
  * same shape at the same scale.
  */
object RunScaleBench {

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def genProject(nViews: Int, nTables: Int): java.nio.file.Path = {
    val dir = Files.createTempDirectory("runscale")
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("dbt_project.yml"), "name: runscale\n")
    (0 until nViews).foreach { i =>
      val body =
        if (i % 10 == 0) s"SELECT $i AS id, 'x' AS payload"
        else s"SELECT * FROM {{ ref('v_${i - 1}') }}"
      Files.writeString(dir.resolve(s"models/v_$i.sql"), body)
    }
    (0 until nTables).foreach { i =>
      Files.writeString(dir.resolve(s"models/t_$i.sql"),
        s"{{ config(materialized='table') }}\nSELECT $i AS id, 'y' AS payload")
    }
    val yml = new StringBuilder("models:\n")
    (0 until nTables).foreach { i =>
      yml ++= s"  - name: t_$i\n    columns:\n      - name: id\n        tests: [not_null]\n"
    }
    Files.writeString(dir.resolve("models/schema.yml"), yml.toString)
    dir
  }

  final case class Cycle(parseSec: Double, initSec: Double, runSec: Double,
      testSec: Double, nSuccess: Int, nPass: Int)

  def oneCycle(spark: SparkSession, proj: java.nio.file.Path,
      threads: Int): Cycle = {
    val wh = Files.createTempDirectory("runscale_wh")
    try {
      val t0 = System.nanoTime()
      val p = graft.parse.ProjectLoader.load(proj.toString)
      val t1 = System.nanoTime()
      val eng = graft.run.Engine.fromProject(spark, proj.toString, wh.toString)
      val t2 = System.nanoTime()
      val results = eng.run(threads = threads)
      val t3 = System.nanoTime()
      val tests = eng.test(threads = threads)
      val t4 = System.nanoTime()
      require(p.manifest.models.size >= 1900, "project generation broken")
      Cycle((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
        results.count(_.status == "success"), tests.count(_.status == "pass"))
    } finally rmTree(wh.toFile)
  }

  def main(args: Array[String]): Unit = {
    val threads = sys.env.getOrElse("SPARK_GRAFT_RUN_THREADS", "16").toInt
    val proj = genProject(1800, 100)
    val spark = Session.build(Session.dirBytes(proj.toString))
    graft.run.EventLog.minLevel = "error"
    try {
      val cycles = (1 to 2).map(_ => oneCycle(spark, proj, threads))
      def cj(c: Cycle): String =
        f"""{"parse_sec":${c.parseSec}%.3f,"engine_init_sec":${c.initSec}%.3f,""" +
          f""""run_wall_sec":${c.runSec}%.3f,"test_wall_sec":${c.testSec}%.3f,""" +
          s""""n_success":${c.nSuccess},"n_pass":${c.nPass}}"""
      val total2 = cycles(1).parseSec + cycles(1).initSec +
        cycles(1).runSec + cycles(1).testSec
      val json =
        s"""{"metric":"run_scale_2000_node_build","value":${f"$total2%.3f"},"unit":"sec",
           |"shape":"1800 chained views + 100 tables + 100 not_null tests",
           |"threads":$threads,"cpus":"${Session.cpus}",
           |"cycle_cold":${cj(cycles(0))},
           |"cycle_warm":${cj(cycles(1))},
           |"note":"value = warm-cycle total wall (parse+init+run+test); ParsePerfSpec pins the parse phase alone; RunScaleSpec enforces a 2x bound on this shape"}
           |""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get("RUN_SCALE_r15.json"), json.getBytes("UTF-8"))
      println(json.linesIterator.mkString(" "))
    } finally {
      rmTree(proj.toFile)
      spark.stop()
    }
  }
}
