package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session definition: the CLI, Bench, Verify, the tools
  * and the test suite all build their session here, so every entry
  * point runs with the settings the query suite was measured under.
  *
  * Inputs are the core count and the byte size of the data the caller
  * reads; everything else is derived from those two:
  *  - master: `SPARK_MASTER` when set (a deployment setting), else
  *    `local[cpus]`;
  *  - shuffle partitions sized to the DATA, `max(8, min(4·cpus,
  *    bytes / 16 MB))`, the way a cluster deployment sizes
  *    initialPartitionNum: at sf0.1 (17 MB) 32-way shuffles and 32-task
  *    scans are pure scheduling overhead (AQE coalesces reducers
  *    post hoc, but the initial partition counts still launch), while at
  *    sf10+ this is back to >= the core count. Measured on the 239-query
  *    pass: 179.5 s -> 171.2 s with AQE kept on (NOTES_r12.md);
  *  - `spark.sql.files.minPartitionNum = min(8, cpus)`;
  *  - AQE on, FAIR scheduling, a 64 MB broadcast threshold, UTC, no UI;
  *  - a 4096-entry generated-class cache (a static conf, default 100): a
  *    239-query suite compiles far more than 100 codegen units, so at the
  *    default every pass re-compiles every query. It caches compiled
  *    code, not data, so the size is scale-independent.
  */
object Session {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else the processors the
    * JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `sparkMaster` is the `SPARK_MASTER` setting, if any. */
  def master(cpus: Int, sparkMaster: Option[String]): String =
    sparkMaster.getOrElse(s"local[$cpus]")

  /** Every conf a session of `cpus` cores over `dataBytes` of input
    * gets — a pure function, so the derivation is checkable without a
    * SparkContext. */
  def confs(cpus: Int, dataBytes: Long): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" ->
      math.max(8L, math.min(4L * cpus, dataBytes / (16L << 20))).toString,
    "spark.sql.files.minPartitionNum" -> math.min(8, cpus).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.scheduler.mode" -> "FAIR",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  def build(dataBytes: Long, cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master(cpus, sys.env.get("SPARK_MASTER")))
      .appName("graft")
      .config(confs(cpus, dataBytes))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The allowlisted bounded-domain WindowExec warnings flood stderr
    // thousands of times per suite pass; the windows themselves are
    // audited (ExplainAudit + BoundedWindowSpec). This must run after
    // session init and setLogLevel: Spark re-initializes the log4j2
    // configuration then, which drops any per-logger level set earlier.
    scala.util.Try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window",
        org.apache.logging.log4j.Level.ERROR)
    }
    spark
  }

  /** Total size of the files under `path` (0 when it does not exist). */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(path))
  }
}
