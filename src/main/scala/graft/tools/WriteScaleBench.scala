package graft.tools

import graft.Session
import graft.exec.Materializer

/** 100x gate for the framework WRITE path (VERDICT r10 item 4): the
  * m40 O(delta) pruned-write claim, proven in SECONDS at scale rather
  * than file counts. Two kernels, each measured at a base dir and a
  * scaled replica:
  *
  *  - incremental MERGE into a month-partitioned table: full build,
  *    then a delta touching ONE month (same fraction at both scales).
  *    The pruned write must (a) rewrite only the touched partition —
  *    carried partitions hard-link, `Materializer.lastPrunedWrite`
  *    stats in the output are the structural proof — and (b) cost a
  *    small fraction of the full rebuild (`apply_over_build`), because
  *    apply work is delta-scan + touched-partition rewrite, never a
  *    table rewrite.
  *  - snapshot SCD2 (timestamp strategy): initial snapshot, then a
  *    delta batch updating 1% of rows. Apply is one scan of the
  *    existing snapshot + the changed-row merge (no quadratic pair
  *    work); the gate is linearity (`apply` ratio <= data factor) and
  *    apply <= ~build (one pass each way).
  *
  * Usage: runMain graft.tools.WriteScaleBench <baseDir> <scaleDir> <outJson>
  * (SCALE_FACTOR env labels the data factor, default 100.)
  */
object WriteScaleBench {
  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaleDir = args(1)
    val outJson = args(2)
    val spark = Session.build(Session.dirBytes(scaleDir))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    def scratch(): String = {
      val d = java.nio.file.Files.createTempDirectory("wsb_wh")
      d.toFile.deleteOnExit()
      d.toString
    }

    /** One scale's merge measurement: build + one-month delta apply. */
    def mergeKernel(dir: String): (Double, Double, Int, Int, Int) = {
      graft.Tables.registerAll(spark, dir)
      val wh = new graft.exec.Warehouse(spark, scratch())
      val full =
        """SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM') AS mon,
          |       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
          |FROM orders""".stripMargin
      // the delta: one month's 10%-of-keys repricing — SAME month and
      // SAME fraction at every scale, so touched-partition volume
      // scales with the data and everything else must not
      val delta =
        """SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM') AS mon,
          |       CAST(ROUND(o_totalprice * 200, 0) AS BIGINT) AS cents
          |FROM orders
          |WHERE date_format(o_orderdate, 'yyyy-MM') = '1996-03'
          |  AND o_orderkey % 10 = 0""".stripMargin
      val buildSec = timed(Materializer.incremental(wh, "wsb_inc", full, full,
        "merge", Seq("o_orderkey"), "ignore", Seq("mon"), fullRefresh = false))
      Materializer.lastPrunedWrite.set(None)
      val applySec = timed(Materializer.incremental(wh, "wsb_inc", full, delta,
        "merge", Seq("o_orderkey"), "ignore", Seq("mon"), fullRefresh = false))
      val (_, rewritten, carried, linked) = Materializer.lastPrunedWrite.get()
        .getOrElse(sys.error("merge did not take the pruned write path"))
      (buildSec, applySec, rewritten, carried, linked)
    }

    /** One scale's snapshot measurement: initial SCD2 + 1%-update batch. */
    def snapshotKernel(dir: String): (Double, Double, Long, Long) = {
      graft.Tables.registerAll(spark, dir)
      val wh = new graft.exec.Warehouse(spark, scratch())
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
      spark.sql(
        """SELECT o_orderkey,
          |       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
          |       CAST('2025-12-01 00:00:00' AS TIMESTAMP) AS updated_at
          |FROM orders""".stripMargin).createOrReplaceTempView("wsb_snap_src_v0")
      spark.sql(
        """SELECT o_orderkey,
          |       CAST(ROUND(o_totalprice * CASE WHEN o_orderkey % 100 = 0
          |            THEN 200 ELSE 100 END, 0) AS BIGINT) AS cents,
          |       CAST(CASE WHEN o_orderkey % 100 = 0
          |            THEN '2026-01-01 12:00:00'
          |            ELSE '2025-12-01 00:00:00' END AS TIMESTAMP) AS updated_at
          |FROM orders""".stripMargin).createOrReplaceTempView("wsb_snap_src_v1")
      val strat = graft.core.TimestampStrategy("updated_at")
      val buildSec = timed(Materializer.snapshot(wh, "wsb_snap",
        "SELECT * FROM wsb_snap_src_v0", Seq("o_orderkey"), strat,
        invalidateHardDeletes = false, clock = () => t0))
      val applySec = timed(Materializer.snapshot(wh, "wsb_snap",
        "SELECT * FROM wsb_snap_src_v1", Seq("o_orderkey"), strat,
        invalidateHardDeletes = false, clock = () => t1))
      val snap = wh.read("wsb_snap")
      val total = snap.count()
      val open = snap.filter("dbt_valid_to IS NULL").count()
      (buildSec, applySec, total, open)
    }

    System.err.println(s"[writescale] merge @ $baseDir")
    val (mbB, maB, rwB, caB, lnB) = mergeKernel(baseDir)
    System.err.println(f"[writescale] merge base: build=$mbB%.2f apply=$maB%.2f rw=$rwB ca=$caB")
    System.err.println(s"[writescale] merge @ $scaleDir")
    val (mbS, maS, rwS, caS, lnS) = mergeKernel(scaleDir)
    System.err.println(f"[writescale] merge scale: build=$mbS%.2f apply=$maS%.2f rw=$rwS ca=$caS")
    System.err.println(s"[writescale] snapshot @ $baseDir")
    val (sbB, saB, totB, openB) = snapshotKernel(baseDir)
    System.err.println(f"[writescale] snap base: build=$sbB%.2f apply=$saB%.2f rows=$totB open=$openB")
    System.err.println(s"[writescale] snapshot @ $scaleDir")
    val (sbS, saS, totS, openS) = snapshotKernel(scaleDir)
    System.err.println(f"[writescale] snap scale: build=$sbS%.2f apply=$saS%.2f rows=$totS open=$openS")

    val factor = sys.env.getOrElse("SCALE_FACTOR", "100")
    val json =
      f"""{"base":"$baseDir","scale":"$scaleDir","data_factor":$factor,
         |"m_write_merge":{
         |  "build_sec_base":$mbB%.3f,"apply_sec_base":$maB%.3f,
         |  "build_sec_scale":$mbS%.3f,"apply_sec_scale":$maS%.3f,
         |  "apply_ratio":${maS / math.max(maB, 1e-9)}%.2f,
         |  "apply_over_build_base":${maB / math.max(mbB, 1e-9)}%.3f,
         |  "apply_over_build_scale":${maS / math.max(mbS, 1e-9)}%.3f,
         |  "partitions_rewritten_base":$rwB,"partitions_carried_base":$caB,"files_linked_base":$lnB,
         |  "partitions_rewritten_scale":$rwS,"partitions_carried_scale":$caS,"files_linked_scale":$lnS},
         |"m_write_snapshot":{
         |  "build_sec_base":$sbB%.3f,"apply_sec_base":$saB%.3f,
         |  "build_sec_scale":$sbS%.3f,"apply_sec_scale":$saS%.3f,
         |  "apply_ratio":${saS / math.max(saB, 1e-9)}%.2f,
         |  "apply_over_build_base":${saB / math.max(sbB, 1e-9)}%.3f,
         |  "apply_over_build_scale":${saS / math.max(sbS, 1e-9)}%.3f,
         |  "rows_scale":$totS,"open_rows_scale":$openS},
         |"note":"merge: month-partitioned pruned MERGE, delta = one month x 10%% keys (same fraction both scales); structural proof = partitions_rewritten stays 1 while carried partitions hard-link. snapshot: SCD2 timestamp, delta = 1%% of keys updated; apply is one snapshot scan + changed-row merge."}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
