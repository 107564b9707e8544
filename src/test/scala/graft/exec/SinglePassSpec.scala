package graft.exec

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Checks that ride on a write instead of running ahead of it: the
  * merge's duplicate-key refusal trips inside the write's execution and
  * leaves the relation as it was, and an INSERT statement evaluates its
  * SELECT once.
  */
class SinglePassSpec extends SparkSpec {

  import spark.implicits._

  /** 40 rows over p in {0, 1, 2, 3}. */
  private def target = (1L to 40L).map(i => (i, i % 4, i)).toDF("id", "p", "v")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select("id", "p", "v").collect().map(_.mkString("|")).toSeq.sorted

  /** The `v<N>` dirs on disk under the relation. */
  private def versionDirs(wh: Warehouse, name: String): Set[String] =
    Option(new java.io.File(wh.root, name).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet

  private def applyDelta(wh: Warehouse, name: String, delta: DataFrame, strategy: String,
      partitioned: Boolean, predicates: Seq[String]): Unit =
    Materializer.incrementalApply(wh, name, delta, strategy, Seq("id"), "ignore",
      if (partitioned) Seq("p") else Nil, predicates)

  private val variants = for {
    partitioned <- Seq(false, true)
    predicates <- Seq(Nil, Seq("id <= 20"))
  } yield (partitioned, predicates)

  for ((partitioned, predicates) <- variants) {
    val label = (if (partitioned) "pruned merge" else "merge") +
      (if (predicates.isEmpty) "" else " with incremental_predicates")

    test(s"$label refuses a duplicated matched key and leaves the relation as it was") {
      val wh = new Warehouse(spark, tmpDir("sp_wh"))
      val name = "dup_t"
      wh.writeTable(name, target, if (partitioned) Seq("p") else Nil)
      val before = rowsOf(wh.read(name))
      val dirsBefore = versionDirs(wh, name)
      // key 5 is in the target (and inside the predicate); 3 is a plain update
      val delta = Seq((5L, 1L, 500L), (5L, 1L, 501L), (3L, 3L, 300L)).toDF("id", "p", "v")
      if (partitioned) Materializer.lastPrunedWrite.set(None)
      val e = intercept[IllegalStateException](
        applyDelta(wh, name, delta, "merge", partitioned, predicates))
      assert(e.getMessage == "dup_t: merge found multiple source rows matching the " +
        "same target row on unique_key (id) — deduplicate the model's output, " +
        "or use delete+insert")
      if (partitioned) assert(Materializer.lastPrunedWrite.get().isEmpty)
      assert(rowsOf(wh.read(name)) == before)
      assert(rowsOf(spark.table(name)) == before)
      assert(rowsOf(new Warehouse(spark, wh.root).read(name)) == before)
      assert(versionDirs(wh, name) == dirsBefore,
        "the refused write must leave no uncommitted version dir")
    }

    test(s"$label inserts duplicated keys that match no target row") {
      val wh = new Warehouse(spark, tmpDir("sp_wh"))
      val name = "dup_new"
      wh.writeTable(name, target, if (partitioned) Seq("p") else Nil)
      val delta = Seq((3L, 3L, 300L), (200L, 0L, 1L), (200L, 0L, 2L)).toDF("id", "p", "v")
      applyDelta(wh, name, delta, "merge", partitioned, predicates)
      val out = wh.read(name)
      assert(out.count() == 42)
      assert(rowsOf(out.filter(col("id").isin(3L, 200L))) ==
        Seq("200|0|1", "200|0|2", "3|3|300"))
    }
  }

  test("delete+insert accepts a duplicated matched key") {
    for (partitioned <- Seq(false, true)) {
      val wh = new Warehouse(spark, tmpDir("sp_wh"))
      wh.writeTable("di", target, if (partitioned) Seq("p") else Nil)
      val delta = Seq((5L, 1L, 500L), (5L, 1L, 501L)).toDF("id", "p", "v")
      applyDelta(wh, "di", delta, "delete+insert", partitioned, Nil)
      val out = wh.read("di")
      assert(out.count() == 41)
      assert(rowsOf(out.filter(col("id") === 5L)) == Seq("5|1|500", "5|1|501"))
    }
  }

  for (fmt <- Seq("parquet", "orc"))
    test(s"executeSql INSERT ($fmt) evaluates its SELECT once and counts rows from " +
        "footers") {
      val wh = new Warehouse(spark, tmpDir("sp_wh"))
      wh.writeTable("ins", spark.range(3).toDF("id"), fileFormat = fmt)
      // executions whose plan carries the SELECT's marker literal;
      // listener events arrive in order, so once the end marker's
      // execution is seen every execution of the statement has been
      val selects = new java.util.concurrent.atomic.AtomicInteger
      val ended = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
          val plan = qe.analyzed.toString
          if (plan.contains("ins_end_marker")) ended.countDown()
          else if (plan.contains("ins_select_marker")) selects.incrementAndGet()
        }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val n =
        try {
          val n = wh.executeSql("INSERT INTO ins SELECT id FROM range(10, 15) " +
            "WHERE 'ins_select_marker' IS NOT NULL")
          Seq(1).toDF("ins_end_marker").collect()
          assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
            "listener never saw the end marker")
          n
        } finally spark.listenerManager.unregister(listener)
      assert(n == 5)
      assert(selects.get == 1, s"the SELECT ran ${selects.get} times")
      assert(wh.formatOf("ins") == fmt && wh.read("ins").count() == 8)
    }
}
