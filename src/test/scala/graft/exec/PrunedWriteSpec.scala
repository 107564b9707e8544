package graft.exec

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Partition-pruned write edge cases beyond the m40 happy-path gate:
  * the guards that route a merge BACK to the full rewrite (layout
  * mismatch, unsafe/null partition values, >256 touched partitions),
  * the carried-by-reference invariants (old commit intact, key-move
  * partitions rewritten), insert_overwrite's write-first apply, which
  * needs none of the merge's value guards, and the guard both share: a
  * stored leaf whose dir name is not its value's canonical name.
  */
class PrunedWriteSpec extends SparkSpec {

  import spark.implicits._

  private def mkWh() = new Warehouse(spark, tmpDir("pw_wh"))

  /** canWritePruned with every partition column read as an int, as
    * discovery reads the small integer dirs these tests write. */
  private def layoutOk(wh: Warehouse, name: String, partitionBy: Seq[String]) =
    wh.canWritePruned(name, partitionBy, partitionBy.map(_ => IntegerType))

  private def base = (1L to 300L).map(i => (i, i % 5, s"r$i"))
    .toDF("id", "p", "payload")

  test("writeTablePruned: carried partitions hard-link; old commit intact") {
    val wh = mkWh()
    wh.writeTable("t", base, partitionBy = Seq("p"))
    val newContent = base.filter(col("p") === 2)
      .withColumn("payload", lit("updated"))
    val (_, carried, linked) = wh.writeTablePruned("t", newContent,
      Seq("p"), Some(Set(Seq("2"))))
    assert(carried == 4 && linked > 0)
    // read-back: partition 2 replaced, others untouched
    val out = wh.read("t")
    assert(out.filter(col("p") === 2 && col("payload") =!= "updated").count() == 0)
    assert(out.filter(col("p") =!= 2).count() == 240)
    assert(out.count() == 300)
    // the previous version dir still reads standalone (vacuum fence /
    // in-flight reader guarantee)
    val v0 = spark.read.parquet(s"${wh.root}/t/v0")
    assert(v0.count() == 300)
  }

  test("two-level partitioning: tuples classify at leaf depth") {
    val wh = mkWh()
    val df = (1L to 240L).map(i => (i, i % 3, i % 4, s"r$i"))
      .toDF("id", "p", "q", "payload")
    wh.writeTable("t2", df, partitionBy = Seq("p", "q"))
    assert(layoutOk(wh, "t2", Seq("p", "q")))
    // touch exactly (p=1, q=2); the other 11 leaf partitions carry
    val touched = df.filter(col("p") === 1 && col("q") === 2)
      .withColumn("payload", lit("upd"))
    val (_, carried, linked) = wh.writeTablePruned("t2", touched,
      Seq("p", "q"), Some(Set(Seq("1", "2"))))
    assert(carried == 11 && linked > 0,
      s"expected 11 carried leaves, got $carried ($linked linked)")
    val out = wh.read("t2")
    assert(out.count() == 240)
    assert(out.filter(col("p") === 1 && col("q") === 2 &&
      col("payload") =!= "upd").count() == 0)
    assert(out.filter(col("payload") === "upd").count() == 20)
  }

  test("vacuum after a pruned write: old commit dir GC'd, links survive") {
    val wh = mkWh()
    wh.writeTable("t", base, partitionBy = Seq("p"))
    wh.writeTablePruned("t",
      base.filter(col("p") === 1).withColumn("payload", lit("v2")),
      Seq("p"), Some(Set(Seq("1"))))
    // immediate GC (retention fence 0): v0 is an orphan now
    assert(wh.vacuum("t", retainSeconds = 0L) == 1)
    assert(!new java.io.File(s"${wh.root}/t/v0").exists())
    // hard links share inodes — the carried partitions read intact
    val out = wh.read("t")
    assert(out.count() == 300)
    assert(out.filter(col("p") === 1 && col("payload") =!= "v2").count() == 0)
    assert(out.filter(col("p") =!= 1).count() == 240)
  }

  test("canWritePruned: false for unpartitioned layout and for views") {
    val wh = mkWh()
    wh.writeTable("flat", base) // no partitionBy -> data files at depth 0
    assert(!layoutOk(wh, "flat", Seq("p")))
    wh.createView("v", base)
    assert(!layoutOk(wh, "v", Seq("p")))
    wh.writeTable("part", base, partitionBy = Seq("p"))
    assert(layoutOk(wh, "part", Seq("p")))
    // depth mismatch: asking for two levels over a one-level layout
    assert(!layoutOk(wh, "part", Seq("p", "id")))
  }

  test("canWritePruned: false when stored dirs carry a DIFFERENT partition column") {
    val wh = mkWh()
    // stored as region=... but the new config says partition_by=[yr]:
    // linking region dirs under yr= names would silently corrupt — the
    // guard must reject on the dir NAME, not just nesting depth
    wh.writeTable("renamed", base.withColumnRenamed("p", "region"),
      partitionBy = Seq("region"))
    assert(!layoutOk(wh, "renamed", Seq("yr")))
    assert(layoutOk(wh, "renamed", Seq("region")))
  }

  test("canWritePruned: false when stored layout is DEEPER than partition_by") {
    val wh = mkWh()
    // stored [p, q]; new config [p]: the p= leaves hold q= subdirs, not
    // data files — a carried leaf would link zero files (silent loss)
    wh.writeTable("two", base.withColumn("q", col("id") % 2),
      partitionBy = Seq("p", "q"))
    assert(!layoutOk(wh, "two", Seq("p")))
    assert(layoutOk(wh, "two", Seq("p", "q")))
    // and stored [p] with new [q, p]: first-level name mismatch
    wh.writeTable("one", base, partitionBy = Seq("p"))
    assert(!layoutOk(wh, "one", Seq("q")))
  }

  test("merge falls back to full rewrite when partition values are unsafe") {
    val wh = mkWh()
    val eng = new graft.run.Engine(spark, graft.core.Manifest(Map.empty), wh.root)
    // partition values contain spaces -> hive-escaped dirs -> fallback;
    // correctness must be unaffected either way
    (1L to 100L).map(i => (i, s"grp ${i % 3}", i * 2))
      .toDF("id", "p", "v").createOrReplaceTempView("pw_src")
    val full = "SELECT id, p, v FROM pw_src"
    Materializer.incremental(eng.wh, "pw_unsafe", full, full, "merge",
      Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    Materializer.lastPrunedWrite.set(None)
    Materializer.incremental(eng.wh, "pw_unsafe", full,
      "SELECT id, p, v * 10 AS v FROM pw_src WHERE id <= 10", "merge",
      Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    assert(Materializer.lastPrunedWrite.get().isEmpty,
      "unsafe partition values must not take the pruned path")
    val out = eng.wh.read("pw_unsafe")
    assert(out.filter(col("id") <= 10 && col("v") =!= col("id") * 20).count() == 0)
    assert(out.count() == 100)
  }

  test("merge falls back when a partition value is null") {
    val wh = mkWh()
    val eng = new graft.run.Engine(spark, graft.core.Manifest(Map.empty), wh.root)
    (1L to 50L).map(i => (i, if (i % 7 == 0) None else Some(i % 3), i))
      .toDF("id", "p", "v").createOrReplaceTempView("pw_null_src")
    val full = "SELECT id, p, v FROM pw_null_src"
    Materializer.incremental(eng.wh, "pw_null", full, full, "merge",
      Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    Materializer.lastPrunedWrite.set(None)
    Materializer.incremental(eng.wh, "pw_null", full,
      "SELECT id, p, v + 1000 AS v FROM pw_null_src WHERE id % 7 = 0", "merge",
      Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    assert(Materializer.lastPrunedWrite.get().isEmpty,
      "null partition values must not take the pruned path")
    assert(eng.wh.read("pw_null").filter(col("v") >= 1000).count() == 7)
  }

  test("key-move: the key's OLD partition is rewritten, not carried") {
    val wh = mkWh()
    val eng = new graft.run.Engine(spark, graft.core.Manifest(Map.empty), wh.root)
    (1L to 100L).map(i => (i, i % 4, i)).toDF("id", "p", "v")
      .createOrReplaceTempView("pw_mv_src")
    val full = "SELECT id, p, v FROM pw_mv_src"
    Materializer.incremental(eng.wh, "pw_mv", full, full, "merge",
      Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    Materializer.lastPrunedWrite.set(None)
    // id=8 lives in p=0; the delta moves it to p=3
    Materializer.incremental(eng.wh, "pw_mv", full,
      "SELECT CAST(8 AS BIGINT) AS id, CAST(3 AS BIGINT) AS p, CAST(999 AS BIGINT) AS v",
      "merge", Seq("id"), "ignore", Seq("p"), fullRefresh = false)
    val Some((_, rewritten, carried, _)) = Materializer.lastPrunedWrite.get()
    assert(rewritten == 2 && carried == 2,
      s"touched must be {0,3}: rewritten=$rewritten carried=$carried")
    val out = eng.wh.read("pw_mv")
    assert(out.filter(col("id") === 8).select("p", "v").as[(Long, Long)]
      .collect().toSeq == Seq((3L, 999L)))
    assert(out.count() == 100)
  }

  // ---- insert_overwrite writes first: the leaf dirs the delta wrote
  // name the partitions it replaces; every other stored leaf carries

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  /** Store `target`, apply `delta` to it by insert_overwrite, and assert
    * the result equals plain Spark's answer: the stored rows outside the
    * delta's partitions (compared null-safely), plus the delta. Both
    * sides take the types the stored relation reads back with
    * (partition discovery reads a string '01' dir as int 1). Returns
    * the pruned-write stats the apply reported. */
  private def overwriteLikeSpark(wh: Warehouse, name: String, target: DataFrame,
      delta: DataFrame, partitionBy: Seq[String],
      onSchemaChange: String = "ignore"): Option[(String, Int, Int, Int)] = {
    wh.writeTable(name, target, partitionBy)
    val stored = wh.read(name)
    val deltaAsStored = delta.select(delta.columns.toSeq.map(c =>
      stored.schema.find(_.name == c).fold(col(c))(f => col(c).cast(f.dataType).as(c))): _*)
    val parts = deltaAsStored.select(partitionBy.map(c => col(c).as(s"d_$c")): _*).distinct()
    val expected = rowsOf(
      stored.join(parts, partitionBy.map(c => col(c) <=> col(s"d_$c")).reduce(_ && _),
        "left_anti").unionByName(deltaAsStored, allowMissingColumns = true),
      delta.columns.toSeq)
    Materializer.lastPrunedWrite.set(None)
    Materializer.incrementalApply(wh, name, delta, "insert_overwrite", Nil,
      onSchemaChange, partitionBy)
    assert(rowsOf(wh.read(name), delta.columns.toSeq) == expected)
    Materializer.lastPrunedWrite.get()
  }

  /** 60 rows over p in {0, 1, 2, null}; 12 of them in the null partition. */
  private def withNulls = (1L to 60L)
    .map(i => (i, if (i % 5 == 0) None else Some(i % 3), s"old$i"))
    .toDF("id", "p", "payload")

  test("insert_overwrite replaces the null partition") {
    val wh = mkWh()
    val delta = Seq((1000L, Option.empty[Long], "new"), (1001L, Some(1L), "new"))
      .toDF("id", "p", "payload")
    val stats = overwriteLikeSpark(wh, "iow_null", withNulls, delta, Seq("p"))
    assert(stats.map(s => (s._2, s._3)) == Some((2, 2)),
      s"expected {null, 1} rewritten and {0, 2} carried, got $stats")
    assert(wh.read("iow_null").filter(col("p").isNull).count() == 1)
  }

  test("insert_overwrite's full rewrite replaces the null partition too") {
    val wh = mkWh()
    // a new delta column under append_new_columns takes the full rewrite
    val delta = Seq((1000L, Option.empty[Long], "new", "x"))
      .toDF("id", "p", "payload", "extra")
    val stats = overwriteLikeSpark(wh, "iow_null_full", withNulls, delta, Seq("p"),
      onSchemaChange = "append_new_columns")
    assert(stats.isEmpty, "a schema change must take the full rewrite")
    assert(wh.read("iow_null_full").filter(col("p").isNull).count() == 1)
  }

  test("insert_overwrite of an empty delta carries every leaf") {
    val wh = mkWh()
    val stats = overwriteLikeSpark(wh, "iow_empty", base, base.limit(0), Seq("p"))
    val Some((_, rewritten, carried, linked)) = stats
    assert(rewritten == 0 && carried == 5 && linked > 0, s"got $stats")
  }

  test("insert_overwrite touching more than 256 partitions stays pruned") {
    val wh = mkWh()
    val target = (1L to 900L).map(i => (i, i % 300, s"old$i")).toDF("id", "p", "payload")
    val delta = (1L to 280L).map(i => (5000L + i, i, "new")).toDF("id", "p", "payload")
    val stats = overwriteLikeSpark(wh, "iow_wide", target, delta, Seq("p"))
    assert(stats.map(s => (s._2, s._3)) == Some((280, 20)), s"got $stats")
  }

  test("insert_overwrite over two partition levels replaces whole leaves") {
    val wh = mkWh()
    val target = (1L to 240L).map(i => (i, i % 3, i % 4, s"r$i"))
      .toDF("id", "p", "q", "payload")
    val delta = Seq((900L, 1L, 2L, "new"), (901L, 2L, 0L, "new"), (902L, 2L, 0L, "new"))
      .toDF("id", "p", "q", "payload")
    val stats = overwriteLikeSpark(wh, "iow_two", target, delta, Seq("p", "q"))
    assert(stats.map(s => (s._2, s._3)) == Some((2, 10)), s"got $stats")
  }

  test("insert_overwrite leaves the previous version dir readable standalone") {
    val wh = mkWh()
    val delta = base.filter(col("p") === 2).withColumn("payload", lit("v1"))
    assert(overwriteLikeSpark(wh, "iow_old", base, delta, Seq("p")).isDefined)
    val v0 = spark.read.parquet(s"${wh.root}/iow_old/v0")
    assert(rowsOf(v0, base.columns.toSeq) == rowsOf(base, base.columns.toSeq))
  }

  // ---- a stored leaf must bear its value's canonical dir name for dir
  // names to compare as values; one that does not takes the full rewrite

  /** 40 rows over the string partition p in {'01', '02'}. */
  private def zeroPadded = (1L to 40L).map(i => (i, f"${i % 2 + 1}%02d", s"old$i"))
    .toDF("id", "p", "payload")

  test("canWritePruned: false when a stored leaf's name is not its value's canonical name") {
    val wh = mkWh()
    wh.writeTable("padded", zeroPadded, partitionBy = Seq("p"))
    // discovery reads p=01 as int 1, which a write names p=1
    assert(wh.read("padded").schema("p").dataType == IntegerType)
    assert(!wh.canWritePruned("padded", Seq("p"), Seq(IntegerType)))
    assert(wh.canWritePruned("padded", Seq("p"), Seq(org.apache.spark.sql.types.StringType)))
  }

  test("insert_overwrite replaces a zero-padded string partition") {
    val wh = mkWh()
    val delta = Seq((1000L, "01", "new")).toDF("id", "p", "payload")
    val stats = overwriteLikeSpark(wh, "iow_padded", zeroPadded, delta, Seq("p"))
    assert(stats.isEmpty, "a non-canonical stored leaf must take the full rewrite")
    assert(wh.read("iow_padded").filter(col("p") === 1).count() == 1)
    // the full rewrite renamed the leaves p=1, p=2: the next apply is pruned
    val again = Seq((1001L, "02", "newer")).toDF("id", "p", "payload")
    Materializer.incrementalApply(wh, "iow_padded", again, "insert_overwrite", Nil,
      "ignore", Seq("p"))
    assert(Materializer.lastPrunedWrite.get().map(s => (s._2, s._3)) == Some((1, 1)))
    assert(rowsOf(wh.read("iow_padded"), Seq("id", "p", "payload")) ==
      Seq("1000|1|new", "1001|2|newer"))
  }

  test("insert_overwrite replaces a decimal partition stored with trailing zeros") {
    val wh = mkWh()
    // p=1.50 reads back as double 1.5, which a write names p=1.5
    val target = (1L to 40L).map(i => (i, if (i % 2 == 0) "1.50" else "2.25", s"old$i"))
      .toDF("id", "p", "payload").withColumn("p", col("p").cast("decimal(4,2)"))
    val delta = Seq((1000L, "1.50", "new")).toDF("id", "p", "payload")
      .withColumn("p", col("p").cast("decimal(4,2)"))
    val stats = overwriteLikeSpark(wh, "iow_decimal", target, delta, Seq("p"))
    assert(stats.isEmpty, "a non-canonical stored leaf must take the full rewrite")
    assert(wh.read("iow_decimal").filter(col("p") === 1.5).count() == 1)
  }

  test("pruned merge keeps the rows of a zero-padded string partition") {
    val wh = mkWh()
    wh.writeTable("mg_padded", zeroPadded, partitionBy = Seq("p"))
    val expected = rowsOf(wh.read("mg_padded"), Seq("id", "p", "payload")) :+ "1000|1|new"
    // a new key into partition '01', and an update of key 2 (partition '01')
    val delta = Seq((1000L, "01", "new"), (2L, "01", "upd")).toDF("id", "p", "payload")
    Materializer.incrementalApply(wh, "mg_padded", delta, "merge", Seq("id"), "ignore",
      Seq("p"))
    assert(rowsOf(wh.read("mg_padded"), Seq("id", "p", "payload")) ==
      expected.map(r => if (r == "2|1|old2") "2|1|upd" else r).sorted)
  }
}
