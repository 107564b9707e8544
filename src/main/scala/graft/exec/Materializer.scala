package graft.exec

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Materialization strategies — Scala strategy objects in place of the
  * reference's Jinja materialization macros (resolution chain
  * `core/dbt/contracts/graph/manifest.py:940-975`; behaviors pinned by
  * the reference's tests/functional/materializations suite).
  *
  * All strategies are driver-orchestrated but executor-executed: plans
  * stay lazy, and the data moves in these passes (Spark executions) per
  * node (100 TB discipline, SURVEY §7 risk 6):
  *   - view: none — a lazy temp view;
  *   - table, append, microbatch and snapshot: one write;
  *   - seed: a CSV schema-inference read, then one write;
  *   - merge and delete+insert: one write — merge's duplicate-key
  *     refusal rides on it. With partition_by they first run one
  *     touched-partition probe (`distinct().limit(257).collect()`),
  *     because the target filter needs that set before the write;
  *   - insert_overwrite: one write — the leaf dirs it writes name the
  *     partitions it replaces;
  *   - an enforced contract with not_null columns adds one count.
  */
object Materializer {

  final case class Result(
      uniqueId: String,
      status: String, // success | error | skipped | pass | warn | fail
      message: String = "",
      rowsAffected: Long = -1,
      elapsedSec: Double = 0.0,
      threadId: String = "main") // the scheduler worker that ran the node

  /** Injected clock (SURVEY §7 hard-part 2: snapshot determinism). */
  type Clock = () => java.sql.Timestamp

  def systemClock: Clock = () => new java.sql.Timestamp(System.currentTimeMillis())

  // ---------------------------------------------------------------- view

  def view(wh: Warehouse, name: String, sql: String): Unit =
    wh.createView(name, wh.spark.sql(sql))

  // --------------------------------------------------------------- table

  def table(wh: Warehouse, name: String, sql: String, partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, fileFormat: String = "parquet"): Long = {
    val df = wh.spark.sql(sql)
    wh.writeTable(name, df, partitionBy, clusterBy, fileFormat)
    -1L
  }

  // --------------------------------------------- materialized view (A6)

  /** Spark has no managed materialized views, so an MV is a table plus
    * a persisted definition fingerprint; every run refreshes the data.
    * When the definition drifts, `on_configuration_change` decides
    * (reference `OnConfigurationChangeOption`, `config.py:107-109`):
    * apply = recreate under the new definition, continue = keep the
    * stale MV untouched, fail = abort the run. Returns the action
    * taken ("create" | "refresh" | "apply" | "continue").
    */
  def materializedView(wh: Warehouse, name: String, sql: String,
      onConfigurationChange: String): String = {
    val defFile = java.nio.file.Paths.get(wh.root, s"$name.mvdef")
    val newDef = java.security.MessageDigest.getInstance("MD5")
      .digest(sql.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val oldDef =
      if (java.nio.file.Files.exists(defFile))
        Some(java.nio.file.Files.readString(defFile).trim)
      else None
    def write(): Unit = {
      table(wh, name, sql)
      java.nio.file.Files.createDirectories(defFile.getParent)
      java.nio.file.Files.writeString(defFile, newDef)
    }
    oldDef match {
      case None => write(); "create"
      case Some(d) if d == newDef => write(); "refresh"
      case Some(_) => onConfigurationChange match {
        case "apply" => write(); "apply"
        case "continue" =>
          // keep serving the stale definition; re-register if this
          // session hasn't seen the relation yet
          if (!wh.exists(name)) {
            val vdirs = new java.io.File(wh.root, name).listFiles()
            if (vdirs != null && vdirs.nonEmpty)
              wh.registerSource(name,
                wh.spark.read.parquet(vdirs.map(_.toString).sorted.last))
          }
          "continue"
        case "fail" => throw new IllegalStateException(
          s"materialized view $name: configuration changed and on_configuration_change=fail")
        case other => throw new IllegalArgumentException(
          s"unknown on_configuration_change: $other")
      }
    }
  }

  // --------------------------------------------------------- incremental

  /** Incremental materialization (reference strategies pinned by
    * `tests/functional/materializations/test_incremental.py:33-53`).
    * `renderedIncremental` is the model SQL rendered with
    * `is_incremental() == true`.
    */
  def incremental(
      wh: Warehouse,
      name: String,
      renderedFull: String,
      renderedIncremental: String,
      strategy: String,
      uniqueKey: Seq[String],
      onSchemaChange: String,
      partitionBy: Seq[String],
      fullRefresh: Boolean,
      /** `incremental_predicates` (dbt feature): SQL predicates that
        * bound which TARGET rows are merge-eligible — rows outside the
        * predicate are carried over untouched without being scanned
        * against the delta. At 100 TB this turns a full-table merge
        * into a recent-partition merge.
        */
      incrementalPredicates: Seq[String] = Nil,
      /** merge_update_columns / merge_exclude_columns (dbt merge
        * configs): bound which columns WHEN MATCHED updates; inserts
        * always carry full delta rows.
        */
      mergeUpdateColumns: Seq[String] = Nil,
      mergeExcludeColumns: Seq[String] = Nil): Unit = {

    if (!wh.exists(name) || fullRefresh) {
      wh.writeTable(name, wh.spark.sql(renderedFull), partitionBy)
      return
    }
    incrementalApply(wh, name, wh.spark.sql(renderedIncremental), strategy,
      uniqueKey, onSchemaChange, partitionBy, incrementalPredicates,
      mergeUpdateColumns, mergeExcludeColumns)
  }

  /** Apply an already-computed DELTA DataFrame to an existing relation
    * under the given incremental strategy — the strategy engine behind
    * [[incremental]] (SQL models pass `spark.sql(renderedIncremental)`)
    * and the python-model incremental path (the subprocess's returned
    * batch is the delta; reference python models support
    * table/incremental, `models.py` + adapter submit path).
    */
  def incrementalApply(
      wh: Warehouse,
      name: String,
      delta0: org.apache.spark.sql.DataFrame,
      strategy: String,
      uniqueKey: Seq[String],
      onSchemaChange: String,
      partitionBy: Seq[String],
      incrementalPredicates: Seq[String] = Nil,
      mergeUpdateColumns: Seq[String] = Nil,
      mergeExcludeColumns: Seq[String] = Nil): Unit = {
    val target = wh.read(name)
    // the raw delta's column set, before alignSchemas null-pads it —
    // merge vs delete+insert diverge on columns the delta doesn't carry
    val deltaCols = delta0.columns.toSet
    val (targetAligned, delta) =
      alignSchemas(wh, name, target, delta0, onSchemaChange)

    strategy match {
      case "append" =>
        if (targetAligned.schema == target.schema)
          wh.appendTable(name, conformTo(targetAligned.schema, delta))
        else
          // schema evolved: existing parquet commits carry the old
          // schema, so a cheap delta-append would be read back wrong —
          // rewrite once at the migration point
          wh.writeTable(name,
            targetAligned.unionByName(conformTo(targetAligned.schema, delta)),
            partitionBy)

      case "merge" | "delete+insert" | "default" =>
        // upsert on unique_key. With a FULL-row delta, merge and
        // delete+insert coincide (dbt's built-ins do exactly this).
        // With a PARTIAL-column delta they diverge the way warehouse
        // MERGE vs DELETE+INSERT do (the merge_update_columns shape):
        // merge updates only the columns the delta carries, keeping
        // target values for the rest; delete+insert replaces the whole
        // row, null-filling absent columns.
        require(uniqueKey.nonEmpty, s"$name: $strategy needs unique_key")
        val deltaKeys = delta.select(uniqueKey.map(col): _*).distinct()
        // Partition-pruned merge (the 100 TB write path): when
        // partition_by is set and the schema is unchanged, the only
        // target partitions a merge can alter are (a) the delta rows'
        // own partitions and (b) partitions holding rows that MATCH a
        // delta key (a key whose partition value changed). Restrict the
        // rewrite to exactly those; every other partition is carried by
        // reference at the directory level, so write volume is O(delta
        // partitions), not O(target). Falls back to the full rewrite
        // when partition values are not provably hive-dir-safe or the
        // stored layout doesn't conform.
        val prunedVals: Option[Set[Seq[String]]] =
          if (partitionBy.isEmpty || targetAligned.schema != target.schema ||
              !canWritePruned(wh, name, targetAligned, partitionBy)) None
          else prunedTouchedVals(
            delta.select(partitionBy.map(col): _*)
              .unionByName(targetAligned.join(deltaKeys, uniqueKey, "left_semi")
                .select(partitionBy.map(col): _*)))
        val baseTarget = prunedVals match {
          case Some(tv) => targetAligned.filter(partitionIn(partitionBy, tv))
          case None => targetAligned
        }
        val (eligible, carried) =
          if (incrementalPredicates.isEmpty) (baseTarget, None)
          else {
            val pred = incrementalPredicates.map(p => s"($p)").mkString(" AND ")
            (baseTarget.filter(expr(pred)),
              Some(baseTarget.filter(!expr(pred))))
          }
        // Warehouse-MERGE parity (reference adapters; Delta raises the
        // same way): two source rows matching ONE target row is a
        // nondeterministic update — refuse instead of picking a winner.
        // delete+insert legitimately accepts duplicate source rows
        // (delete by key, insert all). The check rides on the write: each
        // eligible row meets its key's delta row count, the write counts
        // the matched keys with more than one row, and a count above 0
        // refuses the write before its commit, so nothing becomes visible.
        // (Raising inside a task instead would fail the job while its
        // sibling tasks still write into the version dir.)
        val dupMatched = wh.spark.sparkContext.longAccumulator
        // the eligible rows no delta key matches
        val keep =
          if (strategy == "delete+insert") eligible.join(deltaKeys, uniqueKey, "left_anti")
          else {
            val n = "__graft_n"
            val unmatched = udf { (rows: java.lang.Long) =>
              if (rows != null && rows > 1) dupMatched.add(1)
              rows == null
            }.asNondeterministic()
            eligible.join(delta.groupBy(uniqueKey.map(col): _*)
                .agg(count(lit(1)).as(n)), uniqueKey, "left")
              .filter(unmatched(col(n)))
              .select(eligible.columns.toSeq.map(col): _*)
          }
        val updatable = (if (mergeUpdateColumns.nonEmpty)
          mergeUpdateColumns.toSet.intersect(deltaCols) else deltaCols) --
          mergeExcludeColumns -- uniqueKey
        val partialMerge = strategy != "delete+insert" &&
          targetAligned.columns.exists(c =>
            !updatable.contains(c) && !uniqueKey.contains(c))
        val merged =
          if (partialMerge) {
            val updated = eligible.as("t").join(delta.as("d"), uniqueKey, "inner")
              .select(targetAligned.columns.toSeq.map { c =>
                if (uniqueKey.contains(c)) col(c)
                else if (updatable.contains(c))
                  col(s"d.$c").cast(targetAligned.schema(c).dataType).as(c)
                else col(s"t.$c").as(c)
              }: _*)
            val inserts = conformTo(keep.schema,
              delta.join(eligible.select(uniqueKey.map(col): _*).distinct(),
                uniqueKey, "left_anti"))
            keep.unionByName(updated).unionByName(inserts)
          } else keep.unionByName(conformTo(keep.schema, delta))
        val toWrite = carried.map(c => merged.unionByName(c)).getOrElse(merged)
        writePossiblyPruned(wh, name, toWrite, partitionBy, prunedVals, check = () =>
          if (dupMatched.value > 0) throw new IllegalStateException(
            s"$name: merge found multiple source rows matching the same " +
              s"target row on unique_key (${uniqueKey.mkString(", ")}) — " +
              "deduplicate the model's output, or use delete+insert"))

      case "insert_overwrite" =>
        require(partitionBy.nonEmpty, s"$name: insert_overwrite needs partition_by")
        // replace exactly the partitions present in the delta
        if (targetAligned.schema == target.schema &&
            canWritePruned(wh, name, targetAligned, partitionBy)) {
          // write first, purely O(delta): the delta IS the new content of
          // its partitions, the leaf dirs it wrote name them (a null
          // value's dir included), and every other stored leaf carries
          // by reference — no probe query ahead of the write. Every
          // stored leaf bears its value's canonical name (checked by
          // canWritePruned), so dir names compare as values.
          val (rewritten, carriedParts, linked) = wh.writeTablePruned(name,
            conformTo(targetAligned.schema, delta), partitionBy)
          lastPrunedWrite.set(Some((name, rewritten, carriedParts, linked)))
        } else {
          // null-safe on the partition columns, so a null partition in
          // the delta replaces the stored null partition too
          val dp = partitionBy.map(c => s"__graft_p_$c")
          val keep = targetAligned.join(
            delta.select(partitionBy.zip(dp).map { case (c, d) => col(c).as(d) }: _*)
              .distinct(),
            partitionBy.zip(dp).map { case (c, d) => col(c) <=> col(d) }.reduce(_ && _),
            "left_anti")
          wh.writeTable(name,
            keep.unionByName(conformTo(keep.schema, delta)), partitionBy)
        }

      case s if s.startsWith("microbatch:") =>
        // event-time micro-batches (dbt 1.9 microbatch strategy shape):
        // the delta is bucketed by day of its event_time column and
        // replaces exactly those day-buckets — insert_overwrite keyed
        // on a derived calendar partition. Idempotent per batch window:
        // re-running a window replaces it, never duplicates it.
        val eventTime = s.stripPrefix("microbatch:")
        val bucket = "__graft_batch_day"
        val deltaB = delta.withColumn(bucket,
          date_trunc("day", col(eventTime)))
        val targetB = targetAligned.withColumn(bucket,
          date_trunc("day", col(eventTime)))
        val keep = targetB.join(
          deltaB.select(bucket).distinct(), Seq(bucket), "left_anti")
        wh.writeTable(name,
          keep.unionByName(conformTo(keep.schema, deltaB)).drop(bucket),
          partitionBy)

      case other =>
        throw new IllegalArgumentException(s"unknown incremental strategy: $other")
    }
  }

  // ---------------------------------------------- pruned-write helpers

  /** [[Warehouse.canWritePruned]] under the partition types `target`
    * (the relation as read) carries; false when it lacks a partition
    * column. */
  private def canWritePruned(wh: Warehouse, name: String, target: DataFrame,
      partitionBy: Seq[String]): Boolean = {
    val types = partitionBy.flatMap(c =>
      target.schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
    types.size == partitionBy.size && wh.canWritePruned(name, partitionBy, types)
  }

  /** Characters we allow in a partition-dir value: the conservative
    * subset hive never escapes, so `cast(col as string)` is exactly
    * the directory name Spark writes. Everything else (or a null)
    * disqualifies the pruned path.
    */
  private val HiveSafeValue = "^[A-Za-z0-9_.+-]+$".r

  /** Partition-value types whose string cast matches the hive dir
    * rendering bit-for-bit.
    */
  private def safePartitionType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }

  /** The distinct partition tuples of `parts` (a projection onto the
    * partition columns), string-rendered — or None when the pruned
    * path is unsafe: a null/unsafe value, an unsafe column type, or
    * more touched partitions than the OR-chain filter should carry
    * (at which point a full rewrite is no slower anyway).
    */
  private def prunedTouchedVals(parts: DataFrame): Option[Set[Seq[String]]] = {
    if (!parts.schema.forall(f => safePartitionType(f.dataType))) return None
    val rows = parts
      .select(parts.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)
      .distinct().limit(257).collect()
    if (rows.length > 256) None // OR-chain would dominate; full rewrite wins
    else {
      val tuples = rows.map(r =>
        (0 until r.length).map(i => Option(r.getString(i))))
      if (tuples.exists(_.exists(v =>
        v.isEmpty || HiveSafeValue.findFirstIn(v.get).isEmpty))) None
      else Some(tuples.map(_.map(_.get)).toSet)
    }
  }

  /** Membership filter for the touched partitions: an explicit
    * OR-of-ANDs over string-cast partition columns — exact (no
    * separator-encoding tricks), and bounded by the 256-tuple cap.
    */
  private def partitionIn(partitionBy: Seq[String],
      tv: Set[Seq[String]]): Column =
    tv.toSeq.map { tuple =>
      partitionBy.zip(tuple).map { case (c, v) =>
        col(c).cast("string") === lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Write through the pruned path when `prunedVals` is Some AND the
    * stored layout conforms; the caller must have built `df` to
    * contain ONLY the touched partitions' content in that case (so
    * there is no safe automatic fallback — conformance is pre-checked
    * via [[Warehouse.canWritePruned]] before plan construction).
    */
  private def writePossiblyPruned(wh: Warehouse, name: String, df: DataFrame,
      partitionBy: Seq[String], prunedVals: Option[Set[Seq[String]]],
      check: () => Unit): Unit =
    prunedVals match {
      case Some(tv) =>
        val (rewritten, carriedParts, linked) =
          wh.writeTablePruned(name, df, partitionBy, Some(tv), check)
        lastPrunedWrite.set(Some((name, rewritten, carriedParts, linked)))
      case None => wh.writeTable(name, df, partitionBy, check = check)
    }

  /** (name, partitionsRewritten, partitionsCarried, filesLinked) of the
    * most recent pruned write on this thread — observability hook for
    * the m40 write-volume gate.
    */
  val lastPrunedWrite = new ThreadLocal[Option[(String, Int, Int, Int)]] {
    override def initialValue(): Option[(String, Int, Int, Int)] = None
  }

  // ------------------------------------------------------------ contract

  /** Model contract enforcement (§1.2: `contract: {enforced: true}`):
    * declared column names/types must match the produced schema, and
    * not_null-constrained columns must contain no nulls. Spark has no
    * database constraints — not_null is a filter-count assertion
    * (SURVEY §1.2), run before the write so a violation aborts the
    * materialization.
    */
  def enforceContract(df: org.apache.spark.sql.DataFrame, name: String,
      columns: Seq[graft.core.ColumnInfo]): Unit = {
    val declared = columns.filter(_.dataType.isDefined)
    if (declared.isEmpty) return
    val actual = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val mismatches = declared.flatMap { c =>
      actual.get(c.name) match {
        case None => Some(s"${c.name}: missing (declared ${c.dataType.get})")
        case Some(t) if t != c.dataType.get.toLowerCase =>
          Some(s"${c.name}: declared ${c.dataType.get}, got $t")
        case _ => None
      }
    }
    val undeclared = df.columns.filterNot(cn => declared.exists(_.name == cn))
    if (mismatches.nonEmpty || undeclared.nonEmpty)
      throw new IllegalStateException(
        s"$name: contract violation — ${(mismatches ++ undeclared.map(c => s"$c: not in contract")).mkString("; ")}")
    val notNullCols = columns.filter(_.tests.exists(_.testName == "not_null")).map(_.name)
    if (notNullCols.nonEmpty) {
      val nullCount = df.filter(notNullCols.map(col(_).isNull).reduce(_ || _)).count()
      if (nullCount > 0)
        throw new IllegalStateException(
          s"$name: contract violation — $nullCount rows null in ${notNullCols.mkString(",")}")
    }
  }

  /** on_schema_change handling (reference default `ignore`,
    * `config.py:106`; behaviors in
    * `tests/functional/incremental_schema_tests/`).
    * Returns (possibly-migrated target, possibly-projected delta).
    */
  private def alignSchemas(
      wh: Warehouse, name: String,
      target: DataFrame, delta: DataFrame,
      onSchemaChange: String): (DataFrame, DataFrame) = {
    val tCols = target.columns.toSeq
    val dCols = delta.columns.toSeq
    val newCols = dCols.filterNot(tCols.contains)
    val missingCols = tCols.filterNot(dCols.contains)
    if (newCols.isEmpty && missingCols.isEmpty) (target, delta)
    else onSchemaChange match {
      case "ignore" =>
        // new delta columns dropped; columns absent in delta become null
        val projected = delta.select(tCols.map(c =>
          if (dCols.contains(c)) col(c)
          else lit(null).cast(target.schema(c).dataType).as(c)): _*)
        (target, projected)
      case "append_new_columns" =>
        val widenedTarget = newCols.foldLeft(target)((t, c) =>
          t.withColumn(c, lit(null).cast(delta.schema(c).dataType)))
        val projected = (tCols ++ newCols).map(c =>
          if (dCols.contains(c)) col(c)
          else lit(null).cast(target.schema(c).dataType).as(c))
        (widenedTarget, delta.select(projected: _*))
      case "sync_all_columns" =>
        // adds new, drops removed: final schema = delta's
        val synced = target.select(dCols.map(c =>
          if (tCols.contains(c)) col(c)
          else lit(null).cast(delta.schema(c).dataType).as(c)): _*)
        (synced, delta)
      case "fail" =>
        throw new IllegalStateException(
          s"$name: schema changed (new: $newCols, missing: $missingCols) and on_schema_change=fail")
      case other =>
        throw new IllegalArgumentException(s"unknown on_schema_change: $other")
    }
  }

  /** Project df to exactly `schema`'s columns (cast to target types). */
  private def conformTo(schema: StructType, df: DataFrame): DataFrame =
    df.select(schema.fields.toSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)): _*)

  // ------------------------------------------------------------ snapshot

  /** SCD Type-2 snapshot (reference semantics:
    * `core/dbt/artifacts/resources/v1/snapshot.py:11-60`, fixtures in
    * `tests/functional/simple_snapshot/`): metadata columns
    * dbt_scd_id / dbt_valid_from / dbt_valid_to / dbt_updated_at;
    * `timestamp` strategy compares updated_at, `check` compares
    * check_cols null-safely; hard deletes optionally close rows.
    */
  def snapshot(
      wh: Warehouse,
      name: String,
      sourceSql: String,
      uniqueKey: Seq[String],
      strategy: SnapshotStrategy,
      invalidateHardDeletes: Boolean,
      clock: Clock): Unit = {

    val spark = wh.spark
    val src = spark.sql(sourceSql)
    val now = lit(clock()).cast("timestamp")
    val keyExpr = concat_ws("|", uniqueKey.map(k => col(k).cast("string")): _*)

    // dbt_updated_at + row-identity hash input per strategy; custom
    // strategies supply updated_at and the scd_id expression directly
    // from their macro's returned dict (no appended key hash — the
    // macro owns identity, reference custom-strategy shape)
    val (updatedAtCol, changeHashCol) = strategy match {
      case ResolvedCustomStrategy(ua, _, _) =>
        (expr(ua).cast("timestamp"), lit(""))
      case c: CustomStrategy => throw new IllegalStateException(
        s"snapshot $name: custom strategy '${c.name}' reached the " +
          "materializer unresolved — the engine must evaluate " +
          s"snapshot_${c.name}_strategy first")
      case TimestampStrategy(ua) =>
        (col(ua).cast("timestamp"), col(ua).cast("string"))
      case CheckStrategy(colsOpt) =>
        val cs = colsOpt.getOrElse(src.columns.toSeq.filterNot(uniqueKey.contains))
        (now, concat_ws("|", cs.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    }

    val scdIdCol = strategy match {
      case ResolvedCustomStrategy(_, _, scd) => expr(scd)
      case _ => md5(concat_ws("|", keyExpr, changeHashCol))
    }
    val srcStamped = src
      .withColumn("dbt_updated_at", updatedAtCol)
      .withColumn("dbt_scd_id", scdIdCol)
      .withColumn("dbt_valid_from", updatedAtCol)
      .withColumn("dbt_valid_to", lit(null).cast("timestamp"))

    if (!wh.exists(name)) {
      wh.writeTable(name, srcStamped.withColumn(SnapPartCol, snapPartValue),
        partitionBy = Seq(SnapPartCol), hideCols = Seq(SnapPartCol))
      return
    }

    val snap0 = wh.read(name)
    // snapshot schema evolution (reference: snapshots add new columns
    // as they appear): widen the existing table with new source
    // columns, null-fill source-dropped columns — history rows keep
    // nulls for columns that didn't exist when they were captured.
    val metaCols = Seq("dbt_updated_at", "dbt_scd_id", "dbt_valid_from", "dbt_valid_to")
    val snapDataCols = snap0.columns.toSeq.filterNot(metaCols.contains)
    val newCols = src.columns.toSeq.filterNot(snapDataCols.contains)
    val droppedCols = snapDataCols.filterNot(src.columns.contains)
    val snap = newCols.foldLeft(snap0)((t, c) =>
      t.withColumn(c, lit(null).cast(src.schema(c).dataType)))
    val srcAligned = droppedCols.foldLeft(srcStamped)((d, c) =>
      d.withColumn(c, lit(null).cast(snap0.schema(c).dataType)))
    val dataCols = (snapDataCols ++ newCols).distinct

    // Pruned apply (the 100 TB write shape): the snapshot table is
    // hive-partitioned on the hidden SnapPartCol — 'open' for live rows,
    // 'closed_<valid_to date>' for history — so the merge SCANS only the
    // open partition (current rows) and REWRITES only the open partition
    // plus the close-date partitions this batch touches; all other
    // history carries by hard link (O(delta), the same machinery the m40
    // gate proves for incremental). Ineligible cases — schema evolution
    // (carried files would keep the old schema) or a legacy
    // unpartitioned layout — fall back to the full rewrite, which also
    // MIGRATES the table to the partitioned layout for the next apply.
    val prunedEligible = newCols.isEmpty && droppedCols.isEmpty &&
      wh.canWritePruned(name, Seq(SnapPartCol), Seq(StringType))
    val current =
      if (prunedEligible)
        wh.readRaw(name).filter(col(SnapPartCol) === "open").drop(SnapPartCol)
      else snap.filter(col("dbt_valid_to").isNull)

    // change detection joins current-to-source on the business key;
    // dbt_scd_id equality means "unchanged" (it hashes key + change set)
    val srcKeyed = srcAligned.select(
      (dataCols.map(col) ++ Seq(col("dbt_updated_at"), col("dbt_scd_id"),
        col("dbt_valid_from"), col("dbt_valid_to"))): _*)

    // explicit null-safe key join (USING would merge key columns and
    // lose t./s. qualification on outer rows)
    val keyCond = uniqueKey.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val joined = current.as("t").join(srcKeyed.as("s"), keyCond, "full_outer")
    val tScd = col("t.dbt_scd_id"); val sScd = col("s.dbt_scd_id")
    val inTarget = tScd.isNotNull
    val inSource = sScd.isNotNull
    val matched = inTarget && inSource

    val changed = matched &&
      (strategy match {
        case TimestampStrategy(_) =>
          !(tScd <=> sScd) && col("s.dbt_updated_at") > col("t.dbt_updated_at")
        case CheckStrategy(_) => !(tScd <=> sScd)
        // custom: the macro's row_changed predicate is AUTHORITATIVE
        // (reference strategy dict) — it sees the snapshotted row as
        // alias `t` and the incoming row as alias `s`
        case ResolvedCustomStrategy(_, rc, _) => expr(rc)
        case c: CustomStrategy => throw new IllegalStateException(
          s"unresolved custom strategy ${c.name}")
      })

    val outCols = dataCols ++ Seq("dbt_updated_at", "dbt_scd_id", "dbt_valid_from", "dbt_valid_to")

    val closeStamp = strategy match {
      case TimestampStrategy(_) => col("s.dbt_updated_at")
      case CheckStrategy(_) => now
      // custom: close at the superseding row's effective time (the
      // reference's timestamp-style behavior — valid_to = new valid_from)
      case _ => col("s.dbt_updated_at")
    }

    // SINGLE-PASS apply plan (the 100 TB shape, round 2): the change
    // classification used to be six union branches, each filtering the
    // SAME full-outer join — Spark re-executes the join per branch (a
    // filter breaks exchange reuse), so one apply paid the
    // current-vs-source join ~7x (WriteScaleBench r11: snapshot apply
    // 9.45x at 100x while the full initial build was 3x cheaper than
    // one apply). Each joined row instead emits its <=2 output rows
    // through one explode(array(...)):
    //  - every target row emits exactly one t-derived row — unchanged
    //    and stale-source rows keep dbt_valid_to as stored, changed
    //    rows close at the superseding stamp, hard deletes close at
    //    `now` when invalidating and stay open otherwise;
    //  - source rows that supersede (changed) or are brand-new keys
    //    emit one s-derived row, open.
    // The join now executes once in the write plan (plus once for the
    // touched-partition probe below).
    val deleted = inTarget && !inSource
    val tValidTo =
      when(changed, closeStamp)
        .when(deleted && lit(invalidateHardDeletes), now)
        .otherwise(col("t.dbt_valid_to"))
    def outStruct(prefix: String, overrides: Map[String, org.apache.spark.sql.Column]) =
      struct(outCols.map(c =>
        overrides.getOrElse(c, col(s"$prefix.$c")).as(c)): _*)
    val tRow = when(inTarget, outStruct("t", Map("dbt_valid_to" -> tValidTo)))
    val sRow = when(changed || (inSource && !inTarget), outStruct("s", Map.empty))
    val applied = joined
      .select(explode(array(tRow, sRow)).as("r"))
      .filter(col("r").isNotNull)
      .select(outCols.map(c => col(s"r.$c").as(c)): _*)

    if (prunedEligible) {
      // Closed partitions are APPEND-ONLY (a closed SCD2 row is
      // immutable — revive opens a NEW row), so the apply never needs
      // to know which close dates it touches: write the apply output
      // partitioned by dbt_part (new closed rows land in their
      // closed_<date> dirs, the open partition is rewritten in full)
      // and hard-link EVERY existing non-open leaf alongside —
      // writeTablePruned's carry loop links old files next to the
      // newly written ones under version-prefixed names. One join
      // execution total; write volume = open rows + this batch's
      // closed rows.
      wh.writeTablePruned(name, applied.withColumn(SnapPartCol, snapPartValue),
        Seq(SnapPartCol), rewriteVals = Some(Set(Seq("open"))))
      return
    }

    val history = snap.filter(col("dbt_valid_to").isNotNull)
    val result = history.select(outCols.map(col): _*).unionByName(applied)
    wh.writeTable(name, result.withColumn(SnapPartCol, snapPartValue),
      partitionBy = Seq(SnapPartCol), hideCols = Seq(SnapPartCol))
  }

  /** Hidden partition key of the snapshot physical layout: 'open' for
    * live rows (dbt_valid_to IS NULL), 'closed_<date>' otherwise — the
    * open/closed split that lets every SCD2 apply scan and rewrite the
    * open partition + touched close dates only (VERDICT r11 item 4).
    * Hidden via Warehouse hideCols, so consumers see the reference
    * snapshot schema exactly. */
  private val SnapPartCol = "dbt_part"

  private def snapPartValue: org.apache.spark.sql.Column =
    when(col("dbt_valid_to").isNull, lit("open"))
      .otherwise(concat(lit("closed_"),
        coalesce(date_format(col("dbt_valid_to"), "yyyy-MM-dd"), lit("unknown"))))

  // ---------------------------------------------------------------- seed

  /** CSV seed (reference `core/dbt/context/providers.py:957-981`:
    * agate inference + `column_types` overrides + custom delimiter).
    */
  def seed(wh: Warehouse, node: SeedNode, relName: String = ""): Long = {
    val spark = wh.spark
    val name = if (relName.isEmpty) node.name else relName
    val tmp = java.nio.file.Files.createTempFile(s"seed_${node.name}", ".csv")
    java.nio.file.Files.writeString(tmp, node.csv)
    try {
      var df = spark.read
        .option("header", "true")
        .option("delimiter", node.delimiter)
        .option("inferSchema", "true")
        .csv(tmp.toString)
      // quote_columns=false: unquoted identifiers case-fold (the
      // reference's warehouses lowercase them); true/unset keeps the
      // CSV header case verbatim
      if (node.quoteColumns.contains(false))
        df = df.toDF(df.columns.map(_.toLowerCase): _*)
      for ((c, t) <- node.columnTypes) df = df.withColumn(c, col(c).cast(t))
      wh.writeTable(name, df)
      -1L
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  // --------------------------------------------------------------- tests

  /** Wrap a failing-rows SELECT with the reference's evaluation
    * contract (1 row × 3 cols; `core/dbt/task/test.py:150-164`,
    * defaults `config.py:170-177`).
    */
  def testWrapSql(testSql: String, cfg: NodeConfig): String = {
    val where = cfg.where.map(w => s" WHERE $w").getOrElse("")
    val limit = cfg.limit.map(l => s" LIMIT $l").getOrElse("")
    s"""SELECT ${cfg.failCalc} AS failures,
       |       ${cfg.failCalc} ${cfg.warnIf} AS should_warn,
       |       ${cfg.failCalc} ${cfg.errorIf} AS should_error
       |FROM (SELECT * FROM ($testSql) dbt_internal_test$where$limit) dbt_internal_wrap""".stripMargin
  }

  /** Execute a data test; returns (status, failures). Status mapping
    * per reference `task/test.py:267-301`.
    */
  def runTest(wh: Warehouse, node: TestNode): (String, Long) = {
    val row = wh.spark.sql(testWrapSql(node.rawSql, node.config)).head()
    val failures = row.get(0) match {
      case n: Number => n.longValue()
      case other => if (other == null) 0L else 1L
    }
    val shouldWarn = row.getBoolean(1)
    val shouldError = row.getBoolean(2)
    // store_failures_as overrides store_failures (config.py:179-191):
    // "table" persists, "view" registers a lazy view over the test
    // query, "ephemeral" disables storage
    if (failures > 0) node.config.failureStorage match {
      case Some("view") =>
        wh.createView(s"dbt_test__audit__${node.name}",
          wh.spark.sql(node.rawSql))
      case Some(_) =>
        wh.writeTable(s"dbt_test__audit__${node.name}", wh.spark.sql(node.rawSql))
      case None => ()
    }
    val status =
      if (shouldError && node.config.severity.equalsIgnoreCase("error")) "fail"
      else if (shouldWarn || shouldError) "warn"
      else "pass"
    (status, failures)
  }

  /** Built-in generic test SQL (reference builtins; Spark mappings per
    * SURVEY §2 A9).
    */
  def genericTestSql(testName: String, relation: String, columnName: String,
      kwargs: Map[String, String]): String = testName match {
    case "unique" =>
      s"""SELECT $columnName AS unique_field, count(*) AS n_records
         |FROM $relation WHERE $columnName IS NOT NULL
         |GROUP BY $columnName HAVING count(*) > 1""".stripMargin
    case "not_null" =>
      s"SELECT * FROM $relation WHERE $columnName IS NULL"
    case "accepted_values" =>
      // yml lists arrive \u0001-joined (kwarg list encoding) and the
      // ITEMS may contain commas; comma-split only the legacy direct
      // form that never saw the encoder
      val raw = kwargs.getOrElse("values", "")
      val items = if (raw.indexOf('\u0001') >= 0) raw.split('\u0001')
        else raw.split(",")
      val vals = items.map(v => s"'${v.trim}'").mkString(", ")
      s"""SELECT $columnName AS value_field, count(*) AS n_records
         |FROM $relation GROUP BY $columnName
         |HAVING $columnName NOT IN ($vals)""".stripMargin
    case "relationships" =>
      val to = kwargs("to")
      val field = kwargs.getOrElse("field", "id")
      s"""SELECT child.$columnName AS from_field
         |FROM (SELECT $columnName FROM $relation WHERE $columnName IS NOT NULL) child
         |LEFT JOIN (SELECT $field AS to_field FROM $to) parent
         |  ON parent.to_field = child.$columnName
         |WHERE parent.to_field IS NULL""".stripMargin
    case other =>
      throw new IllegalArgumentException(s"unknown generic test: $other")
  }

  // ----------------------------------------------------------- unit test

  /** Row-level unit-test diff (reference `task/test.py:236-247`
    * UnitTestDiff: the daff table diff rendered into the failure
    * message plus the actual/expected rows as JSON in run_results).
    * `missing`/`extra` carry up to [[UnitTestDiff.MaxRows]] JSON rows
    * per side, deterministically ordered.
    */
  final case class UnitTestDiff(
      missing: Seq[String], extra: Seq[String],
      missingCount: Long, extraCount: Long) {
    /** The daff-style text block: `actual differs from expected`, one
      * `-` line per expected-but-absent row, one `+` line per
      * unexpected row (`_render_daff_diff`'s plain-text analog).
      */
    def rendered: String = {
      def clip(n: Long, rows: Seq[String]) =
        if (n > rows.size) Seq(s"  ... ${n - rows.size} more") else Nil
      (Seq(s"actual differs from expected: $missingCount expected row(s) missing, " +
        s"$extraCount unexpected row(s)") ++
        missing.map("- " + _) ++ clip(missingCount, missing) ++
        extra.map("+ " + _) ++ clip(extraCount, extra)).mkString("\n")
    }
  }
  object UnitTestDiff { val MaxRows = 20 }

  /** Unit test (reference `core/dbt/task/test.py:176-255`): build the
    * model's inputs from fixture rows, run the model SQL with refs
    * resolved to fixtures, symmetric-diff against expected rows.
    * Returns None on pass, or the row-level diff.
    */
  def runUnitTest(
      spark: SparkSession,
      modelSql: String, // already rendered with refs → fixture view names
      fixtures: Map[String, DataFrame],
      expect: DataFrame): Option[UnitTestDiff] = {
    fixtures.foreach { case (viewName, df) => df.createOrReplaceTempView(viewName) }
    val actual = spark.sql(modelSql)
    val act = actual.selectExpr(expect.columns.map(c => s"cast($c as string) as $c").toSeq: _*)
    val exp = expect.selectExpr(expect.columns.map(c => s"cast($c as string) as $c").toSeq: _*)
    val missingDf = exp.exceptAll(act).cache()
    val extraDf = act.exceptAll(exp).cache()
    try {
      val (missing, extra) = (missingDf.count(), extraDf.count())
      if (missing == 0 && extra == 0) None
      else {
        val ord = expect.columns.map(col).toSeq
        Some(UnitTestDiff(
          missingDf.orderBy(ord: _*).toJSON.take(UnitTestDiff.MaxRows).toSeq,
          extraDf.orderBy(ord: _*).toJSON.take(UnitTestDiff.MaxRows).toSeq,
          missing, extra))
      }
    } finally { missingDf.unpersist(); extraDf.unpersist(); () }
  }

  // ----------------------------------------------------------- freshness

  /** Source freshness (reference `core/dbt/task/freshness.py:107-163`,
    * thresholds `components.py:95-127`). Returns (status, ageSeconds).
    */
  def freshness(
      wh: Warehouse,
      relation: String,
      loadedAtField: String,
      warnAfterSec: Option[Long],
      errorAfterSec: Option[Long],
      clock: Clock,
      /** optional row filter applied before the max (reference
        * `loaded_at_query`/`filter`, `freshness.py:118-121`).
        */
      filter: Option[String] = None): (String, Double) = {
    val base = wh.spark.table(relation)
    val maxLoaded = filter.fold(base)(f => base.filter(expr(f)))
      .agg(max(col(loadedAtField).cast("timestamp"))).head().getTimestamp(0)
    // no rows (or all-null loaded_at) = never loaded → infinitely stale
    if (maxLoaded == null)
      return (if (errorAfterSec.isDefined || warnAfterSec.isEmpty) "error" else "warn",
        Double.PositiveInfinity)
    val age = (clock().getTime - maxLoaded.getTime) / 1000.0
    val status =
      if (errorAfterSec.exists(age > _)) "error"
      else if (warnAfterSec.exists(age > _)) "warn"
      else "pass"
    (status, age)
  }

  /** Metadata-based source freshness (reference
    * `task/freshness.py` metadata branch: a source with freshness
    * thresholds but NO `loaded_at_field` asks the warehouse for the
    * relation's last-modified metadata). The parquet-path analog is
    * the newest file modification time under the source path — no
    * data scan at all.
    */
  def freshnessFromMetadata(
      path: String,
      warnAfterSec: Option[Long],
      errorAfterSec: Option[Long],
      clock: Clock): (String, Double) = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    val latest: Option[Long] =
      if (!java.nio.file.Files.exists(p)) None
      else {
        val stream = java.nio.file.Files.walk(p)
        try {
          stream.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.getLastModifiedTime(_).toMillis)
            .maxOption
        } finally stream.close()
      }
    latest match {
      case None =>
        // Un-computable freshness metadata (missing/empty source path) is a
        // failure regardless of which thresholds are configured — the
        // reference raises when the warehouse returns no last-modified
        // metadata, and a silent 'warn' would mask a broken ingestion path.
        ("error", Double.PositiveInfinity)
      case Some(ms) =>
        val age = (clock().getTime - ms) / 1000.0
        val status =
          if (errorAfterSec.exists(age > _)) "error"
          else if (warnAfterSec.exists(age > _)) "warn"
          else "pass"
        (status, age)
    }
  }
}
