package graft.exec

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Spark-backed warehouse: the role the external database plays for the
  * reference (its `adapter`), played here by versioned parquet
  * directories + session temp views.
  *
  * Write protocol (SURVEY §7 hard-part 1 — crash-consistent without a
  * transaction log dependency):
  *   - every write lands in a fresh `"$root/$name/v$N"` directory;
  *   - the relation's visible state is a list of directories (replace →
  *     one dir; append → previous list + new dir, a mini commit log);
  *   - registration happens only after the parquet commit succeeds, so
  *     readers never observe partial data;
  *   - at cluster scale the same layout works on object storage
  *     (directory commit = parquet `_SUCCESS`), and `append` avoids
  *     rewriting history — O(delta), not O(table).
  *
  * Relations are exposed to SQL as temp views named `name` so rendered
  * model SQL can reference them like warehouse tables.
  *
  * Each stored relation's `$root/$name/_commits` manifest holds optional
  * header lines, then its live version dir names (`v<N>`), oldest
  * first:
  *   - `format=<fmt>`: storage format; absent = parquet;
  *   - `hide=<c1,c2>`: engine-internal physical columns dropped at every
  *     read boundary (the snapshot layout's `dbt_part`);
  *   - `schema=<json>`: the data schema Spark reads from the files (the
  *     written DataFrame's schema minus partition columns, as Spark's
  *     StructType JSON). Every read passes it to `.schema(...)`, so no
  *     read runs Spark's footer-inference job; partition columns still
  *     come from partition discovery. A manifest without the line
  *     (older writer) reads through inference and gains the line at its
  *     next replace; an append keeps the oldest commit's schema.
  * [[Warehouse.writeCommitsFile]] and [[Warehouse.readCommitsFile]] are
  * the one writer and the one parser of this format.
  */
final class Warehouse(val spark: SparkSession, val root: String,
    /** Auto-compaction threshold: when an append pushes a relation's
      * commit log past this many directories, it is rewritten into one
      * (the background-OPTIMIZE policy small-file mitigation needs at
      * scale). 0 disables — appends stay O(delta) forever and
      * compaction is manual via [[compact]].
      */
    val maxCommits: Int = 0) {

  private final case class RelState(paths: Seq[String], nextVersion: Int,
      isView: Boolean, isCatalog: Boolean = false, fmt: String = "parquet",
      /** Engine-internal physical columns (e.g. the snapshot layout's
        * `dbt_part` partition key) dropped at every read boundary —
        * consumers see exactly the logical schema. Recorded in the
        * `_commits` header so recovery hides them too. */
      hide: Seq[String] = Nil,
      /** Data schema of the stored files (partition columns excluded);
        * None = unknown, reads infer it from the footers. */
      schema: Option[StructType] = None)

  /** Formats a table materialization may use (dbt-spark `file_format`):
    * the self-describing columnar pair only — csv/json would lose
    * schema fidelity on read-back.
    */
  private val SupportedFormats = Set("parquet", "orc")

  private def checkFormat(fmt: String): String = {
    require(SupportedFormats(fmt),
      s"unsupported file_format '$fmt' (supported: ${SupportedFormats.toSeq.sorted.mkString(", ")})")
    fmt
  }

  private val relations = scala.collection.mutable.Map[String, RelState]()
  private val lock = new Object

  // ---- durability: recover parquet-backed relations from disk.
  // Each table write records its current commit list in
  // `$root/$name/_commits`; a NEW Warehouse over an existing root
  // replays those manifests, so a separate process (retry, defer,
  // state:modified against a prior run's warehouse) sees the same
  // relations. Views and catalog tables are session-scoped and do not
  // recover. The _commits file is the tiny "table metadata" analog of
  // a real lakehouse log — written AFTER the parquet commit, so a
  // crash between the two leaves the previous (consistent) state.
  locally {
    val rootDir = new java.io.File(root)
    val dirs = Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    for (d <- dirs; c <- Warehouse.readCommitsFile(root, d.getName)) {
      val live = c.versions
        .map(v => s"$root/${d.getName}/$v")
        .filter(p => new java.io.File(p).isDirectory)
      if (live.nonEmpty) {
        val nextV = live.map(_.split('/').last.stripPrefix("v").toInt).max + 1
        val st = RelState(live, nextV, isView = false, fmt = c.fmt, hide = c.hide,
          schema = c.schema.map(DataType.fromJson(_).asInstanceOf[StructType]))
        relations(d.getName) = st
        registerRead(d.getName, st)
      }
    }
  }

  /** Install `st` as the relation's state, register its temp view and
    * persist its manifest. */
  private def commit(name: String, st: RelState): Unit = lock.synchronized {
    relations(name) = st
    registerRead(name, st)
    Warehouse.writeCommitsFile(root, name, st.paths, st.fmt, st.hide,
      st.schema.map(_.json))
  }

  /** The one loader of stored files: the recorded data schema when
    * known, else Spark's inference; partition columns from discovery. */
  private def load(st: RelState, paths: Seq[String]): DataFrame = {
    val reader = spark.read.format(st.fmt)
    st.schema.fold(reader)(reader.schema).load(paths: _*)
  }

  /** What a write records as the data schema: Spark writes the
    * DataFrame's columns minus the partition columns into the files. */
  private def dataSchema(df: DataFrame, partitionBy: Seq[String]): StructType =
    StructType(df.schema.filterNot(f => partitionBy.exists(_.equalsIgnoreCase(f.name))))

  /** The stored relation as consumers see it: hidden columns dropped. */
  private def visible(st: RelState): DataFrame = {
    val df = load(st, st.paths)
    if (st.hide.isEmpty) df else df.drop(st.hide: _*)
  }

  /** (Re-)register the relation's temp view. */
  private def registerRead(name: String, st: RelState): Unit =
    visible(st).createOrReplaceTempView(name)

  def exists(name: String): Boolean = lock.synchronized(relations.contains(name))

  /** Physical handle for out-of-process consumers — the Python-model
    * subprocess reads upstream relations FILE-DIRECT from their current
    * version paths, so no table data crosses a process boundary through
    * either driver: (format, paths, hidden physical columns to drop).
    * None for views/catalog tables (session-scoped, no files — callers
    * materialize those to a scratch dir first). */
  def physical(name: String): Option[(String, Seq[String], Seq[String])] =
    lock.synchronized(relations.get(name).collect {
      case st if !st.isView && !st.isCatalog => (st.fmt, st.paths, st.hide)
    })

  def isView(name: String): Boolean =
    lock.synchronized(relations.get(name).exists(_.isView))

  def read(name: String): DataFrame = {
    val st = lock.synchronized(relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name")))
    if (st.isView || st.isCatalog) spark.table(name) else visible(st)
  }

  /** Read INCLUDING hidden physical columns (the snapshot merge prunes
    * on its `dbt_part` partition key before dropping it). */
  private[exec] def readRaw(name: String): DataFrame = {
    val st = lock.synchronized(relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name")))
    if (st.isView || st.isCatalog) spark.table(name)
    else load(st, st.paths)
  }

  /** Replace the relation's content atomically (new version dir).
    * `clusterBy` range-clusters the files on the given columns
    * (repartitionByRange + sortWithinPartitions): each parquet file
    * then covers a disjoint value range, so footer min/max stats prune
    * scans filtering on those columns — the Delta/Iceberg
    * `OPTIMIZE ... SORT BY` analog, and the cheap half of the 100 TB
    * layout story (bucketing co-locates joins; clustering prunes
    * scans). Returns the commit dir it wrote.
    */
  def writeTable(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, fileFormat: String = "parquet",
      hideCols: Seq[String] = Nil,
      /** Runs once the data is written, before the commit; a throw
        * refuses the write (see [[uncommittedOnError]]). */
      check: () => Unit = () => ()): String = {
    val fmt = checkFormat(fileFormat)
    val v = lock.synchronized(relations.get(name).map(_.nextVersion).getOrElse(0))
    val path = s"$root/$name/v$v"
    val clustered =
      if (clusterBy.nonEmpty) {
        val cols = clusterBy.map(org.apache.spark.sql.functions.col)
        df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      } else df
    val writer = clustered.write.mode(SaveMode.Overwrite).format(fmt)
    uncommittedOnError(path) {
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .save(path)
      check()
    }
    commit(name, RelState(Seq(path), v + 1, isView = false, fmt = fmt,
      hide = hideCols, schema = Some(dataSchema(df, partitionBy))))
    path
  }

  /** Run the data half of a write into the fresh version dir `path`.
    * When it throws (a failed task, or a write's check such as the
    * merge's duplicate-key refusal) the dir is deleted: nothing names
    * it, so it would only hold scratch until a vacuum. */
  private def uncommittedOnError[T](path: String)(body: => T): T =
    try body
    catch {
      case e: Throwable =>
        Warehouse.deleteTree(new java.io.File(path))
        throw e
    }

  /** True when [[writeTablePruned]] can run for this relation: it is a
    * stored table whose every commit dir nests exactly
    * `partitionBy.size` levels of `col=val` dirs before data files, and
    * every leaf's dir value is the name a write of its value gives it.
    * `types` are the partition columns' types as the relation reads
    * (partition discovery infers them from the dir names). A dir
    * written from a string '01' reads back as int 1, which a write
    * names `1`: such a leaf would not compare equal to the dir of the
    * value that replaces it, so the relation takes the full rewrite
    * (which renames it). Callers decide the pruned-vs-full plan on this
    * BEFORE building either DataFrame.
    */
  def canWritePruned(name: String, partitionBy: Seq[String],
      types: Seq[DataType]): Boolean = {
    require(types.size == partitionBy.size, "one type per partition column")
    partitionBy.nonEmpty && lock.synchronized(relations.get(name)).exists { st =>
      !st.isView && !st.isCatalog && st.paths.nonEmpty &&
        (try {
          st.paths.forall(p => partitionLeaves(name, new java.io.File(p), partitionBy)
            .forall(_._1.zip(types).forall { case (dir, t) => canonicalDir(dir, t) }))
        } catch { case _: Warehouse.PrunedWriteUnsupported => false })
    }
  }

  /** Whether `dir` (a stored partition dir value, hive-escaped) is the
    * name Spark's writer gives the value it reads back as under `t`:
    * the writer casts the value to string in the session time zone and
    * escapes it, and writes a null as the default partition name. */
  private def canonicalDir(dir: String, t: DataType): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    dir == ExternalCatalogUtils.DEFAULT_PARTITION_NAME || {
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val value = ExternalCatalogUtils.unescapePathName(dir)
      scala.util.Try(Cast(Cast(Literal(value), t, tz), StringType, tz).eval())
        .toOption.exists(r => r != null &&
          ExternalCatalogUtils.escapePathName(r.toString) == dir)
    }
  }

  /** `(partition values, leaf dir)` pairs under one commit dir. */
  private def partitionLeaves(name: String, src: java.io.File,
      partitionBy: Seq[String]): Seq[(Seq[String], java.io.File)] = {
    def walk(dir: java.io.File, values: Seq[String]): Seq[(Seq[String], java.io.File)] = {
      val children = Option(dir.listFiles()).getOrElse(Array.empty)
      val dataFiles = children.filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      if (values.size == partitionBy.size) {
        // Leaf must hold the partition's data directly: a `col=` subdir
        // means the stored layout has MORE partition levels than the
        // current partition_by (config changed), and zero data files
        // means a carried leaf would link nothing — both silently
        // corrupt the pruned write, so reject and force the full path.
        if (children.exists(f => f.isDirectory && f.getName.contains("=")))
          throw new Warehouse.PrunedWriteUnsupported(
            s"$name: partition dirs below expected depth in ${dir.getPath}")
        if (dataFiles.isEmpty)
          throw new Warehouse.PrunedWriteUnsupported(
            s"$name: no data files in partition leaf ${dir.getPath}")
        Seq((values, dir))
      } else {
        if (dataFiles.nonEmpty)
          throw new Warehouse.PrunedWriteUnsupported(
            s"$name: data files above partition depth in ${dir.getPath}")
        // Every level's dir name must be `<expected col>=`: a stored
        // layout partitioned by different columns (or in a different
        // order) would otherwise be re-linked under wrongly-named dirs.
        val expect = partitionBy(values.size) + "="
        val subdirs = children.toSeq.filter(f => f.isDirectory &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        subdirs.find(d => !d.getName.startsWith(expect)).foreach { d =>
          throw new Warehouse.PrunedWriteUnsupported(
            s"$name: expected $expect* dirs, found ${d.getName} in ${dir.getPath}")
        }
        subdirs.flatMap(c => walk(c,
          values :+ c.getName.substring(c.getName.indexOf('=') + 1)))
      }
    }
    walk(src, Nil)
  }

  /** Partition-pruned replace: write ONLY the touched partitions' new
    * content into the fresh version dir and carry every other partition
    * of the previous snapshot BY REFERENCE — hard links to the prior
    * commit dirs' data files (the server-side-copy / metadata-only
    * operation on object storage), so write volume is O(touched
    * partitions), never O(table). Old version dirs stay byte-intact
    * (links share storage), preserving the in-flight-reader and
    * vacuum-fence guarantees of the versioned layout.
    *
    * Throws [[Warehouse.PrunedWriteUnsupported]] BEFORE writing anything
    * if a prior commit dir does not conform to the expected partition
    * layout (e.g. the table was previously written unpartitioned) —
    * callers check [[canWritePruned]] first and take the full rewrite.
    *
    * Returns (partitionsRewritten, partitionsCarried, filesLinked) for
    * write-volume gates.
    */
  def writeTablePruned(name: String, touched: DataFrame,
      partitionBy: Seq[String],
      /** Partition tuples (hive dir values, `partitionBy` order) the
        * DataFrame REWRITES in full; every other stored leaf is carried
        * by hard link. A carried leaf whose value the df also writes is
        * legal and means APPEND: the old files are linked
        * (version-prefixed names) next to the newly written ones — the
        * snapshot path appends new closed rows to immutable
        * closed_<date> partitions this way. The caller guarantees
        * `touched` holds the full new content of these partitions.
        *
        * None = the partitions this write produces: the leaf dirs are
        * read back after the write, so `touched` needs no probe and
        * any value (a null's `__HIVE_DEFAULT_PARTITION__` too) compares
        * dir name to dir name — the insert_overwrite apply. */
      rewriteVals: Option[Set[Seq[String]]] = None,
      /** As [[writeTable]]'s `check`. */
      check: () => Unit = () => ()): (Int, Int, Int) = {
    require(partitionBy.nonEmpty, "writeTablePruned needs partition columns")
    val st = lock.synchronized(relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name")))
    require(!st.isView && !st.isCatalog, s"$name: not a table")

    // pre-check (throws BEFORE any write on layout mismatch)
    val srcLeaves: Seq[(String, Seq[(Seq[String], java.io.File)])] =
      st.paths.map(p => (p.split('/').last,
        partitionLeaves(name, new java.io.File(p), partitionBy)))

    val v = st.nextVersion
    val path = s"$root/$name/v$v"
    val (rewritten, carried, linked) = uncommittedOnError(path) {
      touched.write.mode(SaveMode.Overwrite).format(st.fmt)
        .partitionBy(partitionBy: _*).save(path)
      check()
      val touchedVals = rewriteVals.getOrElse(
        partitionLeaves(name, new java.io.File(path), partitionBy).map(_._1).toSet)
      var linked = 0
      val carried = scala.collection.mutable.Set[Seq[String]]()
      for ((srcV, ls) <- srcLeaves; (values, leafDir) <- ls
           if !touchedVals.contains(values)) {
        carried += values
        val destDir = java.nio.file.Paths.get(path +
          values.zip(partitionBy).map { case (vv, c) => s"/$c=$vv" }.mkString)
        java.nio.file.Files.createDirectories(destDir)
        for (f <- Option(leafDir.listFiles()).getOrElse(Array.empty)
             if f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) {
          val dest = destDir.resolve(s"${srcV}_${f.getName}")
          try java.nio.file.Files.createLink(dest, f.toPath)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            java.nio.file.Files.copy(f.toPath, dest,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          linked += 1
        }
      }
      (touchedVals.size, carried.size, linked)
    }
    commit(name, st.copy(paths = Seq(path), nextVersion = v + 1,
      schema = Some(dataSchema(touched, partitionBy))))
    (rewritten, carried, linked)
  }

  /** Append a delta (new commit dir; no rewrite of existing data).
    * The delta inherits the relation's existing file format. Returns
    * the commit dir it wrote (a compaction the append triggers leaves
    * that dir on disk until a vacuum).
    */
  def appendTable(name: String, df: DataFrame): String = {
    val st = lock.synchronized(relations.get(name)).getOrElse {
      return writeTable(name, df)
    }
    val path = s"$root/$name/v${st.nextVersion}"
    uncommittedOnError(path)(df.write.mode(SaveMode.Overwrite).format(st.fmt).save(path))
    // the schema stays: Spark reads a commit list with the schema of its
    // oldest commit's files (an unrecorded one stays inferred)
    commit(name, st.copy(paths = st.paths :+ path, nextVersion = st.nextVersion + 1))
    if (maxCommits > 0 && commitCount(name) > maxCommits) compact(name)
    path
  }

  /** Register a (lazy) view — Catalyst composes the plan into
    * consumers, so cross-model filter pushdown comes free (better than
    * the reference's opaque-text views; SURVEY §4 "ephemeral inlining").
    */
  def createView(name: String, df: DataFrame): Unit = lock.synchronized {
    df.createOrReplaceTempView(name)
    relations(name) = RelState(Nil, relations.get(name).map(_.nextVersion).getOrElse(0), isView = true)
  }

  def drop(name: String): Unit = lock.synchronized {
    relations.remove(name)
    spark.catalog.dropTempView(name)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, name, "_commits"))
    ()
  }

  def list: Seq[String] = lock.synchronized(relations.keys.toSeq.sorted)

  /** Execute one statement-block string — the small DDL dialect custom
    * materializations emit through the global `create_table_as` /
    * `create_view_as` macros (reference: the adapter executes the
    * rendered statement; here CREATE/DROP/INSERT route onto warehouse
    * relations, anything else runs as a plain Spark query). Returns
    * rows affected where knowable (CTAS, and INSERT on parquet or orc,
    * from file footers), else -1.
    */
  def executeSql(sql: String): Long = {
    val ctas = """(?is)^\s*create\s+(?:or\s+replace\s+)?(?:temp(?:orary)?\s+)?table\s+([\w.]+)\s+as\s+(.*)$""".r
    val cvas = """(?is)^\s*create\s+(?:or\s+replace\s+)?(?:temp(?:orary)?\s+)?view\s+([\w.]+)\s+as\s+(.*)$""".r
    val dropStmt = """(?is)^\s*drop\s+(?:table|view)\s+(?:if\s+exists\s+)?([\w.]+)\s*$""".r
    val insert = """(?is)^\s*insert\s+into\s+([\w.]+)\s+(.*)$""".r
    sql.trim match {
      case ctas(name, select) =>
        writeTable(name, spark.sql(select)); rowCount(name)
      case cvas(name, select) =>
        createView(name, spark.sql(select)); -1L
      case dropStmt(name) => drop(name); -1L
      case insert(name, select) =>
        // rows affected from the appended dir's footers: the SELECT runs
        // once, in the write
        footerRows(Seq(appendTable(name, spark.sql(select))))
      case other => spark.sql(other).count()
    }
  }

  /** Compact a relation's commit log into one version dir (the
    * OPTIMIZE analog): repeated appends accumulate small files/dirs;
    * compaction rewrites once and resets the log. Readers registered
    * before the compact keep their old snapshot (paths are immutable).
    */
  def compact(name: String, targetPartitions: Int = 0): Unit = {
    val df0 = read(name)
    val fmt = lock.synchronized(relations.get(name).map(_.fmt).getOrElse("parquet"))
    val df = if (targetPartitions > 0) df0.repartition(targetPartitions) else df0
    writeTable(name, df, fileFormat = fmt)
  }

  /** The relation's storage format ("parquet"/"orc"; views report
    * parquet).
    */
  def formatOf(name: String): String =
    lock.synchronized(relations.get(name).map(_.fmt).getOrElse("parquet"))

  /** Commit-log length (for compaction policies / tests). */
  def commitCount(name: String): Int =
    lock.synchronized(relations.get(name).map(_.paths.size).getOrElse(0))

  /** Live commit versions of a relation, oldest first. */
  def versions(name: String): Seq[Int] =
    lock.synchronized(relations.get(name).map(_.paths.map(
      _.split('/').last.stripPrefix("v").toInt)).getOrElse(Nil))

  /** Time travel over the APPEND history: the relation as of commit
    * version ≤ maxVersion (a prefix of the live commit log — the AS OF
    * read a lakehouse log gives for free; replace rewrites history, so
    * pre-replace states are vacuum targets, not travel targets).
    */
  def readAsOf(name: String, maxVersion: Int): DataFrame = {
    val st = lock.synchronized(relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name")))
    val prefix = st.paths.filter(
      _.split('/').last.stripPrefix("v").toInt <= maxVersion)
    require(prefix.nonEmpty,
      s"$name: no commits at or before v$maxVersion (live: ${versions(name).mkString(",")})")
    load(st, prefix)
  }

  /** Delete on-disk version dirs no longer in the live commit list
    * (replace and compact leave their predecessors orphaned — the
    * VACUUM need of any versioned layout). A retention fence protects
    * in-flight readers: orphan dirs modified within `retainSeconds`
    * are kept, so a lazy DataFrame obtained via read()/readAsOf()
    * before a concurrent replace still evaluates against intact files
    * (the Delta `VACUUM ... RETAIN` model). Pass retainSeconds=0 for
    * the old immediate GC (tests / explicit force). Returns dirs
    * removed.
    */
  def vacuum(name: String, retainSeconds: Long = 300L): Int = lock.synchronized {
    val st = relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name"))
    val live = st.paths.map(_.split('/').last).toSet
    val fence = System.currentTimeMillis() - retainSeconds * 1000L
    val dir = new java.io.File(s"$root/$name")
    val orphans = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v")
        && !live(f.getName) && f.lastModified() < fence)
    orphans.foreach(Warehouse.deleteTree)
    orphans.length
  }

  /** Row count of a parquet-backed relation from file footers only —
    * the driver-side metadata read that plays the role of the
    * warehouse cursor's `rows_affected` (reference adapter response).
    * No Spark job: O(#files) footer reads, so it stays cheap even when
    * the data itself is huge. Data files are found under every
    * partition level (`col=val/` dirs); `_`/`.` names are Spark's
    * markers and checksums. Views and non-parquet relations fall back
    * to -1 (unknown) rather than triggering a scan.
    */
  def rowCount(name: String): Long = {
    val st = lock.synchronized(relations.getOrElse(name,
      throw new IllegalArgumentException(s"unknown relation: $name")))
    if (st.isView || st.isCatalog || st.paths.isEmpty || st.fmt != "parquet") -1L
    else footerRows(st.paths)
  }

  /** Rows in the parquet and orc files under `paths`, from footers
    * only. */
  private def footerRows(paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    def dirRows(dir: org.apache.hadoop.fs.Path): Long = {
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).iterator
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
        .map { f =>
          if (f.isDirectory) dirRows(f.getPath)
          else if (f.getPath.getName.endsWith(".parquet")) {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in, footerOptions)
            try reader.getRecordCount finally reader.close()
          } else if (f.getPath.getName.endsWith(".orc")) {
            val reader = org.apache.orc.OrcFile.createReader(f.getPath,
              org.apache.orc.OrcFile.readerOptions(conf).filesystem(fs))
            try reader.getNumberOfRows finally reader.close()
          } else 0L
        }.sum
    }
    paths.iterator.map(p => dirRows(new org.apache.hadoop.fs.Path(p))).sum
  }

  /** Footer read options, built once from the session's Hadoop conf
    * (`ParquetFileReader.open(file)` alone builds and parses a fresh
    * Hadoop `Configuration` per file). */
  private lazy val footerOptions =
    org.apache.parquet.HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()

  /** Register an external parquet path as a source relation view. */
  def registerSource(name: String, df: DataFrame): Unit = lock.synchronized {
    df.createOrReplaceTempView(name)
    relations(name) = RelState(Nil, 0, isView = true)
  }

  /** Bucketed catalog table: hash-bucketed + sorted by `bucketBy`, so
    * downstream equi-joins/aggregations on those keys run with NO
    * shuffle (Catalyst recognizes the bucketing as satisfying the
    * required distribution). This is the knob that removes the big-fact
    * join shuffle at 100 TB — bucket orders and lineitem by orderkey
    * once, join free forever. Uses the session catalog (bucketing
    * metadata lives there, not in plain parquet dirs).
    */
  def writeBucketedTable(name: String, df: DataFrame,
      bucketBy: Seq[String], numBuckets: Int): Unit = {
    require(bucketBy.nonEmpty && numBuckets > 0,
      s"$name: bucketed write needs bucket columns and a bucket count")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the in-memory catalog forgets tables across sessions but their
    // managed location persists — clear it or CTAS refuses the name
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
    Warehouse.deleteTree(loc)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketBy.head, bucketBy.tail: _*)
      .sortBy(bucketBy.head, bucketBy.tail: _*)
      .saveAsTable(name)
    lock.synchronized {
      relations(name) = RelState(Nil,
        relations.get(name).map(_.nextVersion).getOrElse(0),
        isView = false, isCatalog = true)
    }
  }

  // ------------------------------------------------------------- grants

  /** One applied grant/revoke action (the audit row the reference logs
    * as grant/revoke statements — `dbt/adapters/base/impl.py`
    * apply_grants).
    */
  final case class GrantAction(relation: String, action: String,
      privilege: String, grantee: String)

  private val grantActions = scala.collection.mutable.ArrayBuffer[GrantAction]()

  private def grantsFile(name: String) =
    java.nio.file.Paths.get(root, s"$name.grants.json")

  /** Current grants on a relation: privilege -> grantees (empty when
    * none were ever applied).
    */
  def grantsOf(name: String): Map[String, Seq[String]] = lock.synchronized {
    val f = grantsFile(name)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(f))
      val it = node.properties().iterator()
      val out = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
      while (it.hasNext) {
        val e = it.next()
        val vs = scala.collection.mutable.ArrayBuffer[String]()
        e.getValue.forEach(v => vs += v.asText())
        out(e.getKey) = vs.toSeq
      }
      out.toMap
    }
  }

  /** Reconcile a relation's grants to `desired`, diffing against the
    * current state exactly like the reference's apply_grants flow
    * (show_grants -> diff -> grant missing + revoke extra;
    * `dbt/adapters/base/impl.py` standardize_grants_dict /
    * apply_grants). Returns the actions applied, newest last; the full
    * session history is [[grantLog]].
    */
  def applyGrants(name: String,
      desired: Map[String, Seq[String]]): Seq[GrantAction] = lock.synchronized {
    val current = grantsOf(name)
    val privs = (current.keySet ++ desired.keySet).toSeq.sorted
    val actions = privs.flatMap { p =>
      val have = current.getOrElse(p, Nil).toSet
      val want = desired.getOrElse(p, Nil).toSet
      (want -- have).toSeq.sorted.map(g => GrantAction(name, "grant", p, g)) ++
        (have -- want).toSeq.sorted.map(g => GrantAction(name, "revoke", p, g))
    }
    val json = desired.toSeq.sortBy(_._1).map { case (p, gs) =>
      s""""$p": [${gs.map(g => s""""$g"""").mkString(", ")}]"""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.createDirectories(grantsFile(name).getParent)
    java.nio.file.Files.writeString(grantsFile(name), json)
    grantActions ++= actions
    actions
  }

  /** All grant/revoke actions applied through this Warehouse. */
  def grantLog: Seq[GrantAction] = lock.synchronized(grantActions.toSeq)

  // ----------------------------------------------- persisted comments

  private def docsFile(name: String) =
    java.nio.file.Paths.get(root, s"$name.docs.json")

  /** persist_docs write-through: relation + column comments, stored as
    * a metadata sidecar (the COMMENT ON analog; a lakehouse catalog
    * would hold these as table properties).
    */
  def setComments(name: String, relation: Option[String],
      columns: Map[String, String]): Unit = lock.synchronized {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val cols = columns.toSeq.sortBy(_._1).map { case (c, d) =>
      s""""${esc(c)}": "${esc(d)}"""" }.mkString("{", ", ", "}")
    val rel = relation.map(r => s""""${esc(r)}"""").getOrElse("null")
    java.nio.file.Files.createDirectories(docsFile(name).getParent)
    java.nio.file.Files.writeString(docsFile(name),
      s"""{"relation": $rel, "columns": $cols}""")
    ()
  }

  /** Read back persisted comments: (relation comment, column comments).
    * Empty when persist_docs never wrote any.
    */
  def commentsOf(name: String): (Option[String], Map[String, String]) =
    lock.synchronized {
      val f = docsFile(name)
      if (!java.nio.file.Files.exists(f)) (None, Map.empty)
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(f))
        val rel = Option(node.get("relation")).filterNot(_.isNull).map(_.asText())
        val it = node.get("columns").properties().iterator()
        val out = scala.collection.mutable.LinkedHashMap[String, String]()
        while (it.hasNext) { val e = it.next(); out(e.getKey) = e.getValue.asText() }
        (rel, out.toMap)
      }
    }
}

object Warehouse {
  /** A prior commit dir does not conform to the partition layout the
    * pruned write needs — callers fall back to the full rewrite.
    */
  final class PrunedWriteUnsupported(msg: String) extends RuntimeException(msg)

  /** Delete a file or directory tree; a missing path is a no-op. */
  private def deleteTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Commit-manifest write protocol (crash-consistent): stage the new
    * manifest beside the live one — fsynced, so its CONTENT is durable
    * before any rename can be — then ATOMIC-RENAME it into place and
    * fsync the parent directory so the rename itself is durable. The
    * manifest is the reader's ONLY pointer into the data (data files
    * are written first, under version dirs the old manifest does not
    * name), so a crash at ANY instruction of a write — process kill OR
    * power loss — leaves the previous complete version visible: never a
    * torn manifest, never a manifest naming unsynced bytes. Pre-fix
    * this was a plain writeString: a kill mid-write could truncate
    * `_commits` and make an intact table invisible to recovery, and
    * without the two fsyncs a power loss could persist the rename
    * before the manifest content. CrashCommitSpec SIGKILLs a child
    * mid-protocol N>=50 times and asserts zero torn reads (process-kill
    * channel; the fsyncs extend the same ordering to OS crash within
    * the filesystem's rename-durability guarantees). Static +
    * Spark-free so the crash harness drives the REAL protocol from a
    * plain JVM. */
  def writeCommitsFile(root: String, name: String, paths: Seq[String],
      fmt: String = "parquet", hide: Seq[String] = Nil,
      schemaJson: Option[String] = None): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val f = Paths.get(root, name, "_commits")
    Files.createDirectories(f.getParent)
    val header = (if (fmt == "parquet") Nil else Seq(s"format=$fmt")) ++
      (if (hide.isEmpty) Nil else Seq(s"hide=${hide.mkString(",")}")) ++
      schemaJson.map(j => s"schema=$j")
    val tmp = f.resolveSibling("_commits.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        (header ++ paths.map(_.split('/').last)).mkString("\n").getBytes("UTF-8")))
      ch.force(true) // content durable BEFORE the rename can be
    } finally ch.close()
    try Files.move(tmp, f,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING)
    }
    // fsync the directory so the rename survives power loss; best-effort
    // (not all filesystems allow opening a directory for read)
    try {
      val dir = java.nio.channels.FileChannel.open(f.getParent,
        StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case _: java.io.IOException => () }
    ()
  }

  /** A parsed `_commits` manifest (format in the [[Warehouse]] doc):
    * storage format, hidden columns, data schema as StructType JSON, and
    * the live version dir names, oldest first. */
  final case class Commits(fmt: String, hide: Seq[String],
      schema: Option[String], versions: Seq[String])

  /** Parse `$root/$name/_commits`; None when the relation has none.
    * Spark-free, like [[writeCommitsFile]]. */
  def readCommitsFile(root: String, name: String): Option[Commits] = {
    val f = java.nio.file.Paths.get(root, name, "_commits")
    if (!java.nio.file.Files.isRegularFile(f)) None
    else {
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f)).asScala.toSeq
      def header(key: String): Option[String] =
        lines.find(_.startsWith(s"$key=")).map(_.stripPrefix(s"$key="))
      Some(Commits(
        fmt = header("format").getOrElse("parquet"),
        hide = header("hide").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        schema = header("schema"),
        versions = lines.filterNot(l => Seq("format=", "hide=", "schema=").exists(l.startsWith))))
    }
  }
}
