package graft.streaming

import graft.exec.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY §2 B22 — absent in the
  * reference, which approximates streams with manual incremental
  * micro-batches; here the real thing, wired through the same
  * materialization layer).
  *
  * The batch twins of these shapes are oracle-checked as
  * q32/q33/q34; streaming specs assert stream-vs-batch equivalence on
  * the same input, which is the property that matters.
  */
object StreamMaterializer {

  /** File-source stream over an events-shaped directory. At cluster
    * scale the source would be Kafka; file source keeps the exact same
    * downstream plan.
    */
  def readEvents(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)

  /** Tumbling-window counts with a watermark (late data beyond 2h
    * dropped); state is bounded by the watermark — the 100 TB
    * requirement for unbounded streams.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 4)))
          .cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows (30-minute gap) per user — the streaming twin of
    * q33's lag+cumsum sessionization.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream dedup bounded by watermark (streaming twin of q34). */
  def dedupFirstEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Custom keyed state (B22 `flatMapGroupsWithState`): per-user
    * running event count, one update row emitted per key per
    * micro-batch. The pattern for state Spark's built-in windows can't
    * express (counters, custom sessionization, CDC folding); state is
    * per-key and partitioned by the group key, so it scales with
    * distinct users, not events.
    */
  def runningUserCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as[Long])
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((user, total))
      }
      .toDF("user_id", "running_n")
  }

  /** Streaming twin of q223's group-cap rebalancing: per-group state is
    * the CURRENT top-k (by md5(doc_id) priority — the deterministic
    * selection convention shared with the batch sampler), so state is
    * bounded by k per group, never by stream length. Each micro-batch
    * emits one summary row per updated group; the LAST row per group
    * equals the batch q223 answer over everything ingested — the
    * ingest-time "keep a balanced sample of what we've seen" primitive.
    */
  def maintainGroupCap(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    def prio(docId: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.select(col("lang").as[String], col("doc_id").as[Long],
        col("n_chars").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, List[(String, Long, Long)]),
          (String, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang, rows, state: GroupState[(Long, List[(String, Long, Long)])]) =>
          val (seen0, kept0) = state.getOption.getOrElse((0L, Nil))
          var seen = seen0
          val candidates = kept0 ++ rows.map { case (_, id, chars) =>
            seen += 1; (prio(id), id, chars)
          }
          // bounded: sort (priority, doc_id) and keep k — identical to
          // the batch ROW_NUMBER() <= k selection
          val kept = candidates.sortBy(c => (c._1, c._2)).take(k)
          state.update((seen, kept))
          Iterator((lang, seen, kept.length.toLong, kept.map(_._3).sum))
      }
      .toDF("lang", "n_seen", "n_kept", "kept_chars")
  }

  /** Stream-stream interval self-join (B22): click attribution — each
    * click joins the same user's preceding view within 24 hours. Both
    * sides carry watermarks ≥ the join interval, so Spark evicts join
    * state once a view can no longer match: state size is bounded by
    * (interval × event rate), not stream history — the requirement for
    * an unbounded 100 TB stream. Inner-join matches emit eagerly (no
    * watermark wait), so results equal the batch twin exactly.
    */
  def viewClickAttribution(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "26 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "26 hours")
    views.join(clicks,
        col("v_user") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("v_user").as("user_id"), col("view_ts"), col("click_ts"))
  }

  /** LEFT OUTER stream-stream interval join: like
    * [[viewClickAttribution]] but views with no click inside the
    * 24-hour window still emit (null click_ts) once the watermark
    * passes their join horizon — the "unconverted impressions" feed.
    * State eviction is the same watermark mechanics as the inner
    * form; the outer row is emitted exactly when the engine can prove
    * no future click can match.
    */
  def viewClickAttributionOuter(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "26 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "26 hours")
    views.join(clicks,
        col("v_user") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"),
        "leftOuter")
      .select(col("v_user").as("user_id"), col("view_ts"), col("click_ts"))
  }

  /** Streaming curation ingest — the continuous-ingestion form of the
    * q67/q68 batch flows, as ONE pipeline: each incoming document is
    * quality-filtered (stateless battery: token count + type/token
    * ratio), deduplicated against the EXISTING corpus fingerprint
    * index (stream-static left-anti join — the index is the static
    * side, so a micro-batch costs O(batch), never a corpus rescan),
    * then deduplicated within the stream itself (first fingerprint
    * occurrence wins; state keyed by the 16-byte fingerprint persists
    * across micro-batches). Production bounds the dedup state with an
    * ingest-time watermark + `dropDuplicatesWithinWatermark`; the
    * documents table has no event time, so state here is unbounded by
    * corpus design (one row per distinct fingerprint — the same size
    * as the fingerprint index itself).
    *
    * Works identically on a batch DataFrame (the streaming plan is the
    * batch plan micro-batched), which is exactly what the equivalence
    * spec asserts.
    */
  def curationIngest(docs: DataFrame, corpusFps: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .withColumn("n_tokens", size(ws))
      .withColumn("ttr", size(array_distinct(ws)).cast("double") / size(ws))
      .withColumn("fp", md5(substring(col("text"), 1, 40)))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 90
        && col("ttr") >= 0.55)
      .join(corpusFps, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .select(col("doc_id"), col("fp"), col("n_tokens"))
  }

  /** Per-micro-batch co-purchase pair counts (q171's delta step):
    * runs on the batch DataFrame inside foreachBatch. Pairs derive
    * per order, so as long as the source delivers whole orders per
    * batch (hash-partitioned files by orderkey), batch contributions
    * are additive under a commutative groupBy-sum merge.
    */
  def pairMaintenance(lineitems: DataFrame): DataFrame = {
    val items = lineitems.select(col("l_orderkey"), col("l_partkey")).dropDuplicates()
    items.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")),
        "l_orderkey")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).cast("long").as("cab"))
  }

  /** Streaming co-purchase pair-index maintenance: each micro-batch's
    * pair deltas append to the warehouse relation; the serving read
    * merges with a pair-keyed sum, so the index is correct after any
    * prefix of batches — continuous maintenance, never a rebuild.
    *
    * PRECONDITION (enforced): pairMaintenance is additive only when
    * every order arrives whole within one micro-batch. A source not
    * partitioned by l_orderkey would silently under-count cross-batch
    * pairs, and the within-batch dropDuplicates cannot see it — so by
    * default each batch's orderkeys are checked against a merged Bloom
    * filter of all prior batches' orderkeys and a repeat FAILS the
    * stream loudly (distributed membership probe over a broadcast
    * filter, O(batch) work, ~2 MB driver state; fpp 1e-4, so a
    * spurious trip is ~once per 10k orders and the error says how to
    * re-check exactly). Disable via assertWholeOrders=false only for
    * sources with a proven orderkey-partitioned layout.
    */
  def maintainPairIndex(wh: Warehouse, name: String,
      lineitemStream: DataFrame, checkpointDir: String,
      assertWholeOrders: Boolean = true): StreamingQuery = {
    var seenOrders: Option[org.apache.spark.util.sketch.BloomFilter] = None
    lineitemStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (assertWholeOrders) {
          // foreachBatch invocations are sequential, so the driver-side
          // filter state needs no synchronization
          val keys = batch.select(col("l_orderkey")).dropDuplicates()
          seenOrders.foreach { prior =>
            // codegen'd probe — the same native expression the batch
            // twin (q78) uses — instead of a per-row Scala UDF; the
            // filter was built over raw orderkey longs (putLong), and
            // BloomFilterMightContain calls mightContainLong, so put
            // and probe share one hash family by construction
            val priorBytes = {
              val bos = new java.io.ByteArrayOutputStream()
              prior.writeTo(bos)
              bos.toByteArray
            }
            val mightRepeat = org.apache.spark.sql.graftshim.toColumn(
              org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
                org.apache.spark.sql.catalyst.expressions.Literal(
                  priorBytes, org.apache.spark.sql.types.BinaryType),
                org.apache.spark.sql.graftshim.toExpression(col("l_orderkey"))))
            val repeats = keys.filter(mightRepeat).count()
            require(repeats == 0L,
              s"maintainPairIndex: batch $batchId carries $repeats orderkey(s) " +
                "already seen in earlier micro-batches — the source is not " +
                "partitioned by l_orderkey, so pair counts would silently " +
                "under-count cross-batch pairs. Re-partition the source by " +
                "l_orderkey (or verify the hits are Bloom false positives " +
                "and pass assertWholeOrders=false).")
          }
          val bf = keys.stat.bloomFilter("l_orderkey", 1000000L, 1e-4)
          seenOrders = Some(seenOrders.map { p => p.mergeInPlace(bf); p }.getOrElse(bf))
        }
        wh.appendTable(name, pairMaintenance(batch)); ()
      }
      .start()
  }

  /** Streaming drift monitor (twin of q178's PSI): each micro-batch's
    * bucket-count deltas append to the warehouse; serving reads fold
    * the deltas and derive PSI via the SAME kernel the batch query
    * uses (`Ext4.psiFromBucketCounts`), so the stream converges to the
    * exact batch answer once drained. Unlike the pair index, bucket
    * counts are additive under ANY partitioning of the source — no
    * whole-entity precondition — which is why this is the shape to
    * prefer for monitoring aggregates at 100 TB: per-batch work is
    * O(batch), serve-time work is O(types × buckets).
    */
  def maintainDriftCounts(wh: Warehouse, name: String,
      eventStream: DataFrame, checkpointDir: String): StreamingQuery =
    eventStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        wh.appendTable(name, graft.queries.Ext4.driftBucketCounts(batch)); ()
      }
      .start()

  /** Serve the monitored PSI from the folded delta relation. */
  def servePsi(wh: Warehouse, name: String): DataFrame =
    graft.queries.Ext4.psiFromBucketCounts(wh.spark, wh.read(name))

  /** Streaming count-min sketch maintainer (twin of q197): each
    * micro-batch appends its 4x256 cell-count deltas; cells are
    * additive under ANY partitioning of the source (they are counts),
    * so there is no whole-entity precondition. Per-batch work is
    * O(batch) map-side + a <=1024-row reduce; the served sketch folds
    * deltas at read time — the monitoring shape that keeps a bounded
    * frequency oracle over an unbounded 100-TB stream.
    */
  def maintainCmsCells(wh: Warehouse, name: String, keyStream: DataFrame,
      keyCol: String, checkpointDir: String): StreamingQuery =
    keyStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        wh.appendTable(name, graft.queries.Ext6.cmsCellDeltas(batch, keyCol)); ()
      }
      .start()

  /** Point-estimate probe keys (column `k`) against the folded sketch;
    * estimates >= truth by the CMS guarantee and converge to the batch
    * sketch's answers once the stream drains.
    */
  def serveCmsEstimates(wh: Warehouse, name: String, probes: DataFrame): DataFrame =
    graft.queries.Ext6.cmsEstimates(wh.read(name), probes)

  /** Drive a streaming DataFrame into the warehouse through
    * foreachBatch → the same materialization layer (append commits per
    * micro-batch). Returns the running query; callers stop it.
    */
  def writeToWarehouse(wh: Warehouse, name: String, stream: DataFrame,
      checkpointDir: String, outputMode: String = "append"): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (outputMode == "complete") wh.writeTable(name, batch)
        else wh.appendTable(name, batch)
        ()
      }
      .start()
}
