package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed total-order kernels — the scale path for the handful of
  * query shapes that are naturally "one global ordered sweep" (rank,
  * NTILE, running sum). A single-partition `WindowExec` computes these
  * correctly but serializes the whole input through one task — the one
  * plan shape that cannot survive a 100× scale-up. The replacement is
  * the classic two-pass distributed prefix sum (the same topology as
  * q177's bucketed systematic sample, generalized to arbitrary numeric
  * sort keys):
  *
  *   1. bucket every row by a MONOTONE function of the sort key
  *      (fixed-width value buckets between the global min/max — a
  *      deterministic, plan-pure choice, immune to sampling/AQE,
  *      unlike `spark_partition_id` after a range exchange);
  *   2. per-bucket prefix sums via a PARTITIONED window (parallel);
  *   3. per-bucket totals → an offsets table of ≤ `buckets` rows whose
  *      own ordered sweep is metadata-scale (the same order as a
  *      RangePartitioner boundary array), broadcast back and added.
  *
  * Exactness: the bucket function is monotone in the sort key and ties
  * never split across buckets (the bucket depends only on the key), so
  * `offset + local prefix` is exactly the global prefix sum. With a
  * unique (key, tiebreak) the derived rank is exactly `ROW_NUMBER`,
  * and `ntileFromRank` reproduces SQL `NTILE` from the closed form.
  *
  * The rules for the other side of the suite: the queries whose
  * ordered or global work runs over a DIMENSION-BOUNDED result (per
  * nation, per (event type, bin), per decile). There the cost is not
  * compute but stages: each exchange or broadcast is one more AQE
  * stage, and so one more Spark job of fixed overhead (q198, q203 and
  * q218 follow these rules):
  *
  *   1. Group statistics come from the rollup, not from a
  *      re-aggregation joined back. A per-group figure that the rows
  *      of a group need (a count, a total) is a window partitioned by
  *      the group over the rolled-up input, and every per-group output
  *      comes from one aggregate over that input.
  *   2. Gather a dimension-bounded result into one partition once
  *      (`repartition(1)` after the aggregate), then finish it there:
  *      totals and running sums as windows, probe selection as a
  *      grouped aggregate, and the final sort all run in that partition
  *      with no further exchange. So: no broadcast of a 1-row total, no
  *      join back to the bins, no range-sampling sort job. Never gather
  *      fact-sized input, and name the bound in a comment at each
  *      gather. An unpartitioned window over the gathered rows is
  *      declared in ExplainAudit's bounded-domain allowlist.
  *   3. Build each expression once in the plan. A derived value used in
  *      several places gets its own projection and is referenced by
  *      column. A Scala `Column` val reused in several expressions is
  *      copied into each of them, and Catalyst analyzes, optimizes and
  *      plans every copy on each run (q199's uniforms: 256 copies).
  */
object Dist {

  /** Number of value buckets: enough for every core to work, few
    * enough that the offsets table stays metadata-scale. On a real
    * cluster this would be O(executors); the exactness argument is
    * independent of the count.
    */
  val Buckets = 64

  /** Exact global running sum of `value` under the total order
    * `(v ASC, tie ASC)` — `v` and `tie` must be integral (callers
    * scale decimals; negate `v` for DESC) and `(v, tie)` unique per
    * row. Appends `out` = SUM(value) OVER (ORDER BY v, tie ROWS
    * UNBOUNDED PRECEDING..CURRENT) without any single-partition
    * window over the data. Precondition: `max(v) - min(v)` must fit
    * in a Long (the bucket index divides first, so the FULL Long key
    * range is safe as long as the span itself doesn't overflow).
    */
  def rangedPrefixSum(df: DataFrame, v: Column, tie: Column,
      value: Column, out: String): DataFrame =
    rangedPrefixSumCore(df, v, tie, value, out)._1

  /** The shared kernel. Returns (result, per-bucket totals) — the
    * totals frame is the ≤[[Buckets]]-row aggregate behind the offsets
    * pass, exposed so consumers needing the GRAND total (NTILE's n)
    * can take it metadata-scale instead of re-deriving the whole input
    * subtree with a fresh `df.agg(count)` (r16: that was a third
    * corpus-scale pass in q215/q218).
    */
  private def rangedPrefixSumCore(df: DataFrame, v: Column, tie: Column,
      value: Column, out: String): (DataFrame, DataFrame) = {
    val b = s"__b_$out"; val lo = s"__lo_$out"; val hi = s"__hi_$out"
    val lc = s"__lc_$out"; val off = s"__off_$out"; val vc = s"__v_$out"
    val tc = s"__t_$out"; val wc = s"__w_$out"
    val keyed = df.withColumn(vc, v.cast("long"))
      .withColumn(tc, tie.cast("long")).withColumn(wc, value.cast("long"))
    // global key range: a 1-row aggregate, broadcast by crossJoin
    val mm = keyed.agg(min(vc).as(lo), max(vc).as(hi))
    // fixed-width bucket index — monotone in the key, 0..Buckets-1.
    // Width-first form (`key div (range/Buckets + 1)`) never overflows:
    // the naive `(vc-lo)*Buckets` blows Long past a ~2^57 key range.
    // Precondition (documented): `hi - lo` itself must fit in a Long.
    val bucketed = keyed.crossJoin(broadcast(mm))
      .withColumn(b, expr(
        s"cast((($vc - $lo) div ((greatest($hi - $lo, 0L) div ${Buckets}L) + 1L)) as int)"))
      .drop(lo, hi)
    // pass 1: per-bucket running sums — partitioned, parallel
    val local = bucketed.withColumn(lc,
      sum(wc).over(Window.partitionBy(b).orderBy(vc, tc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // pass 2: bucket offsets — ≤ Buckets rows; the ordered window here
    // sweeps THAT tiny aggregate, then broadcasts back. (Its exchange
    // hash-partitions on the same key as pass 1's window shuffle, so
    // ReuseExchange computes `bucketed` once for both.)
    val totals = bucketed.groupBy(b).agg(sum(wc).as(wc))
    val offsets = totals
      .select(col(b), coalesce(sum(wc).over(Window.orderBy(b)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as(off))
    val res = local.join(broadcast(offsets), b)
      .withColumn(out, col(lc) + col(off))
      .drop(b, lc, off, vc, tc, wc)
    (res, totals.select(col(wc).as("__bucket_total")))
  }

  /** Exact global `ROW_NUMBER() OVER (ORDER BY v, tie)` — requires
    * `(v, tie)` unique per row, so the running count IS the rank.
    */
  def rangedRank(df: DataFrame, v: Column, tie: Column, out: String): DataFrame =
    rangedPrefixSum(df, v, tie, lit(1L), out)

  /** [[rangedRank]] plus the TOTAL row count as a column (`totalOut`),
    * taken from the kernel's own bucket-totals aggregate.
    */
  def rangedRankWithTotal(df: DataFrame, v: Column, tie: Column,
      out: String, totalOut: String): DataFrame = {
    val (ranked, totals) = rangedPrefixSumCore(df, v, tie, lit(1L), out)
    ranked.crossJoin(broadcast(
      totals.agg(sum("__bucket_total").cast("long").as(totalOut))))
  }

  /** Several exact global ranks over DIFFERENT orderings in ONE
    * pipeline (the RFM shape: rank by recency AND frequency AND
    * monetary). Chaining [[rangedRank]] would nest each rank's
    * three-pass plan inside the next; this explodes the metrics into a
    * tall (metric, value, tie) table instead — one pass over `df`, one
    * partitioned window keyed (metric, bucket), a per-metric offsets
    * sweep (PARTITIONED by metric — no global window anywhere), and a
    * pivot back to one row per `tie`. `tie` must be unique per row and
    * integral; metric expressions are negated by the caller for DESC.
    */
  def rangedRanks(df: DataFrame, tie: Column,
      metrics: Seq[(Column, String)]): DataFrame =
    rangedRanks(df, tie, metrics, Nil, "")

  /** As [[rangedRanks]], optionally CARRYING payload columns through
    * the tall pipeline (attached to the metric-0 rows, reassembled by
    * the same per-`tie` aggregate that pivots the ranks) and emitting
    * the TOTAL row count from the kernel's own metadata-scale offsets
    * aggregate. r16: the previous shape joined the ranks back to `df`
    * and counted `df` separately — with the min/max pass that made
    * FOUR derivations of the caller's input aggregate per run; this
    * one has the structural minimum of two (range pass + ranked pass).
    */
  def rangedRanks(df: DataFrame, tie: Column,
      metrics: Seq[(Column, String)],
      payload: Seq[(Column, String)], totalOut: String): DataFrame = {
    val tall = df
      .select((tie.cast("long").as("__t") +:
        explode(array(metrics.zipWithIndex.map { case ((v, _), i) =>
          struct(lit(i).as("m"), v.cast("long").as("v"))
        }: _*)).as("__mv") +:
        payload.map { case (c, name) => c.as(name) }): _*)
      .select((col("__t") +: col("__mv.m").as("__m") +:
        col("__mv.v").as("__v") +:
        // payload rides only the metric-0 copy — null elsewhere, so the
        // shuffle carries |payload| values once per input row, not once
        // per (row, metric)
        payload.map { case (_, name) =>
          when(col("__m") === 0, col(name)).as(name) }): _*)
    // per-metric key range: |metrics| rows, broadcast back
    val mm = tall.groupBy("__m").agg(min("__v").as("__lo"), max("__v").as("__hi"))
    val bucketed = tall.join(broadcast(mm), "__m")
      .withColumn("__b", expr(
        s"cast(((__v - __lo) div ((greatest(__hi - __lo, 0L) div ${Buckets}L) + 1L)) as int)"))
      .drop("__lo", "__hi")
    val local = bucketed.withColumn("__lr",
      sum(lit(1L)).over(Window.partitionBy("__m", "__b").orderBy("__v", "__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = bucketed.groupBy("__m", "__b").agg(count(lit(1)).as("__c"))
    val offsets = totals
      .select(col("__m"), col("__b"),
        coalesce(sum("__c").over(Window.partitionBy("__m").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
    val rankCols =
      metrics.zipWithIndex.map { case ((_, out), i) =>
        max(when(col("__m") === i, col("__lr") + col("__off"))).as(out)
      } ++
        payload.map { case (_, name) => max(col(name)).as(name) }
    val wide = local.join(broadcast(offsets), Seq("__m", "__b"))
      .groupBy("__t")
      .agg(rankCols.head, rankCols.tail: _*)
    if (totalOut.isEmpty) wide
    else wide.crossJoin(broadcast(totals
      .agg(sum(when(col("__m") === 0, col("__c"))).cast("long").as(totalOut))))
  }

  /** SQL `NTILE(k)` bucket from a 1-based rank and the total row count
    * `n`: the first `n % k` tiles carry `n/k + 1` rows, the rest
    * `n/k` (identical in Spark and DuckDB — both implement the
    * standard closed form).
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = intDiv(n, lit(k.toLong))
    val rem = n % k
    val cut = rem * (q + 1)
    when(rank <= cut, intDiv(rank - 1, q + 1) + 1)
      .otherwise(rem + intDiv(rank - cut - 1, greatest(q, lit(1L))) + 1)
  }

  /** Exact floor division for non-negative longs: `a - a%b` is an
    * exact multiple of `b`, so the double quotient is the exact
    * integer (always < 2^53 here).
    */
  private def intDiv(a: Column, b: Column): Column =
    ((a - (a % b)) / b).cast("long")
}
