package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Wave-10 operators (round-6 third session, cont.):
  *
  *  - q201: date-spine gap-fill — dimension-complete daily series
  *    (every region x every calendar day, zero-filled) + running
  *    cumulative. The spine is RANGE-bounded (days x regions), not
  *    row-bounded, so it stays tiny at any corpus size; dbt ships
  *    this as the `date_spine` macro.
  *  - q202: PIVOT (status -> columns) per priority — the wide-format
  *    twin of q158's unpivot, via Spark's native `pivot()` with a
  *    pinned value list (one shuffle, no second pass to discover
  *    columns).
  *  - q203: mergeable binned-quantile sketch — 256 fixed-width bins
  *    per event type, p50/p95/p99 by in-bin linear interpolation.
  *    Bin counts are additive under any partitioning (the same
  *    merge property as the CMS/KMV sketches), which is what a
  *    100-TB percentile monitor folds; q53 keeps the exact-percentile
  *    contrast.
  *
  * Determinism: counts/cents integer-exact; the only doubles are
  * mirrored-shape expressions rounded to 4-6 decimals.
  */
object Ext7 {

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q201_date_spine_gapfill",
      """WITH bounds AS (
        |  SELECT DATE_TRUNC('day', MIN(o_orderdate)) AS lo,
        |         DATE_TRUNC('day', MAX(o_orderdate)) AS hi
        |  FROM orders
        |), days AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
        |), rev AS (
        |  SELECT r.r_regionkey, DATE_TRUNC('day', o.o_orderdate) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |       JOIN nation na ON na.n_nationkey = c.c_nationkey
        |       JOIN region r ON r.r_regionkey = na.n_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT g.r_name AS region, g.day AS day,
        |       COALESCE(rev.n, 0) AS n_orders,
        |       COALESCE(rev.cents, 0) AS day_cents,
        |       CAST(SUM(COALESCE(rev.cents, 0))
        |            OVER (PARTITION BY g.r_regionkey ORDER BY g.day) AS BIGINT) AS cum_cents
        |FROM (SELECT r_regionkey, r_name, day FROM region CROSS JOIN days) g
        |LEFT JOIN rev ON rev.r_regionkey = g.r_regionkey AND rev.day = g.day
        |ORDER BY region, day""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val bounds = orders.agg(
        date_trunc("day", min("o_orderdate")).as("lo"),
        date_trunc("day", max("o_orderdate")).as("hi"))
      val days = bounds.select(
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val rev = orders
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_regionkey").as("rk"), date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
      val grid = Tables.load(s, dir, "region")
        .select("r_regionkey", "r_name").crossJoin(broadcast(days))
      grid.join(rev,
          grid("r_regionkey") === rev("rk") && grid("day") === rev("day"), "left")
        .select(col("r_name").as("region"), grid("day").as("day"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("cents"), lit(0L)).as("day_cents"))
        .withColumn("cum_cents",
          sum("day_cents").over(
            Window.partitionBy("region").orderBy("day")).cast("long"))
        .orderBy("region", "day")
    },

    QueryDef(
      "q202_status_pivot",
      """SELECT o_orderpriority AS priority,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_orders,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_orders,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_orders,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS f_cents,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS o_cents,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS p_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // native pivot with a PINNED value list: one hash aggregate, no
      // extra pass to discover the pivot domain (at 100 TB the domain
      // scan would rival the aggregate itself)
      val piv = Tables.load(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      piv.select(col("priority"),
          coalesce(col("F_n"), lit(0L)).cast("long").as("f_orders"),
          coalesce(col("O_n"), lit(0L)).cast("long").as("o_orders"),
          coalesce(col("P_n"), lit(0L)).cast("long").as("p_orders"),
          coalesce(col("F_c"), lit(0L)).cast("long").as("f_cents"),
          coalesce(col("O_c"), lit(0L)).cast("long").as("o_cents"),
          coalesce(col("P_c"), lit(0L)).cast("long").as("p_cents"))
        .orderBy("priority")
    },

    QueryDef(
      "q203_binned_quantiles",
      """WITH b AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), m AS (
        |  SELECT event_type, GREATEST(MAX(value), 1e-12) AS hi,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1
        |), bins AS (
        |  SELECT b.event_type,
        |         LEAST(GREATEST(CAST(FLOOR(b.value / (m.hi / 256)) AS BIGINT), 0), 255) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b JOIN m USING (event_type) GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bin, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
        |  FROM bins
        |), probes AS (
        |  SELECT * FROM (VALUES (0.5), (0.95), (0.99)) t(p)
        |), sel AS (
        |  SELECT c.event_type, pr.p, MIN(c.bin) AS bin
        |  FROM cum c JOIN m USING (event_type) CROSS JOIN probes pr
        |  WHERE CAST(c.cum AS DOUBLE) >= pr.p * CAST(m.n AS DOUBLE)
        |  GROUP BY 1, 2
        |)
        |SELECT s.event_type, s.p AS quantile, s.bin,
        |       CAST(ROUND((m.hi / 256)
        |                  * (CAST(s.bin AS DOUBLE)
        |                     + (s.p * CAST(m.n AS DOUBLE) - CAST(c.cum - c.cnt AS DOUBLE))
        |                       / CAST(c.cnt AS DOUBLE)), 4) AS DOUBLE) AS estimate
        |FROM sel s JOIN m ON m.event_type = s.event_type
        |     JOIN cum c ON c.event_type = s.event_type AND c.bin = s.bin
        |ORDER BY s.event_type, quantile""".stripMargin) { (s, dir) =>
      val b = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull).select("event_type", "value")
      // hi clamped to a positive epsilon (an all-zero type would divide by
      // zero) and the bin clamped at both ends (negative values would
      // otherwise produce uncapped negative bins).
      val m = b.groupBy("event_type")
        .agg(greatest(max("value"), lit(1e-12)).as("hi"),
          count(lit(1)).cast("long").as("n"))
      // gather: the per-(type, bin) counts are <= event types x 256
      // rows, so the running sum, the probe selection and the final sort
      // all finish in that one partition with no further exchange
      // (Dist rule 2); hi and n ride along as grouping columns
      val cum = b.join(broadcast(m), "event_type")
        .groupBy(col("event_type"), col("hi"), col("n"),
          least(greatest(floor(col("value") / (col("hi") / 256)).cast("long"), lit(0L)),
            lit(255L)).as("bin"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .repartition(1)
        .withColumn("cum",
          sum("cnt").over(Window.partitionBy("event_type").orderBy("bin")).cast("long"))
      // each probe's bin is the first whose running count reaches p·n;
      // min over a bin-led struct picks that bin's row in one aggregate
      cum.select(col("*"), explode(array(lit(0.5), lit(0.95), lit(0.99))).as("p"))
        .filter(col("cum").cast("double") >= col("p") * col("n").cast("double"))
        .groupBy("event_type", "p")
        .agg(min(struct("bin", "cum", "cnt", "hi", "n")).as("s"))
        .select(col("event_type"), col("p").as("quantile"), col("s.bin").as("bin"),
          round((col("s.hi") / 256) *
            (col("s.bin").cast("double") +
              (col("p") * col("s.n").cast("double") -
                (col("s.cum") - col("s.cnt")).cast("double")) /
                col("s.cnt").cast("double")), 4).cast("double").as("estimate"))
        .orderBy("event_type", "quantile")
    },

    // Two-hop recommendations over the co-purchase graph: for part a,
    // score part c (not directly co-purchased) by the strength of
    // a-b-c paths, score = sum_b min(cab, cbc). Candidate space is the
    // PRUNED graph squared-by-degree, never n²; the direct-pair
    // exclusion is a left anti-join. The bounded-degree expansion is
    // the standard production cap (SCALING.md).
    QueryDef(
      "q204_two_hop_recs",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), dir AS (
        |  SELECT pa AS s, pb AS d, cab FROM pairs
        |  UNION ALL SELECT pb, pa, cab FROM pairs
        |), hop2 AS (
        |  SELECT e1.s AS a, e2.d AS c,
        |         CAST(SUM(LEAST(e1.cab, e2.cab)) AS BIGINT) AS score,
        |         CAST(COUNT(*) AS BIGINT) AS n_paths
        |  FROM dir e1 JOIN dir e2 ON e2.s = e1.d AND e2.d <> e1.s
        |  GROUP BY 1, 2
        |), recs AS (
        |  SELECT h.a, h.c, h.score, h.n_paths
        |  FROM hop2 h LEFT JOIN dir ON dir.s = h.a AND dir.d = h.c
        |  WHERE dir.s IS NULL
        |)
        |SELECT a AS part_a, c AS rec_part, score, n_paths
        |FROM recs ORDER BY score DESC, a, c LIMIT 20""".stripMargin) { (s, dir) =>
      val pairs = Ext3.coPairs(s, dir)
      val dirE = pairs.select(col("pa").as("s"), col("pb").as("d"), col("cab"))
        .unionAll(pairs.select(col("pb").as("s"), col("pa").as("d"), col("cab")))
      val hop2 = dirE.as("e1")
        .join(dirE.as("e2"), expr("e2.s = e1.d AND e2.d <> e1.s"))
        .groupBy(col("e1.s").as("a"), col("e2.d").as("c"))
        .agg(sum(least(col("e1.cab"), col("e2.cab"))).cast("long").as("score"),
          count(lit(1)).cast("long").as("n_paths"))
      val recs = hop2.join(dirE,
        col("s") === col("a") && col("d") === col("c"), "left_anti")
      recs.select(col("a").as("part_a"), col("c").as("rec_part"),
          col("score"), col("n_paths"))
        .orderBy(col("score").desc, col("part_a"), col("rec_part"))
        .limit(20)
    },

    // Two-factor OLS by normal equations: extended price (cents) on
    // quantity and discount points. Centered second moments from RAW
    // integer sums in DECIMAL(38,0) (n*sum(x*y) exceeds BIGINT at
    // sf0.1 — decimal128 keeps every product exact); only the final
    // solve divides, in mirrored double shape. One scan, no shuffle
    // beyond a scalar aggregate — regression at 100 TB is moment
    // accumulation, not data movement.
    QueryDef(
      "q205_ols_two_factor",
      """WITH t AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y,
        |         CAST(l_quantity AS BIGINT) AS x1,
        |         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2
        |  FROM lineitem
        |), mom AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        |         CAST(SUM(x1) AS DECIMAL(38,0)) AS s1, CAST(SUM(x2) AS DECIMAL(38,0)) AS s2,
        |         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        |         CAST(SUM(x1 * x1) AS DECIMAL(38,0)) AS s11,
        |         CAST(SUM(x2 * x2) AS DECIMAL(38,0)) AS s22,
        |         CAST(SUM(x1 * x2) AS DECIMAL(38,0)) AS s12,
        |         CAST(SUM(x1 * y) AS DECIMAL(38,0)) AS s1y,
        |         CAST(SUM(x2 * y) AS DECIMAL(38,0)) AS s2y
        |  FROM t
        |), c AS (
        |  SELECT n, s1, s2, sy,
        |         CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
        |         CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
        |         CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
        |         CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
        |         CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y
        |  FROM mom
        |)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |       CAST(ROUND((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6) AS DOUBLE) AS beta_qty,
        |       CAST(ROUND((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6) AS DOUBLE) AS beta_disc,
        |       CAST(ROUND((CAST(sy AS DOUBLE)
        |                   - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * CAST(s1 AS DOUBLE)
        |                   - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * CAST(s2 AS DOUBLE))
        |                  / CAST(n AS DOUBLE), 4) AS DOUBLE) AS intercept_cents
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val t = Tables.load(s, dir, "lineitem").select(
        round(col("l_extendedprice") * 100, 0).cast("long").as("y"),
        col("l_quantity").cast("long").as("x1"),
        round(col("l_discount") * 100, 0).cast("long").as("x2"))
      val d38 = DecimalType(38, 0)
      val mom = t.agg(
        count(lit(1)).cast(d38).as("n"),
        sum("x1").cast(d38).as("s1"), sum("x2").cast(d38).as("s2"),
        sum("y").cast(d38).as("sy"),
        sum(col("x1") * col("x1")).cast(d38).as("s11"),
        sum(col("x2") * col("x2")).cast(d38).as("s22"),
        sum(col("x1") * col("x2")).cast(d38).as("s12"),
        sum(col("x1") * col("y")).cast(d38).as("s1y"),
        sum(col("x2") * col("y")).cast(d38).as("s2y"))
      val c = mom.select(col("n"), col("s1"), col("s2"), col("sy"),
        (col("n") * col("s11") - col("s1") * col("s1")).cast("double").as("c11"),
        (col("n") * col("s22") - col("s2") * col("s2")).cast("double").as("c22"),
        (col("n") * col("s12") - col("s1") * col("s2")).cast("double").as("c12"),
        (col("n") * col("s1y") - col("s1") * col("sy")).cast("double").as("c1y"),
        (col("n") * col("s2y") - col("s2") * col("sy")).cast("double").as("c2y"))
      val det = col("c11") * col("c22") - col("c12") * col("c12")
      val b1 = (col("c22") * col("c1y") - col("c12") * col("c2y")) / det
      val b2 = (col("c11") * col("c2y") - col("c12") * col("c1y")) / det
      c.select(col("n").cast("long").as("n_rows"),
        round(b1, 6).cast("double").as("beta_qty"),
        round(b2, 6).cast("double").as("beta_disc"),
        round((col("sy").cast("double") - b1 * col("s1").cast("double") -
          b2 * col("s2").cast("double")) / col("n").cast("double"), 4)
          .cast("double").as("intercept_cents"))
    },

    // Discrete-time churn hazard: offset k (weeks since a user's first
    // event) with at-risk = users whose LAST activity is at offset
    // >= k and churned = exactly k. hazard = churned/at_risk from pure
    // integer counts — the life-table shape that avoids the
    // cumulative-product (Kaplan-Meier) float-ordering trap entirely.
    // One user-keyed reduce + an offset-dimension suffix sum.
    QueryDef(
      "q206_discrete_hazard",
      """WITH span AS (
        |  SELECT user_id,
        |         CAST(DATE_DIFF('day', DATE_TRUNC('week', MIN(ts)), DATE_TRUNC('week', MAX(ts))) // 7
        |              AS BIGINT) AS last_offset
        |  FROM events GROUP BY user_id
        |), byk AS (
        |  SELECT last_offset AS k, CAST(COUNT(*) AS BIGINT) AS churned
        |  FROM span GROUP BY 1
        |)
        |SELECT k, churned,
        |       CAST(SUM(churned) OVER (ORDER BY k DESC) AS BIGINT) AS at_risk,
        |       CAST(ROUND(CAST(churned AS DOUBLE)
        |                  / CAST(SUM(churned) OVER (ORDER BY k DESC) AS DOUBLE), 6)
        |            AS DOUBLE) AS hazard
        |FROM byk ORDER BY k""".stripMargin) { (s, dir) =>
      val span = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(expr("cast(datediff(date_trunc('week', max(ts)), date_trunc('week', min(ts))) div 7 as bigint)")
          .as("last_offset"))
      val byk = span.groupBy(col("last_offset").as("k"))
        .agg(count(lit(1)).cast("long").as("churned"))
      val atRisk = sum("churned").over(Window.orderBy(col("k").desc)).cast("long")
      byk.select(col("k"), col("churned"), atRisk.as("at_risk"),
          round(col("churned").cast("double") / atRisk.cast("double"), 6)
            .cast("double").as("hazard"))
        .orderBy("k")
    },

    // Weekday seasonality profile of order revenue: per weekday, day
    // count, totals, exact per-day mean, revenue share, and the count
    // of outlier days (|day - weekday mean| > 50%, compared as exact
    // integer cross-products — no float thresholds). The weekday
    // dimension is 7 rows at any scale; the day rollup is one shuffle.
    QueryDef(
      "q207_weekday_seasonality",
      """WITH d AS (
        |  SELECT DATE_TRUNC('day', o_orderdate) AS day,
        |         CAST(DAYOFWEEK(o_orderdate) + 1 AS BIGINT) AS wd,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2
        |), w AS (
        |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(cents) AS BIGINT) AS total
        |  FROM d GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(total) AS BIGINT) AS grand FROM w
        |)
        |SELECT w.wd AS weekday, w.n_days, w.total AS total_cents,
        |       CAST(ROUND(CAST(w.total AS DOUBLE) / CAST(w.n_days AS DOUBLE) / 100, 4)
        |            AS DOUBLE) AS mean_day_dollars,
        |       CAST(ROUND(CAST(w.total AS DOUBLE) / CAST(grand AS DOUBLE), 6) AS DOUBLE) AS share,
        |       CAST((SELECT COUNT(*) FROM d
        |             WHERE d.wd = w.wd
        |               AND ABS(d.cents * w.n_days * 2 - w.total * 2) > w.total) AS BIGINT) AS outlier_days
        |FROM w CROSS JOIN tot ORDER BY weekday""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"),
          (dayofweek(col("o_orderdate"))).cast("long").as("wd"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
      val w = d.groupBy("wd")
        .agg(count(lit(1)).cast("long").as("n_days"), sum("cents").cast("long").as("total"))
      val tot = w.agg(sum("total").cast("long").as("grand"))
      val outliers = d.join(w, "wd")
        .filter(abs(col("cents") * col("n_days") * 2 - col("total") * 2) > col("total"))
        .groupBy("wd").agg(count(lit(1)).cast("long").as("outlier_days"))
      w.join(outliers, Seq("wd"), "left").crossJoin(broadcast(tot))
        .select(col("wd").as("weekday"), col("n_days"), col("total").as("total_cents"),
          round(col("total").cast("double") / col("n_days").cast("double") / 100, 4)
            .cast("double").as("mean_day_dollars"),
          round(col("total").cast("double") / col("grand").cast("double"), 6)
            .cast("double").as("share"),
          coalesce(col("outlier_days"), lit(0L)).as("outlier_days"))
        .orderBy("weekday")
    },

    // Exact stratified train split: 80% per language stratum, with the
    // Hamilton largest-remainder bump (q195's kernel applied to
    // sampling) so the GLOBAL train count is exactly
    // floor(0.8*N + 0.5) — hash-mod splits (q60) have binomial
    // variance per stratum; this one is variance-free. Membership is
    // md5-rank-deterministic, so re-ingestion never moves a doc, and
    // the per-stratum id-sum checksum pins every assignment
    // cross-engine.
    QueryDef(
      "q208_stratified_exact_split",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |), st AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |         (CAST(COUNT(*) AS BIGINT) * 8) // 10 AS fl,
        |         (CAST(COUNT(*) AS BIGINT) * 8) % 10 AS rem
        |  FROM d GROUP BY lang
        |), tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(fl) AS BIGINT) AS sf
        |  FROM st
        |), tgt AS (
        |  SELECT st.lang, st.n,
        |         st.fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY st.rem DESC, st.lang)
        |                      <= (tot.nn * 8 + 5) // 10 - tot.sf THEN 1 ELSE 0 END AS n_train
        |  FROM st CROSS JOIN tot
        |)
        |SELECT d.lang, CAST(MAX(t.n) AS BIGINT) AS n_docs,
        |       CAST(MAX(t.n_train) AS BIGINT) AS n_train,
        |       CAST(SUM(CASE WHEN d.rk <= t.n_train THEN d.doc_id ELSE 0 END) AS BIGINT) AS train_id_sum
        |FROM d JOIN tgt t ON t.lang = d.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).as("rk"))
      val st = d.groupBy("lang").agg(count(lit(1)).cast("long").as("n"))
        .select(col("lang"), col("n"),
          expr("(n * 8) div 10").as("fl"), expr("(n * 8) % 10").as("rem"))
      val tot = st.agg(sum("n").cast("long").as("nn"), sum("fl").cast("long").as("sf"))
      val tgt = st.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          (col("fl") + when(
            row_number().over(Window.orderBy(col("rem").desc, col("lang"))) <=
              expr("(nn * 8 + 5) div 10") - col("sf"), 1L).otherwise(0L)).as("n_train"))
      d.join(broadcast(tgt), "lang")
        .groupBy("lang")
        .agg(max("n").cast("long").as("n_docs"),
          max("n_train").cast("long").as("n_train"),
          sum(when(col("rk") <= col("n_train"), col("doc_id")).otherwise(0L))
            .cast("long").as("train_id_sum"))
        .orderBy("lang")
    },

    // Horvitz-Thompson estimation round trip over the q177 PPS sample:
    // estimate the CORPUS DOC COUNT from the ~100 size-weighted picks
    // via 1/pi weights (pi_i = w_i*100/tot). The reciprocal weights
    // are truncated to 1e-6 resolution as integers so the estimator
    // sums are BIGINT-exact — both engines produce the identical
    // estimate, and the relative error column shows the
    // size-debiasing actually works. Sampling at 100 TB IS
    // estimation: this is the audit that closes the loop.
    QueryDef(
      "q209_horvitz_thompson",
      """WITH c AS (
        |  SELECT doc_id, n_chars AS w,
        |         SUM(n_chars) OVER (ORDER BY doc_id) AS cum
        |  FROM documents
        |), t AS (
        |  SELECT CAST(SUM(n_chars) AS BIGINT) AS tot,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents
        |), picks AS (
        |  SELECT doc_id, w FROM c CROSS JOIN t
        |  WHERE (cum * 100) // tot > ((cum - w) * 100) // tot
        |), est AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_picks,
        |         CAST(SUM((CAST(tot AS BIGINT) * 1000000) // (100 * w)) AS BIGINT) AS ht_micro
        |  FROM picks CROSS JOIN t
        |)
        |SELECT est.n_picks, t.n_docs AS true_docs,
        |       CAST(ROUND(CAST(ht_micro AS DOUBLE) / 1000000, 2) AS DOUBLE) AS ht_estimate,
        |       CAST(ROUND((CAST(ht_micro AS DOUBLE) / 1000000 - CAST(t.n_docs AS DOUBLE))
        |                  / CAST(t.n_docs AS DOUBLE), 4) AS DOUBLE) AS rel_err
        |FROM est CROSS JOIN t""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val d = docs.select(col("doc_id"), col("n_chars").cast("long").as("w"),
        (col("doc_id") / 1000L).cast("long").as("__b"))
      val local = d.select(col("doc_id"), col("w"), col("__b"),
        sum("w").over(Window.partitionBy("__b").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("lcum"))
      val offsets = d.groupBy("__b").agg(sum("w").as("bs"))
        .select(col("__b"),
          coalesce(sum("bs").over(Window.orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
      val t = d.agg(sum("w").cast("long").as("tot"),
        count(lit(1)).cast("long").as("n_docs"))
      val picks = local.join(broadcast(offsets), "__b")
        .withColumn("cum", col("lcum") + col("off"))
        .crossJoin(broadcast(t))
        .filter(expr("(cum * 100) div tot > ((cum - w) * 100) div tot"))
      val est = picks.agg(count(lit(1)).cast("long").as("n_picks"),
        sum(expr("(tot * 1000000) div (100 * w)")).cast("long").as("ht_micro"))
      est.crossJoin(broadcast(t))
        .select(col("n_picks"), col("n_docs").as("true_docs"),
          round(col("ht_micro").cast("double") / 1000000, 2)
            .cast("double").as("ht_estimate"),
          round((col("ht_micro").cast("double") / 1000000 - col("n_docs").cast("double")) /
            col("n_docs").cast("double"), 4).cast("double").as("rel_err"))
    }
  )
}
