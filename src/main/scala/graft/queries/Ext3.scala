package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.Column

/** Wave-6 operators: product-analytics shapes every warehouse team runs
  * (cohort retention, anomaly scoring, Markov transitions, streaks,
  * session paths) plus graph/text curation extensions (triangle support
  * on the co-purchase graph, sorted-neighborhood dedup blocking, exact
  * integer tf-icf term ranking).
  *
  * Same determinism contract as Relational.scala: decimal-exact
  * aggregation, identical IEEE double expression shapes on both engines
  * where a ratio is genuinely fractional, total tie-free ORDER BY.
  */
object Ext3 {

  private def dec(c: Column): Column = c.cast(DecimalType(20, 4))

  /** Support-pruned co-purchase pair table (pa < pb, co-count ≥ 2) —
    * built once per (session, dataset) and shared by the triangle
    * (q150) and item-CF (q154) graph queries; cluster form = a
    * bucketed pairs table refreshed at ingest (SCALING.md).
    */
  private[queries] def coPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    TextOps.cachedIndex(IndexCache.key("copairs", s, dir)) {
      val items = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      items.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).cast("long").as("cab"))
        .filter(col("cab") >= 2)
    }

  /** The UNDIRECTED co-purchase edge list (distinct (src, dst) part
    * pairs sharing an order, both directions, no support floor) — the
    * graph q140's PageRank and q179's BFS both traverse. A built-once
    * session index (the coPairs convention): repeated runs in one
    * session pay the distinct self-join exactly once.
    */
  private[queries] def coEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    TextOps.cachedIndex(IndexCache.key("predges", s, dir)) {
      val items = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      items.select(col("l_orderkey"), col("l_partkey").as("src"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("dst")),
          "l_orderkey")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
    }

  /** Node out-degrees over [[coEdges]] — a built-once index in its own
    * right (VERDICT r15 item 5): q140's power iteration reads it every
    * round, and rebuilding + persisting it per query billed one
    * edges-wide aggregate to every q140 run. Node-sized (one row per
    * part), maintained incrementally the same way as predges (new
    * orders contribute degree deltas via one delta aggregate, merged
    * by sum).
    */
  private[queries] def coDegrees(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    TextOps.cachedIndex(IndexCache.key("prdeg", s, dir)) {
      coEdges(s, dir).groupBy("src")
        .agg(count(lit(1)).cast("long").as("deg"))
    }

  val queries: Seq[QueryDef] = Seq(

    // Cohort retention matrix: users grouped by first-activity week,
    // tracked over week offsets. Scale: the (user, week) activity grid
    // and the per-user cohort week share ONE user_id shuffle (distinct
    // then groupBy on the same key — co-partitioned join, no second
    // exchange); the final cohort×offset rollup is tiny. 100 TB: the
    // user dimension is the only big cardinality and it partitions
    // cleanly.
    QueryDef(
      "q146_cohort_retention",
      """WITH wk AS (SELECT DISTINCT user_id, DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY 1)
        |SELECT cohort_week,
        |       CAST(DATE_DIFF('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM wk JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val wk = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val first = wk.groupBy("user_id").agg(min("wk").as("cohort_week"))
      wk.join(first, "user_id")
        .withColumn("week_offset", expr("datediff(wk, cohort_week) div 7").cast("long"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // Rolling z-score anomaly detection over daily purchase revenue:
    // mean/variance from EXACT decimal window sums (sum, sum-of-squares
    // over a 7-day trailing frame), final z in double with the same
    // IEEE expression shape on both engines — correctly-rounded ops on
    // identical operands give identical bits, no stddev-implementation
    // drift. Decimal→double casts are only bit-identical across
    // engines while the unscaled value stays < 2^53 (DuckDB casts via
    // int128→double then divides by 10^scale — two roundings), so the
    // scale-8 sum-of-squares is first ROUNDed to 2 decimals (a decimal
    // op with identical half-up rounding in both engines — NOT a
    // decimal downcast, which DuckDB truncates but Spark rounds)
    // before its cast. The day-grain series is bounded cardinality
    // (like q96's vocabulary rank), so the unpartitioned window is a
    // documented non-issue at 100 TB; the heavy lifting is the
    // map-side-combined daily rollup.
    QueryDef(
      "q147_revenue_anomaly",
      """WITH daily AS (
        |  SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DECIMAL(18,4)) AS rev_d
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), w AS (
        |  SELECT day, rev_d,
        |         COUNT(*) OVER win AS n,
        |         SUM(rev_d) OVER win AS s,
        |         SUM(rev_d * rev_d) OVER win AS sq
        |  FROM daily
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT day, CAST(rev_d AS DOUBLE) AS revenue,
        |       (CAST(rev_d AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |         / SQRT((CAST(ROUND(sq, 2) AS DOUBLE)
        |                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |                / (CAST(n AS DOUBLE) - 1)) AS z
        |FROM w WHERE n >= 3 ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("rev_d"))
      val win = Window.orderBy("day").rowsBetween(-7, -1)
      val d = (c: Column) => c.cast("double")
      daily
        .withColumn("n", count(lit(1)).over(win))
        .withColumn("s", sum(col("rev_d")).over(win))
        .withColumn("sq", sum(col("rev_d") * col("rev_d")).over(win))
        .filter(col("n") >= 3)
        .select(
          col("day"), d(col("rev_d")).as("revenue"),
          ((d(col("rev_d")) - d(col("s")) / d(col("n")))
            / sqrt((d(round(col("sq"), 2))
              - d(col("s")) * d(col("s")) / d(col("n")))
              / (d(col("n")) - 1))).as("z"))
        .orderBy("day")
    },

    // First-order Markov transition matrix over per-user event
    // sequences: one lead window on the user_id×time order, then a
    // grouped count and a per-from-state normalization. p is a single
    // bigint/bigint division in double — deterministic. 100 TB: one
    // user_id shuffle for the window, one tiny (|types|²) aggregate.
    QueryDef(
      "q148_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events
        |), t AS (
        |  SELECT event_type AS from_type, next_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val t = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      t.withColumn("p",
          col("n").cast("double")
            / sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
        .orderBy("from_type", "to_type")
    },

    // Gaps-and-islands: longest consecutive-day activity streak per
    // user (the classic `day - row_number()` island key). 100 TB: the
    // distinct day grid and both windows partition on user_id — one
    // shuffle end-to-end; no self-join formulation.
    QueryDef(
      "q149_activity_streaks",
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT user_id, day,
        |         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        |  FROM d
        |), st AS (
        |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, MAX(streak) AS longest_streak,
        |       CAST(SUM(streak) AS BIGINT) AS active_days
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      d.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).cast("long").as("streak"))
        .groupBy("user_id")
        .agg(max("streak").as("longest_streak"),
          sum("streak").cast("long").as("active_days"))
        .orderBy("user_id")
    },

    // Triangle support on the part co-purchase graph (community
    // cohesion / "frequently bought together" strength). The scale
    // move: SPARSIFY FIRST — keep only edges with co-occurrence
    // support ≥ 2, which empirically holds the candidate graph at
    // ~3k edges across 100× of SF growth (co-baskets get sparser as
    // the catalog grows), then enumerate oriented triangles (a<b<c,
    // each counted once) on the pruned list. Per-order pair fan-out is
    // bounded by basket size; the triangle joins run on a
    // dimension-sized table AQE can broadcast. No all-pairs stage.
    QueryDef(
      "q150_part_triangles",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), tri AS (
        |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.pb = e2.pa
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        |), m AS (
        |  SELECT x AS p FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |)
        |SELECT p AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM m GROUP BY 1 ORDER BY n_tri DESC, p_partkey LIMIT 15""".stripMargin) { (s, dir) =>
      val e = coPairs(s, dir).select("pa", "pb")
      val e1 = e.select(col("pa").as("x"), col("pb").as("y"))
      val e2 = e.select(col("pa").as("y2"), col("pb").as("z"))
      val e3 = e.select(col("pa").as("x3"), col("pb").as("z3"))
      val tri = e1.join(e2, col("y") === col("y2"))
        .join(e3, col("x") === col("x3") && col("z") === col("z3"))
        .select("x", "y", "z")
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("p"))
        .groupBy("p").agg(count(lit(1)).cast("long").as("n_tri"))
        .select(col("p").as("p_partkey"), col("n_tri"))
        .orderBy(col("n_tri").desc, col("p_partkey")).limit(15)
    },

    // Sorted-neighborhood dedup blocking (Hernández–Stolfo SNM): the
    // alternative candidate generator to MinHash banding (q27). Sort
    // documents by a normalized prefix key, compare each row to its
    // next 2 neighbors WITHIN a 4-char block; integer levenshtein on
    // the 64-char prefix keeps both engines bit-agreed. 100 TB: blocks
    // partition the sort (no global window), window state is O(w)=2
    // rows, candidate count is ≤ 2N — linear, never all-pairs.
    QueryDef(
      "q151_snm_candidates",
      """WITH n AS (
        |  SELECT doc_id,
        |         substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 64) AS norm
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, norm, substr(norm, 1, 4) AS blk FROM n
        |), p AS (
        |  SELECT blk, doc_id, norm,
        |         LEAD(doc_id, 1) OVER w AS d1, LEAD(norm, 1) OVER w AS n1,
        |         LEAD(doc_id, 2) OVER w AS d2, LEAD(norm, 2) OVER w AS n2
        |  FROM o WINDOW w AS (PARTITION BY blk ORDER BY norm, doc_id)
        |)
        |SELECT doc_a, doc_b, lev FROM (
        |  SELECT doc_id AS doc_a, d1 AS doc_b,
        |         CAST(levenshtein(norm, n1) AS BIGINT) AS lev
        |  FROM p WHERE d1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, d2, CAST(levenshtein(norm, n2) AS BIGINT)
        |  FROM p WHERE d2 IS NOT NULL
        |) u WHERE lev <= 8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          // punctToSpace normalization in one scan (non-alnum runs ->
          // single space), replacing the regex pass; spec-pinned
          substring(graft.functions.TextExprs
            .normalizeText(col("text"), punctToSpace = true), 1, 64)
            .as("norm"))
        .withColumn("blk", substring(col("norm"), 1, 4))
      val w = Window.partitionBy("blk").orderBy("norm", "doc_id")
      val p = n
        .withColumn("d1", lead(col("doc_id"), 1).over(w))
        .withColumn("n1", lead(col("norm"), 1).over(w))
        .withColumn("d2", lead(col("doc_id"), 2).over(w))
        .withColumn("n2", lead(col("norm"), 2).over(w))
      // bounded form: Spark's 3-arg levenshtein runs the banded
      // O(k·n) DP and returns -1 past the threshold — exact inside it,
      // so the filter keeps identical rows to the unbounded version
      // while long outliers exit early (the kernel that matters when
      // prefixes grow past 64 chars at scale)
      val c1 = p.filter(col("d1").isNotNull)
        .select(col("doc_id").as("doc_a"), col("d1").as("doc_b"),
          levenshtein(col("norm"), col("n1"), 8).cast("long").as("lev"))
      val c2 = p.filter(col("d2").isNotNull)
        .select(col("doc_id").as("doc_a"), col("d2").as("doc_b"),
          levenshtein(col("norm"), col("n2"), 8).cast("long").as("lev"))
      c1.union(c2).filter(col("lev") >= 0).orderBy("doc_a", "doc_b")
    },

    // Top session opening paths (the Sankey/user-journey feed): q33's
    // sessionization, then the first 3 event types pivoted into a
    // '>'-joined path string (pivot-by-rank, not collect_list — order
    // is pinned by the window, and concat_ws drops the NULL steps of
    // short sessions identically in both engines). 100 TB: everything
    // up to the final tiny path rollup partitions on user_id.
    QueryDef(
      "q152_session_paths",
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
        |), m AS (
        |  SELECT *, CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |                 OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sx AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
        |  FROM sx
        |), pth AS (
        |  SELECT user_id, sid,
        |         CONCAT_WS('>', MAX(CASE WHEN rn = 1 THEN event_type END),
        |                        MAX(CASE WHEN rn = 2 THEN event_type END),
        |                        MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM pth GROUP BY path ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val m = Tables.load(s, dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("ns",
          when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L
            || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("sid",
          sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val r = m.withColumn("rn",
        row_number().over(Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")))
      r.groupBy("user_id", "sid")
        .agg(concat_ws(">",
          max(when(col("rn") === 1, col("event_type"))),
          max(when(col("rn") === 2, col("event_type"))),
          max(when(col("rn") === 3, col("event_type")))).as("path"))
        .groupBy("path").agg(count(lit(1)).cast("long").as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(25)
    },

    // Per-language salient terms by tf·icf, with the inverse collection
    // frequency as an EXACT integer surrogate (1e6·N div df — the
    // q139 log-free move taken one step further: rank-equivalent to a
    // reciprocal-df idf, zero float ops anywhere, so the gate compares
    // pure bigints). 100 TB: tf and df are both map-side-combined
    // aggregates over one tokenization pass; df is vocabulary-sized
    // and broadcast into the scoring join; the rank window partitions
    // by language.
    QueryDef(
      "q153_tficf_terms",
      """WITH tok AS (
        |  SELECT doc_id, lang, t AS term
        |  FROM (SELECT doc_id, lang,
        |               unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        |        FROM documents) x
        |  WHERE length(t) >= 3
        |), tf AS (
        |  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
        |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (
        |  SELECT lang, tf.term, tf,
        |         CAST(tf * ((1000000 * n_docs) // df) AS BIGINT) AS score
        |  FROM tf JOIN df ON tf.term = df.term, nd
        |), r AS (
        |  SELECT lang, term, tf, score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term)
        |              AS BIGINT) AS rk
        |  FROM sc
        |)
        |SELECT lang, rk, term, tf, score FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val nDocs = docs.count()
      val tok = docs
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(length(col("term")) >= 3)
      val tf = tok.groupBy("lang", "term").agg(count(lit(1)).cast("long").as("tf"))
      val df = tok.groupBy("term")
        .agg(countDistinct("doc_id").cast("long").as("df"))
      val sc = tf.join(broadcast(df), "term")
        .withColumn("score",
          (col("tf") * expr(s"(1000000L * ${nDocs}L) div df")).cast("long"))
      val rw = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
      sc.withColumn("rk", row_number().over(rw).cast("long"))
        .filter(col("rk") <= 10)
        .select("lang", "rk", "term", "tf", "score")
        .orderBy("lang", "rk")
    },

    // Item-item collaborative filtering over co-purchase baskets
    // (the "customers also bought" neighbor table): cosine similarity
    // c_ij/√(c_i·c_j) carried as its SQUARE in fixed point —
    // floor(1e12·c_ij²/(c_i·c_j)) — so ranking is exact integer math
    // with no sqrt anywhere (rank-equivalent: x↦x² is monotone on
    // non-negative sims). Support ≥ 2 sparsifies the pair table
    // before scoring (same lever as q150). Magnitudes: c_ij ≤ basket
    // co-counts (≤ 10³ even at 100 TB catalog scale), so
    // 1e12·c_ij² < 2^63; beyond that the cluster form is the same
    // expression over DECIMAL(38,0). Top-3 neighbors per item via a
    // pa-partitioned rank window.
    QueryDef(
      "q154_item_cf",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ic AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1),
        |pc AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), sym AS (
        |  SELECT pa, pb, cab FROM pc
        |  UNION ALL SELECT pb, pa, cab FROM pc
        |), sc AS (
        |  SELECT s.pa, s.pb,
        |         CAST((1000000000000 * s.cab * s.cab) // (ia.c * ib.c) AS BIGINT) AS sim2_fp
        |  FROM sym s JOIN ic ia ON ia.l_partkey = s.pa
        |             JOIN ic ib ON ib.l_partkey = s.pb
        |), r AS (
        |  SELECT pa, pb, sim2_fp,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY pa ORDER BY sim2_fp DESC, pb)
        |              AS BIGINT) AS rk
        |  FROM sc
        |)
        |SELECT pa AS p_partkey, rk, pb AS neighbor, sim2_fp
        |FROM r WHERE rk <= 3 ORDER BY p_partkey, rk""".stripMargin) { (s, dir) =>
      val ic = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey")
        .agg(count(lit(1)).cast("long").as("c"))
      val pc = coPairs(s, dir)
      val sym = pc.union(pc.select(col("pb").as("pa"), col("pa").as("pb"), col("cab")))
      val sc2 = sym
        .join(ic.select(col("l_partkey").as("pa"), col("c").as("ca")), "pa")
        .join(ic.select(col("l_partkey").as("pb"), col("c").as("cb")), "pb")
        .withColumn("sim2_fp",
          expr("(1000000000000L * cab * cab) div (ca * cb)").cast("long"))
      val rw = Window.partitionBy("pa").orderBy(col("sim2_fp").desc, col("pb"))
      sc2.withColumn("rk", row_number().over(rw).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("pa").as("p_partkey"), col("rk"), col("pb").as("neighbor"),
          col("sim2_fp"))
        .orderBy("p_partkey", "rk")
    },

    // KMV (k-minimum-values) distinct sketch per event type, next to
    // q38's HLL: hash users with md5, keep the k=32 smallest distinct
    // 52-bit hash fractions, estimate |D| ≈ (k−1)/u_k. 52 bits so the
    // fraction is exact in a double; the estimate is one
    // multiply+divide over identical operands → bit-identical across
    // engines. The exact count rides along to show the sketch error.
    // 100 TB: per-type top-k-smallest is a partial aggregate (each
    // partition keeps its own k smallest, merge keeps k smallest —
    // here expressed as distinct + rank window on the user_id axis);
    // the sketch state is k values per group, constant memory.
    QueryDef(
      "q155_kmv_sketch",
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |), h AS (
        |  SELECT event_type, user_id,
        |         CAST(('0x' || SUBSTR(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))
        |              AS BIGINT) AS v
        |  FROM u
        |), r AS (
        |  SELECT event_type, v,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, user_id) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_exact
        |  FROM h
        |)
        |SELECT event_type, n_exact,
        |       CASE WHEN n_exact < 32 THEN CAST(n_exact AS DOUBLE)
        |            ELSE CAST(31 AS DOUBLE) * 4503599627370496.0 / CAST(v AS DOUBLE)
        |       END AS kmv_est
        |FROM r WHERE rn = CASE WHEN n_exact < 32 THEN n_exact ELSE 32 END
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val u = Tables.load(s, dir, "events")
        .select("event_type", "user_id").distinct()
      val h = u.withColumn("v",
        expr("cast(conv(substring(md5(concat('kmv:', cast(user_id as string))), 1, 13), 16, 10) as bigint)"))
      val r = h
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("v", "user_id")))
        .withColumn("n_exact",
          count(lit(1)).over(Window.partitionBy("event_type")).cast("long"))
      r.filter(col("rn") === when(col("n_exact") < 32, col("n_exact")).otherwise(32))
        .select(col("event_type"), col("n_exact"),
          when(col("n_exact") < 32, col("n_exact").cast("double"))
            .otherwise(lit(31.0) * lit(4503599627370496.0) / col("v").cast("double"))
            .as("kmv_est"))
        .orderBy("event_type")
    },

    // Order-to-ship latency histogram: fixed 7-day buckets clamped to
    // [0, 8] with per-bucket order volume and exact decimal revenue —
    // the latency-distribution profile every fulfillment dashboard
    // draws. The lower clamp also neutralizes the floor-vs-truncate
    // integer-division divergence on negative day diffs (the synthetic
    // data ships some lines before the order date): any negative
    // quotient lands in bucket 0 under either convention. No
    // histogram UDF, no float edges. 100 TB: one orderkey-shuffled
    // join, then a 9-row map-side-combined aggregate.
    QueryDef(
      "q156_latency_histogram",
      """SELECT CAST(GREATEST(LEAST(DATE_DIFF('day', o_orderdate, l_shipdate) // 7, 8), 0)
        |         AS BIGINT) AS bucket_wk,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY bucket_wk""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
      val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_orderdate")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(greatest(least(expr("datediff(l_shipdate, o_orderdate) div 7"), lit(8)), lit(0))
          .cast("long").as("bucket_wk"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
        .orderBy("bucket_wk")
    },

    // Column profiling (the `SUMMARIZE` / dbt-docs statistics shape):
    // per-column row/null/distinct counts and min/max, one UNION
    // branch per profiled column so each branch's scan prunes to that
    // single column (the same intentional multi-branch-scan stance as
    // the funnels — profiling N columns from one scan would force an
    // Expand over the whole row). Values surface as strings for a
    // uniform schema; exact counts only.
    QueryDef(
      "q157_column_profile",
      """SELECT col_name, n_rows, n_null, n_distinct, min_v, max_v FROM (
        |  SELECT 'l_returnflag' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT) AS n_null,
        |         CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_distinct,
        |         CAST(MIN(l_returnflag) AS VARCHAR) AS min_v,
        |         CAST(MAX(l_returnflag) AS VARCHAR) AS max_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
        |         CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
        |         CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT),
        |         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT),
        |         CAST(MIN(l_orderkey) AS VARCHAR), CAST(MAX(l_orderkey) AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'ship_day', CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
        |         CAST(COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT),
        |         CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |         CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR)
        |  FROM lineitem
        |) p ORDER BY col_name""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      def strProfile(name: String, c: Column, distinctOf: Column, minMax: Column) =
        li.agg(
          count(lit(1)).cast("long").as("n_rows"),
          (count(lit(1)) - count(c)).cast("long").as("n_null"),
          countDistinct(distinctOf).cast("long").as("n_distinct"),
          min(minMax).cast("string").as("min_v"),
          max(minMax).cast("string").as("max_v"))
          .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      strProfile("l_returnflag", col("l_returnflag"), col("l_returnflag"), col("l_returnflag"))
        .union(strProfile("l_linestatus", col("l_linestatus"), col("l_linestatus"), col("l_linestatus")))
        .union(strProfile("l_orderkey", col("l_orderkey"), col("l_orderkey"), col("l_orderkey")))
        .union(strProfile("ship_day", col("l_shipdate"),
          col("l_shipdate").cast("date"), col("l_shipdate").cast("date")))
        .orderBy("col_name")
    },

    // Unpivot/melt (B-surface completion next to q36's pivot): wide
    // per-returnflag status counts melted back to (key, value) rows —
    // Spark's native Dataset.unpivot vs DuckDB's UNPIVOT clause.
    // 100 TB: melt is a map-only row expansion over an
    // already-aggregated table; the only shuffle is the 3-group
    // count rollup before it.
    QueryDef(
      "q158_unpivot_status",
      """WITH a AS (
        |  SELECT l_returnflag,
        |         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
        |         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, k, v
        |FROM a UNPIVOT (v FOR k IN (f_cnt, o_cnt))
        |ORDER BY l_returnflag, k""".stripMargin) { (s, dir) =>
      val wide = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_linestatus") === "F", 1).otherwise(0)).cast("long").as("f_cnt"),
          sum(when(col("l_linestatus") === "O", 1).otherwise(0)).cast("long").as("o_cnt"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("f_cnt"), col("o_cnt")),
          "k", "v")
        .orderBy("l_returnflag", "k")
    },

    // Time-interval RANGE window frame (the frame family q54's ROWS
    // frame doesn't cover): per-user trailing 7-DAY spend — the frame
    // boundary is a time interval, so peers-by-timestamp share a
    // value and gaps widen the trailing reach, exactly the
    // rolling-revenue semantics dashboards want. Exact decimal sum
    // inside the frame, cast once. 100 TB: partitions on user_id;
    // range frames cost the same one sort as rows frames.
    QueryDef(
      "q159_range_frame_spend",
      """SELECT user_id, event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
        |         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        |         RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS spend_7d
        |FROM events
        |WHERE event_type = 'purchase' AND user_id < 200
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") < 200)
        .selectExpr("user_id", "event_id",
          """CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
            |  PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
            |  AS spend_7d""".stripMargin)
        .orderBy("user_id", "event_id")
    },

    // Linear multi-touch attribution (the even-split counterpart of
    // q143's last-touch): each purchase divides one credit unit
    // equally across ALL the user's prior touches, by touch type.
    // Per-purchase credit is fixed-point floor(1e6·c_t/n) — exact
    // integers, so the cross-purchase sum is order-independent (the
    // ≤3-millionths floor residual per purchase is the documented
    // price of determinism). Prior-touch counts come from THREE
    // running-count windows over ONE user-ordered pass — no
    // purchase×touch self-join. 100 TB: one user_id shuffle, then a
    // 3-row aggregate.
    QueryDef(
      "q160_linear_attribution",
      """WITH seq AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         COUNT(CASE WHEN event_type = 'view' THEN 1 END)
        |           OVER w AS c_view,
        |         COUNT(CASE WHEN event_type = 'click' THEN 1 END)
        |           OVER w AS c_click,
        |         COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
        |           OVER w AS c_signup
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), p AS (
        |  SELECT c_view, c_click, c_signup,
        |         c_view + c_click + c_signup AS n
        |  FROM seq WHERE event_type = 'purchase'
        |    AND c_view + c_click + c_signup > 0
        |)
        |SELECT touch_type,
        |       CAST(SUM(credit_fp) AS BIGINT) AS credit_fp,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases
        |FROM (
        |  SELECT 'view' AS touch_type, (1000000 * c_view) // n AS credit_fp FROM p WHERE c_view > 0
        |  UNION ALL
        |  SELECT 'click', (1000000 * c_click) // n FROM p WHERE c_click > 0
        |  UNION ALL
        |  SELECT 'signup', (1000000 * c_signup) // n FROM p WHERE c_signup > 0
        |) u GROUP BY touch_type ORDER BY touch_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val seq0 = Tables.load(s, dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("c_view",
          count(when(col("event_type") === "view", 1)).over(w))
        .withColumn("c_click",
          count(when(col("event_type") === "click", 1)).over(w))
        .withColumn("c_signup",
          count(when(col("event_type") === "signup", 1)).over(w))
      val p = seq0.filter(col("event_type") === "purchase")
        .withColumn("n", col("c_view") + col("c_click") + col("c_signup"))
        .filter(col("n") > 0)
      // map-side fan-out from ONE window pass (a union of slices would
      // re-run the scan + window per touch type)
      def sl(t: String, c: String) = struct(lit(t).as("touch_type"),
        expr(s"(1000000L * $c) div n").as("credit_fp"), col(c).as("c"))
      p.select(explode(array(
          sl("view", "c_view"), sl("click", "c_click"), sl("signup", "c_signup")))
          .as("t"))
        .filter(col("t.c") > 0)
        .groupBy(col("t.touch_type").as("touch_type"))
        .agg(sum("t.credit_fp").cast("long").as("credit_fp"),
          count(lit(1)).cast("long").as("n_purchases"))
        .orderBy("touch_type")
    },

    // Funnel conversion timing: quartiles of signup→first-purchase
    // latency in whole seconds (the q53 exact-percentile pattern —
    // integer inputs make the (n−1)·q interpolation an exact binary
    // fraction in both engines). 100 TB: two per-user min-reduces on
    // the user_id axis, then a 1-row percentile over the converter
    // cohort (cohort-sized, not event-sized).
    QueryDef(
      "q161_funnel_timing",
      """WITH s AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS first_purchase_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s.signup_ts
        |  GROUP BY 1
        |), d AS (
        |  SELECT CAST(DATE_DIFF('second', s.signup_ts, p.first_purchase_ts) AS BIGINT)
        |           AS delay_s
        |  FROM s JOIN p ON s.user_id = p.user_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
        |       CAST(quantile_cont(delay_s, 0.25) AS DOUBLE) AS p25_s,
        |       CAST(quantile_cont(delay_s, 0.5) AS DOUBLE) AS median_s,
        |       CAST(quantile_cont(delay_s, 0.75) AS DOUBLE) AS p75_s
        |FROM d""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("signup_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts") >= col("signup_ts"))
        .groupBy("user_id").agg(min("ts").as("first_purchase_ts"))
      su.join(pu, "user_id")
        .select((unix_timestamp(col("first_purchase_ts"))
          - unix_timestamp(col("signup_ts"))).as("delay_s"))
        .agg(
          count(lit(1)).cast("long").as("n_converters"),
          expr("percentile(delay_s, 0.25)").as("p25_s"),
          expr("percentile(delay_s, 0.5)").as("median_s"),
          expr("percentile(delay_s, 0.75)").as("p75_s"))
    },

    // Higher-order array functions as first-class operators (B19
    // depth): filter → transform → aggregate lambdas run inside
    // whole-stage codegen — the idiomatic Spark replacement for a
    // token-stats UDF. All-integer outputs, so the engines compare
    // exactly despite different HOF spellings (Spark
    // filter/transform/aggregate vs DuckDB
    // list_filter/list_transform/list_sum). 100 TB: map-only per row
    // until the per-language rollup.
    QueryDef(
      "q162_array_hof",
      """SELECT lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_long) AS BIGINT) AS long_tokens,
        |       CAST(SUM(long_chars) AS BIGINT) AS long_chars,
        |       CAST(MAX(n_long) AS BIGINT) AS max_long_tokens
        |FROM (
        |  SELECT lang,
        |         len(list_filter(string_split(lower(text), ' '),
        |                         x -> length(x) > 6)) AS n_long,
        |         COALESCE(list_sum(list_transform(
        |           list_filter(string_split(lower(text), ' '),
        |                       x -> length(x) > 6),
        |           x -> length(x))), 0) AS long_chars
        |  FROM documents
        |) d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          expr("size(filter(split(lower(text), ' '), x -> length(x) > 6))")
            .as("n_long"),
          expr("""aggregate(
                 |  transform(filter(split(lower(text), ' '),
                 |                   x -> length(x) > 6),
                 |            x -> length(x)),
                 |  0, (a, x) -> a + x)""".stripMargin).as("long_chars"))
        .groupBy("lang")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_long").cast("long").as("long_tokens"),
          sum("long_chars").cast("long").as("long_chars"),
          max("n_long").cast("long").as("max_long_tokens"))
        .orderBy("lang")
    },

    // Correlated LATERAL join (the top-N-per-group shape as the
    // OPTIMIZER sees it, complementing q11's window formulation):
    // each nation joins its own top-2 customers by balance. Spark
    // plans the correlated LIMIT subquery as a partitioned window
    // under the hood — asserting the SQL surface exists matters for
    // migration parity (dbt models written with LATERAL run
    // unchanged). 100 TB: dimension-driven; the fact side
    // sorts/limits per key, never globally.
    QueryDef(
      "q163_lateral_topn",
      """SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_name, c_acctbal FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
    },

    // Bitmap day-over-day retention (the roaring-bitmap OLAP
    // technique, exact-integer form): users pack into 63-bit bitmap
    // words keyed by (day, user_id div 63); day-over-day retained
    // users = popcount of the worded AND. The bitmap table is
    // |days|×|users|/63 rows — 63× smaller than the (day, user) grid
    // a COUNT(DISTINCT) self-join would shuffle — and "next day's
    // word" comes from a bucket-partitioned lead window over that ONE
    // aggregate (gap-guarded), so there is no self-join and no second
    // scan at all. 63 (not 64) keeps every word positive,
    // sidestepping sign-bit semantics differences. Retention ratio in
    // fixed point — zero floats.
    QueryDef(
      "q164_bitmap_retention",
      """WITH b AS (
        |  SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
        |         user_id // 63 AS bucket,
        |         BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS m
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT day, m,
        |         CASE WHEN LEAD(day) OVER win = day + INTERVAL 1 DAY
        |              THEN LEAD(m) OVER win ELSE 0 END AS m_next
        |  FROM b WINDOW win AS (PARTITION BY bucket ORDER BY day)
        |), j AS (
        |  SELECT day, SUM(BIT_COUNT(m)) AS dau,
        |         SUM(BIT_COUNT(m & m_next)) AS retained
        |  FROM w GROUP BY 1
        |)
        |SELECT day, CAST(dau AS BIGINT) AS dau,
        |       CAST(retained AS BIGINT) AS retained,
        |       CAST((1000000 * retained) // dau AS BIGINT) AS retention_fp
        |FROM j ORDER BY day""".stripMargin) { (s, dir) =>
      val b = Tables.load(s, dir, "events")
        .groupBy(
          date_trunc("day", col("ts")).as("day"),
          expr("user_id div 63").as("bucket"))
        .agg(expr("bit_or(shiftleft(1L, int(user_id % 63)))").as("m"))
      val win = Window.partitionBy("bucket").orderBy("day")
      val w = b
        .withColumn("m_next",
          when(lead(col("day"), 1).over(win) === col("day") + expr("INTERVAL 1 DAY"),
            lead(col("m"), 1).over(win)).otherwise(lit(0L)))
      w.groupBy("day")
        .agg(
          sum(expr("bit_count(m)")).as("dau"),
          sum(expr("bit_count(m & m_next)")).as("retained"))
        .select(col("day"), col("dau").cast("long").as("dau"),
          col("retained").cast("long").as("retained"),
          expr("(1000000L * retained) div dau").cast("long").as("retention_fp"))
        .orderBy("day")
    },

    // Pareto front (skyline query): parts where no strictly cheaper
    // part is at least as large — the classic 2D dominance sweep as a
    // window, NOT the O(n²) anti-join: per-price max sizes, then a
    // running max over strictly-cheaper price groups (the per-price
    // pre-aggregate makes ROWS frames tie-safe where Spark lacks
    // GROUPS frames). The sweep window runs over the PRICE VOCABULARY
    // (price-distinct rows), not the part table; its cluster form is
    // range-partitioned prefix maxima with broadcast per-partition
    // offsets — the standard distributed scan-sweep. All dominance
    // math is integer (size) + ordering (price); zero float
    // arithmetic.
    QueryDef(
      "q165_pareto_front",
      """WITH pp AS (
        |  SELECT p_retailprice AS price, CAST(MAX(p_size) AS BIGINT) AS max_sz
        |  FROM part GROUP BY 1
        |), r AS (
        |  SELECT price, max_sz,
        |         MAX(max_sz) OVER (ORDER BY price
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS best_cheaper
        |  FROM pp
        |)
        |SELECT p.p_partkey, p.p_name, CAST(p.p_retailprice AS DOUBLE) AS price,
        |       CAST(p.p_size AS BIGINT) AS p_size
        |FROM part p JOIN r ON p.p_retailprice = r.price
        |WHERE p.p_size > COALESCE(r.best_cheaper, -1)
        |ORDER BY price, p.p_partkey""".stripMargin) { (s, dir) =>
      val part = Tables.load(s, dir, "part")
      val pp = part.groupBy(col("p_retailprice").as("price"))
        .agg(max("p_size").cast("long").as("max_sz"))
      val sweep = Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = pp.withColumn("best_cheaper", max("max_sz").over(sweep))
      part.join(r, col("p_retailprice") === col("price"))
        .filter(col("p_size") > coalesce(col("best_cheaper"), lit(-1L)))
        .select(col("p_partkey"), col("p_name"),
          col("p_retailprice").cast("double").as("price"),
          col("p_size").cast("long").as("p_size"))
        .orderBy("price", "p_partkey")
    },

    // Incremental co-purchase pair maintenance (the graph-index
    // member of the incremental family beside q67 dedup / q69
    // near-dup / q104 IVF / q112 simhash): co-occurrence pairs derive
    // PER ORDER, so a new-orders delta contributes disjoint pair
    // rows and the index update is one map-side-combined aggregate
    // over the delta plus a pair-keyed merge — never a recount of
    // the base corpus. The gate computes base (orders % 5 != 0) and
    // delta (% 5 = 0) separately, merges, and must equal the oracle's
    // full recount bit-for-bit — an over/under-merged pair breaks
    // the hash. Support filter applied AFTER the merge (pruning
    // before merging would drop pairs whose support crosses the
    // threshold only with the delta).
    QueryDef(
      "q171_incremental_pairs",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |)
        |SELECT pa, pb, cab FROM pc ORDER BY pa, pb""".stripMargin) { (s, dir) =>
      // r16 (guide §2.3/§2.4): the r15 self-join still shuffled the
      // item table twice more (join exchange + SMJ sorts) after the
      // distinct. A pair lives entirely inside one order, so ONE
      // groupBy(l_orderkey) with collect_set does the distinct AND the
      // grouping in a single shuffle; the i<j pairs then expand
      // map-side from the sorted per-order basket via codegen-friendly
      // higher-order functions (no custom expression, no join). The
      // incremental topology is unchanged and still observable: the
      // per-partition pair counts (base orders %5!=0, delta orders
      // %5=0) are built separately by the grouped aggregate and then
      // MERGED by (pa, pb) sum — bit-equal to the oracle's full
      // recount, support filter after the merge as before. Baskets are
      // order-bounded (TPC-H: ≤7 items), so the expansion is O(d²) per
      // order with tiny d — the same bound the self-join had.
      val baskets = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select((col("l_orderkey") % 5 === 0).as("is_delta"),
          explode(expr(
            """flatten(transform(ps, (x, i) ->
              |  transform(slice(ps, i + 2, size(ps) - i - 1),
              |            y -> struct(x as pa, y as pb))))""".stripMargin)).as("p"))
      val pairsByPart = baskets
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"), col("is_delta"))
        .groupBy("pa", "pb", "is_delta")
        .agg(count(lit(1)).cast("long").as("cab"))
      pairsByPart
        .groupBy("pa", "pb").agg(sum("cab").cast("long").as("cab"))
        .filter(col("cab") >= 2)
        .orderBy("pa", "pb")
    },

    // GROUPING() markers on a rollup (B10's remaining observable
    // surface beyond q10/q35's subtotal rows): the marker columns are
    // what lets a consumer distinguish a real NULL group from a
    // subtotal row — exactly the bit BI layers read. All-integer
    // output.
    QueryDef(
      "q172_grouping_markers",
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping("l_returnflag").cast("long").as("g_flag"),
          grouping("l_linestatus").cast("long").as("g_status"),
          count(lit(1)).cast("long").as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("n"))
        .orderBy("flag", "status")
    },

    // Order-tamed array aggregation: top-3 suppliers per nation as a
    // comma-joined key string — collect_list is order-nondeterministic
    // under parallelism, so the array is SORTED (by balance desc, key)
    // before slicing; integer keys stringify identically in both
    // engines. The family every "top-N as array column" feature table
    // needs, in its deterministic form. 100 TB: nation-keyed
    // aggregate, array state bounded by group size (or a rank-window
    // pre-filter caps it — q11's shape — when groups are huge).
    QueryDef(
      "q173_top_suppliers_array",
      """SELECT s_nationkey,
        |       array_to_string(
        |         list_slice(list(s_suppkey ORDER BY s_acctbal DESC, s_suppkey), 1, 3),
        |         ',') AS top3,
        |       CAST(COUNT(*) AS BIGINT) AS n_suppliers
        |FROM supplier
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
          expr("""array_join(
                 |  transform(
                 |    slice(array_sort(collect_list(struct(-s_acctbal AS nb, s_suppkey AS k))), 1, 3),
                 |    x -> cast(x.k AS string)),
                 |  ',')""".stripMargin).as("top3"),
          count(lit(1)).cast("long").as("n_suppliers"))
        .orderBy("s_nationkey")
    },

    // RANK vs DENSE_RANK with real ties (B11 completion — q11/q145
    // use row_number/ntile; tie semantics are the remaining ranking
    // family): top sizes per brand keep ALL tied parts. Integer sizes
    // guarantee ties, so the rank/dense_rank divergence is exercised,
    // not just compiled. 100 TB: brand-partitioned windows.
    QueryDef(
      "q166_rank_ties",
      """SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(RANK() OVER w AS BIGINT) AS rnk,
        |       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size DESC)
        |QUALIFY RANK() OVER w <= 2
        |ORDER BY p_brand, rnk, p_partkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("p_brand").orderBy(col("p_size").desc)
      Tables.load(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .filter(col("rnk") <= 2)
        .orderBy("p_brand", "rnk", "p_partkey")
    },

    // percent_rank + cume_dist (the normalized-rank family): supplier
    // balance position within nation. Both are single integer-ratio
    // divisions in double — (rank−1)/(n−1) and cum/n over identical
    // operands — so the engines agree bitwise. 100 TB:
    // nation-partitioned windows, one shuffle.
    QueryDef(
      "q167_percent_rank",
      """SELECT s_nationkey, s_suppkey,
        |       CAST(s_acctbal AS DOUBLE) AS s_acctbal,
        |       PERCENT_RANK() OVER w AS pr,
        |       CUME_DIST() OVER w AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
      Tables.load(s, dir, "supplier")
        .select(col("s_nationkey"), col("s_suppkey"),
          col("s_acctbal").cast("double").as("s_acctbal"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("s_nationkey", "s_suppkey")
    },

    // MAD (median absolute deviation) robust outlier screen, exact
    // integer form: quantities collapse to a ~50-value vocabulary
    // FIRST, then lower-weighted-median and MAD come from integer
    // cumsum windows over that vocabulary (2·cum ≥ n), and the outlier
    // count (|q − med| > 3·MAD) is a weighted sum over the same
    // vocabulary — ONE fact-table scan, everything downstream
    // vocabulary-sized, zero float ops. The lower-median convention is
    // pinned identically on both sides (no engine percentile
    // interpolation in the loop).
    QueryDef(
      "q168_mad_outliers",
      """WITH c AS (
        |  SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), t AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |w AS (
        |  SELECT c.f, q, n, tot,
        |         CAST(SUM(n) OVER (PARTITION BY c.f ORDER BY q) AS BIGINT) AS cum
        |  FROM c JOIN t ON c.f = t.f
        |), med AS (
        |  SELECT f, MIN(q) AS med FROM w WHERE 2 * cum >= tot GROUP BY f
        |), d AS (
        |  SELECT w.f, ABS(q - med) AS dev, n, tot
        |  FROM w JOIN med ON w.f = med.f
        |), d2 AS (
        |  SELECT f, dev, CAST(SUM(n) AS BIGINT) AS n, MIN(tot) AS tot
        |  FROM d GROUP BY 1, 2
        |), wd AS (
        |  SELECT f, dev, n, tot,
        |         CAST(SUM(n) OVER (PARTITION BY f ORDER BY dev) AS BIGINT) AS cum
        |  FROM d2
        |), mad AS (
        |  SELECT f, MIN(dev) AS mad FROM wd WHERE 2 * cum >= tot GROUP BY f
        |)
        |SELECT d.f AS l_returnflag,
        |       CAST(MIN(med.med) AS BIGINT) AS med,
        |       CAST(MIN(mad.mad) AS BIGINT) AS mad,
        |       CAST(SUM(CASE WHEN d.dev > 3 * mad.mad THEN d.n ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       CAST(MIN(d.tot) AS BIGINT) AS n_rows
        |FROM d JOIN med ON d.f = med.f JOIN mad ON d.f = mad.f
        |GROUP BY d.f ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // r16 (guide §1.2): the distributed work here is exactly ONE
      // fact-table scan + map-side-combined rollup to the (flag,
      // quantity) vocabulary — a BOUNDED DOMAIN (l_quantity is the
      // 1..50 integer grid × |flags|=3 → ≤150 rows, data-volume
      // independent). The previous formulation then ran the
      // med/mad/outlier cascade as 5 joins + 2 windows + persist over
      // those 150 rows — 23 jobs/run of pure coordination. The cascade
      // is now exact integer arithmetic on the collected vocabulary
      // (the q121/Ext9 bounded-collect convention): lower weighted
      // median (2·cum ≥ n), MAD over the |q−med| regrouping, weighted
      // outlier count — bit-identical to the dataframe cascade it
      // replaces because both are the same integer recurrence.
      val c = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("f"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).cast("long").as("n"))
      val vocab = c.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val out = vocab.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, rows) =>
        val byQ = rows.map(r => (r._2, r._3)).sortBy(_._1)
        val tot = byQ.map(_._2).sum
        def lowerWeightedMedian(pairs: Seq[(Long, Long)], total: Long): Long = {
          var cum = 0L
          pairs.find { case (_, n) => cum += n; 2 * cum >= total }.get._1
        }
        val med = lowerWeightedMedian(byQ, tot)
        val devs = byQ.groupBy { case (q, _) => math.abs(q - med) }
          .map { case (dev, ps) => (dev, ps.map(_._2).sum) }.toSeq.sortBy(_._1)
        val mad = lowerWeightedMedian(devs, tot)
        val outliers = devs.collect { case (dev, n) if dev > 3 * mad => n }.sum
        (f, med, mad, outliers, tot)
      }
      import s.implicits._
      s.sparkContext.parallelize(out, 1)
        .toDF("l_returnflag", "med", "mad", "n_outliers", "n_rows")
        .orderBy("l_returnflag")
    },

    // Referential-integrity orphan matrix: every FK edge of the star
    // schema profiled in one report (child rows, orphans, distinct
    // orphan keys) — the data-quality audit behind dbt's
    // `relationships` test, surfaced as an analytical operator. One
    // anti-join per edge, each scanning only its two key columns
    // (pruned), parent sides broadcast-able dimension keys. Exact
    // counts only.
    QueryDef(
      "q169_fk_orphan_matrix",
      """SELECT fk, n_child, n_orphan, n_orphan_keys FROM (
        |  SELECT 'customer.nation' AS fk,
        |         CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_child,
        |         CAST(COUNT(*) AS BIGINT) AS n_orphan,
        |         CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_orphan_keys
        |  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |  UNION ALL
        |  SELECT 'supplier.nation',
        |         CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(DISTINCT s_nationkey) AS BIGINT)
        |  FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |  UNION ALL
        |  SELECT 'lineitem.orders',
        |         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'lineitem.part',
        |         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        |  FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        |  UNION ALL
        |  SELECT 'orders.customer',
        |         CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT),
        |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |) m ORDER BY fk""".stripMargin) { (s, dir) =>
      // r16 (guide §2.4): one LEFT join per edge replaces the previous
      // count() action + anti-join pair — parent keys are primary keys
      // (unique, non-null), so the left join keeps exactly one row per
      // child row and `parent IS NULL` marks the orphans; n_child,
      // n_orphan and n_orphan_keys all come out of ONE aggregate over
      // that join (was: a driver count job + a separate anti-join agg
      // per edge — 25 jobs/run for a 5-row report)
      def edge(fkName: String, child: String, childKey: String,
          parent: String, parentKey: String) = {
        val joined = Tables.load(s, dir, child).select(col(childKey))
          .join(Tables.load(s, dir, parent).select(col(parentKey)),
            col(childKey) === col(parentKey), "left")
        joined.agg(
          count(lit(1)).cast("long").as("n_child"),
          count(when(col(parentKey).isNull, lit(1))).cast("long").as("n_orphan"),
          countDistinct(when(col(parentKey).isNull, col(childKey)))
            .cast("long").as("n_orphan_keys"))
          .select(lit(fkName).as("fk"), col("n_child"),
            col("n_orphan"), col("n_orphan_keys"))
      }
      edge("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey")
        .union(edge("supplier.nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .union(edge("lineitem.orders", "lineitem", "l_orderkey", "orders", "o_orderkey"))
        .union(edge("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"))
        .union(edge("orders.customer", "orders", "o_custkey", "customer", "c_custkey"))
        .orderBy("fk")
    },

    // KMV sketch ALGEBRA (q155 taken to set operations): audience
    // overlap between viewers and purchasers estimated from k-minimum
    // hash values — |A∪B| from the k smallest of the merged distinct
    // hash set (the k-mins of a union live in the union of the
    // k-mins, so the merge is sketch-sized at scale), |A∩B| by
    // inclusion–exclusion over the three estimates. 52-bit fractions
    // keep every estimate one exact-operand division; the
    // add/subtract chain is the same on both sides → bit-identical.
    // Exact overlap rides along to show sketch error. The audience-
    // overlap question at 100 TB: three constant-size sketches, no
    // set join.
    QueryDef(
      "q170_kmv_overlap",
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |  WHERE event_type IN ('view', 'purchase')
        |), h AS (
        |  SELECT event_type, user_id,
        |         CAST(('0x' || SUBSTR(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13))
        |              AS BIGINT) AS v
        |  FROM u
        |), est AS (
        |  SELECT s, CASE WHEN MAX(n) < 64 THEN CAST(MAX(n) AS DOUBLE)
        |                 ELSE CAST(63 AS DOUBLE) * 4503599627370496.0
        |                      / CAST(MAX(CASE WHEN rn = 64 THEN v END) AS DOUBLE)
        |            END AS est
        |  FROM (
        |    SELECT s, v,
        |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY v, user_id) AS rn,
        |           COUNT(*) OVER (PARTITION BY s) AS n
        |    FROM (
        |      SELECT event_type AS s, user_id, v FROM h
        |      UNION ALL
        |      SELECT 'union', user_id, MIN(v) FROM h GROUP BY user_id
        |    ) sets
        |  ) r WHERE rn <= 64 GROUP BY s
        |), x AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM (
        |    SELECT user_id FROM h GROUP BY user_id HAVING COUNT(*) = 2
        |  ) b
        |)
        |SELECT
        |  (SELECT est FROM est WHERE s = 'view') AS est_view,
        |  (SELECT est FROM est WHERE s = 'purchase') AS est_purchase,
        |  (SELECT est FROM est WHERE s = 'union') AS est_union,
        |  (SELECT est FROM est WHERE s = 'view')
        |    + (SELECT est FROM est WHERE s = 'purchase')
        |    - (SELECT est FROM est WHERE s = 'union') AS est_overlap,
        |  exact_overlap
        |FROM x""".stripMargin) { (s, dir) =>
      val h = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id").distinct()
        .withColumn("v",
          expr("cast(conv(substring(md5(concat('kmv:', cast(user_id as string))), 1, 13), 16, 10) as bigint)"))
      val sets = h.select(col("event_type").as("s"), col("user_id"), col("v"))
        .union(h.groupBy("user_id").agg(min("v").as("v"))
          .select(lit("union").as("s"), col("user_id"), col("v")))
      val r = sets
        .withColumn("rn", row_number().over(
          Window.partitionBy("s").orderBy("v", "user_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("s")))
        .filter(col("rn") <= 64)
      val est = r.groupBy("s").agg(
        when(max("n") < 64, max("n").cast("double"))
          .otherwise(lit(63.0) * lit(4503599627370496.0)
            / max(when(col("rn") === 64, col("v"))).cast("double"))
          .as("est"))
      val exact = h.groupBy("user_id").agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .agg(count(lit(1)).cast("long").as("exact_overlap"))
      val e = est.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
      exact.select(
        lit(e("view")).as("est_view"),
        lit(e("purchase")).as("est_purchase"),
        lit(e("union")).as("est_union"),
        lit(e("view") + e("purchase") - e("union")).as("est_overlap"),
        col("exact_overlap"))
    },

    // RECURSIVE CTE equivalence (B14 completion): Spark 4 has no
    // WITH RECURSIVE; the engine's answer is Iterative.fixpointRoundCounts
    // — bounded frontier iteration with per-round persist/unpersist (the
    // pattern q48/q140 hand-roll, packaged). Oracle-gated against
    // DuckDB's REAL recursive CTE on the same decade-tree over order
    // keys (parent = k div 10), so the equivalence is hash-checked,
    // not asserted. 100 TB: rounds are bounded by key digits (~7);
    // each round is one shuffle-join against a broadcast frontier
    // aggregate — no driver-side row iteration.
    QueryDef(
      "q174_recursive_depth",
      """WITH RECURSIVE d AS (
        |  SELECT o_orderkey AS k, 0 AS depth FROM orders WHERE o_orderkey < 10
        |  UNION ALL
        |  SELECT o.o_orderkey, d.depth + 1
        |  FROM orders o JOIN d ON o.o_orderkey // 10 = d.k
        |  WHERE o.o_orderkey >= 10
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
      val keys = Tables.load(s, dir, "orders").select(col("o_orderkey").as("k"))
      val init = keys.filter(col("k") < 10).withColumn("depth", lit(0L))
      // r16 (guide §1.2/§2.4): every row in round r has depth == r by
      // construction (each step adds exactly 1), so the final
      // GROUP BY depth is the per-round frontier count the fixpoint
      // loop ALREADY computes for its convergence test. Reusing those
      // counts drops the union-of-rounds persist + recount + aggregate
      // + collect tail (33 jobs/run → the per-round joins only); the
      // recursion itself — one distributed join per round — is
      // unchanged, and the result rows are identical.
      val counts = Iterative.fixpointRoundCounts(init, maxRounds = 24) { frontier =>
        keys.filter(col("k") >= 10).as("c")
          .join(frontier.select(col("k").as("pk"), col("depth")),
            expr("k div 10") === col("pk"))
          .select(col("k"), (col("depth") + 1).as("depth"))
      }
      val out = counts.zipWithIndex.map { case (n, r) => (r.toLong, n) }
        .filter(_._2 > 0)
      import s.implicits._
      s.sparkContext.parallelize(out, 1).toDF("depth", "n")
        .select(col("depth").cast("long").as("depth"), col("n").cast("long").as("n"))
        .orderBy("depth")
    }
  )
}

/** Recursive-CTE evaluation for Spark (B14): UNION-ALL semantics via
  * bounded frontier iteration. Each round materializes the new
  * frontier (persist + count — also the emptiness test), feeds it to
  * the next step, and unpersists the previous round, so executor
  * memory stays one-frontier-deep and the lineage never compounds.
  * This is the documented replacement for DuckDB `WITH RECURSIVE`
  * (oracle-equivalence gated by q174): the step is declarative
  * DataFrame code, the loop is driver-side control flow only — no
  * collect of row data.
  */
object Iterative {
  import org.apache.spark.sql.DataFrame

  /** The caller only needs each round's ROW COUNT (q174: every row of
    * round r is depth r, so the counts ARE the depth histogram). The
    * convergence-test count per round is the only action; no union, no
    * recount, no lingering cache — each round unpersists as soon as the
    * next is materialized, and the last one on every exit, a failed
    * step or a non-converging loop included. Returns the per-round
    * counts (round 0 = init).
    */
  def fixpointRoundCounts(init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): Seq[Long] = {
    var frontier = init.persist()
    try {
      var n = frontier.count()
      val counts = scala.collection.mutable.Buffer[Long](n)
      var i = 0
      while (n > 0 && i < maxRounds) {
        val next = step(frontier).persist()
        try n = next.count()
        finally { frontier.unpersist(); frontier = next }
        if (n > 0) counts += n
        i += 1
      }
      require(n == 0, s"fixpoint did not converge within $maxRounds rounds")
      counts.toSeq
    } finally frontier.unpersist()
  }
}
