package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wave-9 operators (round-6 third session): corpus-drift, inequality,
  * data-quality, experimentation, and allocation kernels.
  *
  *  - q190: per-source KL divergence of token distributions vs the
  *    whole corpus — the distribution-shift audit a data-mixing
  *    pipeline runs before reweighting sources (reference: the drift
  *    family q176/q178 measure a column; this measures the *text*).
  *  - q191: Gini coefficient + CR4 concentration of customer revenue
  *    per nation — inequality/concentration profiling with
  *    partitioned-rank closed form (no global sort).
  *  - q192: Benford first-digit audit with chi-square contributions —
  *    the fraud/synthetic-data smell test over order totals.
  *  - q193: hash-split A/B conversion lift with a two-proportion
  *    z-statistic — deterministic variant assignment (the q186 md5
  *    convention) so both engines draw identical experiment arms.
  *  - q194: degree assortativity of the co-purchase graph (Pearson r
  *    over directed-edge endpoint degrees) — reuses the shared
  *    support-pruned pair cache from q150/q154.
  *  - q195: largest-remainder (Hamilton) allocation of order totals
  *    across lineitems — penny-exact proration where every order's
  *    allocated cents sum EXACTLY to the order's cents; the checksum
  *    column pins each individual line's allocation cross-engine.
  *  - q196: time-weighted average event value per user (TWAP) —
  *    duration-weighted mean over irregular event spacing.
  *
  * Determinism contract (same as Ext3/Ext4): integer/decimal-exact
  * partial sums below 2^53 wherever a double is eventually formed,
  * BIGINT-scaled LN terms (q183 convention), identical IEEE expression
  * shapes on both engines, total tie-free ORDER BY.
  */
object Ext6 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- Count-min sketch kernel (q197 + the streaming maintainer) ----

  /** Row-j bucket of key k: 16 md5 bits mod 256 — identical on any
    * engine that can md5 a string, so sketches built by different
    * systems merge.
    */
  private[graft] def cmsBucketExpr(jCol: String, kCol: String) =
    expr(s"cast(conv(substring(md5(concat(cast($jCol as string), ':', cast($kCol as string))), 1, 4), 16, 10) as bigint) % 256")

  /** d=4 x w=256 cell-count deltas for one batch of keys. Deltas are
    * additive under ANY partitioning of the source (they are counts),
    * so a streaming maintainer can append per-micro-batch deltas and
    * serving folds them — the same shape as the PSI drift monitor.
    * Keys are counted BEFORE hashing: the 4 row-hashes run once per
    * distinct key (weighted by its count), not once per raw row —
    * hash work is key-dimension-sized, and the partial count
    * aggregate combines map-side.
    */
  private[graft] def cmsCellDeltas(keys: DataFrame, keyCol: String): DataFrame =
    keys.groupBy(col(keyCol).as("k")).agg(count(lit(1)).cast("long").as("c"))
      .withColumn("j", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", cmsBucketExpr("j", "k"))
      .groupBy("j", "bucket").agg(sum("c").cast("long").as("cell"))

  /** Hamilton (largest-remainder) proration kernel shared by q195 and
    * the PropertySpec invariant test: distribute `order_cents` across
    * the order's lines proportionally to `ext_cents`, floor the exact
    * rational share, bump the largest remainders (tie: line number) so
    * the per-order sum is EXACT. Scale-honest topology: both inputs
    * are facts, so the join shuffles on the order key (shuffle_hash
    * hint — the optimizer otherwise broadcasts a fact-derived hashed
    * relation under a generous threshold, impossible at cluster
    * scale), order totals come from an unordered window over the SAME
    * partitioning, and the rank + floor-sum share one sorted window
    * pass. Total wire cost: one orderkey exchange per input + two
    * in-partition sorts.
    *
    * Output: (l_orderkey, l_linenumber, shortfall, rr, cents).
    */
  private[graft] def hamiltonAllocate(li: DataFrame, o: DataFrame): DataFrame = {
    val base = li.join(o.hint("shuffle_hash"),
      col("o_orderkey") === col("l_orderkey"))
    val wOrd = Window.partitionBy("l_orderkey")
    val fl = base
      .withColumn("tot_ext", sum("ext_cents").over(wOrd).cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"), col("order_cents"),
        expr("(order_cents * ext_cents) div tot_ext").as("fl_cents"),
        expr("(order_cents * ext_cents) % tot_ext").as("rem"))
    val wRank = Window.partitionBy("l_orderkey")
      .orderBy(col("rem").desc, col("l_linenumber"))
    val wAll = wRank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fl.select(col("l_orderkey"), col("l_linenumber"), col("fl_cents"),
        (col("order_cents") - sum("fl_cents").over(wAll).cast("long")).as("shortfall"),
        row_number().over(wRank).as("rr"))
      .select(col("l_orderkey"), col("l_linenumber"), col("shortfall"), col("rr"),
        (col("fl_cents") + when(col("rr") <= col("shortfall"), 1L).otherwise(0L)).as("cents"))
  }

  /** Point estimates for probe keys (column `k`) against folded cells:
    * min over the 4 row-buckets; >= truth by construction. The folded
    * sketch is at most 1024 rows — always broadcast.
    */
  private[graft] def cmsEstimates(cells: DataFrame, probes: DataFrame): DataFrame = {
    val folded = cells.groupBy("j", "bucket").agg(sum("cell").cast("long").as("cell"))
    probes.withColumn("j", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", cmsBucketExpr("j", "k"))
      .join(broadcast(folded), Seq("j", "bucket"))
      .groupBy("k").agg(min("cell").cast("long").as("cms_estimate"))
  }

  val queries: Seq[QueryDef] = Seq(

    // Per-source token-distribution KL divergence vs the corpus.
    // Scale shape: ONE tokenize scan -> (source, w) counts; the global
    // w-marginal and source totals re-aggregate those counts (no second
    // scan of text). The only large shuffle is the (source,w) groupBy;
    // the w-join against the global marginal is vocab-sized. ln terms
    // are BIGINT-scaled (x1e4, q183 convention) so the weighted sum is
    // integer-exact; c*ng and ns*cg stay < 2^53 at any realistic SF
    // (token counts, not byte counts).
    QueryDef(
      "q190_source_kl_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        |), sw AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), st AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sw GROUP BY 1
        |), gw AS (
        |  SELECT w, CAST(SUM(c) AS BIGINT) AS cg FROM sw GROUP BY 1
        |), gt AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS ng FROM sw
        |), terms AS (
        |  SELECT sw.source, st.ns,
        |         sw.c * CAST(ROUND(LN((CAST(sw.c AS DOUBLE) * CAST(ng AS DOUBLE))
        |                              / (CAST(st.ns AS DOUBLE) * CAST(cg AS DOUBLE))) * 10000, 0)
        |                     AS BIGINT) AS t,
        |         sw.c
        |  FROM sw JOIN st USING (source) JOIN gw USING (w) CROSS JOIN gt
        |)
        |SELECT source,
        |       CAST(MAX(ns) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_types,
        |       CAST(ROUND(CAST(SUM(t) AS DOUBLE) / (CAST(MAX(ns) AS DOUBLE) * 10000), 6)
        |            AS DOUBLE) AS kl_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val sw = tok.groupBy("source", "w").agg(count(lit(1)).cast("long").as("c"))
      val st = sw.groupBy("source").agg(sum("c").cast("long").as("ns"))
      val gw = sw.groupBy("w").agg(sum("c").cast("long").as("cg"))
      val gt = sw.agg(sum("c").cast("long").as("ng"))
      val terms = sw.join(st, "source").join(gw, "w").crossJoin(broadcast(gt))
        .select(col("source"), col("ns"),
          (col("c") * round(log((col("c").cast("double") * col("ng").cast("double")) /
            (col("ns").cast("double") * col("cg").cast("double"))) * 10000, 0).cast("long")).as("t"))
      terms.groupBy("source")
        .agg(max("ns").cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_types"),
          round(sum("t").cast("double") / (max("ns").cast("double") * 10000), 6)
            .cast("double").as("kl_nats"))
        .orderBy("source")
    },

    // Gini coefficient + CR4 of customer revenue inside each nation.
    // Gini via the rank closed form G = 2*sum(rk*x)/(n*sum(x)) - (n+1)/n
    // over cents (BIGINT-exact products; swapping ranks among equal
    // cents leaves the sum unchanged, so ties cannot flap the hash).
    // Scale: rank windows are PARTITIONED by nation — no global sort;
    // the customer-revenue rollup is one o_custkey shuffle.
    QueryDef(
      "q191_nation_gini",
      """WITH rev AS (
        |  SELECT c.c_nationkey AS nationkey, o.o_custkey,
        |         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT nationkey, o_custkey, cents,
        |         ROW_NUMBER() OVER (PARTITION BY nationkey ORDER BY cents, o_custkey) AS rk,
        |         ROW_NUMBER() OVER (PARTITION BY nationkey ORDER BY cents DESC, o_custkey) AS dr
        |  FROM rev
        |), agg AS (
        |  SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS tot,
        |         CAST(SUM(rk * cents) AS BIGINT) AS rc,
        |         CAST(SUM(CASE WHEN dr <= 4 THEN cents ELSE 0 END) AS BIGINT) AS t4
        |  FROM rk GROUP BY 1
        |)
        |SELECT n.n_name AS nation, a.n AS n_customers, a.tot AS total_cents,
        |       CAST(ROUND(2.0 * CAST(a.rc AS DOUBLE) / (CAST(a.n AS DOUBLE) * CAST(a.tot AS DOUBLE))
        |                  - (CAST(a.n AS DOUBLE) + 1.0) / CAST(a.n AS DOUBLE), 6) AS DOUBLE) AS gini,
        |       CAST(ROUND(CAST(a.t4 AS DOUBLE) / CAST(a.tot AS DOUBLE), 6) AS DOUBLE) AS cr4
        |FROM agg a JOIN nation n ON n.n_nationkey = a.nationkey
        |ORDER BY nation""".stripMargin) { (s, dir) =>
      val rev = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey").as("nationkey"), col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
      val w = Window.partitionBy("nationkey")
      val rk = rev.select(col("nationkey"), col("o_custkey"), col("cents"),
        row_number().over(w.orderBy(col("cents"), col("o_custkey"))).as("rk"),
        row_number().over(w.orderBy(col("cents").desc, col("o_custkey"))).as("dr"))
      val agg = rk.groupBy("nationkey")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("cents").cast("long").as("tot"),
          sum(col("rk") * col("cents")).cast("long").as("rc"),
          sum(when(col("dr") <= 4, col("cents")).otherwise(lit(0L))).cast("long").as("t4"))
      agg.join(broadcast(Tables.load(s, dir, "nation")),
          col("n_nationkey") === col("nationkey"))
        .select(col("n_name").as("nation"), col("n").as("n_customers"),
          col("tot").as("total_cents"),
          round(lit(2.0) * col("rc").cast("double") /
            (col("n").cast("double") * col("tot").cast("double")) -
            (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 6)
            .cast("double").as("gini"),
          round(col("t4").cast("double") / col("tot").cast("double"), 6)
            .cast("double").as("cr4"))
        .orderBy("nation")
    },

    // Benford first-digit audit over order totals: observed counts vs
    // the log10(1+1/d) expectation, with per-digit chi-square
    // contributions. First digit via integer->string (no log-edge
    // flakiness near powers of ten). Map-only + a 9-row aggregate —
    // trivially scale-free.
    QueryDef(
      "q192_benford_audit",
      """WITH d AS (
        |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1
        |), obs AS (
        |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed FROM d GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(observed) AS BIGINT) AS total FROM obs
        |)
        |SELECT digit, observed,
        |       CAST(ROUND(CAST(total AS DOUBLE) * LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4)
        |            AS DOUBLE) AS expected,
        |       CAST(ROUND(POWER(CAST(observed AS DOUBLE)
        |                        - CAST(total AS DOUBLE) * LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 2)
        |                  / (CAST(total AS DOUBLE) * LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 4)
        |            AS DOUBLE) AS chi2_term
        |FROM obs CROSS JOIN tot ORDER BY digit""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
      val obs = d.groupBy("digit").agg(count(lit(1)).cast("long").as("observed"))
      val tot = obs.agg(sum("observed").cast("long").as("total"))
      val exp = col("total").cast("double") *
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
      obs.crossJoin(broadcast(tot))
        .select(col("digit"), col("observed"),
          round(exp, 4).cast("double").as("expected"),
          round(pow(col("observed").cast("double") - exp, 2) / exp, 4)
            .cast("double").as("chi2_term"))
        .orderBy("digit")
    },

    // Hash-split A/B test: deterministic md5-parity variant per user
    // (q186 convention — both engines draw identical arms and the split
    // never moves on re-ingestion), conversion = a high-value purchase
    // (value > 200 — every user has SOME purchase in this data, which
    // would degenerate the pooled p to 1 and the z to 0/0), pooled
    // two-proportion z. One user-keyed aggregate then a 2-row fold —
    // the entire experiment readout is one shuffle.
    QueryDef(
      "q193_ab_conversion",
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) % 2 AS variant,
        |         MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), v AS (
        |  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS k0,
        |         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS k1
        |  FROM u
        |)
        |SELECT n0 AS n_control, k0 AS conv_control, n1 AS n_treat, k1 AS conv_treat,
        |       CAST(ROUND(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |                  - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS DOUBLE) AS lift_abs,
        |       CAST(ROUND((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |                   - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |                  / SQRT((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |                         * (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |                         * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 4)
        |            AS DOUBLE) AS z_score
        |FROM v""".stripMargin) { (s, dir) =>
      val u = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 200, 1)
          .otherwise(0)).as("conv"))
        .withColumn("variant",
          expr("cast(conv(substring(md5(cast(user_id as string)), 1, 2), 16, 10) as bigint)") % 2)
      val v = u.agg(
        sum(when(col("variant") === 0, 1).otherwise(0)).cast("long").as("n0"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0)).cast("long").as("k0"),
        sum(when(col("variant") === 1, 1).otherwise(0)).cast("long").as("n1"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0)).cast("long").as("k1"))
      val p0 = col("k0").cast("double") / col("n0").cast("double")
      val p1 = col("k1").cast("double") / col("n1").cast("double")
      val pp = (col("k0") + col("k1")).cast("double") / (col("n0") + col("n1")).cast("double")
      v.select(col("n0").as("n_control"), col("k0").as("conv_control"),
        col("n1").as("n_treat"), col("k1").as("conv_treat"),
        round(p1 - p0, 6).cast("double").as("lift_abs"),
        round((p1 - p0) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double"))), 4)
          .cast("double").as("z_score"))
    },

    // Degree assortativity of the co-purchase graph: Pearson r of
    // endpoint degrees over directed edges. Reuses the shared
    // support-pruned pair cache (q150/q154) — the n² pair space never
    // materializes; degrees are one groupBy over the pruned edges, and
    // the moment sums are BIGINT-exact (only the final sqrt forms
    // doubles). Assortativity < 0 here = hubs attach to leaves.
    QueryDef(
      "q194_degree_assortativity",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS cab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), dir AS (
        |  SELECT pa AS s, pb AS d FROM pairs UNION ALL SELECT pb AS s, pa AS d FROM pairs
        |), deg AS (
        |  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM dir GROUP BY 1
        |), ed AS (
        |  SELECT ds.deg AS x, dd.deg AS y
        |  FROM dir JOIN deg ds ON ds.node = dir.s JOIN deg dd ON dd.node = dir.d
        |), mom AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM ed
        |)
        |SELECT n AS n_directed_edges,
        |       CAST(ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS DOUBLE) AS avg_edge_degree,
        |       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |                  / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |            AS DOUBLE) AS assortativity
        |FROM mom""".stripMargin) { (s, dir) =>
      val pairs = Ext3.coPairs(s, dir)
      val dirEdges = pairs.select(col("pa").as("s"), col("pb").as("d"))
        .unionAll(pairs.select(col("pb").as("s"), col("pa").as("d")))
      val deg = dirEdges.groupBy(col("s").as("node"))
        .agg(count(lit(1)).cast("long").as("deg"))
      val ed = dirEdges
        .join(deg.select(col("node"), col("deg").as("x")), col("node") === col("s")).drop("node")
        .join(deg.select(col("node"), col("deg").as("y")), col("node") === col("d")).drop("node")
      val mom = ed.agg(count(lit(1)).cast("long").as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      mom.select(col("n").as("n_directed_edges"),
        round(col("sx").cast("double") / col("n").cast("double"), 4)
          .cast("double").as("avg_edge_degree"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .cast("double").as("assortativity"))
    },

    // Largest-remainder (Hamilton) allocation: prorate each order's
    // total cents across its lineitems by extended-price share so the
    // per-order allocated cents sum EXACTLY to the order's cents —
    // floor the exact rational share, then bump the lines with the
    // largest remainders (tie: line number). All arithmetic is integer
    // (order_cents*ext_cents < 2^53 at any SF since both are per-row
    // magnitudes); the checksum pins every line's final cents
    // cross-engine, and shortfall ∈ [0, lines_per_order) by
    // construction. Scale: per-order windows only — partitions by the
    // natural key, no global sort.
    QueryDef(
      "q195_largest_remainder_alloc",
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS ext_cents
        |  FROM lineitem
        |), o AS (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS order_cents
        |  FROM orders
        |), base AS (
        |  SELECT li.l_orderkey, li.l_linenumber, o.order_cents, li.ext_cents,
        |         CAST(SUM(li.ext_cents) OVER (PARTITION BY li.l_orderkey) AS BIGINT) AS tot_ext
        |  FROM li JOIN o ON o.o_orderkey = li.l_orderkey
        |), fl AS (
        |  SELECT l_orderkey, l_linenumber, order_cents,
        |         (order_cents * ext_cents) // tot_ext AS fl_cents,
        |         (order_cents * ext_cents) % tot_ext AS rem
        |  FROM base
        |), need AS (
        |  SELECT l_orderkey, l_linenumber, fl_cents,
        |         order_cents - CAST(SUM(fl_cents) OVER (PARTITION BY l_orderkey) AS BIGINT) AS shortfall,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rr
        |  FROM fl
        |), alloc AS (
        |  SELECT l_orderkey, l_linenumber, shortfall,
        |         fl_cents + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END AS cents
        |  FROM need
        |)
        |SELECT CAST(shortfall AS BIGINT) AS bumped_lines,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       CAST(SUM(cents) AS BIGINT) AS alloc_cents,
        |       CAST(SUM(cents * l_linenumber) AS BIGINT) AS alloc_checksum
        |FROM alloc GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("ext_cents"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("order_cents"))
      val alloc = hamiltonAllocate(li, o)
      // orders per shortfall group = rr==1 rows (exactly one per order;
      // shortfall is order-constant) — no countDistinct Expand over the
      // full lineitem fact
      alloc.groupBy(col("shortfall").cast("long").as("bumped_lines"))
        .agg(sum(when(col("rr") === 1, 1L).otherwise(0L)).cast("long").as("n_orders"),
          sum("cents").cast("long").as("alloc_cents"),
          sum(col("cents") * col("l_linenumber")).cast("long").as("alloc_checksum"))
        .orderBy("bumped_lines")
    },

    // Time-weighted average event value per user: each reading holds
    // until the next event (step interpolation), weight = seconds to
    // the successor (q109's microsecond-diff convention, floored to
    // seconds). Integer cents×duration sums stay exact; per-user
    // windows partition on the natural key.
    QueryDef(
      "q196_user_twap",
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events WHERE value IS NOT NULL
        |), d AS (
        |  SELECT user_id, cents,
        |         CAST(DATE_DIFF('microseconds', ts, nxt) // 1000000 AS BIGINT) AS dur
        |  FROM e WHERE nxt IS NOT NULL
        |)
        |SELECT user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |       CAST(SUM(dur) AS BIGINT) AS span_s,
        |       CAST(ROUND(CAST(SUM(cents * dur) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE) / 100, 4)
        |            AS DOUBLE) AS twap
        |FROM d GROUP BY user_id HAVING SUM(dur) > 0
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val e = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
      val d = e.filter(col("nxt").isNotNull)
        .select(col("user_id"), col("cents"),
          expr("(unix_micros(nxt) - unix_micros(ts)) div 1000000").cast("long").as("dur"))
      d.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_intervals"),
          sum("dur").cast("long").as("span_s"),
          round(sum(col("cents") * col("dur")).cast("double") /
            sum("dur").cast("double") / 100, 4).cast("double").as("twap"))
        .filter(col("span_s") > 0)
        .orderBy("user_id")
    },

    // Count-min sketch frequency estimation (Cormode & Muthukrishnan
    // 2005): d=4 rows x w=256 buckets, md5-derived row hashes so both
    // engines build the IDENTICAL sketch. The sketch is mergeable and
    // fixed-size (1 KB of cells regardless of corpus size) — the
    // at-scale path is map-side partial cells + a 1024-row reduce,
    // then BROADCAST of the finished sketch to estimate. Estimates are
    // provably >= truth (min over per-row overcounts); the query
    // reports the overcount for the true top-20 keys, which the
    // oracle pins exactly.
    QueryDef(
      "q197_cms_frequency",
      """WITH freq AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
        |), cells AS (
        |  SELECT j,
        |         CAST(('0x' || SUBSTR(MD5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS bucket,
        |         CAST(SUM(c) AS BIGINT) AS cell
        |  FROM freq CROSS JOIN (SELECT unnest(range(4)) AS j) js
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT k, c, ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rk
        |  FROM freq QUALIFY rk <= 20
        |), probe AS (
        |  SELECT t.k, t.c, t.rk, j,
        |         CAST(('0x' || SUBSTR(MD5(CAST(j AS VARCHAR) || ':' || CAST(t.k AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS bucket
        |  FROM top t CROSS JOIN (SELECT unnest(range(4)) AS j) js
        |)
        |SELECT CAST(p.rk AS BIGINT) AS rk, p.k AS partkey, CAST(p.c AS BIGINT) AS true_count,
        |       CAST(MIN(cl.cell) AS BIGINT) AS cms_estimate,
        |       CAST(MIN(cl.cell) - MAX(p.c) AS BIGINT) AS overcount
        |FROM probe p JOIN cells cl ON cl.j = p.j AND cl.bucket = p.bucket
        |GROUP BY 1, 2, 3 ORDER BY rk""".stripMargin) { (s, dir) =>
      val cells = cmsCellDeltas(
        Tables.load(s, dir, "lineitem").select("l_partkey"), "l_partkey")
      val freq = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).cast("long").as("c"))
      // top-k FIRST (TakeOrderedAndProject: per-partition heaps, no
      // global window over the key dimension); rank the 20 rows after
      val top = freq.orderBy(col("c").desc, col("k")).limit(20)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("c").desc, col("k"))))
      cmsEstimates(cells, top.select("k"))
        .join(top, "k")
        .select(col("rk").cast("long").as("rk"), col("k").as("partkey"),
          col("c").as("true_count"), col("cms_estimate"),
          (col("cms_estimate") - col("c")).cast("long").as("overcount"))
        .orderBy("rk")
    },

    // Theil T inequality index with exact between/within decomposition
    // over nations: T = sum(x*L)/(tot*1e4) with L the BIGINT-scaled
    // ln(x*n/tot) (q183 convention) — per-nation within-group terms
    // and the between-group term both emit from the same customer
    // rollup, and T_total = between + sum(weighted within) holds by
    // construction (asserted in Ext6Spec). Theil, unlike Gini, is
    // additively decomposable — the reason a 100-TB inequality audit
    // computes it per shard and folds.
    QueryDef(
      "q198_theil_decomposition",
      """WITH rev AS (
        |  SELECT c.c_nationkey AS nationkey, o.o_custkey,
        |         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS totg
        |  FROM rev GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(totg) AS BIGINT) AS tot FROM g
        |), wg AS (
        |  SELECT r.nationkey,
        |         CAST(SUM(r.x * CAST(ROUND(LN((CAST(r.x AS DOUBLE) * CAST(g.ng AS DOUBLE))
        |                                      / CAST(g.totg AS DOUBLE)) * 10000, 0) AS BIGINT))
        |              AS BIGINT) AS sw
        |  FROM rev r JOIN g ON g.nationkey = r.nationkey
        |  GROUP BY 1
        |)
        |SELECT n.n_name AS nation, g.ng AS n_customers, g.totg AS total_cents,
        |       CAST(ROUND(CAST(wg.sw AS DOUBLE) / (CAST(g.totg AS DOUBLE) * 10000), 6)
        |            AS DOUBLE) AS theil_within,
        |       CAST(ROUND(CAST(g.totg AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS DOUBLE) AS revenue_share,
        |       CAST(ROUND(CAST(g.totg AS DOUBLE) / CAST(t.tot AS DOUBLE)
        |                  * LN((CAST(g.totg AS DOUBLE) * CAST(t.n AS DOUBLE))
        |                       / (CAST(t.tot AS DOUBLE) * CAST(g.ng AS DOUBLE))), 6)
        |            AS DOUBLE) AS between_term
        |FROM g JOIN wg ON wg.nationkey = g.nationkey
        |       JOIN nation n ON n.n_nationkey = g.nationkey CROSS JOIN t
        |ORDER BY nation""".stripMargin) { (s, dir) =>
      val rev = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey").as("nationkey"), col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("x"))
      // ng/totg ride customer-sized `rev` as nation-partitioned windows,
      // so the per-nation aggregate emits ng, totg and sw in one pass:
      // no second rollup of `rev` joined back to it (Dist rule 1)
      val byNation = Window.partitionBy("nationkey")
      val g = rev
        .select(col("nationkey"), col("x"),
          count(lit(1)).over(byNation).cast("long").as("ng"),
          sum("x").over(byNation).cast("long").as("totg"))
        .groupBy("nationkey", "ng", "totg")
        .agg(sum(col("x") * round(log((col("x").cast("double") *
          col("ng").cast("double")) / col("totg").cast("double")) * 10000, 0)
          .cast("long")).cast("long").as("sw"))
      // gather: <= 25 nations, so n/tot are windows over the one
      // partition and the final sort needs no exchange (Dist rule 2)
      g.repartition(1)
        .select(col("nationkey"), col("ng"), col("totg"), col("sw"),
          sum("ng").over().cast("long").as("n"),
          sum("totg").over().cast("long").as("tot"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("n_nationkey") === col("nationkey"))
        .select(col("n_name").as("nation"), col("ng").as("n_customers"),
          col("totg").as("total_cents"),
          round(col("sw").cast("double") / (col("totg").cast("double") * 10000), 6)
            .cast("double").as("theil_within"),
          round(col("totg").cast("double") / col("tot").cast("double"), 6)
            .cast("double").as("revenue_share"),
          round(col("totg").cast("double") / col("tot").cast("double") *
            log((col("totg").cast("double") * col("n").cast("double")) /
              (col("tot").cast("double") * col("ng").cast("double"))), 6)
            .cast("double").as("between_term"))
        .orderBy("nation")
    },

    // Poisson(1) bootstrap of the mean order total (the at-scale
    // bootstrap: per-row replicate weights from the inverse Poisson
    // CDF over md5 uniforms — 32 resamples in ONE scan, no resample
    // shuffles; Kleiner et al.'s BLB is the same topology). The CDF
    // thresholds are double literals, the uniforms are the q186 md5
    // convention, so both engines draw identical weights and the CI is
    // bit-reproducible. ci = 2nd / 31st order statistic of the 32
    // replicate means.
    QueryDef(
      "q199_poisson_bootstrap",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders
        |), draws AS (
        |  -- one md5 yields FOUR 32-bit uniforms (32 hex chars = 4 x 8):
        |  -- replicate b reads window b%4 of hash group b//4 — 4x fewer
        |  -- hash evaluations than one md5 per (row, replicate)
        |  SELECT b, cents,
        |         (CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(b // 4 AS VARCHAR)), 1 + 8 * (b % 4), 8)) AS BIGINT) + 1)
        |           / 4294967296.0 AS u
        |  FROM o CROSS JOIN (SELECT unnest(range(32)) AS b) bs
        |), wts AS (
        |  SELECT b, cents,
        |         CASE WHEN u < 0.36787944117144233 THEN 0
        |              WHEN u < 0.7357588823428847 THEN 1
        |              WHEN u < 0.9196986029286058 THEN 2
        |              WHEN u < 0.9810118431238462 THEN 3
        |              WHEN u < 0.9963401531726563 THEN 4
        |              WHEN u < 0.9994058151824183 THEN 5
        |              WHEN u < 0.9999167588507119 THEN 6
        |              WHEN u < 0.9999897508033253 THEN 7
        |              ELSE 8 END AS w
        |  FROM draws
        |), reps AS (
        |  SELECT b, CAST(SUM(w * cents) AS BIGINT) AS swc, CAST(SUM(w) AS BIGINT) AS sw
        |  FROM wts GROUP BY b
        |), means AS (
        |  SELECT b, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) / 100 AS m,
        |         ROW_NUMBER() OVER (ORDER BY CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE), b) AS rk
        |  FROM reps
        |), pooled AS (
        |  -- pooled (ratio-of-sums) bootstrap mean: BIGINT-exact sums, no
        |  -- order-dependent double accumulation across replicates
        |  SELECT CAST(SUM(swc) AS BIGINT) AS tswc, CAST(SUM(sw) AS BIGINT) AS tsw FROM reps
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
        |       CAST(ROUND(CAST(MAX(tswc) AS DOUBLE) / CAST(MAX(tsw) AS DOUBLE) / 100, 4)
        |            AS DOUBLE) AS pooled_mean,
        |       CAST(ROUND(MAX(CASE WHEN rk = 2 THEN m END), 4) AS DOUBLE) AS ci_lo,
        |       CAST(ROUND(MAX(CASE WHEN rk = 31 THEN m END), 4) AS DOUBLE) AS ci_hi
        |FROM means CROSS JOIN pooled""".stripMargin) { (s, dir) =>
      // All 32 replicate (Σw·cents, Σw) pairs ride ONE scan as 64
      // aggregate expressions: one projection computes the 8 md5
      // digests, the next the 32 uniforms, the next the 32 inverse-CDF
      // weights (identical hash convention, so the same values as the
      // oracle), and one global HashAggregate partial-aggregates them
      // per partition. Each stage is its own projection over column
      // refs, so the plan holds every digest, uniform and weight once:
      // inlining a uniform into its 8 CASE arms put 256 conv/substring
      // subtrees in the plan, and the analyzer and AQE paid for every
      // one of them on each run. The 32-replicate order statistics come
      // from sort_array over the 1-row result (struct(m, b) sorts
      // exactly like the oracle's ROW_NUMBER ORDER BY m, b), also built
      // once in its own projection. The input repartition spreads the
      // 1.2M md5 evaluations across the cores: the sf files are single
      // row-group parquet, so the raw scan is one task.
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .repartition(s.sparkContext.defaultParallelism)
      val hashes = o.select(col("cents") +: (0 until 8).map(g =>
        md5(concat(col("o_orderkey").cast("string"), lit("#"), lit(g).cast("string")))
          .as(s"h$g")): _*)
      val uniforms = hashes.select(col("cents") +: (0 until 32).map(b =>
        ((conv(substring(col(s"h${b / 4}"), 1 + 8 * (b % 4), 8), 16, 10).cast("long") + 1) /
          lit(4294967296.0)).as(s"u$b")): _*)
      def w(u: org.apache.spark.sql.Column) =
        when(u < 0.36787944117144233, 0)
          .when(u < 0.7357588823428847, 1)
          .when(u < 0.9196986029286058, 2)
          .when(u < 0.9810118431238462, 3)
          .when(u < 0.9963401531726563, 4)
          .when(u < 0.9994058151824183, 5)
          .when(u < 0.9999167588507119, 6)
          .when(u < 0.9999897508033253, 7)
          .otherwise(8)
      val wide = uniforms.select(col("cents") +:
        (0 until 32).map(b => w(col(s"u$b")).as(s"w$b")): _*)
      val aggs = (0 until 32).flatMap(b => Seq(
        sum(col(s"w$b") * col("cents")).cast("long").as(s"swc$b"),
        sum(col(s"w$b")).cast("long").as(s"sw$b")))
      // replicate means as a 32-element array on the single result row;
      // sort_array(struct(m, b)) == the oracle's ORDER BY m, b
      val means = wide.agg(aggs.head, aggs.tail: _*).select(
        array((0 until 32).map(b => struct(
          (col(s"swc$b").cast("double") / col(s"sw$b").cast("double") / 100).as("m"),
          lit(b).as("b"))): _*).as("ms"),
        (0 until 32).map(b => col(s"swc$b")).reduce(_ + _).as("tswc"),
        (0 until 32).map(b => col(s"sw$b")).reduce(_ + _).as("tsw"))
      means.select(col("ms"), sort_array(col("ms")).as("sorted"), col("tswc"), col("tsw"))
        .select(
          size(filter(col("ms"), x => x.getField("m").isNotNull)).cast("long")
            .as("n_replicates"),
          round(col("tswc").cast("double") / col("tsw").cast("double") / 100, 4)
            .cast("double").as("pooled_mean"),
          round(element_at(col("sorted"), 2).getField("m"), 4).cast("double").as("ci_lo"),
          round(element_at(col("sorted"), 31).getField("m"), 4).cast("double").as("ci_hi"))
    },

    // Association rules over the co-purchase pair cache: directed
    // a -> b with confidence c_ab/c_a and lift N*c_ab/(c_a*c_b), top-20
    // by lift. The pair table is the shared support-pruned cache
    // (q150/q154/q194) — candidate space is pruned pairs, never n²;
    // the item-frequency join is item-dimension-sized. Integer-count
    // ratios form the doubles directly (no transcendentals).
    QueryDef(
      "q200_association_rules",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n AS (
        |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
        |), ifreq AS (
        |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS ck FROM items GROUP BY 1
        |), pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), rules AS (
        |  SELECT pa AS antecedent, pb AS consequent, cab FROM pairs
        |  UNION ALL
        |  SELECT pb AS antecedent, pa AS consequent, cab FROM pairs
        |), scored AS (
        |  SELECT r.antecedent, r.consequent, r.cab,
        |         CAST(ROUND(CAST(r.cab AS DOUBLE) / CAST(fa.ck AS DOUBLE), 6) AS DOUBLE) AS confidence,
        |         CAST(ROUND(CAST(n.n_orders AS DOUBLE) * CAST(r.cab AS DOUBLE)
        |                    / (CAST(fa.ck AS DOUBLE) * CAST(fb.ck AS DOUBLE)), 6) AS DOUBLE) AS lift
        |  FROM rules r JOIN ifreq fa ON fa.k = r.antecedent
        |               JOIN ifreq fb ON fb.k = r.consequent CROSS JOIN n
        |)
        |SELECT antecedent, consequent, cab AS pair_support, confidence, lift
        |FROM scored
        |ORDER BY lift DESC, confidence DESC, antecedent, consequent
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val items = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      val nOrders = items.agg(countDistinct("l_orderkey").cast("long").as("n_orders"))
      val ifreq = items.groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).cast("long").as("ck"))
      val pairs = Ext3.coPairs(s, dir)
      val rules = pairs.select(col("pa").as("antecedent"), col("pb").as("consequent"), col("cab"))
        .unionAll(pairs.select(col("pb").as("antecedent"), col("pa").as("consequent"), col("cab")))
      rules
        .join(ifreq.select(col("k"), col("ck").as("ca")), col("k") === col("antecedent")).drop("k")
        .join(ifreq.select(col("k"), col("ck").as("cb")), col("k") === col("consequent")).drop("k")
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"), col("cab").as("pair_support"),
          round(col("cab").cast("double") / col("ca").cast("double"), 6)
            .cast("double").as("confidence"),
          round(col("n_orders").cast("double") * col("cab").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")), 6)
            .cast("double").as("lift"))
        .orderBy(col("lift").desc, col("confidence").desc, col("antecedent"), col("consequent"))
        .limit(20)
    }
  )
}
