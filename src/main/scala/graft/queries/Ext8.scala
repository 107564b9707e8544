package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wave-13 operators (round-6 third session, cont.): IR and privacy
  * kernels for training-data pipelines.
  *
  *  - q210: positional-index phrase search — exact 3-token phrase
  *    occurrence via posting-list position joins (the inverted-index
  *    kernel; at 100 TB postings are hash-partitioned by term and the
  *    join drives from the rarest term — here the full trigram stats
  *    feed a top-k).
  *  - q211: k-anonymity audit — equivalence-class size histogram over
  *    a quasi-identifier tuple (nation, order year, price band); the
  *    re-identification-risk profile a privacy review runs before a
  *    dataset release.
  *  - q212: deterministic Laplace release — the DP mechanism's exact
  *    shape (inverse-CDF noise at epsilon=1) drawn from md5 uniforms
  *    so both engines add the IDENTICAL noise; the audit columns show
  *    the noise scale actually delivered. (Determinism is for the
  *    gate: a production release would draw real randomness.)
  */
object Ext8 {

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q210_phrase_search",
      """WITH p AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), tri AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS phrase
        |  FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |           JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |), agg AS (
        |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM tri GROUP BY 1
        |), rk AS (
        |  SELECT phrase, n_docs, n_occurrences,
        |         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, phrase) AS rk
        |  FROM agg QUALIFY rk <= 5
        |)
        |SELECT CAST(rk AS BIGINT) AS rk, phrase, n_docs, n_occurrences
        |FROM rk ORDER BY rk""".stripMargin) { (s, dir) =>
      // r15 optimization (guide §3.3/§2.4): consecutive positions of one
      // document live in one ARRAY after split — the 3-token phrases are
      // a sliding window over that array, so the two positional
      // self-joins (each a full shuffle of the exploded token table)
      // collapse to one per-row transform + explode. Values identical:
      // transform enumerates exactly the (pos, pos+1, pos+2) triples the
      // position-equijoin produced. At 100 TB the posting-list form
      // still exists for SERVING a phrase (index-driven probe); the full
      // trigram STATS sweep this query computes is cheapest as the
      // array slide — no token-table shuffle at all.
      val tri = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), " +
            "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) " +
            "ELSE array() END")).as("phrase"))
      val agg = tri.groupBy("phrase")
        .agg(count(lit(1)).cast("long").as("n_occurrences"),
          countDistinct("doc_id").cast("long").as("n_docs"))
      agg.orderBy(col("n_occurrences").desc, col("phrase")).limit(5)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_occurrences").desc, col("phrase"))).cast("long"))
        .select(col("rk"), col("phrase"), col("n_docs"), col("n_occurrences"))
        .orderBy("rk")
    },

    QueryDef(
      "q211_k_anonymity",
      """WITH q AS (
        |  SELECT c.c_nationkey AS nk,
        |         CAST(YEAR(o.o_orderdate) AS BIGINT) AS yr,
        |         CAST(CAST(FLOOR(o.o_totalprice) AS BIGINT) // 50000 AS BIGINT) AS band
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |), cls AS (
        |  SELECT nk, yr, band, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM q GROUP BY 1, 2, 3
        |)
        |SELECT CAST(LEAST(sz, 6) AS BIGINT) AS k_bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_classes,
        |       CAST(SUM(sz) AS BIGINT) AS n_rows
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val q = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").as("nk"),
          year(col("o_orderdate")).cast("long").as("yr"),
          // FLOOR before the bigint cast: DuckDB's DOUBLE->BIGINT cast
          // rounds-to-nearest while Spark truncates; flooring first makes
          // both engines land on the same band at .5-of-a-cent boundaries.
          expr("cast(floor(o_totalprice) as bigint) div 50000").cast("long").as("band"))
      val cls = q.groupBy("nk", "yr", "band")
        .agg(count(lit(1)).cast("long").as("sz"))
      cls.groupBy(least(col("sz"), lit(6L)).cast("long").as("k_bucket"))
        .agg(count(lit(1)).cast("long").as("n_classes"),
          sum("sz").cast("long").as("n_rows"))
        .orderBy("k_bucket")
    },

    QueryDef(
      "q212_dp_laplace_release",
      """WITH c AS (
        |  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_n
        |  FROM orders o JOIN customer cu ON cu.c_custkey = o.o_custkey
        |       JOIN nation n ON n.n_nationkey = cu.c_nationkey
        |  GROUP BY 1
        |), u AS (
        |  SELECT nation, true_n,
        |         (CAST(('0x' || SUBSTR(MD5(nation), 1, 8)) AS BIGINT) + 1) / 4294967296.0 AS p
        |  FROM c
        |)
        |SELECT nation, true_n,
        |       CAST(ROUND(CAST(true_n AS DOUBLE)
        |                  - (CASE WHEN p >= 0.5 THEN 1.0 ELSE -1.0 END)
        |                    * LN(1.0 - 2.0 * ABS(p - 0.5)), 4) AS DOUBLE) AS noisy_n,
        |       CAST(ROUND(ABS((CASE WHEN p >= 0.5 THEN 1.0 ELSE -1.0 END)
        |                      * LN(1.0 - 2.0 * ABS(p - 0.5))), 4) AS DOUBLE) AS abs_noise
        |FROM u ORDER BY nation""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).cast("long").as("true_n"))
      val p = (expr("cast(conv(substring(md5(nation), 1, 8), 16, 10) as bigint)") + 1) /
        lit(4294967296.0)
      val noise = when(p >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1.0) - lit(2.0) * abs(p - lit(0.5)))
      c.select(col("nation"), col("true_n"),
          round(col("true_n").cast("double") - noise, 4).cast("double").as("noisy_n"),
          round(abs(noise), 4).cast("double").as("abs_noise"))
        .orderBy("nation")
    },

    // Per-class precision/recall/F1 of the q23 language predictor
    // against the declared labels — the metric layer over q95's
    // confusion matrix. Counts are integers; each metric is one
    // mirrored-shape double division. An eval harness at 100 TB is
    // exactly this: a confusion rollup (cells = classes², not rows)
    // plus ratio arithmetic.
    QueryDef(
      "q213_langid_f1",
      """WITH markers(w, cand) AS (
        |  VALUES ('the','en'), ('and','en'), ('of','en'),
        |         ('el','es'), ('la','es'), ('de','es'),
        |         ('der','de'), ('und','de'), ('die','de'),
        |         ('le','fr'), ('et','fr'), ('les','fr')
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), hits AS (
        |  SELECT doc_id, cand, COUNT(*) AS c
        |  FROM tok JOIN markers USING (w) GROUP BY doc_id, cand
        |), best AS (
        |  SELECT doc_id, cand, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, cand) AS rn
        |  FROM hits
        |), pred AS (
        |  SELECT d.doc_id, d.lang, COALESCE(b.cand, 'unknown') AS pred_lang
        |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
        |), cells AS (
        |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pred GROUP BY lang, pred_lang
        |), cls AS (
        |  SELECT DISTINCT lang FROM documents
        |), m AS (
        |  SELECT cls.lang,
        |         CAST(SUM(CASE WHEN ce.lang = cls.lang AND ce.pred_lang = cls.lang THEN ce.c ELSE 0 END) AS BIGINT) AS tp,
        |         CAST(SUM(CASE WHEN ce.lang <> cls.lang AND ce.pred_lang = cls.lang THEN ce.c ELSE 0 END) AS BIGINT) AS fp,
        |         CAST(SUM(CASE WHEN ce.lang = cls.lang AND ce.pred_lang <> cls.lang THEN ce.c ELSE 0 END) AS BIGINT) AS fn
        |  FROM cls CROSS JOIN cells ce GROUP BY cls.lang
        |)
        |SELECT lang, tp, fp, fn,
        |       -- a class the predictor never emits (zh has no markers)
        |       -- has undefined precision: NULL on both engines
        |       CASE WHEN tp + fp = 0 THEN NULL
        |            ELSE CAST(ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS DOUBLE)
        |       END AS precision,
        |       CAST(ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS DOUBLE) AS recall,
        |       CAST(ROUND(2.0 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS DOUBLE) AS f1
        |FROM m ORDER BY lang""".stripMargin) { (s, dir) =>
      // One pass over the doc stream builds the |L|x(|L|+1) confusion
      // cell table; per-class tp/fp/fn then expand over THAT (tiny,
      // broadcast) — the former |L|xN cross join is gone, so cost is
      // N + |L|^2 regardless of class count.
      val pred = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(TextOps.langPred(s, dir).select("doc_id", "pred_lang"), "doc_id")
      val cells = pred.groupBy(col("lang").as("tl"), col("pred_lang"))
        .agg(count(lit(1)).as("c"))
      val cls = Tables.load(s, dir, "documents").select("lang").distinct()
        .withColumnRenamed("lang", "cl")
      val m = cls.crossJoin(broadcast(cells))
        .groupBy(col("cl").as("lang"))
        .agg(
          sum(when(col("tl") === col("cl") && col("pred_lang") === col("cl"), col("c"))
            .otherwise(0)).cast("long").as("tp"),
          sum(when(col("tl") =!= col("cl") && col("pred_lang") === col("cl"), col("c"))
            .otherwise(0)).cast("long").as("fp"),
          sum(when(col("tl") === col("cl") && col("pred_lang") =!= col("cl"), col("c"))
            .otherwise(0)).cast("long").as("fn"))
      m.select(col("lang"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, lit(null))
            .otherwise(round(col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double"), 6))
            .cast("double").as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"), 6)
            .cast("double").as("recall"),
          round(lit(2.0) * col("tp").cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"), 6)
            .cast("double").as("f1"))
        .orderBy("lang")
    },

    // Tie-aware ROC-AUC by rank-sum (Mann-Whitney U) of the q92
    // quality score against a binary property (declared lang = 'en').
    // Average ranks for tied scores enter as the INTEGER 2*avg_rank =
    // 2*first_rank + group_size - 1, so every sum up to the final
    // division is BIGINT-exact — the float-ordering trap of averaging
    // ranks never opens. Scale: the rank pass is a score-keyed
    // aggregate (distinct scores, not rows) + one suffix sum.
    QueryDef(
      "q214_roc_auc",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), f AS (
        |  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd, SUM(len(w)) AS chars
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT f.doc_id,
        |         CAST('-1.2' AS DECIMAL(12,6))
        |           + CAST('0.016' AS DECIMAL(12,6)) * n
        |           + CAST('2.5' AS DECIMAL(12,6)) * CAST(ROUND(CAST(nd AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6))
        |           - CAST('0.3' AS DECIMAL(12,6)) * CAST(ROUND(CAST(chars AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6)) AS score,
        |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM f JOIN documents d ON d.doc_id = f.doc_id
        |), g AS (
        |  SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
        |         CAST(SUM(pos) AS BIGINT) AS cpos
        |  FROM sc GROUP BY score
        |), r AS (
        |  SELECT score, c, cpos,
        |         CAST(SUM(c) OVER (ORDER BY score) - c + 1 AS BIGINT) AS lo
        |  FROM g
        |), agg AS (
        |  SELECT CAST(SUM(cpos) AS BIGINT) AS npos,
        |         CAST(SUM(c - cpos) AS BIGINT) AS nneg,
        |         CAST(SUM(cpos * (2 * lo + c - 1)) AS BIGINT) AS ranksum2
        |  FROM r
        |)
        |SELECT npos AS n_positive, nneg AS n_negative,
        |       CAST(ROUND(CAST(ranksum2 - npos * (npos + 1) AS DOUBLE)
        |                  / CAST(2 * npos * nneg AS DOUBLE), 6) AS DOUBLE) AS auc
        |FROM agg""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      def d6(c: org.apache.spark.sql.Column) = c.cast(DecimalType(20, 6))
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n"), countDistinct("w").as("nd"),
          sum(length(col("w"))).as("chars"))
      val w0 = lit(BigDecimal("-1.2")).cast(DecimalType(12, 6))
      val w1 = lit(BigDecimal("0.016")).cast(DecimalType(12, 6))
      val w2 = lit(BigDecimal("2.5")).cast(DecimalType(12, 6))
      val w3 = lit(BigDecimal("0.3")).cast(DecimalType(12, 6))
      val sc = f.select(
        (w0 + w1 * col("n") +
          w2 * round(d6(col("nd")) / col("n"), 4).cast(DecimalType(12, 6)) -
          w3 * round(d6(col("chars")) / col("n"), 4).cast(DecimalType(12, 6))).as("score"),
        when(col("lang") === "en", 1).otherwise(0).as("pos"))
      val g = sc.groupBy("score")
        .agg(count(lit(1)).cast("long").as("c"), sum("pos").cast("long").as("cpos"))
      // rank prefix over the score histogram via the distributed
      // two-pass prefix sum — the score domain is data-dependent
      // (a DECIMAL formula of doc stats), so treat it as unbounded
      val r = Dist.rangedPrefixSum(g,
          (col("score") * lit(1000000)).cast("long"), lit(0L), col("c"), "cumc")
        .withColumn("lo", (col("cumc") - col("c") + 1).cast("long"))
      val agg = r.agg(sum("cpos").cast("long").as("npos"),
        sum(col("c") - col("cpos")).cast("long").as("nneg"),
        sum(col("cpos") * (lit(2) * col("lo") + col("c") - 1)).cast("long").as("ranksum2"))
      agg.select(col("npos").as("n_positive"), col("nneg").as("n_negative"),
        round((col("ranksum2") - col("npos") * (col("npos") + 1)).cast("double") /
          (lit(2) * col("npos") * col("nneg")).cast("double"), 6)
          .cast("double").as("auc"))
    },

    // RFM segmentation: recency/frequency/monetary quintiles per
    // customer (NTILE over totally-ordered keys — the tie-break makes
    // both engines assign identical quintiles), segment = 100r+10f+m,
    // then the segment-size/value profile. The marketing-analytics
    // staple; scale shape is one custkey rollup + three partitioned
    // rank passes over the CUSTOMER dimension (not the order fact).
    QueryDef(
      "q215_rfm_segments",
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(DATE_DIFF('day', MAX(o_orderdate), TIMESTAMP '2001-09-01 00:00:00') AS BIGINT) AS rec_days,
        |         CAST(COUNT(*) AS BIGINT) AS freq,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), q AS (
        |  SELECT o_custkey, rec_days, freq, cents,
        |         NTILE(5) OVER (ORDER BY rec_days, o_custkey) AS r,
        |         NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |         NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS m
        |  FROM cust
        |)
        |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // r16 (guide §1.2/§2.3): the customer rollup used to feed the
      // rank pipeline, the kernel's per-metric min/max pass, the final
      // rank JOIN-BACK and a separate count — four derivations of the
      // same orders aggregate per run. The kernel now carries `cents`
      // through its own tall pipeline (metric-0 rows) and emits n from
      // its metadata-scale offsets aggregate, so the rollup derives
      // exactly twice (range pass + ranked pass) — the structural
      // minimum for a range-bucketed rank. (A persist was tried first
      // and REGRESSED: caching the 8-partition rollup defeated AQE
      // coalescing downstream — 17→24 jobs.)
      val cust = Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(datediff(lit("2001-09-01").cast("timestamp"), max("o_orderdate"))
          .cast("long").as("rec_days"),
          count(lit(1)).cast("long").as("freq"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("cents"))
      // NTILE over the customer dimension WITHOUT a single-partition
      // window: all three exact distributed ranks in ONE tall pipeline
      // (Dist.rangedRanks — explode to (metric, value, custkey),
      // per-metric value buckets, partitioned prefix sums, pivot
      // back; DESC = negated key), then the closed-form rank→tile
      // map. Survives a customer dimension that no longer fits one
      // task, without nesting three rank plans.
      val ranked = Dist.rangedRanks(cust, col("o_custkey"), Seq(
        (col("rec_days"), "rrank"),
        (-col("freq"), "frank"),
        (-col("cents"), "mrank")),
        Seq((col("cents"), "cents")), "__n")
      val q = ranked.select(col("cents"),
        Dist.ntileFromRank(col("rrank"), col("__n"), 5).as("r"),
        Dist.ntileFromRank(col("frank"), col("__n"), 5).as("f"),
        Dist.ntileFromRank(col("mrank"), col("__n"), 5).as("m"))
      q.groupBy((col("r") * 100 + col("f") * 10 + col("m")).cast("long").as("segment"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum("cents").cast("long").as("total_cents"))
        .orderBy("segment")
    },

    // Term burstiness (Fano factor): variance-to-mean ratio of a
    // term's per-document counts — bursty terms (F >> 1) concentrate
    // in few docs (topical), F ~ 1 is Poisson-like (function words).
    // The moments come from integer sums including zero-docs via the
    // closed form (sum over docs WITHOUT the term contributes 0), so
    // no dense doc x term grid materializes — the kernel that matters
    // when |docs| x |vocab| is astronomically sparse at 100 TB.
    QueryDef(
      "q216_term_burstiness",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), dt AS (
        |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), nd AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |), m AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
        |         CAST(SUM(c) AS BIGINT) AS tf, CAST(SUM(c * c) AS BIGINT) AS tf2
        |  FROM dt GROUP BY 1
        |)
        |SELECT w AS term, df, tf,
        |       -- fano = var/mean over ALL docs (zeros included):
        |       -- var*n² = n*Σc² − (Σc)², mean*n = Σc → F = (n*Σc²−(Σc)²)/(n*Σc)
        |       CAST(ROUND(CAST(n_docs * tf2 - tf * tf AS DOUBLE)
        |                  / CAST(n_docs * tf AS DOUBLE), 6) AS DOUBLE) AS fano
        |FROM m CROSS JOIN nd
        |ORDER BY fano DESC, term LIMIT 15""".stripMargin) { (s, dir) =>
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val dt = tok.groupBy("w", "doc_id").agg(count(lit(1)).cast("long").as("c"))
      val nd = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val m = dt.groupBy("w")
        .agg(count(lit(1)).cast("long").as("df"),
          sum("c").cast("long").as("tf"),
          sum(col("c") * col("c")).cast("long").as("tf2"))
      m.crossJoin(broadcast(nd))
        .select(col("w").as("term"), col("df"), col("tf"),
          round((col("n_docs") * col("tf2") - col("tf") * col("tf")).cast("double") /
            (col("n_docs") * col("tf")).cast("double"), 6)
            .cast("double").as("fano"))
        .orderBy(col("fano").desc, col("term"))
        .limit(15)
    },

    // Trending top-k: the top-20 parts by lineitem volume in each
    // half of the shipdate range, full-outer-joined into an
    // entered/dropped/stayed report with rank deltas — the
    // heavy-hitter CHANGE detector an ops dashboard runs, not just
    // the static top-k. Both halves are TakeOrdered top-ks over a
    // part-dimension aggregate; the join is 20x20.
    QueryDef(
      "q217_trending_parts",
      """WITH b AS (
        |  SELECT MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi FROM lineitem
        |), h AS (
        |  SELECT l_partkey,
        |         CASE WHEN DATE_DIFF('microseconds', lo, l_shipdate) * 2
        |                   < DATE_DIFF('microseconds', lo, hi) THEN 1 ELSE 2 END AS half
        |  FROM lineitem CROSS JOIN b
        |), c AS (
        |  SELECT half, l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1, 2
        |), r AS (
        |  SELECT half, l_partkey, n,
        |         ROW_NUMBER() OVER (PARTITION BY half ORDER BY n DESC, l_partkey) AS rk
        |  FROM c QUALIFY rk <= 20
        |)
        |SELECT COALESCE(a.l_partkey, z.l_partkey) AS partkey,
        |       CAST(COALESCE(a.rk, 0) AS BIGINT) AS rank_h1,
        |       CAST(COALESCE(z.rk, 0) AS BIGINT) AS rank_h2,
        |       CASE WHEN a.l_partkey IS NULL THEN 'entered'
        |            WHEN z.l_partkey IS NULL THEN 'dropped'
        |            ELSE 'stayed' END AS status
        |FROM (SELECT * FROM r WHERE half = 1) a
        |FULL OUTER JOIN (SELECT * FROM r WHERE half = 2) z
        |  ON z.l_partkey = a.l_partkey
        |ORDER BY status, partkey""".stripMargin) { (s, dir) =>
      // l_shipdate ships as TIMESTAMP_NTZ — normalize to session-TZ
      // micros (UTC session) before epoch arithmetic
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("sd", col("l_shipdate").cast("timestamp"))
      val b = li.agg(min("sd").as("lo"), max("sd").as("hi"))
      val h = li.select(col("l_partkey"), col("sd"))
        .crossJoin(broadcast(b))
        .select(col("l_partkey"),
          when((unix_micros(col("sd")) - unix_micros(col("lo"))) * 2 <
            unix_micros(col("hi")) - unix_micros(col("lo")), 1).otherwise(2).as("half"))
      val c = h.groupBy("half", "l_partkey").agg(count(lit(1)).cast("long").as("n"))
      def topHalf(half: Int) = c.filter(col("half") === half)
        .orderBy(col("n").desc, col("l_partkey")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("l_partkey"))))
      val a = topHalf(1).select(col("l_partkey").as("pk1"), col("rk").as("rk1"))
      val z = topHalf(2).select(col("l_partkey").as("pk2"), col("rk").as("rk2"))
      a.join(z, col("pk2") === col("pk1"), "full_outer")
        .select(coalesce(col("pk1"), col("pk2")).as("partkey"),
          coalesce(col("rk1"), lit(0)).cast("long").as("rank_h1"),
          coalesce(col("rk2"), lit(0)).cast("long").as("rank_h2"),
          when(col("pk1").isNull, "entered")
            .when(col("pk2").isNull, "dropped")
            .otherwise("stayed").as("status"))
        .orderBy("status", "partkey")
    },

    // Decile gains table for the q92 quality score against lang='en':
    // cumulative capture rate of positives by score decile — the
    // companion readout to q214's AUC (a model that ranks well
    // concentrates positives in the top deciles). Deciles by
    // totally-ordered NTILE; every column is an integer count or an
    // exact-integer ratio.
    QueryDef(
      "q218_gains_table",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), f AS (
        |  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd, SUM(len(w)) AS chars
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT f.doc_id,
        |         CAST('-1.2' AS DECIMAL(12,6))
        |           + CAST('0.016' AS DECIMAL(12,6)) * n
        |           + CAST('2.5' AS DECIMAL(12,6)) * CAST(ROUND(CAST(nd AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6))
        |           - CAST('0.3' AS DECIMAL(12,6)) * CAST(ROUND(CAST(chars AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6)) AS score,
        |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM f JOIN documents d ON d.doc_id = f.doc_id
        |), dec AS (
        |  SELECT pos, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile FROM sc
        |), g AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM dec GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_pos) AS BIGINT) AS total_pos FROM g
        |)
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
        |       CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
        |       CAST(ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
        |                  / CAST(total_pos AS DOUBLE), 6) AS DOUBLE) AS cum_capture
        |FROM g CROSS JOIN t ORDER BY decile""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      def d6(c: org.apache.spark.sql.Column) = c.cast(DecimalType(20, 6))
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n"), countDistinct("w").as("nd"),
          sum(length(col("w"))).as("chars"))
      val w0 = lit(BigDecimal("-1.2")).cast(DecimalType(12, 6))
      val w1 = lit(BigDecimal("0.016")).cast(DecimalType(12, 6))
      val w2 = lit(BigDecimal("2.5")).cast(DecimalType(12, 6))
      val w3 = lit(BigDecimal("0.3")).cast(DecimalType(12, 6))
      val sc = f.select(col("doc_id"),
        (w0 + w1 * col("n") +
          w2 * round(d6(col("nd")) / col("n"), 4).cast(DecimalType(12, 6)) -
          w3 * round(d6(col("chars")) / col("n"), 4).cast(DecimalType(12, 6))).as("score"),
        when(col("lang") === "en", 1).otherwise(0).as("pos"))
      // decile via exact distributed rank (score DESC = negated
      // micro-unit key; DECIMAL(12,6)×1e6 is integral) — no
      // single-partition window over the corpus. The NTILE total comes
      // from the rank kernel's own metadata-scale offsets aggregate
      // (rangedRankWithTotal), not from a second corpus-scale pass.
      // (Persisting `sc` instead took the query from 17 to 39 jobs:
      // caching the 8-partition frame defeated AQE coalescing
      // downstream.)
      val ranked = Dist.rangedRankWithTotal(sc,
        -(col("score") * lit(1000000)).cast("long"), col("doc_id"), "rk", "__n")
      val dec = ranked.select(col("pos"),
        Dist.ntileFromRank(col("rk"), col("__n"), 10).as("decile"))
      // gather: <= 10 deciles, so total_pos and cum_pos are one window
      // over the one partition and the final sort needs no exchange
      // (Dist rule 2)
      val byDecile = Window.orderBy("decile")
      dec.groupBy("decile")
        .agg(count(lit(1)).cast("long").as("n_docs"), sum("pos").cast("long").as("n_pos"))
        .repartition(1)
        .select(col("decile"), col("n_docs"), col("n_pos"),
          sum("n_pos").over(byDecile).cast("long").as("cum_pos"),
          sum("n_pos").over(byDecile.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long").as("total_pos"))
        .select(col("decile").cast("long").as("decile"), col("n_docs"), col("n_pos"),
          col("cum_pos"),
          round(col("cum_pos").cast("double") / col("total_pos").cast("double"), 6)
            .cast("double").as("cum_capture"))
        .orderBy("decile")
    },

    // U-shaped (position-based) multi-touch attribution, completing
    // the family next to last-touch (q143) and linear (q160): per
    // purchase, 40% to the FIRST preceding touch, 40% to the LAST,
    // 20% shared by the middles — in exact micro-units with the
    // division remainder assigned to the last touch so every
    // purchase's credit sums to exactly 1,000,000 (n=1 -> 100%,
    // n=2 -> 50/50 by the standard rule). First/last touch types via
    // IGNORE-NULLS window values over the same per-user frame the
    // counts use — one sorted window pass, no self-join.
    QueryDef(
      "q219_ushape_attribution",
      """WITH seq AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS c_view,
        |         COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS c_click,
        |         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) OVER w AS c_signup,
        |         FIRST_VALUE(CASE WHEN event_type IN ('view','click','signup')
        |                          THEN event_type END IGNORE NULLS) OVER w AS ft,
        |         LAST_VALUE(CASE WHEN event_type IN ('view','click','signup')
        |                         THEN event_type END IGNORE NULLS) OVER w AS lt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), p AS (
        |  SELECT c_view, c_click, c_signup, ft, lt,
        |         c_view + c_click + c_signup AS n
        |  FROM seq WHERE event_type = 'purchase'
        |    AND c_view + c_click + c_signup > 0
        |), cr AS (
        |  SELECT t.touch_type,
        |         CASE WHEN p.n = 1 THEN CASE WHEN p.ft = t.touch_type THEN 1000000 ELSE 0 END
        |              WHEN p.n = 2 THEN
        |                CASE WHEN p.ft = t.touch_type THEN 500000 ELSE 0 END
        |                + CASE WHEN p.lt = t.touch_type THEN 500000 ELSE 0 END
        |              ELSE
        |                CASE WHEN p.ft = t.touch_type THEN 400000 ELSE 0 END
        |                + CASE WHEN p.lt = t.touch_type THEN 400000 ELSE 0 END
        |                + (200000 // (p.n - 2))
        |                  * (CASE t.touch_type WHEN 'view' THEN p.c_view
        |                       WHEN 'click' THEN p.c_click ELSE p.c_signup END
        |                     - CASE WHEN p.ft = t.touch_type THEN 1 ELSE 0 END
        |                     - CASE WHEN p.lt = t.touch_type THEN 1 ELSE 0 END)
        |                + CASE WHEN p.lt = t.touch_type
        |                       THEN 200000 % (p.n - 2) ELSE 0 END
        |         END AS credit_fp
        |  FROM p CROSS JOIN (VALUES ('view'), ('click'), ('signup')) t(touch_type)
        |)
        |SELECT touch_type, CAST(SUM(credit_fp) AS BIGINT) AS credit_fp,
        |       CAST(SUM(CASE WHEN credit_fp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_credited
        |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("view", "click", "signup"),
        col("event_type"))
      val seq0 = Tables.load(s, dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("c_view", count(when(col("event_type") === "view", 1)).over(w))
        .withColumn("c_click", count(when(col("event_type") === "click", 1)).over(w))
        .withColumn("c_signup", count(when(col("event_type") === "signup", 1)).over(w))
        .withColumn("ft", first(touch, ignoreNulls = true).over(w))
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      val p = seq0.filter(col("event_type") === "purchase")
        .withColumn("n", col("c_view") + col("c_click") + col("c_signup"))
        .filter(col("n") > 0)
      val types = Seq("view", "click", "signup")
        .foldLeft(Option.empty[DataFrame]) { (acc, t) =>
          val one = p.sparkSession.range(1).select(lit(t).as("touch_type"))
          Some(acc.map(_.unionAll(one)).getOrElse(one))
        }.get
      val cType = when(col("touch_type") === "view", col("c_view"))
        .when(col("touch_type") === "click", col("c_click"))
        .otherwise(col("c_signup"))
      val isF = when(col("ft") === col("touch_type"), 1L).otherwise(0L)
      val isL = when(col("lt") === col("touch_type"), 1L).otherwise(0L)
      val credit = when(col("n") === 1, isF * 1000000L)
        .when(col("n") === 2, isF * 500000L + isL * 500000L)
        .otherwise(isF * 400000L + isL * 400000L +
          expr("200000 div (n - 2)") * (cType - isF - isL) +
          isL * expr("200000 % (n - 2)"))
      p.crossJoin(broadcast(types))
        .withColumn("credit_fp", credit)
        .groupBy("touch_type")
        .agg(sum("credit_fp").cast("long").as("credit_fp"),
          sum(when(col("credit_fp") > 0, 1L).otherwise(0L)).cast("long").as("n_credited"))
        .orderBy("touch_type")
    },

    // Wilson-score lower-bound conversion ranking: per user, purchases
    // over views with the 95% Wilson LOWER bound — ranking by the
    // bound instead of the raw rate is how small-sample flukes stop
    // outranking consistent converters (the comment-ranking kernel).
    // Inputs are integer counts; the bound is one mirrored-shape
    // double expression with the z=1.96 constant inlined. Top-15 by
    // bound via TakeOrdered.
    QueryDef(
      "q220_wilson_conversion",
      """WITH c AS (
        |  SELECT user_id,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS buys
        |  FROM events GROUP BY 1
        |  HAVING SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
        |), w AS (
        |  SELECT user_id, views, buys,
        |         CAST(LEAST(buys, views) AS DOUBLE) / CAST(views AS DOUBLE) AS p,
        |         CAST(views AS DOUBLE) AS n
        |  FROM c
        |), s AS (
        |  SELECT user_id, views, buys,
        |         CAST(ROUND(p, 6) AS DOUBLE) AS rate,
        |         CAST(ROUND((p + 3.8416 / (2.0 * n)
        |                     - 1.96 * SQRT((p * (1.0 - p) + 3.8416 / (4.0 * n)) / n))
        |                    / (1.0 + 3.8416 / n), 6) AS DOUBLE) AS wilson_lb
        |  FROM w
        |)
        |SELECT user_id, views, buys, rate, wilson_lb
        |FROM s ORDER BY wilson_lb DESC, user_id LIMIT 15""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).cast("long").as("views"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("buys"))
        .filter(col("views") > 0)
      val p = least(col("buys"), col("views")).cast("double") / col("views").cast("double")
      val n = col("views").cast("double")
      val lb = (p + lit(3.8416) / (lit(2.0) * n) -
        lit(1.96) * sqrt((p * (lit(1.0) - p) + lit(3.8416) / (lit(4.0) * n)) / n)) /
        (lit(1.0) + lit(3.8416) / n)
      c.select(col("user_id"), col("views"), col("buys"),
          round(p, 6).cast("double").as("rate"),
          round(lb, 6).cast("double").as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("user_id"))
        .limit(15)
    },

    // Deterministic negative sampling for contrastive training pairs
    // (the word2vec/recsys negatives kernel): for the 50 strongest
    // co-purchase positives, draw up to 3 negatives from md5-indexed
    // uniform part draws, rejecting self/partner/true-pair collisions
    // by anti-joining the pruned pair table — 6 tries bound the
    // rejection loop, and the md5 draws make every negative
    // reproducible across engines AND re-ingestions (the q60/q87
    // convention). Scale: candidates = positives x 6 (never the part
    // universe); the part-index map is dimension-sized and broadcast.
    QueryDef(
      "q221_negative_sampling",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), pos AS (
        |  SELECT pa, pb, cab,
        |         ROW_NUMBER() OVER (ORDER BY cab DESC, pa, pb) AS prk
        |  FROM pairs QUALIFY prk <= 50
        |), uni AS (
        |  SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS idx FROM part
        |), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
        |cand AS (
        |  SELECT pos.pa, pos.pb, pos.prk, j,
        |         CAST(('0x' || SUBSTR(MD5(CAST(pos.pa AS VARCHAR) || '~' || CAST(pos.pb AS VARCHAR) || '~' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % n_parts AS cidx
        |  FROM pos CROSS JOIN (SELECT unnest(range(1, 7)) AS j) js CROSS JOIN np
        |), mapped AS (
        |  SELECT c.pa, c.pb, c.prk, c.j, u.p_partkey AS neg
        |  FROM cand c JOIN uni u ON u.idx = c.cidx
        |  WHERE u.p_partkey <> c.pa AND u.p_partkey <> c.pb
        |), valid AS (
        |  SELECT m.pa, m.pb, m.prk, m.j, m.neg
        |  FROM mapped m
        |  LEFT JOIN pairs x ON x.pa = LEAST(m.pa, m.neg) AND x.pb = GREATEST(m.pa, m.neg)
        |  WHERE x.pa IS NULL
        |), ranked AS (
        |  SELECT pa, pb, neg,
        |         ROW_NUMBER() OVER (PARTITION BY pa, pb ORDER BY j) AS neg_rank
        |  FROM valid QUALIFY neg_rank <= 3
        |)
        |SELECT pa, pb, CAST(neg_rank AS BIGINT) AS neg_rank, neg
        |FROM ranked ORDER BY pa, pb, neg_rank""".stripMargin) { (s, dir) =>
      val pairs = Ext3.coPairs(s, dir)
      val pos = pairs
        .orderBy(col("cab").desc, col("pa"), col("pb")).limit(50)
      // dense 0..n-1 part index via the distributed rank (p_partkey is
      // unique) — no single-partition window over the part dimension
      val uni = Dist.rangedRank(
          Tables.load(s, dir, "part").select("p_partkey"),
          col("p_partkey"), lit(0L), "__rk")
        .select(col("p_partkey"), (col("__rk") - 1).as("idx"))
      val np = Tables.load(s, dir, "part").agg(count(lit(1)).cast("long").as("n_parts"))
      val cand = pos.withColumn("j", explode(sequence(lit(1), lit(6))))
        .crossJoin(broadcast(np))
        .withColumn("cidx",
          expr("cast(conv(substring(md5(concat(cast(pa as string), '~', cast(pb as string), '~', cast(j as string))), 1, 8), 16, 10) as bigint) % n_parts"))
      val mapped = cand.join(broadcast(uni), col("idx") === col("cidx"))
        .filter(col("p_partkey") =!= col("pa") && col("p_partkey") =!= col("pb"))
        .select(col("pa"), col("pb"), col("j"), col("p_partkey").as("neg"))
      val valid = mapped.join(
        pairs.select(col("pa").as("xa"), col("pb").as("xb")),
        least(col("pa"), col("neg")) === col("xa") &&
          greatest(col("pa"), col("neg")) === col("xb"), "left_anti")
      valid
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy("pa", "pb").orderBy("j")))
        .filter(col("neg_rank") <= 3)
        .select(col("pa"), col("pb"), col("neg_rank").cast("long").as("neg_rank"), col("neg"))
        .orderBy("pa", "pb", "neg_rank")
    },

    // Part reorder rate: of the (customer, part) pairs that bought a
    // part at least once, what share bought it in MORE than one order
    // — the repeat-purchase propensity feature recommenders train on.
    // One (custkey, partkey)-keyed distinct-order rollup (the natural
    // composite shuffle key), then a part-dimension aggregate; top-15
    // by rate with a support floor so tiny-sample parts don't top the
    // list (the q220 concern, solved structurally here).
    QueryDef(
      "q222_reorder_rate",
      """WITH cp AS (
        |  SELECT o.o_custkey, l.l_partkey,
        |         CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT l_partkey,
        |         CAST(COUNT(*) AS BIGINT) AS n_buyers,
        |         CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        |  FROM cp GROUP BY 1
        |)
        |SELECT l_partkey AS partkey, n_buyers, n_repeat,
        |       CAST(ROUND(CAST(n_repeat AS DOUBLE) / CAST(n_buyers AS DOUBLE), 6) AS DOUBLE) AS reorder_rate
        |FROM p WHERE n_buyers >= 5
        |ORDER BY reorder_rate DESC, partkey LIMIT 15""".stripMargin) { (s, dir) =>
      val cp = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey", "l_partkey")
        .agg(countDistinct("l_orderkey").cast("long").as("n_orders"))
      val p = cp.groupBy("l_partkey")
        .agg(count(lit(1)).cast("long").as("n_buyers"),
          sum(when(col("n_orders") > 1, 1).otherwise(0)).cast("long").as("n_repeat"))
      p.filter(col("n_buyers") >= 5)
        .select(col("l_partkey").as("partkey"), col("n_buyers"), col("n_repeat"),
          round(col("n_repeat").cast("double") / col("n_buyers").cast("double"), 6)
            .cast("double").as("reorder_rate"))
        .orderBy(col("reorder_rate").desc, col("partkey"))
        .limit(15)
    },

    // Group-cap balancing: keep at most K=200 documents per language,
    // selected by md5(doc_id) priority — the deterministic
    // "downsample the over-represented groups" rebalancing step of a
    // training mixture (the q60 hash convention, applied as a per-group
    // TOP-K instead of a rate). Scale: one window PARTITIONED by the
    // group key — each language ranks independently, no global order.
    QueryDef(
      "q223_group_cap_sample",
      """WITH pr AS (
        |  SELECT doc_id, lang, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |       CAST(SUM(CASE WHEN rk <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN rk <= 200 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM pr GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val pr = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).as("rk"))
      pr.groupBy("lang").agg(
          count(lit(1)).cast("long").as("n_total"),
          sum(when(col("rk") <= 200, 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("rk") <= 200, col("n_chars")).otherwise(0L))
            .cast("long").as("kept_chars"))
        .orderBy("lang")
    },

    // Split-leakage audit: assign every document to train/val/test by
    // the md5 hash-mod convention (q60/q87), then cross the q175
    // near-dup pairs with both endpoints' splits — a near-dup pair
    // straddling train and test is exactly the contamination that
    // inflates eval numbers (the reason production pipelines split by
    // GROUP, not by document). Output: pair counts per (split_a,
    // split_b) class with the leak marker. Scale: rides the q175
    // banded pair kernel + two broadcast-able split joins.
    QueryDef(
      "q224_split_leakage_audit",
      graft.queries.Ext4.jaccardPairsSqlCtes +
        """, sp AS (
          |  SELECT doc_id,
          |         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8 THEN 'train'
          |              WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 8 THEN 'val'
          |              ELSE 'test' END AS split
          |  FROM documents
          |), lab AS (
          |  SELECT LEAST(sa.split, sb.split) AS split_a,
          |         GREATEST(sa.split, sb.split) AS split_b
          |  FROM pairs p
          |  JOIN sp sa ON sa.doc_id = p.doc_a
          |  JOIN sp sb ON sb.doc_id = p.doc_b
          |)
          |SELECT split_a, split_b,
          |       CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS INTEGER) AS is_leak,
          |       CAST(COUNT(*) AS BIGINT) AS n_pairs
          |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val split = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            % 10 < 8, "train")
            .when(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
              % 10 === 8, "val")
            .otherwise("test").as("split"))
      graft.queries.Ext4.jaccardPairs(s, dir)
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .select(col("split_a"), col("split_b"),
          when(col("split_a") =!= col("split_b"), 1).otherwise(0)
            .cast("int").as("is_leak"),
          col("n_pairs"))
        .orderBy("split_a", "split_b")
    },

    // Rendezvous (highest-random-weight) sharding stability: assign
    // every document to argmax_s md5(doc_id # s) over 8 shards, then
    // over 9, and audit how many keys MOVE — HRW's contract is that
    // adding a shard relocates only ~1/(n+1) of keys, and every mover
    // lands ON the new shard (never between old shards). That is the
    // elasticity property that makes deterministic sharding safe to
    // resize at 100 TB: the audit proves it key-by-key, integer-exact.
    // Scale: two map-side argmaxes over a constant shard list — no
    // shuffle wider than the final 2-column rollup.
    QueryDef(
      "q226_rendezvous_sharding",
      """WITH s8 AS (
        |  SELECT d.doc_id, s.shard,
        |         ROW_NUMBER() OVER (PARTITION BY d.doc_id
        |           ORDER BY MD5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(s.shard AS VARCHAR)) DESC,
        |                    s.shard) AS rn
        |  FROM documents d CROSS JOIN (SELECT unnest(range(8)) AS shard) s
        |), s9 AS (
        |  SELECT d.doc_id, s.shard,
        |         ROW_NUMBER() OVER (PARTITION BY d.doc_id
        |           ORDER BY MD5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(s.shard AS VARCHAR)) DESC,
        |                    s.shard) AS rn
        |  FROM documents d CROSS JOIN (SELECT unnest(range(9)) AS shard) s
        |), a AS (SELECT doc_id, shard AS old_shard FROM s8 WHERE rn = 1),
        |b AS (SELECT doc_id, shard AS new_shard FROM s9 WHERE rn = 1)
        |SELECT CAST(a.old_shard AS BIGINT) AS old_shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(CASE WHEN a.old_shard <> b.new_shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |       CAST(SUM(CASE WHEN a.old_shard <> b.new_shard AND b.new_shard <> 8
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_wrong
        |FROM a JOIN b ON b.doc_id = a.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      def assign(nShards: Int, out: String): DataFrame = {
        val shards = (0 until nShards).toDF("shard")
        Tables.load(s, dir, "documents").select("doc_id")
          .crossJoin(broadcast(shards))
          .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#"),
            col("shard").cast("string"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("h").desc, col("shard"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("shard").as(out))
      }
      assign(8, "old_shard").join(assign(9, "new_shard"), "doc_id")
        .groupBy(col("old_shard").cast("long").as("old_shard"))
        .agg(count(lit(1)).cast("long").as("n_keys"),
          sum(when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L))
            .cast("long").as("n_moved"),
          sum(when(col("old_shard") =!= col("new_shard") && col("new_shard") =!= 8, 1L)
            .otherwise(0L)).cast("long").as("n_moved_wrong"))
        .orderBy("old_shard")
    },

    // Dedup savings report: exact-duplicate groups (the q24 canonical
    // fingerprint) folded into the group-size histogram a curation run
    // reports — how many groups, docs and BYTES dedup removes, with
    // the survivor (min doc_id) kept per group. The
    // cost/benefit summary every 100 TB dedup pass publishes; one
    // fingerprint shuffle + a histogram rollup.
    QueryDef(
      "q227_dedup_savings",
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |         MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'),
        |                                 ' +', ' ', 'g'))) AS fp
        |  FROM documents
        |), g AS (
        |  SELECT fp, CAST(COUNT(*) AS BIGINT) AS sz,
        |         CAST(SUM(n_chars) AS BIGINT) AS chars,
        |         CAST(ARG_MIN(n_chars, doc_id) AS BIGINT) AS survivor_chars
        |  FROM fp GROUP BY fp
        |)
        |SELECT sz AS group_size,
        |       CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(sz) AS BIGINT) AS n_docs,
        |       CAST(SUM(sz - 1) AS BIGINT) AS n_removed,
        |       CAST(SUM(chars - survivor_chars) AS BIGINT) AS chars_removed
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val fp = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          // q24's canonical fingerprint via the single-pass
          // NormalizeText expression (equivalence spec-pinned)
          md5(graft.functions.TextExprs.normalizeText(col("text")))
            .as("fp"))
      val g = fp.groupBy("fp")
        .agg(count(lit(1)).cast("long").as("sz"),
          sum("n_chars").cast("long").as("chars"),
          min_by(col("n_chars"), col("doc_id")).cast("long").as("survivor_chars"))
      g.groupBy(col("sz").as("group_size"))
        .agg(count(lit(1)).cast("long").as("n_groups"),
          sum("sz").cast("long").as("n_docs"),
          sum(col("sz") - 1).cast("long").as("n_removed"),
          sum(col("chars") - col("survivor_chars")).cast("long").as("chars_removed"))
        .orderBy("group_size")
    },

    // Exponentially time-decayed customer features (half-life-style
    // recency weighting, tau = 365 days at a fixed reference date) —
    // the feature-store staple that turns an order history into a
    // trainable recency-weighted activity signal. Determinism: the
    // decay EXP sees the identical integer day-distance on both
    // engines and is immediately rounded to exact 1e-6 units (the
    // q183 ln recipe), so every sum is BIGINT-exact. Scale: one
    // map-side-combined groupBy over the order fact.
    QueryDef(
      "q228_decayed_features",
      """WITH w AS (
        |  SELECT o_custkey,
        |         CAST(ROUND(EXP(-DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') / 365.0)
        |                    * 1000000, 0) AS BIGINT) AS w_e6,
        |         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders
        |)
        |SELECT o_custkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(w_e6) AS BIGINT) AS decayed_n_e6,
        |       CAST(SUM(w_e6 * cents) AS BIGINT) AS decayed_cents_e6
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val w = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          round(exp(datediff(lit("1998-12-31").cast("date"),
              col("o_orderdate").cast("date")).cast("double") * -1 / 365.0) * 1000000, 0)
            .cast("long").as("w_e6"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      w.groupBy("o_custkey")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum("w_e6").cast("long").as("decayed_n_e6"),
          sum(col("w_e6") * col("cents")).cast("long").as("decayed_cents_e6"))
        .orderBy("o_custkey")
    },

    // Leakage-free K-fold target encoding: customers fold by
    // md5(custkey) % 5; a nation's encoding FOR fold f averages only
    // the OTHER folds' order values (the leave-fold-out mean that
    // prevents the target leaking into its own fold's feature — the
    // tabular-ML preprocessing standard). Integer cent sums make the
    // held-out mean a single exact-integer division per output row.
    // Scale: one (nation, fold) rollup — 125 cells — then arithmetic.
    QueryDef(
      "q229_target_encoding",
      """WITH o AS (
        |  SELECT c.c_nationkey AS nk,
        |         CAST(('0x' || SUBSTR(MD5(CAST(o.o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold,
        |         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |), cell AS (
        |  SELECT nk, fold, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS tot
        |  FROM o GROUP BY 1, 2
        |), nat AS (
        |  SELECT nk, CAST(SUM(n) AS BIGINT) AS n_all, CAST(SUM(tot) AS BIGINT) AS tot_all
        |  FROM cell GROUP BY 1
        |)
        |SELECT cell.nk AS nationkey, CAST(cell.fold AS BIGINT) AS fold, cell.n AS n_rows,
        |       CAST(ROUND(CAST(nat.tot_all - cell.tot AS DOUBLE)
        |                  / CAST(nat.n_all - cell.n AS DOUBLE) / 100, 4) AS DOUBLE) AS encoding
        |FROM cell JOIN nat ON nat.nk = cell.nk
        |ORDER BY nationkey, fold""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").as("nk"),
          (expr("cast(conv(substring(md5(cast(o_custkey as string)), 1, 8), 16, 10) as bigint)") % 5)
            .as("fold"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val cell = o.groupBy("nk", "fold")
        .agg(count(lit(1)).cast("long").as("n"), sum("cents").cast("long").as("tot"))
      val nat = cell.groupBy("nk")
        .agg(sum("n").cast("long").as("n_all"), sum("tot").cast("long").as("tot_all"))
      cell.join(broadcast(nat), "nk")
        .select(col("nk").as("nationkey"), col("fold").cast("long").as("fold"),
          col("n").as("n_rows"),
          round((col("tot_all") - col("tot")).cast("double") /
            (col("n_all") - col("n")).cast("double") / 100, 4)
            .cast("double").as("encoding"))
        .orderBy("nationkey", "fold")
    },

    // Calibration (reliability) table for the q214 quality score as a
    // probability: logistic-transformed score (EXP rounded to exact
    // 1e-6 units, the q228 recipe), 10 fixed-width probability bins,
    // per-bin mean confidence vs observed positive rate — the
    // ECE-style diagnostic that tells you whether a filter score can
    // be thresholded as a probability. Scale: map-only transform +
    // one 10-cell rollup.
    QueryDef(
      "q230_calibration",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), f AS (
        |  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd, SUM(len(w)) AS chars
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT f.doc_id,
        |         CAST('-1.2' AS DECIMAL(12,6))
        |           + CAST('0.016' AS DECIMAL(12,6)) * n
        |           + CAST('2.5' AS DECIMAL(12,6)) * CAST(ROUND(CAST(nd AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6))
        |           - CAST('0.3' AS DECIMAL(12,6)) * CAST(ROUND(CAST(chars AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6)) AS score,
        |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM f JOIN documents d ON d.doc_id = f.doc_id
        |), p AS (
        |  SELECT pos,
        |         CAST(ROUND(1000000.0 / (1.0 + EXP(-CAST(score AS DOUBLE))), 0) AS BIGINT) AS p_e6
        |  FROM sc
        |), b AS (
        |  SELECT LEAST(p_e6 // 100000, 9) AS bin, pos, p_e6 FROM p
        |)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(p_e6) AS BIGINT) AS conf_e6_sum,
        |       CAST(SUM(pos) AS BIGINT) AS n_pos,
        |       CAST(ROUND(CAST(SUM(p_e6) AS DOUBLE) / COUNT(*) / 1000000, 4) AS DOUBLE) AS mean_conf,
        |       CAST(ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS frac_pos
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      def d6(c: org.apache.spark.sql.Column) = c.cast(DecimalType(20, 6))
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n"), countDistinct("w").as("nd"),
          sum(length(col("w"))).as("chars"))
      val w0 = lit(BigDecimal("-1.2")).cast(DecimalType(12, 6))
      val w1 = lit(BigDecimal("0.016")).cast(DecimalType(12, 6))
      val w2 = lit(BigDecimal("2.5")).cast(DecimalType(12, 6))
      val w3 = lit(BigDecimal("0.3")).cast(DecimalType(12, 6))
      val sc = f.select(
        (w0 + w1 * col("n") +
          w2 * round(d6(col("nd")) / col("n"), 4).cast(DecimalType(12, 6)) -
          w3 * round(d6(col("chars")) / col("n"), 4).cast(DecimalType(12, 6))).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val p = sc.select(col("pos"),
        round(lit(1000000.0) / (lit(1.0) + exp(-col("score").cast("double"))), 0)
          .cast("long").as("p_e6"))
      p.select(least(expr("p_e6 div 100000"), lit(9L)).as("bin"),
          col("pos"), col("p_e6"))
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("p_e6").cast("long").as("conf_e6_sum"),
          sum("pos").cast("long").as("n_pos"),
          round(sum("p_e6").cast("double") / count(lit(1)) / 1000000, 4)
            .cast("double").as("mean_conf"),
          round(sum("pos").cast("double") / count(lit(1)), 4)
            .cast("double").as("frac_pos"))
        .orderBy("bin")
    },

    // Benford first-digit audit over order totals — the forensic
    // data-quality screen for fabricated or truncated numeric feeds:
    // observed first-significant-digit counts vs the Benford
    // expectation, with an exact-integer chi-square numerator
    // (x1e6-scaled expected counts, the established fixed-point
    // recipe). Scale: map-only digit extraction + a 9-cell rollup.
    QueryDef(
      "q231_benford_audit",
      """WITH d AS (
        |  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0
        |), c AS (
        |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
        |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT c.digit, c.n,
        |       CAST(ROUND(CAST(c.n AS DOUBLE) / t.total, 4) AS DOUBLE) AS observed,
        |       CAST(ROUND((LN(1.0 + 1.0 / c.digit) / LN(10.0)), 4) AS DOUBLE) AS benford,
        |       CAST(ROUND((CAST(c.n AS DOUBLE) / t.total - (LN(1.0 + 1.0 / c.digit) / LN(10.0)))
        |                  * (CAST(c.n AS DOUBLE) / t.total - (LN(1.0 + 1.0 / c.digit) / LN(10.0)))
        |                  / (LN(1.0 + 1.0 / c.digit) / LN(10.0)) * 1000000, 2) AS DOUBLE) AS chi_term_e6
        |FROM c CROSS JOIN t ORDER BY c.digit""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(round(col("o_totalprice") * 100, 0).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
      val c = d.groupBy("digit").agg(count(lit(1)).cast("long").as("n"))
      val t = c.agg(sum("n").cast("long").as("total"))
      val obs = col("n").cast("double") / col("total")
      val ben = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          round(obs, 4).cast("double").as("observed"),
          round(ben, 4).cast("double").as("benford"),
          round((obs - ben) * (obs - ben) / ben * 1000000, 2)
            .cast("double").as("chi_term_e6"))
        .orderBy("digit")
    }
  )
}
