package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Extension batch 2: embedding-cosine near-dup pairs and regex
  * (BPE-ish) tokenization.
  */
object Ext2 {

  /** q140's three PageRank rounds over the cached co-purchase `edges`
    * and node degrees `deg`, ending in the lazy top-20 by rank.
    *
    * The rounds form a CHAIN with single references: rank_i is consumed
    * only by round i+1, and rank_3 only by the top-20 head. So ONE final
    * action executes each round exactly once. Persisting and counting
    * each round cost 2 extra jobs per round (23 jobs per run measured).
    * An UNBOUNDED iteration would still persist per round to cut lineage
    * (Iterative.fixpointRoundCounts does that); 3 fixed rounds make a
    * depth-3 plan.
    *
    * Each round joins the node-sized rank/share table to the edges.
    * AQE's size estimate for the chained round subtree let that join
    * flip so a round's probe ran in the ONE coalesced rank partition
    * (stage-profiled: 2 serial ~400 ms single-task stages), so the
    * node-sized side is broadcast explicitly and every round probes the
    * cached edge partitions in parallel. The hint holds only while the
    * node table fits the session's broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`), measured as the cached
    * degree index's in-memory size: rank and share tables carry one
    * row per node, as `deg` does. Above it, the joins are left to the
    * planner; the node table grows with the part count, and at cluster
    * scale a forced broadcast of it would exhaust driver memory.
    */
  private[queries] def pagerankTop(s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      deg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = deg.count() // node count: 1-row driver scalar off the cached index
    // a negative threshold ("-1") turns broadcasting off
    val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    val fits = !threshold.startsWith("-") &&
      deg.queryExecution.optimizedPlan.stats.sizeInBytes <=
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(threshold)
    def nodeSide(df: org.apache.spark.sql.DataFrame) = if (fits) broadcast(df) else df
    var rank = deg.select(col("src").as("node"), lit(100000000L / n).as("r"))
    for (_ <- 1 to 3) {
      val shares = rank.join(nodeSide(deg), col("node") === col("src"))
        .select(col("node"), expr("r div deg").as("share"))
      rank = edges.join(nodeSide(shares), edges("src") === shares("node"))
        .groupBy(col("dst"))
        .agg(sum("share").as("s"))
        .select(col("dst").as("node"),
          (lit(15000000L / n) + expr("(85 * s) div 100")).as("r"))
    }
    rank.join(deg, col("node") === col("src"))
      .select(col("node").as("part_key"), col("r").as("pagerank_e8"),
        col("deg").as("degree"))
      .orderBy(col("pagerank_e8").desc, col("part_key")).limit(20)
  }

  /** q48's oracle pipeline (shingle pairs → Jaccard ≥ 0.2 edges →
    * recursive-CTE components), factored through `comp (doc_id,
    * group_id)` so retention variants (q48 keep-min, q97 keep-best)
    * share one definition. Must be opened with `WITH RECURSIVE`.
    */
  private[queries] val duckDedupGroups =
    """tok AS (
      |  SELECT doc_id, w, pos FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |           generate_subscripts(string_split(text, ' '), 1) AS pos
      |    FROM documents) t
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |         w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS shingle
      |  FROM tok
      |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY LEAD(w, 2) OVER win IS NOT NULL
      |), card AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), ok AS (
      |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 128
      |), pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |    JOIN ok ON ok.shingle = a.shingle
      |    GROUP BY a.doc_id, b.doc_id) p
      |  JOIN card ca ON ca.doc_id = doc_a
      |  JOIN card cb ON cb.doc_id = doc_b
      |  WHERE CAST(common AS DECIMAL(20,6)) / (ca.n + cb.n - common) >= 0.2
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM pairs
      |), reach(node, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
      |), comp AS (
      |  SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node
      |)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Embedding-cosine near-duplicate pairs: candidate generation via
    // IVF cells (k-means assignment shared with q31/q50) then exact
    // cosine ≥ threshold inside each cell — the embedding-space analog
    // of MinHash-band candidates. No Q×N cross product; the join keys
    // on (cell, sub-band): cells above MaxCellPairFanout are split by
    // the 8-bit SRP signature so one hot cell (near-identical
    // embeddings — exactly the dedup case) can't go quadratic.
    QueryDef(
      "q41_cosine_near_dup",
      s"""WITH ${Similarity.duckKmeans},
         |${Similarity.duckSubBandPairs}
         |SELECT vec_a, vec_b, cell, CAST(cosine AS DOUBLE) AS cosine
         |FROM pairs WHERE cosine >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      Similarity.cellPairIndex(s, dir)
        .filter(col("cosine") >= 0.2)
        .orderBy("vec_a", "vec_b")
    },

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation as separate tokens (the pre-tokenizer split most BPE
    // vocabularies assume), vs the whitespace count of q21.
    QueryDef(
      "q42_regex_tokens",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("n_bpe_tokens"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
        .orderBy("doc_id")
    },

    // PII scan: per-doc counts of email/phone/ssn-shaped substrings
    // plus an aggregate flag — the redaction-pipeline pre-pass. The
    // synthetic corpus is clean, so expected counts are zero; the
    // oracle still verifies the regex machinery end-to-end.
    QueryDef(
      "q44_pii_scan",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text,
        |            '\d{3}[-.]\d{3}[-.]\d{4}')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(text,
        |            '\d{3}-\d{2}-\d{4}')) AS BIGINT) AS n_ssn_like,
        |       (len(regexp_extract_all(text,
        |            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) > 0) AS has_pii
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
      val ssn = "\\d{3}-\\d{2}-\\d{4}"
      // NB: patterns go through lit(), never expr() — the SQL string
      // parser consumes regex backslash escapes
      def hits(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          col("doc_id"),
          hits(email).cast("long").as("n_emails"),
          hits(phone).cast("long").as("n_phones"),
          hits(ssn).cast("long").as("n_ssn_like"),
          (hits(email) > 0).as("has_pii"))
        .orderBy("doc_id")
    },

    // Redaction APPLY (the transform q44 only scans for): replace
    // email/phone/SSN shapes with typed sentinels plus a configurable
    // denylist term (here the stand-in secret token 'key', whole-word)
    // — production redaction is always PII regexes + a tenant denylist.
    // Emits the redaction count and the cleaned text's hash, the
    // audit columns a compliance pipeline stores instead of diffs.
    // Map-only over the corpus: four codegen'd regexp passes per row,
    // no shuffle until the presentation sort.
    QueryDef(
      "q94_redact_apply",
      """WITH red AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text,
        |             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}|\d{3}[-.]\d{3}[-.]\d{4}|\d{3}-\d{2}-\d{4}|\bkey\b'))
        |           AS n_redacted,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(text,
        |                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |               '\d{3}[-.]\d{3}[-.]\d{4}', '[PHONE]', 'g'),
        |             '\d{3}-\d{2}-\d{4}', '[SSN]', 'g'),
        |           '\bkey\b', '[TERM]', 'g') AS cleaned
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n_redacted AS BIGINT) AS n_redacted,
        |       (n_redacted > 0) AS changed,
        |       MD5(cleaned) AS cleaned_hash
        |FROM red ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
      val ssn = "\\d{3}-\\d{2}-\\d{4}"
      val term = "\\bkey\\b"
      val all = s"$email|$phone|$ssn|$term"
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(all), lit(0))).cast("long")
            .as("n_redacted"),
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("text"), email, "[EMAIL]"),
                phone, "[PHONE]"),
              ssn, "[SSN]"),
            term, "[TERM]").as("cleaned"))
        .select(col("doc_id"), col("n_redacted"),
          (col("n_redacted") > 0).as("changed"),
          md5(col("cleaned")).as("cleaned_hash"))
        .orderBy("doc_id")
    },

    // Column profiling — the data-quality sweep a pipeline runs before
    // training ingestion: per-column null count, distinct count, min,
    // max (stringly-typed so one schema fits all columns).
    QueryDef(
      "q45_profile_orders",
      """SELECT col_name,
        |       CAST(n_nulls AS BIGINT) AS n_nulls,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       min_val, max_val
        |FROM (
        |  SELECT 'o_custkey' AS col_name,
        |         COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |         COUNT(DISTINCT o_custkey) AS n_distinct,
        |         CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
        |         CAST(MAX(o_custkey) AS VARCHAR) AS max_val FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', COUNT(*) - COUNT(o_orderkey),
        |         COUNT(DISTINCT o_orderkey),
        |         CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |         COUNT(DISTINCT o_orderstatus),
        |         MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |) t ORDER BY col_name""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      def profile(c: String, asString: Boolean) = {
        val v = col(c)
        ord.agg(
          (count(lit(1)) - count(v)).as("n_nulls"),
          countDistinct(v).as("n_distinct"),
          min(v).cast("string").as("min_val"),
          max(v).cast("string").as("max_val"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
            col("min_val"), col("max_val"))
      }
      profile("o_custkey", asString = false)
        .unionByName(profile("o_orderkey", asString = false))
        .unionByName(profile("o_orderstatus", asString = true))
        .orderBy("col_name")
    },

    // Stratified sampling — per-language document sampling fractions
    // (`sampleBy`), the class-balancing primitive for training-set
    // assembly. The sampled rows are seed-dependent and engine-specific,
    // so the oracled output is the statistical INVARIANT instead: each
    // stratum's sample size must sit within 6 binomial standard
    // deviations of n·p (P[violation] < 1e-8 per stratum). The oracle
    // recomputes the deterministic side (per-lang totals) and asserts
    // the bound holds — a real hash check on sampler health rather than
    // a rows-only count.
    QueryDef(
      "q46_stratified_sample",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |       TRUE AS within_bounds
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val fractions = Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25, "fr" -> 0.1)
        .withDefaultValue(0.1)
      val langs = docs.select("lang").distinct().collect().map(_.getString(0))
      val fracMap = langs.map(l => l -> fractions(l)).toMap
      val sampled = docs.stat.sampleBy("lang", fracMap, seed = 42L)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      import s.implicits._
      val fracDf = broadcast(fracMap.toSeq.toDF("lang", "p"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(fracDf, "lang")
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          (abs(coalesce(col("n_sampled"), lit(0L)) - col("n_total") * col("p")) <=
            lit(6.0) * sqrt(col("n_total") * col("p") * (lit(1.0) - col("p"))) + lit(1.0))
            .as("within_bounds"))
        .orderBy("lang")
    },

    // Repetition quality metrics (Gopher-style filters, Rae et al.
    // 2021 §A1.1): fraction of all bigram slots taken by the single
    // most frequent bigram, and fraction of trigram slots occupied by
    // repeats. High values = boilerplate/spam docs a training pipeline
    // drops. Total n-gram slots come free as n_tokens-(n-1); only the
    // top-bigram count needs an explode+count, and the distinct-trigram
    // count reuses the native Shingles expression (no second explode).
    QueryDef(
      "q47_repetition_metrics",
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), bgc AS (
        |  SELECT doc_id, b, COUNT(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(w)),
        |                                 i -> w[i] || ' ' || w[i+1])) AS b
        |    FROM base) t GROUP BY doc_id, b
        |), topbg AS (
        |  SELECT doc_id, MAX(c) AS top_bigram_n FROM bgc GROUP BY doc_id
        |), tri AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |         len(list_distinct(list_transform(range(1, len(w) - 1),
        |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS n_distinct_tri
        |  FROM base
        |)
        |SELECT t.doc_id,
        |       t.n_tokens,
        |       CAST(b.top_bigram_n AS BIGINT) AS top_bigram_n,
        |       CAST(ROUND(CAST(b.top_bigram_n AS DECIMAL(20,6)) / (t.n_tokens - 1), 4)
        |            AS DOUBLE) AS top_bigram_frac,
        |       CAST(ROUND(CAST(t.n_tokens - 2 - t.n_distinct_tri AS DECIMAL(20,6))
        |                  / (t.n_tokens - 2), 4) AS DOUBLE) AS dup_trigram_frac
        |FROM tri t JOIN topbg b USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.TextExprs
      val dec6 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(20, 6))
      val base = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
      val tri = base.select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(TextExprs.shingles(col("w"), 3)).as("n_distinct_tri"))
      val topbg = base
        .select(col("doc_id"), explode(TextExprs.ngrams(col("w"), 2)).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
      tri.join(topbg, "doc_id")
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("top_bigram_n").cast("long").as("top_bigram_n"),
          round(dec6(col("top_bigram_n")) / (col("n_tokens") - 1), 4)
            .cast("double").as("top_bigram_frac"),
          round(dec6(col("n_tokens") - 2 - col("n_distinct_tri"))
            / (col("n_tokens") - 2), 4)
            .cast("double").as("dup_trigram_frac"))
        .orderBy("doc_id")
    },

    // Duplicate-group assembly: near-dup PAIRS (q26's shingle-Jaccard
    // edges) → CONNECTED COMPONENTS via min-label propagation, the step
    // that turns pairwise candidates into a retention policy (keep the
    // lowest doc_id per group, drop the rest). Spark side is the
    // standard scalable CC loop: iterate `label := min(label over
    // neighbors ∪ self)` to fixpoint — each round one shuffle join, no
    // driver-side graph; each round reliably materialized (parquet
    // scratch dir; HDFS/object storage on a real cluster) with the
    // convergence tally folded into the same job. Rounds needed =
    // component diameter, which for dedup clusters is tiny. Oracle =
    // DuckDB recursive CTE computing the same fixpoint.
    QueryDef(
      "q48_dedup_groups",
      s"""WITH RECURSIVE $duckDedupGroups
         |SELECT c.doc_id,
         |       CAST(c.group_id AS BIGINT) AS group_id,
         |       CAST(g.group_size AS BIGINT) AS group_size,
         |       c.doc_id = c.group_id AS keep
         |FROM comp c
         |JOIN (SELECT group_id, COUNT(*) AS group_size FROM comp GROUP BY group_id) g
         |  USING (group_id)
         |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      val comp = TextOps.dedupComponents(s, dir)
      val sizes = comp.groupBy("group_id").agg(count(lit(1)).as("group_size"))
      comp.join(sizes, "group_id")
        .select(col("doc_id"), col("group_id"),
          col("group_size").cast("long").as("group_size"),
          (col("doc_id") === col("group_id")).as("keep"))
        .orderBy("doc_id")
    },

    // Quality-aware dedup retention: same near-dup groups as q48, but
    // the survivor is the HIGHEST-QUALITY member (type/token-ratio
    // score, tie → lowest doc_id) instead of the lowest id — the
    // retention rule production pipelines actually want: near-dup
    // clusters usually contain one clean original and N degraded
    // scrapes, and keep-min keeps whichever was crawled first. Reads
    // the cached group index and the q22 score; one score join + one
    // per-group rank window (groups ≫ executors, no hot partition).
    QueryDef(
      "q97_dedup_keep_best",
      s"""WITH RECURSIVE $duckDedupGroups,
         |sc AS (
         |  SELECT doc_id,
         |         ROUND(CAST(COUNT(DISTINCT w) AS DECIMAL(20,6)) / COUNT(*), 4)
         |           AS score
         |  FROM tok GROUP BY doc_id
         |), r AS (
         |  SELECT c.doc_id, c.group_id, sc.score,
         |         ROW_NUMBER() OVER (PARTITION BY c.group_id
         |           ORDER BY sc.score DESC, c.doc_id) AS rn
         |  FROM comp c JOIN sc ON sc.doc_id = c.doc_id
         |)
         |SELECT doc_id, CAST(group_id AS BIGINT) AS group_id,
         |       CAST(score AS DOUBLE) AS score, (rn = 1) AS keep_best
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val dec6 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(20, 6))
      val sc = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id")
        .agg(round(dec6(countDistinct(col("w"))) / count(lit(1)), 4).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group_id").orderBy(col("score").desc, col("doc_id"))
      TextOps.dedupComponents(s, dir)
        .join(sc, "doc_id")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("group_id"),
          col("score").cast("double").as("score"),
          (col("rn") === 1).as("keep_best"))
        .orderBy("doc_id")
    },

    // The dedup RETENTION POLICY end to end — what a training pipeline
    // actually ships: exact dedup first (md5 fingerprint, keep lowest
    // doc_id), then near-dup connected components over the SURVIVORS
    // (shingle-Jaccard edges → min-label groups, keep lowest per
    // group). Output = per-language surviving corpus counts. Staging
    // exact-dedup first shrinks the expensive pair join's input — the
    // order every production dedup uses.
    QueryDef(
      "q57_dedup_retention",
      """WITH RECURSIVE fp AS (
        |  SELECT doc_id, lang, text, MD5(LOWER(text)) AS fingerprint FROM documents
        |), exact_kept AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        |    FROM fp) t WHERE rn = 1
        |), tok AS (
        |  SELECT doc_id, w, pos FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM exact_kept) t
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS shingle
        |  FROM tok
        |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY LEAD(w, 2) OVER win IS NOT NULL
        |), card AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), ok AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 128
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    JOIN ok ON ok.shingle = a.shingle
        |    GROUP BY a.doc_id, b.doc_id) p
        |  JOIN card ca ON ca.doc_id = doc_a
        |  JOIN card cb ON cb.doc_id = doc_b
        |  WHERE CAST(common AS DECIMAL(20,6)) / (ca.n + cb.n - common) >= 0.2
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        |), comp AS (
        |  SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node
        |), surviving AS (
        |  SELECT k.doc_id, k.lang FROM exact_kept k
        |  LEFT JOIN comp c ON c.doc_id = k.doc_id
        |  WHERE c.doc_id IS NULL OR c.group_id = k.doc_id
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_surviving
        |FROM surviving GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val wFp = Window.partitionBy(md5(lower(col("text")))).orderBy("doc_id")
      // both ingest artifacts (exact-dedup survivors, their near-dup
      // candidate table) are deterministic → built once per (session,
      // dataset) like the corpus-wide kernels; the survivors feed the
      // pair build AND the final anti side
      val exactKept = TextOps.cachedIndex(
          IndexCache.key("exact-kept", s, dir))(
        d.withColumn("rn", row_number().over(wFp))
          .filter(col("rn") === 1)
          .select("doc_id", "lang", "text"))
      val dec6 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(20, 6))
      val pairs = TextOps.cachedIndex(
          IndexCache.key("survivor-pairs", s, dir))(
        TextOps.shingleOverlapPairsOf(exactKept))
        .filter(dec6(col("common")) / (col("na") + col("nb") - col("common")) >= 0.2)
        .select("doc_a", "doc_b")
      // r16: the survivor components are as deterministic as the pair
      // table they derive from — a built-once ingest artifact like cc02
      // (the all-docs components), so the min-label fixpoint no longer
      // re-runs its write+read rounds on every q57 execution (was 16
      // jobs/run). Same maintenance story as cc02: recomputed from the
      // MAINTAINED survivor-pair index, pointer-jumping rounds bounded
      // by pair count.
      val comp = TextOps.cachedIndex(
        IndexCache.key("ccsurv", s, dir))(
        TextOps.connectedComponents(pairs))
      val surviving = exactKept.join(comp, Seq("doc_id"), "left")
        .filter(col("group_id").isNull || col("group_id") === col("doc_id"))
      surviving.groupBy("lang")
        .agg(count(lit(1)).as("n_surviving"))
        .orderBy("lang")
    },

    // Multimodal pipeline end-to-end under the oracle gate: documents →
    // binary assets (utf8 payload stand-ins) → per-partition feature
    // extraction (`mapPartitions`, the mapInPandas shape) → per-media
    // rollup. Checksums are md5-hex (portable), byte lengths are ascii
    // char counts — so the REAL extraction path is hash-compared, only
    // the codec inside it is stubbed.
    QueryDef(
      "q51_multimodal_rollup",
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |            WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |            ELSE 'video/mp4' END AS media_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_assets,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_bytes,
        |       MIN(MD5(text)) AS min_checksum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val assets = graft.functions.Multimodal.assetsFromDocuments(
        Tables.load(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism))
      graft.functions.Multimodal.extractFeatures(assets).toDF()
        .groupBy("media_type")
        .agg(count(lit(1)).as("n_assets"),
          sum("n_bytes").cast("long").as("total_bytes"),
          min("checksum").as("min_checksum"))
        .orderBy("media_type")
    },

    // Winnowing near-dup candidates: rolling-hash k-gram fingerprints
    // (Schleimer et al. SIGMOD'03) selected by window-min, inverted-
    // index join on shared fingerprints. The hash family is portable
    // mod-(2^31-1) polynomial arithmetic (see Winnow.scala), so the
    // oracle recomputes the exact fingerprints in SQL: per-position
    // k-gram hashes via precomputed powers of the base B=1000003 mod M
    // (57298384 = B^7 mod M, ... descending to B^0), window-min
    // selection, then the same df-capped inverted-index pair join.
    // Invariants additionally spec-tested (WinnowSpec).
    QueryDef(
      "q43_winnow_candidates",
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) - 8 + 2), i ->
        |           (  ord(substr(text, i,     1))::BIGINT * 57298384
        |            + ord(substr(text, i + 1, 1))::BIGINT * 2061642598
        |            + ord(substr(text, i + 2, 1))::BIGINT * 1953433226
        |            + ord(substr(text, i + 3, 1))::BIGINT * 1604566856
        |            + ord(substr(text, i + 4, 1))::BIGINT * 1049561761
        |            + ord(substr(text, i + 5, 1))::BIGINT * 1426104154
        |            + ord(substr(text, i + 6, 1))::BIGINT * 1000003
        |            + ord(substr(text, i + 7, 1))::BIGINT) % 2147483647) AS hs
        |  FROM documents WHERE length(text) >= 8
        |), sel AS (
        |  SELECT doc_id,
        |         CASE WHEN len(hs) <= 16 THEN [list_min(hs)]
        |              ELSE list_distinct(list_transform(range(1, len(hs) - 16 + 2),
        |                     s -> list_min(hs[s:s+15]))) END AS fps
        |  FROM h
        |), fp AS (
        |  SELECT doc_id, unnest(fps) AS fp FROM sel
        |), rare AS (
        |  SELECT fp FROM fp GROUP BY fp HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 20
        |), fr AS (
        |  SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(COUNT(*) AS BIGINT) AS shared_fps
        |FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val fps = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(graft.functions.Winnow.winnowFingerprint(col("text"), 8, 16))
            .as("fp"))
      // stop-fingerprint cap: a fingerprint present in many documents
      // (boilerplate/common phrases) contributes quadratically many
      // candidate pairs and no dedup signal — cap posting-list document
      // frequency before the join (the winnowing-dedup standard; same
      // role as dropping stopword shingles in MinHash pipelines).
      val rare = fps.groupBy("fp")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df").between(2, 20))
        .select("fp")
      val fpsRare = fps.join(rare.hint("shuffle_hash"), "fp")
      fpsRare.as("a").join(fpsRare.hint("shuffle_hash").as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
        .orderBy("doc_a", "doc_b")
    },

    // Benchmark decontamination (GPT-3 appendix C / PaLM-style): flag
    // training documents sharing any 4-word n-gram with a held-out
    // eval set (here: doc_id % 50 == 0 stands in for the benchmark
    // corpus). The eval n-gram set is BROADCAST — eval suites are
    // tiny against a 100 TB corpus, so the scan-side join is the
    // correct scale shape (no shuffle of the training grams). Distinct
    // grams per doc, so n_shared counts distinct contaminated grams.
    QueryDef(
      "q58_decontamination",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(string_split(text, ' ')) - 4 + 2),
        |           i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')))) AS g
        |  FROM documents WHERE len(string_split(text, ' ')) >= 4
        |), ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g)
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.TextExprs.ngrams(
            split(col("text"), " "), 4))).as("g"))
      val evalGrams = grams.filter(col("doc_id") % 50 === 0)
        .select("g").distinct()
      grams.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalGrams), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },

    // Decontamination APPLY — the drop decision q58 only scores: train
    // docs sharing >= 3 distinct 4-grams with the eval set are removed,
    // and the surviving corpus is reported per language with token
    // volumes — the "what did decontamination cost us" sheet published
    // next to an eval release. Same broadcast-gram topology as q58 plus
    // one per-lang rollup; docs too short to carry grams are clean by
    // definition (LEFT join, zero overlap).
    QueryDef(
      "q105_decontaminate_apply",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(string_split(text, ' ')) - 4 + 2),
        |           i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')))) AS g
        |  FROM documents WHERE len(string_split(text, ' ')) >= 4
        |), ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 50 <> 0),
        |sh AS (
        |  SELECT tr.doc_id, COUNT(*) AS ns FROM tr JOIN ev USING (g)
        |  GROUP BY tr.doc_id
        |), t AS (
        |  SELECT d.lang, len(string_split(d.text, ' ')) AS nt,
        |         COALESCE(sh.ns, 0) AS ns
        |  FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
        |  WHERE d.doc_id % 50 <> 0
        |)
        |SELECT lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN ns >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |       CAST(SUM(CASE WHEN ns < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN ns < 3 THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.TextExprs.ngrams(
            split(col("text"), " "), 4))).as("g"))
      val evalGrams = grams.filter(col("doc_id") % 50 === 0)
        .select("g").distinct()
      val shared = grams.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalGrams), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("ns"))
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("nt"))
        .join(shared, Seq("doc_id"), "left")
        .withColumn("ns", coalesce(col("ns"), lit(0L)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ns") >= 3, 1).otherwise(0)).cast("long").as("n_dropped"),
          sum(when(col("ns") < 3, 1).otherwise(0)).cast("long").as("n_kept"),
          sum(when(col("ns") < 3, col("nt")).otherwise(0)).cast("long")
            .as("tokens_kept"))
        .orderBy("lang")
    },

    // Bloom-filter decontamination — q58's topology when even the eval
    // FINGERPRINT SET is too big to broadcast as rows: build a Bloom
    // filter over the eval-side fingerprints (distributed aggregation,
    // `DataFrame.stat.bloomFilter`), broadcast the bits, and flag train
    // docs by membership probe. At 100 TB this is THE pre-filter shape:
    // the probe is a map-only scan (no join, no shuffle), and the few
    // false positives feed an exact verify join on the survivors only.
    // The filter's bit pattern is engine-specific, so the oracled
    // output is the exact-hit column (deterministic on both sides) plus
    // the Bloom guarantee as an invariant: NO FALSE NEGATIVES — every
    // exact hit must probe true (`no_false_negative` ≡ TRUE on the
    // oracle side; any lost hit flips the hash). Fingerprint = md5 of
    // the 40-char leading boilerplate (q67's rule), so hits exist at
    // every SF.
    QueryDef(
      "q78_bloom_decontamination",
      """WITH f AS (
        |  SELECT doc_id, MD5(SUBSTRING(text, 1, 40)) AS fp FROM documents
        |), ev AS (SELECT DISTINCT fp FROM f WHERE doc_id % 50 = 0)
        |SELECT f.doc_id,
        |       EXISTS (SELECT 1 FROM ev WHERE ev.fp = f.fp) AS exact_hit,
        |       TRUE AS no_false_negative
        |FROM f WHERE doc_id % 50 <> 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 40)).as("fp"))
      val evalFps = f.filter(col("doc_id") % 50 === 0).select("fp").distinct()
      // expectedNumItems sized generously for the test SFs; production
      // sizes it from the eval corpus count (one cheap agg beforehand).
      // The filter is built over xxhash64(fp) longs so the probe can be
      // Spark's native BloomFilterMightContain expression (codegen'd —
      // the same probe Catalyst injects for runtime row filtering),
      // instead of a per-row Scala UDF: put(putLong) and probe
      // (mightContainLong) share one hash family by construction.
      val bloom = evalFps.select(xxhash64(col("fp")).as("hv"))
        .stat.bloomFilter("hv", 100000L, 0.01)
      val bloomBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      val probe = org.apache.spark.sql.graftshim.toColumn(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(
            bloomBytes, org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.graftshim.toExpression(xxhash64(col("fp")))))
      f.filter(col("doc_id") % 50 =!= 0)
        .join(evalFps.withColumn("in_eval", lit(true)), Seq("fp"), "left")
        .select(col("doc_id"),
          coalesce(col("in_eval"), lit(false)).as("exact_hit"),
          // the invariant: a bloom miss on an exact hit = broken filter
          (probe || !coalesce(col("in_eval"), lit(false)))
            .as("no_false_negative"))
        .orderBy("doc_id")
    },

    // SemDeDup-style embedding dedup retention (Abbas et al. 2023):
    // within-IVF-cell cosine candidates above a threshold → connected
    // components → keep the lowest vec_id per group; report per-cell
    // retention. Same candidate topology as q41 (cell-restricted,
    // sub-banded), same CC machinery as q48 — composition, not new
    // kernels. Threshold 0.3 because the synthetic embeddings are
    // near-orthogonal (max pairwise cosine ~0.51); production would
    // run ~0.95 on real model embeddings.
    QueryDef(
      "q59_semantic_dedup",
      s"""WITH RECURSIVE ${Similarity.duckKmeans},
         |${Similarity.duckSubBandPairs},
         |dup AS (SELECT vec_a, vec_b FROM pairs WHERE cosine >= 0.3
         |), edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM dup
         |  UNION ALL SELECT vec_b, vec_a FROM dup
         |), reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
         |), comp AS (
         |  SELECT node, MIN(label) AS label FROM reach GROUP BY node
         |), removed AS (SELECT node FROM comp WHERE node <> label)
         |SELECT a.cent_id AS cell,
         |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(COUNT(r.node) AS BIGINT) AS n_removed,
         |       CAST(COUNT(*) - COUNT(r.node) AS BIGINT) AS n_kept
         |FROM assign a LEFT JOIN removed r ON r.node = a.vec_id
         |GROUP BY a.cent_id ORDER BY cell""".stripMargin) { (s, dir) =>
      val (_, ranks) = Similarity.ivfIndex(s, dir)
      val assign = ranks.filter(col("rn") === 1)
        .select(col("vec_id"), col("cent_id").as("cell"))
      val dup = Similarity.cellPairIndex(s, dir)
        .filter(col("cosine") >= 0.3)
        .select(col("cell").as("key"), col("vec_a").as("doc_a"),
          col("vec_b").as("doc_b"))
      // candidate pairs are cell-restricted, so components cannot cross
      // cells: one grouped union-find pass replaces the distributed CC
      // fixpoint (same labels, no per-round materialization)
      val removed = TextOps.partitionedComponents(dup)
        .filter(col("doc_id") =!= col("group_id"))
        .select(col("doc_id").as("vec_id"), lit(1).as("rm"))
      assign.join(removed, Seq("vec_id"), "left")
        .groupBy("cell").agg(
          count(lit(1)).as("n_vecs"),
          count(col("rm")).as("n_removed"),
          (count(lit(1)) - count(col("rm"))).as("n_kept"))
        .orderBy("cell")
    },

    // Corpus mixing via deterministic hash-mod sampling: each language
    // keeps `keep_bp`/10000 of its documents, selected by md5(doc_id)
    // bucket — reproducible across engines, cluster sizes, and row
    // orders (unlike seed-based RNG sampling, whose draw depends on
    // partitioning). THE production shape for assembling weighted
    // training mixtures; fully oracle-checkable because the hash is
    // exact on both sides.
    QueryDef(
      "q60_corpus_mixing",
      """WITH w(lang, keep_bp) AS (
        |  VALUES ('en', 5000), ('es', 2500), ('de', 2500), ('fr', 1000), ('zh', 1000)
        |), k AS (
        |  SELECT d.lang,
        |         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                   % 10000 < w.keep_bp
        |              THEN 1 ELSE 0 END AS kept
        |  FROM documents d JOIN w ON w.lang = d.lang
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |       CAST(SUM(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      val weights = Seq(("en", 5000), ("es", 2500), ("de", 2500),
        ("fr", 1000), ("zh", 1000)).toDF("lang", "keep_bp")
      Tables.load(s, dir, "documents")
        .join(broadcast(weights), "lang")
        .withColumn("kept",
          when(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            % 10000 < col("keep_bp"), 1).otherwise(0))
        .groupBy("lang").agg(
          count(lit(1)).as("n_total"),
          sum("kept").cast("long").as("n_kept"))
        .orderBy("lang")
    },

    // Sequence packing: assign documents to fixed 2048-token training
    // windows by cumulative token offset — the batch-assembly step
    // between a cleaned corpus and a trainer. Packing is PER SHARD
    // (doc_id % 8): the running sum partitions by shard, so at 100 TB
    // each shard packs independently (one window partition each) with
    // no global ordering bottleneck; shard count scales with the
    // cluster, and assignment stays deterministic.
    QueryDef(
      "q61_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT shard, doc_id, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS off
        |  FROM t
        |)
        |SELECT shard, CAST(FLOOR(off / 2048.0) AS BIGINT) AS pack_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM c GROUP BY shard, pack_id
        |ORDER BY shard, pack_id""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("off", sum("n_tokens").over(w) - col("n_tokens"))
        .groupBy(col("shard"),
          floor(col("off") / 2048.0).cast("long").as("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"))
        .orderBy("shard", "pack_id")
    },

    // REAL image decode under the oracle gate: documents → actual PNG
    // payloads (JDK-native encoder, dims seeded from n_chars) → per-
    // partition javax.imageio decode. The oracle PREDICTS the encoder's
    // dimensions arithmetically; the Spark side must genuinely decode
    // each PNG to report them — a decoder bug (or corrupt payload,
    // decoded=false) breaks the hash.
    QueryDef(
      "q62_image_decode",
      """SELECT doc_id AS asset_id,
        |       CAST(n_chars % 24 + 8 AS INT) AS width,
        |       CAST(n_chars % 16 + 8 AS INT) AS height,
        |       TRUE AS decoded
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val imgs = TextOps.cachedIndex(
        IndexCache.key("imgassets", s, dir))(
        graft.functions.Multimodal.imageAssetsFromDocuments(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      graft.functions.Multimodal.extractImageFeatures(imgs).toDF()
        .select(col("asset_id"), col("width"), col("height"), col("decoded"))
        .orderBy("asset_id")
    },

    // Visual dedup by perceptual hash over REAL decodes: the thumbnail
    // corpus publishes a small space of distinct rasters under many
    // asset ids (syndicated thumbnails); every asset is PNG-decoded and
    // aHashed (8×8 block means, integer-exact), then grouped by hash —
    // keep-min retention exactly like q25, but the key comes from
    // pixels, not text. The oracle predicts pixel-identity from the
    // generator's residues ((n_chars%4, n_chars%3, doc_id%5) ↔ raster),
    // so the gate fails if the decoder or the hash ever diverges from
    // true pixel equality. Scale shape: decode+hash is a map-only
    // partition pass; one shuffle on the 16-hex key.
    QueryDef(
      "q101_image_phash_dedup",
      """SELECT doc_id AS asset_id,
        |       CAST(MIN(doc_id) OVER (PARTITION BY n_chars % 4,
        |              n_chars % 3, doc_id % 5) AS BIGINT) AS group_id,
        |       CAST(COUNT(*) OVER (PARTITION BY n_chars % 4,
        |              n_chars % 3, doc_id % 5) AS BIGINT) AS group_size,
        |       doc_id <> MIN(doc_id) OVER (PARTITION BY n_chars % 4,
        |              n_chars % 3, doc_id % 5) AS is_dup
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val assets = TextOps.cachedIndex(
        IndexCache.key("imgthumbs", s, dir))(
        graft.functions.Multimodal.thumbnailAssets(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      val hashes = graft.functions.Multimodal.imagePHashes(assets)
      val groups = hashes.groupBy("phash").agg(
        min("asset_id").as("group_id"),
        count(lit(1)).as("group_size"))
      hashes.join(groups, "phash")
        .select(col("asset_id"), col("group_id"),
          col("group_size").cast("long").as("group_size"),
          (col("asset_id") =!= col("group_id")).as("is_dup"))
        .orderBy("asset_id")
    },

    // REAL WAV decode under the oracle gate (same invariant shape as
    // q62): documents → actual 8 kHz 16-bit PCM WAV payloads →
    // javax.sound decode. duration_ms = n_chars by construction
    // (n_chars*8 frames at 8 kHz), so the oracle predicts every field
    // the decoder must read from the real header.
    QueryDef(
      "q63_audio_decode",
      """SELECT doc_id AS asset_id,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(n_chars * 8 AS BIGINT) AS n_frames,
        |       CAST(n_chars AS BIGINT) AS duration_ms,
        |       TRUE AS decoded
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val wavs = TextOps.cachedIndex(
        IndexCache.key("wavassets", s, dir))(
        graft.functions.Multimodal.audioAssetsFromDocuments(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      graft.functions.Multimodal.extractAudioFeatures(wavs).toDF()
        .select(col("asset_id"), col("sample_rate"), col("n_frames"),
          col("duration_ms"), col("decoded"))
        .orderBy("asset_id")
    },

    // Audio fingerprint dedup — q101's retention policy for sound:
    // syndicated clips (the audioThumbnails farm) are WAV-decoded,
    // energy-fingerprinted (64 integer-exact windows), and grouped by
    // fingerprint with keep-min retention. Oracle predicts
    // sample-identity from the generator residues, so a decoder or
    // fingerprint divergence from true sample equality fails the gate.
    // Map-only decode pass + one shuffle on the fingerprint key.
    QueryDef(
      "q102_audio_fingerprint_dedup",
      """SELECT doc_id AS asset_id,
        |       CAST(MIN(doc_id) OVER (PARTITION BY n_chars % 6, doc_id % 5)
        |            AS BIGINT) AS group_id,
        |       CAST(COUNT(*) OVER (PARTITION BY n_chars % 6, doc_id % 5)
        |            AS BIGINT) AS group_size,
        |       doc_id <> MIN(doc_id) OVER (PARTITION BY n_chars % 6, doc_id % 5)
        |         AS is_dup
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val assets = TextOps.cachedIndex(
        IndexCache.key("wavthumbs", s, dir))(
        graft.functions.Multimodal.audioThumbnails(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      val fps = graft.functions.Multimodal.audioFingerprints(assets)
      val groups = fps.groupBy("afp").agg(
        min("asset_id").as("group_id"),
        count(lit(1)).as("group_size"))
      fps.join(groups, "afp")
        .select(col("asset_id"), col("group_id"),
          col("group_size").cast("long").as("group_size"),
          (col("asset_id") =!= col("group_id")).as("is_dup"))
        .orderBy("asset_id")
    },

    // Video signature dedup — completing the multimodal dedup trio
    // (q101 pixels, q102 samples, here streams): each clip's REAL Y4M
    // walk yields a per-frame luma signature, grouped with keep-min
    // retention; the oracle predicts stream identity from the
    // generator residues. Frame-level features (not byte hashes) are
    // what production video dedup signatures are built from, so a
    // container-level difference with identical frames still collides
    // — exactly the desired semantics. Map-only walk + one shuffle.
    QueryDef(
      "q103_video_signature_dedup",
      """SELECT doc_id AS asset_id,
        |       CAST(MIN(doc_id) OVER w AS BIGINT) AS group_id,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS group_size,
        |       doc_id <> MIN(doc_id) OVER w AS is_dup
        |FROM documents
        |WINDOW w AS (PARTITION BY n_chars % 3, n_chars % 2,
        |             n_chars % 4, doc_id % 5)
        |ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val assets = TextOps.cachedIndex(
        IndexCache.key("vidthumbs", s, dir))(
        graft.functions.Multimodal.videoThumbnails(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      val sigs = graft.functions.Multimodal.videoSignatures(assets)
      val groups = sigs.groupBy("vsig").agg(
        min("asset_id").as("group_id"),
        count(lit(1)).as("group_size"))
      sigs.join(groups, "vsig")
        .select(col("asset_id"), col("group_id"),
          col("group_size").cast("long").as("group_size"),
          (col("asset_id") =!= col("group_id")).as("is_dup"))
        .orderBy("asset_id")
    },

    // REAL video decode under the oracle gate: documents → actual Y4M
    // (YUV4MPEG2) streams, hand-parsed per partition. The Y4M header
    // carries NO frame count, so n_frames can only come from walking
    // the stream frame-by-frame — exactly what the decoder does; the
    // oracle predicts the encoder's geometry arithmetically
    // (25 fps → duration_ms = n_frames*40; stride-2 sampling →
    // n_sampled = ceil(n_frames/2)).
    QueryDef(
      "q64_video_decode",
      """SELECT doc_id AS asset_id,
        |       CAST(n_chars % 16 + 8 AS INT) AS width,
        |       CAST(n_chars % 12 + 8 AS INT) AS height,
        |       CAST(n_chars % 10 + 2 AS BIGINT) AS n_frames,
        |       CAST((n_chars % 10 + 2) * 40 AS BIGINT) AS duration_ms,
        |       CAST(CEIL((n_chars % 10 + 2) / 2.0) AS BIGINT) AS n_sampled,
        |       TRUE AS decoded
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      val vids = TextOps.cachedIndex(
        IndexCache.key("vidassets", s, dir))(
        graft.functions.Multimodal.videoAssetsFromDocuments(
          Tables.load(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism)))
      graft.functions.Multimodal.extractVideoFeatures(vids).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"), col("n_sampled"),
          col("decoded"))
        .orderBy("asset_id")
    },

    // PageRank over the part co-purchase graph (parts linked when they
    // appear in the same order) — the graph-centrality family the
    // dedup connected-components kernel doesn't cover. Power iteration
    // in DataFrame form: per round, every node sends rank/degree along
    // its out-edges (one shuffle keyed on dst), damped 0.85. Three
    // fixed rounds so the oracle is an unrolled CTE chain, not a
    // recursion. Determinism goes BEYOND the q91 rounded-double recipe
    // (whose half-way ROUND behavior differed between engines at the
    // 8th decimal here): rank is a fixed-point BIGINT scaled by 1e8,
    // every per-round step is integer floor division (`div` / `//`)
    // and exact long SUM — no floating point anywhere in the fixpoint,
    // so the engines agree bit-for-bit by construction.
    // Undirected edges mean every node has in-degree ≥ 1 — no dangling
    // mass, the node set is stable across rounds. 100 TB: edges are
    // built once and persisted; each round is one edges⋈rank
    // broadcast-or-shuffle join + one dst-keyed hash aggregate — the
    // standard Pregel message-passing topology, rounds are fixed (3),
    // superseded rounds unpersist eagerly (constant memory in the
    // round count), and nothing on the driver ever holds more than
    // the 1-row node count. On a cluster the same loop adds a
    // reliable checkpoint every N rounds (GraphX's policy) purely for
    // fault tolerance — an in-session iteration needs only the cache.
    QueryDef(
      "q140_part_pagerank",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |), deg AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
        |), nn AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
        |), r0 AS (
        |  SELECT src AS node, CAST(100000000 // nn.n AS BIGINT) AS r
        |  FROM deg, nn
        |), s1 AS (
        |  SELECT r.node, CAST(r.r // d.deg AS BIGINT) AS share
        |  FROM r0 r JOIN deg d ON d.src = r.node
        |), r1 AS (
        |  SELECT e.dst AS node,
        |         CAST(15000000 // nn.n + (85 * SUM(s.share)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN s1 s ON s.node = e.src, nn
        |  GROUP BY e.dst, nn.n
        |), s2 AS (
        |  SELECT r.node, CAST(r.r // d.deg AS BIGINT) AS share
        |  FROM r1 r JOIN deg d ON d.src = r.node
        |), r2 AS (
        |  SELECT e.dst AS node,
        |         CAST(15000000 // nn.n + (85 * SUM(s.share)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN s2 s ON s.node = e.src, nn
        |  GROUP BY e.dst, nn.n
        |), s3 AS (
        |  SELECT r.node, CAST(r.r // d.deg AS BIGINT) AS share
        |  FROM r2 r JOIN deg d ON d.src = r.node
        |), r3 AS (
        |  SELECT e.dst AS node,
        |         CAST(15000000 // nn.n + (85 * SUM(s.share)) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN s3 s ON s.node = e.src, nn
        |  GROUP BY e.dst, nn.n
        |)
        |SELECT r3.node AS part_key, r3.r AS pagerank_e8, d.deg AS degree
        |FROM r3 JOIN deg d ON d.src = r3.node
        |ORDER BY pagerank_e8 DESC, part_key LIMIT 20""".stripMargin) { (s, dir) =>
      // the co-purchase edge table AND its node degrees are BUILT-ONCE
      // corpus indexes (Ext3.coEdges / coDegrees, ledger keys predges /
      // prdeg): cached on (session, dir), so repeated runs pay the
      // distinct self-join and the degree aggregate exactly once —
      // per-query cost is the 3 iteration rounds only (VERDICT r15
      // item 5)
      val top = pagerankTop(s, Ext3.coEdges(s, dir), Ext3.coDegrees(s, dir))
      // the result is 20 rows: pin it locally (deg/edges stay cached:
      // they are the shared prdeg/predges indexes, released by
      // IndexCache at session scope, not per query.)
      val rows = top.collect().toSeq
      val schema = top.schema
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    }
  )
}
