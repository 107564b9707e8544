package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation selection operators — the layer between a cleaned
  * corpus and a training mix: per-domain top-k retention, token-budget
  * selection, and cross-batch incremental dedup.
  *
  * Reference scope: these generalize the reference's model-selection /
  * test-selection batch flows (dbt has no corpus layer); the ops
  * themselves follow the public C4/Gopher/RefinedWeb curation recipes.
  *
  * 100 TB stance: every query here shuffles once on its grouping key
  * (source / lang / fingerprint) and aggregates map-side first where
  * possible. Per-group windows assume group cardinality ≫ executor
  * count (domains, languages) so no single partition is hot; the
  * incremental-dedup join is O(batch) against a bucketed corpus index,
  * never a corpus rescan.
  */
object Curation {

  private def dec6(c: Column): Column = c.cast(DecimalType(20, 6))

  /** Exact-decimal type/token-ratio score (q22's portable formula) on
    * (doc_id, source, lang, n_tokens, score) — decimal end-to-end so
    * Spark and DuckDB order ties identically.
    */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val st = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("nd"))
    d.select(col("doc_id"), col("source"), col("lang"))
      .join(st, "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        col("n").as("n_tokens"),
        round(dec6(col("nd")) / col("n"), 4).as("score"))
  }

  /** Shared oracle CTE computing the same score in DuckDB. */
  private val duckScored =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), st AS (
      |  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd
      |  FROM tok GROUP BY doc_id
      |), sc AS (
      |  SELECT d.doc_id, d.source, d.lang, st.n AS n_tokens,
      |         ROUND(CAST(st.nd AS DECIMAL(20,6)) / st.n, 4) AS score
      |  FROM documents d JOIN st ON d.doc_id = st.doc_id
      |)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Per-domain top-k selection: keep the k highest-quality documents
    // from every source domain — the "best pages per site" retention
    // rule. One shuffle on source; the rank window sorts within each
    // domain only (domains ≫ executors at scale, so no hot partition).
    QueryDef(
      "q65_domain_topk",
      s"""WITH $duckScored, r AS (
         |  SELECT source, doc_id, score,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY score DESC, doc_id) AS rank
         |  FROM sc
         |)
         |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(score AS DOUBLE) AS score
         |FROM r WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id"))
      scored(s, dir)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("source"), col("doc_id"), col("rank"),
          col("score").cast("double").as("score"))
        .orderBy("source", "rank")
    },

    // Token-budget selection: per language, admit documents in
    // descending-quality order until a 20k-token budget is exhausted
    // (a document is admitted iff it STARTS under budget — q61's
    // packing rule). This is the data-mixing step that turns "weights
    // per language" into an actual document set. Cumulative window per
    // lang; the budget comparison stays inside the window projection,
    // so the whole query is one shuffle + one window pass.
    QueryDef(
      "q66_token_budget_selection",
      s"""WITH $duckScored, c AS (
         |  SELECT lang, doc_id, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY lang
         |           ORDER BY score DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - n_tokens AS off
         |  FROM sc
         |)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM c WHERE off < 20000
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("lang")
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored(s, dir)
        .withColumn("off", sum("n_tokens").over(w) - col("n_tokens"))
        .filter(col("off") < 20000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("lang")
    },

    // Cross-batch incremental dedup: dedup an INCOMING batch (10% of
    // docs stand in as "new") against the EXISTING corpus fingerprint
    // index, then within itself (keep-min) — the production shape for
    // continuous ingestion: each round costs O(batch), never a corpus
    // rescan. The fingerprint is the md5 of the first 40 chars (the
    // "leading boilerplate" rule — pages sharing an opening template
    // collapse), so the anti-join genuinely removes rows at every SF.
    // At 100 TB the corpus index is a bucketed md5 table, so only the
    // batch shuffles into corpus buckets; here Spark plans a shuffled
    // LeftAnti on the 16-byte key.
    QueryDef(
      "q67_incremental_dedup",
      """WITH f AS (
        |  SELECT doc_id, md5(substring(text, 1, 40)) AS fp FROM documents
        |),
        |corpus AS (SELECT fp FROM f WHERE doc_id % 10 <> 9),
        |batch AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 = 9),
        |fresh AS (
        |  SELECT b.doc_id, b.fp FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fp
        |FROM fresh GROUP BY fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 40)).as("fp"))
      val corpus = f.filter(col("doc_id") % 10 =!= 9).select("fp")
      val batch = f.filter(col("doc_id") % 10 === 9)
      batch.join(corpus, Seq("fp"), "left_anti")
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },

    // C4-style filter battery WITH REASONS: every document gets a
    // keep/drop decision plus which rules fired — the auditable form
    // production curation needs (you can't tune thresholds on a filter
    // that only says "dropped"). All rules are single-pass arithmetic
    // over the scored aggregate; one shuffle on doc_id, codegen'd
    // predicates, no data-dependent branching.
    QueryDef(
      "q68_filter_battery",
      s"""WITH $duckScored
         |SELECT doc_id,
         |       (n_tokens < 20) AS too_short,
         |       (score < 0.55) AS low_diversity,
         |       (n_tokens > 90) AS too_long,
         |       NOT (n_tokens < 20 OR score < 0.55 OR n_tokens > 90)
         |         AS keep,
         |       CONCAT_WS(',',
         |         CASE WHEN n_tokens < 20 THEN 'too_short' END,
         |         CASE WHEN score < 0.55 THEN 'low_diversity' END,
         |         CASE WHEN n_tokens > 90 THEN 'too_long' END) AS reasons
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tooShort = col("n_tokens") < 20
      val lowDiv = col("score") < 0.55
      val tooLong = col("n_tokens") > 90
      scored(s, dir)
        .select(col("doc_id"),
          tooShort.as("too_short"),
          lowDiv.as("low_diversity"),
          tooLong.as("too_long"),
          (!(tooShort || lowDiv || tooLong)).as("keep"),
          concat_ws(",",
            when(tooShort, "too_short"),
            when(lowDiv, "low_diversity"),
            when(tooLong, "too_long")).as("reasons"))
        .orderBy("doc_id")
    },

    // Paragraph-level dedup statistics (CCNet's unit of dedup is the
    // paragraph, not the document): segment every document into
    // fixed 16-token pseudo-paragraphs, hash each, and report what
    // fraction of a document's segments also occur in ANOTHER document.
    // The production decision built on this is "drop the duplicated
    // paragraphs, keep the novel remainder" — strictly finer-grained
    // than q25's whole-doc dedup. Scale shape: one shuffle on the
    // 16-byte segment hash (document frequency), one on doc_id (the
    // rollup); segmentation itself is a per-row codegen'd lambda, and
    // nothing pairs up — paragraph dedup is frequency-based, so it
    // never risks the O(df²) blowup of pairwise kernels.
    QueryDef(
      "q74_paragraph_dedup",
      """WITH segs AS (
        |  SELECT doc_id, unnest(list_transform(
        |           range(0, (len(string_split(text, ' ')) - 1) // 16 + 1),
        |           k -> MD5(array_to_string(
        |                  string_split(text, ' ')[k*16+1 : k*16+16], ' ')))) AS h
        |  FROM documents
        |), dfc AS (
        |  SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY h
        |)
        |SELECT s.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments,
        |       CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
        |       CAST(ROUND(CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DECIMAL(20,6))
        |                  / COUNT(*), 4) AS DOUBLE) AS dup_ratio
        |FROM segs s JOIN dfc d ON s.h = d.h
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val segs = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("ks",
          sequence(lit(0), ((size(col("ws")) - 1) / 16).cast("int")))
        .select(col("doc_id"), explode(transform(col("ks"),
          k => md5(array_join(slice(col("ws"), k * 16 + 1, lit(16)), " ")))).as("h"))
      val dfc = segs.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      segs.join(dfc, "h")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segments"),
          sum(when(col("df") >= 2, 1).otherwise(0)).cast("long").as("n_dup_segments"))
        .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
          round(dec6(col("n_dup_segments")) / col("n_segments"), 4)
            .cast("double").as("dup_ratio"))
        .orderBy("doc_id")
    },

    // Temperature-weighted corpus mixing (the multilingual-sampling
    // rule from mBERT/XLM-R: sample language l with probability
    // ∝ p_l^α, α = 0.5): per-language keep rates derived from corpus
    // counts — low-resource languages are up-weighted, dominant ones
    // down-weighted — then document selection by the q60 deterministic
    // md5-bucket rule, so the draw is reproducible across engines,
    // cluster sizes, and row orders. Target volume = 40% of the corpus.
    // Portability: sqrt is IEEE-correctly-rounded (identical in both
    // engines), per-language weights round to 6 decimals, and the
    // weight SUM runs in decimal (order-independent) — the one
    // double-sum this query would otherwise have.
    QueryDef(
      "q75_temperature_mixing",
      """WITH pl AS (
        |  SELECT lang, COUNT(*) AS n, ROUND(SQRT(COUNT(*)), 6) AS w
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(SUM(CAST(w AS DECIMAL(20,6))) AS DOUBLE) AS wsum,
        |         CAST(SUM(n) AS BIGINT) AS ntot
        |  FROM pl
        |), bp AS (
        |  SELECT pl.lang, pl.n,
        |         CAST(LEAST(10000, FLOOR(10000.0 * 0.4 * ntot * w / wsum / n)) AS BIGINT) AS keep_bp
        |  FROM pl CROSS JOIN tot
        |), k AS (
        |  SELECT d.lang, b.keep_bp,
        |         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                   % 10000 < b.keep_bp
        |              THEN 1 ELSE 0 END AS kept
        |  FROM documents d JOIN bp b ON b.lang = d.lang
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
        |       CAST(MAX(keep_bp) AS BIGINT) AS keep_bp,
        |       CAST(SUM(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val pl = d.groupBy("lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("w", round(sqrt(col("n")), 6))
      val tot = pl.groupBy().agg(
        sum(col("w").cast(DecimalType(20, 6))).cast("double").as("wsum"),
        sum(col("n")).cast("long").as("ntot"))
      // same association order as the SQL: ((((10000.0*0.4)*ntot)*w)/wsum)/n
      val bp = pl.crossJoin(tot)
        .select(col("lang"),
          least(lit(10000L),
            floor(lit(10000.0) * lit(0.4) * col("ntot") * col("w")
              / col("wsum") / col("n"))).cast("long").as("keep_bp"))
      d.join(broadcast(bp), "lang")
        .withColumn("kept",
          when(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            % 10000 < col("keep_bp"), 1).otherwise(0))
        .groupBy("lang").agg(
          count(lit(1)).as("n_total"),
          max("keep_bp").as("keep_bp"),
          sum("kept").cast("long").as("n_kept"))
        .orderBy("lang")
    },

    // q74 APPLIED: drop every duplicated pseudo-paragraph except its
    // first occurrence (min doc_id keeps it — CCNet's keep-first rule),
    // then re-emit each document's cleaned form: surviving-segment
    // count, surviving token count, and the md5 of the re-joined text.
    // This is the transform q74 only reports on. Same two shuffles
    // (segment-hash df, then per-doc rollup); the re-join is an
    // order-preserving collect_list over ≤ a few dozen segments per
    // doc — bounded by document length, never by corpus size.
    QueryDef(
      "q79_paragraph_dedup_apply",
      """WITH segs AS (
        |  SELECT doc_id, k,
        |         array_to_string(ws[k*16+1 : k*16+16], ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(range(0, (len(string_split(text, ' ')) - 1) // 16 + 1)) AS k
        |        FROM documents) t
        |), dfc AS (
        |  SELECT MD5(seg) AS h, COUNT(DISTINCT doc_id) AS df,
        |         MIN(doc_id) AS keeper
        |  FROM segs GROUP BY MD5(seg)
        |), kept AS (
        |  SELECT s.doc_id, s.k, s.seg
        |  FROM segs s JOIN dfc d ON d.h = MD5(s.seg)
        |  WHERE d.df = 1 OR s.doc_id = d.keeper
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept_segments,
        |         SUM(len(string_split(seg, ' '))) AS n_tokens_kept,
        |         MD5(STRING_AGG(seg, ' ' ORDER BY k)) AS cleaned_hash
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(COALESCE(a.n_kept_segments, 0) AS BIGINT) AS n_kept_segments,
        |       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
        |       COALESCE(a.cleaned_hash, MD5('')) AS cleaned_hash
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val segs = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("ks",
          sequence(lit(0), ((size(col("ws")) - 1) / 16).cast("int")))
        .select(col("doc_id"), posexplode(transform(col("ks"),
          k => array_join(slice(col("ws"), k * 16 + 1, lit(16)), " ")))
          .as(Seq("k", "seg")))
        .withColumn("h", md5(col("seg")))
      val dfc = segs.groupBy("h").agg(
        countDistinct("doc_id").as("df"), min("doc_id").as("keeper"))
      val agg = segs.join(dfc, "h")
        .filter(col("df") === 1 || col("doc_id") === col("keeper"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_kept_segments"),
          sum(size(split(col("seg"), " "))).cast("long").as("n_tokens_kept"),
          md5(array_join(
            sort_array(collect_list(struct(col("k"), col("seg")))).getField("seg"),
            " ")).as("cleaned_hash"))
      Tables.load(s, dir, "documents").select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept_segments"), lit(0L)).as("n_kept_segments"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
          coalesce(col("cleaned_hash"), md5(lit(""))).as("cleaned_hash"))
        .orderBy("doc_id")
    },

    // Duplicate-span coverage (the exact-substring dedup statistic of
    // Lee et al. 2022): slide an 8-token gram over every position of
    // every document and report the fraction of positions whose gram
    // also occurs in ANOTHER document. Position-level and
    // alignment-free, so it catches shifted duplication q74's fixed
    // segments miss — the statistic behind "cut duplicated spans, keep
    // the rest". Scale shape: grams collapse to md5 keys before the
    // document-frequency shuffle (16-byte keys, linear in corpus
    // positions — the suffix-array equivalent at cluster scale), then
    // one rollup on doc_id; no pair expansion anywhere.
    QueryDef(
      "q81_dup_span_coverage",
      """WITH g AS (
        |  SELECT doc_id, MD5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
        |       unnest(range(1, len(ws) - 8 + 2)) u(i)
        |  WHERE len(ws) >= 8
        |), dfc AS (
        |  SELECT h, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY h
        |), per AS (
        |  SELECT g.doc_id, COUNT(*) AS n_positions,
        |         SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM g JOIN dfc d ON d.h = g.h
        |  GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(COALESCE(p.n_positions, 0) AS BIGINT) AS n_positions,
        |       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_positions,
        |       COALESCE(CAST(ROUND(CAST(p.n_dup AS DECIMAL(20,6)) / p.n_positions, 4)
        |                     AS DOUBLE), 0.0) AS dup_coverage
        |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val g = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(graft.functions.TextExprs.ngrams(split(col("text"), " "), 8))
            .as("gram"))
        .select(col("doc_id"), md5(col("gram")).as("h"))
      val dfc = g.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      val per = g.join(dfc, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_positions"),
          sum(when(col("df") >= 2, 1).otherwise(0)).cast("long").as("n_dup"))
        .select(col("doc_id"), col("n_positions"), col("n_dup"),
          round(dec6(col("n_dup")) / col("n_positions"), 4)
            .cast("double").as("cov"))
      Tables.load(s, dir, "documents").select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_positions"), lit(0L)).as("n_positions"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_positions"),
          coalesce(col("cov"), lit(0.0)).as("dup_coverage"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test split (80/10/10 by md5 bucket —
    // the q60 hash-mod rule): the split a document lands in is a pure
    // function of its id, so it is identical across engines, cluster
    // sizes, re-runs, and corpus growth (new docs never move old ones
    // between splits — the property that keeps eval sets uncontaminated
    // as the corpus is re-ingested). Reported per (lang, split) with
    // token volumes; the assignment itself is a map-only stage.
    QueryDef(
      "q87_train_val_test_split",
      """WITH a AS (
        |  SELECT lang,
        |         CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |           % 100 AS bucket,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |         CASE WHEN bucket < 80 THEN 'train'
        |              WHEN bucket < 90 THEN 'val'
        |              ELSE 'test' END AS split,
        |         n_tokens
        |  FROM a
        |)
        |SELECT lang, split,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM s GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin) { (s, dir) =>
      val bucket = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)") % 100
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            .as("split"),
          size(split(col("text"), " ")).as("n_tokens"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("n_tokens"))
        .orderBy("lang", "split")
    },

    // Length-bucketed batching report: assign documents to power-of-two
    // length buckets and account the padding waste each bucket pays
    // (bucket capacity minus true length, summed) — the statistic that
    // decides between bucketed batching and q61-style packing in a
    // trainer's input pipeline (padding waste is pure wasted FLOPs).
    // Map-only assignment + one shuffle on the 5-row bucket grid.
    QueryDef(
      "q89_length_bucketing",
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
        |), b AS (
        |  SELECT doc_id, n,
        |         CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |              WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |              ELSE 256 END AS bucket
        |  FROM t
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n) AS BIGINT) AS n_tokens,
        |       CAST(SUM(bucket - n) AS BIGINT) AS padding_waste
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val n = size(split(col("text"), " "))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), n.as("n"),
          when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
            .when(n <= 128, 128).otherwise(256).as("bucket"))
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n").cast("long").as("n_tokens"),
          sum(col("bucket") - col("n")).cast("long").as("padding_waste"))
        .orderBy("bucket")
    },

    // Dataset card: the per-(lang, source) profile sheet published with
    // a training corpus — counts, token volume, and the quartiles of
    // document length. Exact interpolated percentiles are engine-
    // portable here because token counts are small integers and the
    // quantiles are quarter fractions (the q53 rule). One shuffle on
    // the (lang, source) grid; percentile is a full-sort-free
    // aggregate on both engines.
    QueryDef(
      "q80_dataset_card",
      """WITH t AS (
        |  SELECT lang, source, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |)
        |SELECT lang, source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(quantile_cont(n_tokens, 0.25) AS DOUBLE) AS p25_tokens,
        |       CAST(quantile_cont(n_tokens, 0.50) AS DOUBLE) AS p50_tokens,
        |       CAST(quantile_cont(n_tokens, 0.75) AS DOUBLE) AS p75_tokens
        |FROM t GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).as("n_tokens"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          expr("percentile(n_tokens, 0.25)").as("p25_tokens"),
          expr("percentile(n_tokens, 0.50)").as("p50_tokens"),
          expr("percentile(n_tokens, 0.75)").as("p75_tokens"))
        .orderBy("lang", "source")
    },

    // Vocabulary OOV rate: fix the vocabulary at the corpus's top-100
    // tokens (frequency desc, token asc — deterministic on both
    // engines) and report each document's out-of-vocabulary fraction —
    // the coverage check run before freezing a tokenizer vocab, and a
    // quality signal (gibberish → high OOV). Scale shape: the vocab is
    // tiny by construction (top-k of a map-side-combined frequency
    // agg), so the membership probe is a broadcast join onto the token
    // stream; one shuffle for frequencies, one for the per-doc rollup.
    QueryDef(
      "q83_oov_rate",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), freq AS (
        |  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        |), vocab AS (
        |  SELECT w FROM freq ORDER BY c DESC, w LIMIT 100
        |), per AS (
        |  SELECT t.doc_id, COUNT(*) AS n,
        |         SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tok t LEFT JOIN vocab v ON v.w = t.w
        |  GROUP BY t.doc_id
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(n_oov AS BIGINT) AS n_oov,
        |       CAST(ROUND(CAST(n_oov AS DECIMAL(20,6)) / n, 4) AS DOUBLE) AS oov_rate
        |FROM per ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tok = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
        .select(col("w"), lit(true).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("long").as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(dec6(col("n_oov")) / col("n_tokens"), 4).cast("double").as("oov_rate"))
        .orderBy("doc_id")
    },

    // Linear quality-classifier gate (the fasttext-classifier filter
    // shape of CCNet/RefinedWeb, with the model reduced to its scoring
    // arithmetic): a fixed, shipped weight vector applied to portable
    // per-doc features — token count, type/token ratio, mean word
    // length — entirely in DECIMAL, so the score, the keep decision,
    // and every tie are bit-identical across engines and cluster
    // layouts (a classifier whose decisions drift between engines
    // contaminates A/B comparisons). The feature pass is q22's
    // aggregate; the score is a map-only projection. At 100 TB the
    // real model's embedding lookup replaces the feature columns; the
    // decision topology — score, threshold, audit columns — is this.
    QueryDef(
      "q92_quality_classifier",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), f AS (
        |  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd,
        |         SUM(len(w)) AS chars
        |  FROM tok GROUP BY doc_id
        |), feat AS (
        |  SELECT doc_id, n,
        |         CAST(ROUND(CAST(nd AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6)) AS ttr,
        |         CAST(ROUND(CAST(chars AS DECIMAL(20,6)) / n, 4) AS DECIMAL(12,6)) AS mwl
        |  FROM f
        |), sc AS (
        |  SELECT doc_id, n, ttr, mwl,
        |         CAST('-1.2' AS DECIMAL(12,6))
        |           + CAST('0.016' AS DECIMAL(12,6)) * n
        |           + CAST('2.5' AS DECIMAL(12,6)) * ttr
        |           - CAST('0.3' AS DECIMAL(12,6)) * mwl AS score
        |  FROM feat
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(ttr AS DOUBLE) AS ttr, CAST(mwl AS DOUBLE) AS mwl,
        |       CAST(ROUND(score, 4) AS DOUBLE) AS score,
        |       (score > 0) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val f = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("nd"),
          sum(length(col("w"))).as("chars"))
      val feat = f.select(col("doc_id"), col("n"),
        round(dec6(col("nd")) / col("n"), 4).cast(DecimalType(12, 6)).as("ttr"),
        round(dec6(col("chars")) / col("n"), 4).cast(DecimalType(12, 6)).as("mwl"))
      val w0 = lit(BigDecimal("-1.2")).cast(DecimalType(12, 6))
      val w1 = lit(BigDecimal("0.016")).cast(DecimalType(12, 6))
      val w2 = lit(BigDecimal("2.5")).cast(DecimalType(12, 6))
      val w3 = lit(BigDecimal("0.3")).cast(DecimalType(12, 6))
      feat
        .withColumn("score", w0 + w1 * col("n") + w2 * col("ttr") - w3 * col("mwl"))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("ttr").cast("double").as("ttr"),
          col("mwl").cast("double").as("mwl"),
          round(col("score"), 4).cast("double").as("score"),
          (col("score") > 0).as("keep"))
        .orderBy("doc_id")
    },

    // Train/val/test split-leakage audit: cross q87's deterministic
    // split assignment with q67's boilerplate fingerprint and report,
    // per split pair, how many fingerprints appear on BOTH sides and
    // how many documents carry them — the eval-contamination check run
    // before any benchmark number is trusted (a doc duplicated into
    // train and test silently inflates eval). Scale shape: one shuffle
    // on the 16-byte fingerprint (per-(fp, split) rollup), then a
    // self-join on fp over the collapsed table — vocabulary-sized, not
    // corpus-sized — and a 3-row matrix aggregate.
    QueryDef(
      "q93_split_leakage",
      """WITH a AS (
        |  SELECT doc_id,
        |         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                   % 100 < 80 THEN 'train'
        |              WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |                   % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split,
        |         MD5(SUBSTRING(text, 1, 40)) AS fp
        |  FROM documents
        |), g AS (
        |  SELECT fp, split, COUNT(*) AS n FROM a GROUP BY fp, split
        |)
        |SELECT x.split AS split_a, y.split AS split_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
        |       CAST(SUM(x.n) AS BIGINT) AS n_docs_a,
        |       CAST(SUM(y.n) AS BIGINT) AS n_docs_b
        |FROM g x JOIN g y ON x.fp = y.fp AND x.split < y.split
        |GROUP BY x.split, y.split
        |ORDER BY split_a, split_b""".stripMargin) { (s, dir) =>
      val bucket = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)") % 100
      val a = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            .as("split"),
          md5(substring(col("text"), 1, 40)).as("fp"))
      val g = a.groupBy("fp", "split").agg(count(lit(1)).as("n"))
      g.as("x").join(g.as("y"),
          col("x.fp") === col("y.fp") && col("x.split") < col("y.split"))
        .groupBy(col("x.split").as("split_a"), col("y.split").as("split_b"))
        .agg(count(lit(1)).as("n_shared_fps"),
          sum(col("x.n")).cast("long").as("n_docs_a"),
          sum(col("y.n")).cast("long").as("n_docs_b"))
        .orderBy("split_a", "split_b")
    },

    // Corpus snapshot diff — the dataset-versioning primitive: compare
    // two corpus versions (v1 = docs outside one shard; v2 = all docs,
    // with one shard's text "re-crawled", i.e. mutated) and report
    // added / removed / changed / unchanged document counts by content
    // hash. This is what an ingestion pipeline publishes with every
    // corpus release so downstream training knows whether a re-run is
    // warranted — dbt's state:modified applied to data instead of
    // code. One full-outer join on doc_id comparing 16-byte hashes;
    // at 100 TB both sides are the fingerprint INDEX (id, md5), never
    // the text.
    QueryDef(
      "q98_snapshot_diff",
      """WITH v1 AS (
        |  SELECT doc_id, MD5(text) AS h FROM documents WHERE doc_id % 10 <> 7
        |), v2 AS (
        |  SELECT doc_id,
        |         MD5(CASE WHEN doc_id % 20 = 4 THEN text || ' recrawled'
        |                  ELSE text END) AS h
        |  FROM documents
        |), d AS (
        |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |         CASE WHEN v1.doc_id IS NULL THEN 'added'
        |              WHEN v2.doc_id IS NULL THEN 'removed'
        |              WHEN v1.h <> v2.h THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY status ORDER BY status""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // presence markers, not hash nullity: a NULL text would null the
      // md5 and misclassify a present row (oracle checks row presence)
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), md5(col("text")).as("h1"), lit(true).as("in_v1"))
      val v2 = docs.select(col("doc_id"),
        md5(when(col("doc_id") % 20 === 4, concat(col("text"), lit(" recrawled")))
          .otherwise(col("text"))).as("h2"), lit(true).as("in_v2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(
          when(col("in_v1").isNull, "added")
            .when(col("in_v2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },

    // Epoch plan: turn q75-style mixture weights into per-language
    // REPETITION factors against a fixed token budget — the
    // data-recipe arithmetic behind "web 1.1 epochs, books 2.4
    // epochs": target_tokens(l) = budget × w_l / Σw, epochs =
    // target/actual available tokens. Everything in decimal except
    // the final reported ratios (rounded doubles), so the plan is
    // identical on every engine. Input statistics are one map-side
    // agg; the plan itself is a 5-row computation.
    QueryDef(
      "q99_epoch_plan",
      """WITH pl AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |         SUM(len(string_split(text, ' '))) AS n_tokens,
        |         ROUND(SQRT(SUM(len(string_split(text, ' ')))), 6) AS w
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(SUM(CAST(w AS DECIMAL(20,6))) AS DOUBLE) AS wsum FROM pl
        |)
        |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(FLOOR(200000.0 * w / wsum) AS BIGINT) AS target_tokens,
        |       CAST(ROUND(FLOOR(200000.0 * w / wsum) / n_tokens, 4) AS DOUBLE)
        |         AS epochs
        |FROM pl CROSS JOIN tot ORDER BY lang""".stripMargin) { (s, dir) =>
      val pl = Tables.load(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_tokens"))
        .withColumn("w", round(sqrt(col("n_tokens")), 6))
      val tot = pl.agg(
        sum(col("w").cast(DecimalType(20, 6))).cast("double").as("wsum"))
      pl.crossJoin(tot)
        .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          floor(lit(200000.0) * col("w") / col("wsum")).cast("long")
            .as("target_tokens"),
          round(floor(lit(200000.0) * col("w") / col("wsum")) / col("n_tokens"), 4)
            .cast("double").as("epochs"))
        .orderBy("lang")
    },

    // Quality drift across corpus versions (q98's snapshot diff ×
    // q92's classifier): per source, the mean quality score of the
    // previous version vs the re-crawled one and the delta — the
    // monitoring sheet that catches a degrading feed BEFORE it enters
    // a training mix. The "re-crawl" mutation appends boilerplate to
    // one shard (doc_id % 20 == 4), measurably lowering its
    // type/token-ratio. Exact decimal feature math throughout; two
    // map-side-combined aggregates over the versioned scan.
    QueryDef(
      "q111_quality_drift",
      """WITH v AS (
        |  SELECT doc_id, source, text AS t1,
        |         CASE WHEN doc_id % 20 = 4
        |              THEN text || ' the the the the'
        |              ELSE text END AS t2
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, source,
        |         ROUND(CAST(len(list_distinct(string_split(t1, ' '))) AS DECIMAL(20,6))
        |               / len(string_split(t1, ' ')), 4) AS s1,
        |         ROUND(CAST(len(list_distinct(string_split(t2, ' '))) AS DECIMAL(20,6))
        |               / len(string_split(t2, ' ')), 4) AS s2
        |  FROM v
        |)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(ROUND(CAST(SUM(s1) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS mean_v1,
        |       CAST(ROUND(CAST(SUM(s2) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS mean_v2,
        |       CAST(ROUND(CAST(SUM(s2) AS DOUBLE) / COUNT(*)
        |                  - CAST(SUM(s1) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS drift
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val t2 = when(col("doc_id") % 20 === 4,
        concat(col("text"), lit(" the the the the"))).otherwise(col("text"))
      def ttr(t: Column) =
        round(dec6(size(array_distinct(split(t, " ")))) / size(split(t, " ")), 4)
      val f = Tables.load(s, dir, "documents")
        .select(col("source"), ttr(col("text")).as("s1"), ttr(t2).as("s2"))
      f.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("s1").as("sum1"), sum("s2").as("sum2"))
        .select(col("source"), col("n_docs"),
          round(col("sum1").cast("double") / col("n_docs"), 4).as("mean_v1"),
          round(col("sum2").cast("double") / col("n_docs"), 4).as("mean_v2"),
          round(col("sum2").cast("double") / col("n_docs")
            - col("sum1").cast("double") / col("n_docs"), 4).as("drift"))
        .orderBy("source")
    },

    // RAG chunking: overlapping sliding windows of 32 tokens at stride
    // 24 (8-token overlap so no retrieval boundary splits a fact),
    // each chunk with a stable content hash — the corpus→vector-store
    // transform of a retrieval pipeline. Pure per-row codegen'd lambda
    // work: at 100 TB this is a map-only stage (the ORDER BY here is
    // presentation; production writes chunks partitioned by doc hash).
    QueryDef(
      "q76_rag_chunking",
      """WITH c AS (
        |  SELECT doc_id,
        |         unnest(range(0, (len(string_split(text, ' ')) - 1) // 24 + 1)) AS k,
        |         string_split(text, ' ') AS ws
        |  FROM documents
        |)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |       CAST(len(ws[k*24+1 : k*24+32]) AS BIGINT) AS chunk_tokens,
        |       MD5(array_to_string(ws[k*24+1 : k*24+32], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("k",
          explode(sequence(lit(0), ((size(col("ws")) - 1) / 24).cast("int"))))
        .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
          size(slice(col("ws"), col("k") * 24 + 1, lit(32))).cast("long")
            .as("chunk_tokens"),
          md5(array_join(slice(col("ws"), col("k") * 24 + 1, lit(32)), " "))
            .as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // PII scrubbing — the redaction pass every training corpus gets
    // before release: find emails/phone numbers, replace with typed
    // placeholder tokens, report per-doc match counts and the redacted
    // content hash. The corpus is synthetic, so the PII is INJECTED
    // deterministically first (doc_id%3+1 emails + 1 phone per doc);
    // the oracle predicts the counts in closed form while both engines
    // must agree byte-for-byte on the redacted text (md5) — a regex
    // dialect divergence (RE2 vs Java) or a replace-first-vs-all bug
    // fails the gate. Scale shape: pure per-row codegen'd regex work,
    // map-only, no shuffle; at 100 TB this pass is I/O-bound exactly
    // as it should be.
    QueryDef(
      "q113_pii_redaction",
      """WITH e AS (
        |  SELECT doc_id,
        |         text || repeat(' u' || doc_id || '@example.com',
        |                        CAST(doc_id % 3 + 1 AS INT))
        |              || ' call +1-555-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(doc_id % 3 + 1 AS BIGINT) AS n_emails,
        |       CAST(1 AS BIGINT) AS n_phones,
        |       MD5(regexp_replace(
        |             regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
        |             '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
        |FROM e ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phoneRe = "\\+1-555-[0-9]{4}"
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("t", concat(col("text"),
          expr("repeat(concat(' u', doc_id, '@example.com'), CAST(doc_id % 3 + 1 AS INT))"),
          lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("t"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // DSIR-style importance-based data selection (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // score out-of-domain documents by how target-like their hashed
    // n-gram features look, then keep the top-k. Features are word
    // unigrams hashed into 256 md5 buckets; instead of summing float
    // log-ratios (engine-dependent ln/summation order), each gram
    // instance votes ±1 by the EXACT integer cross-multiply test
    // cnt_target(b) * total_raw > cnt_raw(b) * total_target, so both
    // engines agree bit-for-bit. 100 TB: the bucket table is 256 rows
    // broadcast everywhere; scoring is explode → broadcast-join →
    // map-side-combined sum per doc — one shuffle on doc_id, one
    // TakeOrdered for the top-k; the target/raw histograms are one
    // map-side-combined pass each. No pairwise stage anywhere.
    QueryDef(
      "q136_dsir_selection",
      """WITH g AS (
        |  SELECT d.doc_id, d.lang,
        |         CAST(('0x' || SUBSTR(MD5(w.w), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM documents d,
        |       LATERAL (SELECT UNNEST(string_split_regex(lower(d.text), '[^a-z]+')) AS w) w
        |  WHERE w.w <> ''
        |), tot AS (
        |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |         CAST(COUNT(*) AS BIGINT) AS n_r
        |  FROM g
        |), votes AS (
        |  SELECT b,
        |         CASE WHEN CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |                   * (SELECT n_r FROM tot)
        |                 > CAST(COUNT(*) AS BIGINT) * (SELECT n_t FROM tot)
        |              THEN 1 ELSE -1 END AS vote
        |  FROM g GROUP BY b
        |)
        |SELECT g.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(SUM(v.vote) AS BIGINT) AS score
        |FROM g JOIN votes v USING (b)
        |WHERE g.lang <> 'en'
        |GROUP BY g.doc_id
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"), col("lang"),
          (expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)") % 256).as("b"))
      val g = grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = g.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long").as("n_t"),
        count(lit(1)).cast("long").as("n_r")).collect().head
      val (nT, nR) = (tot.getLong(0), tot.getLong(1))
      val votes = g.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long").as("ct"),
        count(lit(1)).cast("long").as("cr"))
        .select(col("b"),
          when(col("ct") * nR > col("cr") * nT, 1L).otherwise(-1L).as("vote"))
      val out = g.filter(col("lang") =!= "en")
        .join(broadcast(votes), "b")
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_grams"),
          sum("vote").cast("long").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(15)
      val result = out.cache()
      result.count() // force before unpersisting the gram table
      g.unpersist()
      result
    },

    // Edit-distance similarity join (record linkage / fuzzy matching,
    // the Gravano q-gram blocking family): find near-identical part
    // names within an edit-distance threshold. The scale move is to
    // fuzzy-join the DISTINCT-value domain, not the row domain — name
    // vocabularies are bounded (and carry row counts as weights), so
    // the blocked self-join runs over a table orders of magnitude
    // smaller than the fact table and is broadcastable; blocking on
    // the shared last token keeps it from going all-pairs even within
    // that domain. levenshtein is integer-exact, so both engines agree
    // with no float hazard. 100 TB: one map-side-combined distinct
    // pass over parts, then a dimension-sized blocked join.
    QueryDef(
      "q137_fuzzy_name_pairs",
      """WITH names AS (
        |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |         split_part(p_name, ' ', 2) AS noun
        |  FROM part GROUP BY p_name
        |)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
        |       a.n_parts AS n_a, b.n_parts AS n_b
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      val names = Tables.load(s, dir, "part")
        .groupBy("p_name").agg(count(lit(1)).cast("long").as("n_parts"))
        .withColumn("noun", split(col("p_name"), " ").getItem(1))
      val a = names.select(col("p_name").as("name_a"),
        col("n_parts").as("n_a"), col("noun"))
      val b = names.select(col("p_name").as("name_b"),
        col("n_parts").as("n_b"), col("noun"))
      a.join(broadcast(b), "noun")
        .filter(col("name_a") < col("name_b"))
        // bounded 3-arg levenshtein: banded O(k·n) DP, -1 past the
        // threshold — exact (so identical rows) inside it
        .withColumn("lev", levenshtein(col("name_a"), col("name_b"), 3).cast("long"))
        .filter(col("lev") >= 0)
        .select("name_a", "name_b", "lev", "n_a", "n_b")
        .orderBy("name_a", "name_b")
    },

    // Deterministic shard plan — the "write training shards" step:
    // every document gets a seeded-hash shard and a within-shard
    // position, and the plan reports per-shard stats plus an
    // ORDER-SENSITIVE checksum (sum of position × doc_id) so the gate
    // pins the exact emission order, not just membership. Any engine
    // or seed drift moves documents across shards or reorders them and
    // breaks the checksum. 100 TB: one shuffle on shard; the position
    // is a per-shard window (the production writer is the same
    // topology: repartition(shard) + sortWithinPartitions(h) + write),
    // and the checksum aggregates map-side — no collect_list, no
    // driver state.
    QueryDef(
      "q138_shard_plan",
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         md5('shard:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, n_chars, h,
        |         CAST(('0x' || SUBSTR(h, 1, 8)) AS BIGINT) % 16 AS shard
        |  FROM s
        |), r AS (
        |  SELECT shard, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
        |  FROM p
        |)
        |SELECT shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(rn * doc_id) AS BIGINT) AS order_chk
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("h"))
        .withColumn("shard",
          expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)") % 16)
      p.withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy("h", "doc_id")))
        .groupBy("shard").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          sum(col("rn") * col("doc_id")).cast("long").as("order_chk"))
        .orderBy("shard")
    },

    // BM25 ranked retrieval for a fixed query (the RAG / eval-set
    // retrieval step; Robertson-Sparck Jones weighting). Floats are
    // tamed the q91 way: every ratio is computed in DOUBLE (IEEE — the
    // same expression shape on both engines yields the same bits),
    // ROUNDed to 6 decimals, and CAST to DECIMAL before the exact
    // decimal multiply/sum, so the cross-engine hash cannot drift with
    // summation order. The idf is the log-free RSJ odds ratio
    // (N-df+0.5)/(df+0.5) — rank-equivalent to Okapi's log idf for a
    // fixed query since log is monotone per-term and our terms are
    // independently weighted. 100 TB: query terms broadcast (3 rows);
    // per-doc tf is one map-side-combined aggregate; doc lengths ride
    // the same pass; one doc_id shuffle + TakeOrdered(10).
    QueryDef(
      "q139_bm25_topk",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(dl) AS BIGINT) AS sum_dl
        |  FROM dl
        |), q(term) AS (VALUES ('spark'), ('join'), ('filter')),
        |df AS (
        |  SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok JOIN q ON tok.w = q.term GROUP BY w
        |), idf AS (
        |  SELECT term,
        |         CAST(ROUND((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5), 6)
        |              AS DECIMAL(20,6)) AS idf
        |  FROM df, stats
        |), tf AS (
        |  SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok JOIN q ON tok.w = q.term GROUP BY doc_id, w
        |), scored AS (
        |  SELECT tf.doc_id,
        |         idf.idf * CAST(ROUND(
        |           (CAST(tf.tf AS DOUBLE) * 2.2) /
        |           (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |              CAST(ROUND(CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
        |                         / CAST(sum_dl AS DOUBLE), 6) AS DOUBLE))),
        |           6) AS DECIMAL(20,6)) AS part_score
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |          JOIN idf ON idf.term = tf.term, stats
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       CAST(ROUND(CAST(SUM(part_score) AS DOUBLE), 4) AS DOUBLE) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      val terms = Seq("spark", "join", "filter")
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).cast("long").as("dl"))
      val st = dl.agg(count(lit(1)).cast("long").as("n_docs"),
        sum("dl").cast("long").as("sum_dl")).collect().head
      val (nDocs, sumDl) = (st.getLong(0), st.getLong(1))
      val qtok = tok.filter(col("w").isin(terms: _*))
      val idf = qtok.groupBy(col("w").as("term"))
        .agg(countDistinct("doc_id").cast("long").as("df"))
        .select(col("term"),
          round((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5), 6)
            .cast(DecimalType(20, 6)).as("idf"))
      val tf = qtok.groupBy(col("doc_id"), col("w").as("term"))
        .agg(count(lit(1)).cast("long").as("tf"))
      tf.join(dl, "doc_id")
        .join(broadcast(idf), "term")
        .withColumn("rel_dl",
          round(col("dl").cast("double") * nDocs.toDouble / sumDl.toDouble, 6))
        .withColumn("part_score",
          col("idf") * round(
            (col("tf").cast("double") * 2.2) /
              (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("rel_dl"))),
            6).cast(DecimalType(20, 6)))
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_terms"),
          round(sum("part_score").cast("double"), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
    },

    // Join-key skew audit — the diagnostic you run BEFORE deciding a
    // join needs salting (q39/q52 are the cure; this is the
    // instrument). One lineitem scan fans out map-side into (key_col,
    // key_val) pairs for the three join/agg key families, then two
    // hash aggregates: per-key counts, then per-family rollup with
    // max/mean load ratio (fixed-point 1e6, exact integer arithmetic)
    // and the hottest key (min key among argmax — deterministic
    // tie-break via max(struct(c, -key_val)) inside the hash aggregate,
    // no arg_max whose tie rules differ
    // between engines). 100 TB: this is a map-side-combined count —
    // the audit costs one pass and two shuffles no matter how skewed
    // the data is, which is the point: you can always afford to look.
    QueryDef(
      "q141_key_skew_audit",
      """WITH kv AS (
        |  SELECT 'l_orderkey' AS key_col, l_orderkey AS key_val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', l_suppkey FROM lineitem
        |), cnt AS (
        |  SELECT key_col, key_val, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM kv GROUP BY key_col, key_val
        |), w AS (
        |  SELECT key_col, key_val, c,
        |         MAX(c) OVER (PARTITION BY key_col) AS max_c
        |  FROM cnt
        |)
        |SELECT key_col,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(MAX(c) AS BIGINT) AS max_cnt,
        |       CAST((MAX(c) * COUNT(*) * 1000000) // SUM(c) AS BIGINT)
        |         AS skew_e6,
        |       MIN(CASE WHEN c = max_c THEN key_val END) AS hottest_key
        |FROM w GROUP BY key_col ORDER BY key_col""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val kv = li.select(explode(map(
        lit("l_orderkey"), col("l_orderkey"),
        lit("l_partkey"), col("l_partkey"),
        lit("l_suppkey"), col("l_suppkey"))).as(Seq("key_col", "key_val")))
      val cnt = kv.groupBy("key_col", "key_val")
        .agg(count(lit(1)).cast("long").as("c"))
      // r15 optimization (guide §2.4): the hottest key is MIN(key_val)
      // among the argmax rows — a lexicographic max of struct(c,
      // -key_val) computes it inside the SAME hash aggregate, so the
      // per-family MAX window (an extra exchange to |families|=3
      // partitions + a full WindowExec pass over the key table) is
      // gone. Values are bit-identical: max struct = (max c, and among
      // ties max(-key_val) = min key_val).
      cnt.groupBy("key_col").agg(
          sum("c").cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_keys"),
          max("c").cast("long").as("max_cnt"),
          expr("(max(c) * count(*) * 1000000) div sum(c)").cast("long")
            .as("skew_e6"),
          (-max(struct(col("c"), (-col("key_val")).as("nk")))("nk"))
            .as("hottest_key"))
        .orderBy("key_col")
    },

    // PMI collocation mining — rank bigrams by pointwise mutual
    // information lift c(xy)·N / (c(x)·c(y)), the classic corpus
    // collocation statistic (and the association score behind
    // phrase-merging tokenizers). No logs: PMI is monotone in the
    // lift ratio for ranking, and the ratio is computed as one exact
    // wide-integer cross-multiply (DECIMAL(38) on Spark, HUGEINT in
    // DuckDB — c(xy)·N·1e6 can exceed 2^63) floor-divided back to a
    // BIGINT fixed-point — zero floats, bit-identical engines.
    // Margins c(x)/c(y) are the bigram table's own left/right sums, so
    // the whole statistic derives from ONE pair-count table. Min
    // support 5 keeps the ranking statistical, top-20 serves via
    // TakeOrdered. 100 TB: corpus scans once into pair counts
    // (map-side combined); margins are vocabulary-sized aggregates of
    // THAT table, and the scoring join is vocabulary-keyed — nothing
    // downstream of the first aggregate ever touches corpus scale.
    QueryDef(
      "q142_pmi_collocations",
      """WITH tok AS (
        |  SELECT doc_id, w, pos FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM documents) t
        |), bi AS (
        |  SELECT w || ' ' || LEAD(w) OVER win AS p
        |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY LEAD(w) OVER win IS NOT NULL
        |), c12 AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS cxy FROM bi GROUP BY p
        |), tot AS (
        |  SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM c12
        |), cx AS (
        |  SELECT string_split(p, ' ')[1] AS w, CAST(SUM(cxy) AS BIGINT) AS cx
        |  FROM c12 GROUP BY 1
        |), cy AS (
        |  SELECT string_split(p, ' ')[2] AS w, CAST(SUM(cxy) AS BIGINT) AS cy
        |  FROM c12 GROUP BY 1
        |)
        |SELECT c12.p AS pair, c12.cxy,
        |       CAST((CAST(c12.cxy AS HUGEINT) * tot.n * 1000000)
        |            // (CAST(cx.cx AS HUGEINT) * cy.cy) AS BIGINT)
        |         AS lift_e6
        |FROM c12
        |JOIN cx ON cx.w = string_split(c12.p, ' ')[1]
        |JOIN cy ON cy.w = string_split(c12.p, ' ')[2], tot
        |WHERE c12.cxy >= 5
        |ORDER BY lift_e6 DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      val bi = Tables.load(s, dir, "documents")
        .select(explode(graft.functions.TextExprs.ngrams(
          split(col("text"), " "), 2)).as("p"))
      val c12 = bi.groupBy("p").agg(count(lit(1)).cast("long").as("cxy"))
      val n = c12.agg(sum("cxy")).head.getLong(0) // 1-row driver scalar
      val cx = c12.groupBy(substring_index(col("p"), " ", 1).as("wx"))
        .agg(sum("cxy").cast("long").as("cx"))
      val cy = c12.groupBy(substring_index(col("p"), " ", -1).as("wy"))
        .agg(sum("cxy").cast("long").as("cy"))
      c12.filter(col("cxy") >= 5)
        .join(cx, substring_index(col("p"), " ", 1) === col("wx"))
        .join(cy, substring_index(col("p"), " ", -1) === col("wy"))
        .select(col("p").as("pair"), col("cxy"),
          expr(s"cast((cast(cxy as decimal(38,0)) * $n * 1000000) div " +
            "(cast(cx as decimal(38,0)) * cy) as bigint)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("pair")).limit(20)
    },

    // Curriculum phase assignment: order each language's documents by
    // a deterministic difficulty proxy (mean word length, fixed-point
    // ×1000 — exact integer arithmetic) and cut them into 4 NTILE
    // phases — the easy→hard training-order plan. The window
    // PARTITIONS BY lang deliberately: a global ntile would need a
    // single-partition sort (the non-distributable shape); per-stratum
    // phases distribute and are what curricula actually use. The
    // (difficulty, doc_id) order is total, so tile boundaries are
    // engine-identical by NTILE's standard fill rule (earlier tiles
    // take the remainder). 100 TB: one lang-keyed shuffle, per-
    // partition sort, then a map-side-combined rollup — no global
    // order anywhere.
    QueryDef(
      "q145_curriculum_phases",
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(n_chars * 1000 // len(string_split(text, ' '))
        |              AS BIGINT) AS difficulty
        |  FROM documents
        |), phased AS (
        |  SELECT lang, difficulty, n_tokens,
        |         CAST(NTILE(4) OVER (PARTITION BY lang
        |                             ORDER BY difficulty, doc_id)
        |              AS BIGINT) AS phase
        |  FROM d
        |)
        |SELECT lang, phase,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
        |       CAST(MAX(difficulty) AS BIGINT) AS max_difficulty,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM phased GROUP BY lang, phase
        |ORDER BY lang, phase""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("n_chars"))
        .withColumn("difficulty", expr("(n_chars * 1000) div n_tokens"))
      d.withColumn("phase", ntile(4).over(
          Window.partitionBy("lang").orderBy("difficulty", "doc_id"))
          .cast("long"))
        .groupBy("lang", "phase").agg(
          count(lit(1)).cast("long").as("n_docs"),
          min("difficulty").cast("long").as("min_difficulty"),
          max("difficulty").cast("long").as("max_difficulty"),
          sum("n_tokens").cast("long").as("sum_tokens"))
        .orderBy("lang", "phase")
    }
  )
}
