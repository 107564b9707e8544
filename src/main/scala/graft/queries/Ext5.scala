package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Wave-8 operators (round-6 second session):
  *
  *  - q186: A-ES weighted sampling WITHOUT replacement (Efraimidis &
  *    Spirakis 2006, "Weighted random sampling with a reservoir"):
  *    key = ln(u)/w with u a deterministic md5-derived uniform, top-k
  *    by key. The distributed-reservoir selection rule — at scale the
  *    top-k is a TakeOrdered over per-partition heaps, no global sort,
  *    and the md5 uniforms make the draw exactly reproducible across
  *    engines AND re-ingestions (the q60/q87 determinism convention).
  *  - q187: blocklist decontamination via inverted token join — the
  *    multi-term filter done as data (broadcast the term list, join
  *    tokens) instead of a per-document regex alternation scan; at
  *    100 TB the scan is one codegen'd explode + broadcast semi-join,
  *    and growing the blocklist never recompiles a regex.
  *  - q188: bag-semantics set operations (INTERSECT ALL / EXCEPT ALL)
  *    over customer multisets of two periods — multiplicity-aware
  *    overlap, the missing ALL-variants next to q13's distinct set ops.
  *  - q189: foreign-key fanout profile — the 1:N join-cardinality
  *    histogram (orders→lineitem) an optimizer's statistics collector
  *    maintains; doubles as a data-quality audit for fanout outliers.
  */
object Ext5 {

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q186_aes_weighted_sample",
      """WITH k AS (
        |  SELECT doc_id, n_chars AS w,
        |         LN((CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
        |            / 4294967296.0) / n_chars AS key
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, w, key,
        |         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rk
        |  FROM k
        |)
        |SELECT CAST(rk AS BIGINT) AS rk, doc_id, CAST(w AS BIGINT) AS weight,
        |       CAST(ROUND(key * 1000000, 4) AS DOUBLE) AS key_ppm
        |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin) { (s, dir) =>
      // u = (md5_32 + 1) / 2^32 ∈ (0,1]: exact integer → exact double →
      // identical ln on both engines; /w (integer) stays identical
      val keyed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("w"),
          (log((expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)") + 1)
            / lit(4294967296.0)) / col("n_chars")).as("key"))
      // top-k FIRST (TakeOrderedAndProject: per-partition heaps, no
      // global sort/window over the corpus); the rank window then runs
      // over the 100 selected rows only
      val top = keyed.orderBy(col("key").desc, col("doc_id")).limit(100)
      top
        .withColumn("rk", row_number().over(
          Window.orderBy(col("key").desc, col("doc_id"))))
        .select(col("rk").cast("long").as("rk"), col("doc_id"),
          col("w").as("weight"),
          round(col("key") * 1000000, 4).cast("double").as("key_ppm"))
        .orderBy("rk")
    },

    QueryDef(
      "q187_blocklist_hits",
      """WITH bl(term) AS (VALUES ('slow'), ('stale'), ('skew'), ('spill')
        |), tok AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |), hits AS (
        |  SELECT t.doc_id, t.w FROM tok t JOIN bl ON bl.term = t.w
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       STRING_AGG(w, ',' ORDER BY w) AS terms
        |FROM hits GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bl = Seq("slow", "stale", "skew", "spill").toDF("term")
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .distinct()
      tok.join(broadcast(bl), col("w") === col("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_terms"),
          array_join(sort_array(collect_set(col("w"))), ",").as("terms"))
        .orderBy("doc_id")
    },

    QueryDef(
      "q188_bag_setops",
      """WITH early AS (
        |  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |), late AS (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |)
        |SELECT 'intersect_all' AS op,
        |       CAST((SELECT COUNT(*) FROM (SELECT * FROM early INTERSECT ALL SELECT * FROM late) x)
        |            AS BIGINT) AS n
        |UNION ALL
        |SELECT 'early_except_all',
        |       CAST((SELECT COUNT(*) FROM (SELECT * FROM early EXCEPT ALL SELECT * FROM late) x)
        |            AS BIGINT)
        |UNION ALL
        |SELECT 'late_except_all',
        |       CAST((SELECT COUNT(*) FROM (SELECT * FROM late EXCEPT ALL SELECT * FROM early) x)
        |            AS BIGINT)
        |ORDER BY op""".stripMargin) { (s, dir) =>
      import s.implicits._
      val orders = Tables.load(s, dir, "orders")
      val cut = to_timestamp(lit("1996-01-01 00:00:00"))
      val early = orders.filter(col("o_orderdate") < cut).select("o_custkey")
      val late = orders.filter(col("o_orderdate") >= cut).select("o_custkey")
      Seq(
        ("intersect_all", early.intersectAll(late).count()),
        ("early_except_all", early.exceptAll(late).count()),
        ("late_except_all", late.exceptAll(early).count()))
        .toDF("op", "n")
        .orderBy("op")
    },

    QueryDef(
      "q189_fk_fanout_profile",
      """WITH f AS (
        |  SELECT o.o_orderkey, COUNT(l.l_orderkey) AS fanout
        |  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_orderkey
        |), h AS (
        |  SELECT fanout, COUNT(*) AS n_orders FROM f GROUP BY fanout
        |), t AS (SELECT SUM(n_orders) AS tot FROM h)
        |SELECT CAST(fanout AS BIGINT) AS fanout,
        |       CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(ROUND(CAST(n_orders AS DECIMAL(20,6)) * 100 / tot, 4) AS DOUBLE) AS pct
        |FROM h CROSS JOIN t ORDER BY fanout""".stripMargin) { (s, dir) =>
      val fan = Tables.load(s, dir, "orders").select(col("o_orderkey"))
        .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("fanout"))
      val hist = fan.groupBy("fanout").agg(count(lit(1)).as("n_orders"))
      val tot = hist.agg(sum("n_orders").as("tot"))
      hist.crossJoin(tot) // 1-row total
        .select(col("fanout").cast("long").as("fanout"),
          col("n_orders").cast("long").as("n_orders"),
          round(col("n_orders").cast(DecimalType(20, 6)) * 100 / col("tot"), 4)
            .cast("double").as("pct"))
        .orderBy("fanout")
    }
  )
}
