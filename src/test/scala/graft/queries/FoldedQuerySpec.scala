package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q198, q199, q203 and q218 were rewritten to run fewer stages and
  * build smaller plans. Each earlier DataFrame program is kept here as
  * the reference, and the rewrite must return the same rows, in the
  * same order and with the same column types, on the test data and on
  * small hand-built tables that reach each program's edge cases.
  */
class FoldedQuerySpec extends SparkSpec {
  import FoldedQuerySpec._

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def assertSame(name: String, ref: (SparkSession, String) => DataFrame,
      dir: String): Unit = {
    val got = SparkEntry.queries(name)(spark, dir)
    val want = ref(spark, dir)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"$name schema on $dir")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty, s"$name returned no rows on $dir")
    assert(g == w, s"$name on $dir:\n got ${g.mkString("\n     ")}\nwant ${w.mkString("\n     ")}")
  }

  /** Writes each table as `<name>.parquet` under a fresh dir, the
    * layout `Tables.load` reads. */
  private def tables(ts: (String, DataFrame)*): String = {
    val dir = tmpDir("folded")
    ts.foreach { case (n, df) => df.write.parquet(s"$dir/$n.parquet") }
    dir
  }

  for ((name, ref) <- Seq(
      "q198_theil_decomposition" -> q198Ref _,
      "q199_poisson_bootstrap" -> q199Ref _,
      "q203_binned_quantiles" -> q203Ref _,
      "q218_gains_table" -> q218Ref _);
      sf <- sfs)
    test(s"$name equals its reference program on ${sf.split('/').last}") {
      assertSame(name, ref, sf)
    }

  test("q203 equals its reference: all-zero, negative, single-row and null values") {
    import spark.implicits._
    val values = Seq(
      "zero" -> Some(0.0), "zero" -> Some(0.0), "zero" -> Some(0.0),
      "neg" -> Some(-5.0), "neg" -> Some(1.0), "neg" -> Some(2.0),
      "neg" -> Some(10.0), "neg" -> Some(10.0),
      "allneg" -> Some(-1.0), "allneg" -> Some(-2.0),
      "one" -> Some(7.5),
      "gone" -> None) ++
      (1 to 300).map(i => "many" -> Some(i * 0.37)) :+ ("many" -> None)
    val events = values.zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong % 7, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assertSame("q203_binned_quantiles", q203Ref, tables("events" -> events))
  }

  test("q198 equals its reference: a one-customer nation and a nation key missing from nation") {
    import spark.implicits._
    val nation = Seq((0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CHINA", 2), (3, "DENMARK", 3))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    // nation 0 has one customer; nation 3's only customer has no orders;
    // nation 9 is absent from `nation` but still counts toward the totals
    val customer = Seq((1L, 0), (2L, 1), (3L, 1), (4L, 1), (5L, 2), (6L, 2), (7L, 9), (8L, 3))
      .map { case (k, n) => (k, s"c$k", n, 0.0, "SEG") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq((1L, 1L, 120.5), (2L, 1L, 30.25), (3L, 2L, 10.0), (4L, 3L, 999.99),
        (5L, 4L, 45.1), (6L, 4L, 45.1), (7L, 5L, 500.0), (8L, 6L, 0.75), (9L, 7L, 88.8))
      .map { case (k, c, p) => (k, c, "O", p, new java.sql.Timestamp(0L), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")
    assertSame("q198_theil_decomposition", q198Ref,
      tables("nation" -> nation, "customer" -> customer, "orders" -> orders))
  }

  test("q218 equals its reference: deciles without positives, 25 docs over 10 tiles") {
    import spark.implicits._
    val words = Seq("a", "bb", "ccc", "dddd", "eeeee", "ffffff")
    val docs = (1L to 25L).map { i =>
      val text = (0 until (3 + (i * 7 % 11)).toInt).map(j => words(((i + j * j) % 6).toInt))
        .mkString(" ")
      // three positives: at least seven deciles hold none
      (i, text, if (i % 9 == 0 || i == 4) "en" else "de", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    assertSame("q218_gains_table", q218Ref, tables("documents" -> docs))
  }
}

object FoldedQuerySpec {

  def q198Ref(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long").as("x"))
    val g = rev.groupBy("nationkey")
      .agg(count(lit(1)).cast("long").as("ng"), sum("x").cast("long").as("totg"))
    val t = g.agg(sum("ng").cast("long").as("n"), sum("totg").cast("long").as("tot"))
    val wg = rev.join(g, "nationkey")
      .select(col("nationkey"),
        (col("x") * round(log((col("x").cast("double") * col("ng").cast("double")) /
          col("totg").cast("double")) * 10000, 0).cast("long")).as("term"))
      .groupBy("nationkey").agg(sum("term").cast("long").as("sw"))
    g.join(wg, "nationkey")
      .join(broadcast(Tables.load(s, dir, "nation")), col("n_nationkey") === col("nationkey"))
      .crossJoin(broadcast(t))
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
  }

  def q199Ref(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .repartition(s.sparkContext.defaultParallelism)
    val withH = (0 until 8).foldLeft(o) { (df, g) =>
      df.withColumn(s"h$g",
        md5(concat(col("o_orderkey").cast("string"), lit("#"),
          lit(g).cast("string"))))
    }
    def wOf(g: Int, j: Int) = {
      val u = (expr(s"cast(conv(substring(h$g, ${1 + 8 * j}, 8), 16, 10) as bigint)") + 1) /
        lit(4294967296.0)
      when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .when(u < 0.9994058151824183, 5)
        .when(u < 0.9999167588507119, 6)
        .when(u < 0.9999897508033253, 7)
        .otherwise(8)
    }
    val wide = withH.select(col("cents") +:
      (0 until 32).map(b => wOf(b / 4, b % 4).as(s"w$b")): _*)
    val aggs = (0 until 32).flatMap(b => Seq(
      sum(col(s"w$b") * col("cents")).cast("long").as(s"swc$b"),
      sum(col(s"w$b")).cast("long").as(s"sw$b")))
    val one = wide.agg(aggs.head, aggs.tail: _*)
    val ms = array((0 until 32).map(b => struct(
      (col(s"swc$b").cast("double") / col(s"sw$b").cast("double") / 100).as("m"),
      lit(b).as("b"))): _*)
    val sortedMs = sort_array(ms)
    val tswc = (0 until 32).map(b => col(s"swc$b")).reduce(_ + _)
    val tsw = (0 until 32).map(b => col(s"sw$b")).reduce(_ + _)
    one.select(
      size(filter(ms, x => x.getField("m").isNotNull)).cast("long")
        .as("n_replicates"),
      round(tswc.cast("double") / tsw.cast("double") / 100, 4)
        .cast("double").as("pooled_mean"),
      round(element_at(sortedMs, 2).getField("m"), 4).cast("double").as("ci_lo"),
      round(element_at(sortedMs, 31).getField("m"), 4).cast("double").as("ci_hi"))
  }

  def q203Ref(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull).select("event_type", "value")
    val m = b.groupBy("event_type")
      .agg(greatest(max("value"), lit(1e-12)).as("hi"),
        count(lit(1)).cast("long").as("n"))
    val bins = b.join(broadcast(m), "event_type")
      .select(col("event_type"),
        least(greatest(floor(col("value") / (col("hi") / 256)).cast("long"), lit(0L)),
          lit(255L)).as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).cast("long").as("cnt"))
    val cum = bins.withColumn("cum",
      sum("cnt").over(Window.partitionBy("event_type").orderBy("bin")).cast("long"))
    val probes = Seq(0.5, 0.95, 0.99).foldLeft(Option.empty[DataFrame]) { (acc, p) =>
      val one = b.sparkSession.range(1).select(lit(p).as("p"))
      Some(acc.map(_.unionAll(one)).getOrElse(one))
    }.get
    val sel = cum.join(broadcast(m), "event_type").crossJoin(broadcast(probes))
      .filter(col("cum").cast("double") >= col("p") * col("n").cast("double"))
      .groupBy("event_type", "p").agg(min("bin").as("bin"))
    sel.join(broadcast(m), "event_type")
      .join(cum.withColumnRenamed("bin", "cbin"),
        Seq("event_type")).filter(col("cbin") === col("bin"))
      .select(col("event_type"), col("p").as("quantile"), col("bin"),
        round((col("hi") / 256) *
          (col("bin").cast("double") +
            (col("p") * col("n").cast("double") - (col("cum") - col("cnt")).cast("double")) /
              col("cnt").cast("double")), 4).cast("double").as("estimate"))
      .orderBy("event_type", "quantile")
  }

  def q218Ref(s: SparkSession, dir: String): DataFrame = {
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
    val ranked = Dist.rangedRankWithTotal(sc,
      -(col("score") * lit(1000000)).cast("long"), col("doc_id"), "rk", "__n")
    val dec = ranked.select(col("pos"),
      Dist.ntileFromRank(col("rk"), col("__n"), 10).as("decile"))
    val g = dec.groupBy("decile")
      .agg(count(lit(1)).cast("long").as("n_docs"), sum("pos").cast("long").as("n_pos"))
    val t = g.agg(sum("n_pos").cast("long").as("total_pos"))
    g.crossJoin(broadcast(t))
      .withColumn("cum_pos", sum("n_pos").over(Window.orderBy("decile")).cast("long"))
      .select(col("decile").cast("long").as("decile"), col("n_docs"), col("n_pos"),
        col("cum_pos"),
        round(col("cum_pos").cast("double") / col("total_pos").cast("double"), 6)
          .cast("double").as("cum_capture"))
      .orderBy("decile")
  }
}
