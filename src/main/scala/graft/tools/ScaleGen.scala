package graft.tools

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize the scale-stress datasets from sf0.1 (VERDICT r5 item 1):
  *
  *  - `<out>/scale10`: ~10x sf0.1, fact tables replicated with re-keyed
  *    ids so FK joins stay valid (replica i offsets every key domain by
  *    i * 10^7; dims nation/region stay single — dims don't scale).
  *    Document texts are NOT copied verbatim: replica i pairs doc j's
  *    first half with doc (j+i)'s second half, so near-dup kernels see
  *    realistic shared-shingle structure instead of a 10-clique per
  *    original (which would blow pair counts up quadratically and make
  *    "~linear scaling" unmeasurable). Embedding vectors rotate by i
  *    positions — distinct vectors, same distributional shape.
  *  - `<out>/skew`: sf0.1-sized variants with deliberate hot keys —
  *    `lineitem.parquet` with ~25% of rows on one l_partkey and
  *    `events.parquet` with ~25% of rows on one user_id — for the
  *    skew-join resilience gate (salted vs unsalted task-time spread).
  *
  * Usage: sbt "runMain graft.tools.ScaleGen [sfDir] [outDir] [replicas]"
  */
object ScaleGen {
  val KeyStride = 10000000L // > any sf0.1 key domain; 10 replicas stay < 2^31

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/scale")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.build(Session.dirBytes(sfDir))
    // optional 4th arg: comma-separated subset of scale10,skew,boiler
    val parts = args.lift(3).map(_.split(',').toSet)
      .getOrElse(Set("scale10", "skew", "boiler"))
    generate(spark, sfDir, outDir, replicas, parts)
    spark.stop()
  }

  def generate(spark: SparkSession, sfDir: String, outDir: String,
      replicas: Int, parts: Set[String] = Set("scale10", "skew", "boiler")): Unit = {
    val t0 = System.nanoTime()
    if (parts("scale10")) scale10(spark, sfDir, s"$outDir/scale10", replicas)
    if (parts("skew")) skewed(spark, sfDir, s"$outDir/skew")
    if (parts("boiler")) boiler(spark, sfDir, s"$outDir/boiler")
    if (parts("dupctl")) dupctl(spark, sfDir, s"$outDir/dupctl", replicas)
    println(f"[scalegen] done in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $outDir")
  }

  /** Boilerplate-heavy adversarial corpus (VERDICT r7 item 5): every
    * document gains the SAME header and footer paragraphs, so each
    * boilerplate shingle's document frequency equals the corpus size.
    * Without the df-capped posting lists (TextOps.StopShingleDf) the
    * near-dup candidate join would emit N^2 pairs per such shingle;
    * this corpus is the gate that the cap actually bites and that
    * results still hash-match the capped oracle (the cap is part of
    * the declared semantics, mirrored in the oracle SQL). Other tables
    * copy unchanged so the dir mounts as a full dataset.
    */
  private def boiler(spark: SparkSession, sfDir: String, out: String): Unit = {
    val header = "terms of service apply to this document please read " +
      "carefully before proceeding all rights reserved by the publisher " +
      "unauthorized reproduction is strictly prohibited by law . "
    val footer = " . copyright notice this content is provided as is " +
      "without warranty of any kind express or implied subscribe to our " +
      "newsletter for weekly updates and exclusive member offers"
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", concat(lit(header), col("text"), lit(footer)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    graft.Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println("[scalegen] wrote boilerplate-adversarial documents")
  }

  /** Replicate with per-replica key offsets; one wide pass per table
    * (broadcast cross join against the replica index — no shuffle).
    */
  private def scale10(spark: SparkSession, sfDir: String, out: String,
      replicas: Int): Unit = {
    val rep = broadcast(spark.range(replicas).toDF("rep"))
    def offset(c: String): org.apache.spark.sql.Column =
      col(c) + col("rep") * KeyStride

    // Output file count scales with the DATA, not the replica default:
    // the old hard-coded counts (tuned for the 10x replica) produced
    // 94 MB lineitem files at 100x — only 16 scan splits at the default
    // 128 MB maxPartitionBytes, so half of local[32] sat idle and the
    // 100x spot ratios read 2x worse than the kernel's true growth.
    // A real 100 TB layout makes the same decision deliberately: size
    // files so splits >> cores (here ~48 MB targets, floor = the 10x
    // counts so small replicas keep their proven layout).
    def write(name: String, df: DataFrame, files10x: Int): Unit = {
      def bytesOf(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty).map(bytesOf).sum
      val inBytes = bytesOf(new java.io.File(s"$sfDir/$name.parquet"))
      // ADVICE r12: a missing/renamed input used to return 0 bytes and
      // silently fall back to the hard-coded 10x file counts — the
      // exact layout-induced measurement skew this sizing exists to
      // eliminate would reappear with no signal. Fail loudly instead.
      require(inBytes > 0,
        s"scalegen: no input at $sfDir/$name.parquet — " +
          "data-proportional file sizing needs the real input bytes")
      val grown = if (name == "region" || name == "nation") 1L
        else inBytes * replicas
      // 32 MB input-estimate target (~45 MB written after the replica
      // mix expands rows): keeps every 100x fact-table scan at >= the
      // 32 local cores while staying well above parquet's small-file
      // penalty zone
      val files = math.max(files10x.toLong,
        (grown + (32L << 20) - 1) / (32L << 20)).toInt
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scalegen] wrote $name x$replicas ($files files)")
    }

    // dims: single copy, bytes unchanged
    Seq("region", "nation").foreach { d =>
      write(d, spark.read.parquet(s"$sfDir/$d.parquet"), 1)
    }

    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    write("customer", customer.crossJoin(rep)
      .withColumn("c_custkey", offset("c_custkey"))
      .withColumn("c_name", concat(col("c_name"), lit("#"), col("rep")))
      .drop("rep"), 4)

    val supplier = spark.read.parquet(s"$sfDir/supplier.parquet")
    write("supplier", supplier.crossJoin(rep)
      .withColumn("s_suppkey", offset("s_suppkey"))
      .withColumn("s_name", concat(col("s_name"), lit("#"), col("rep")))
      .drop("rep"), 2)

    val part = spark.read.parquet(s"$sfDir/part.parquet")
    write("part", part.crossJoin(rep)
      .withColumn("p_partkey", offset("p_partkey"))
      .drop("rep"), 4)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    write("orders", orders.crossJoin(rep)
      .withColumn("o_orderkey", offset("o_orderkey"))
      .withColumn("o_custkey", offset("o_custkey"))
      .drop("rep"), 8)

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    write("lineitem", lineitem.crossJoin(rep)
      .withColumn("l_orderkey", offset("l_orderkey"))
      .withColumn("l_partkey", offset("l_partkey"))
      .withColumn("l_suppkey", offset("l_suppkey"))
      .drop("rep"), 16)

    val events = graft.Tables.load(spark, sfDir, "events")
    write("events", events.crossJoin(rep)
      .withColumn("event_id", offset("event_id"))
      .withColumn("user_id", offset("user_id"))
      .drop("rep"), 8)

    // documents: replica i = first half of doc j + second half of doc
    // (j+i) mod N — genuinely new texts with realistic shingle overlap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (n, minId) = {
      val r = docs.agg(count(lit(1)), min("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val tails = docs.select(
      col("doc_id").as("t_id"),
      expr("substring(text, length(text) div 2 + 1)").as("tail"))
    val mixed = docs.crossJoin(rep)
      .withColumn("t_id", // partner doc for the tail, in doc_id's domain
        (col("doc_id") - lit(minId) + col("rep")) % lit(n) + lit(minId))
      .join(tails, "t_id")
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(concat(expr("substring(text, 1, length(text) div 2)"),
            col("tail"))))
      .withColumn("doc_id", offset("doc_id"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep", "t_id", "tail")
    write("documents", mixed.select("doc_id", "text", "lang", "source", "n_chars"), 8)

    // embeddings: rotate the vector by rep positions — distinct but
    // same-distribution vectors; labels keep their meaning
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    write("embeddings", emb.crossJoin(rep)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> element_at(embedding, " +
          "cast((i + rep) % size(embedding) as int) + 1))"))
      .withColumn("vec_id", offset("vec_id"))
      .drop("rep"), 8)
  }

  /** Duplication-CONTROLLED corpus scale-up (VERDICT r9 item 1) for the
    * near-dup pair kernels (q27/q175/q112 over documents, q41/q59 over
    * embeddings): grow the corpus `replicas`× while holding the TRUE
    * near-duplicate rate constant at 1/[[DupEvery]], so the expected
    * pair count grows LINEARLY with corpus size.
    *
    * Construction: every replica row is first made genuinely new (the
    * scale10 half-mix for texts, the position rotation for vectors —
    * no verbatim clones, no cross-replica cliques); then each
    * [[DupEvery]]-th row of the NEW corpus is overwritten with a light
    * perturbation of its immediate predecessor. Each injected
    * duplicate pairs with exactly ONE other row — cliques cannot form,
    * so a kernel whose candidate topology is sound sees O(N) true
    * pairs, and a quadratic blow-up at scale is a kernel bug, not a
    * data artifact.
    *
    * Ids are re-sequenced contiguously (rowIdx = base offset + rep·N)
    * so the predecessor always exists. Writes only the two corpus
    * tables — point the pair-kernel queries' sfDir here.
    */
  val DupEvery = 50

  private def dupctl(spark: SparkSession, sfDir: String, out: String,
      replicas: Int): Unit = {
    val rep = broadcast(spark.range(replicas).toDF("rep"))

    // ---- documents
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (n, minId) = {
      val r = docs.agg(count(lit(1)), min("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val tails = docs.select(
      col("doc_id").as("t_id"),
      expr("substring(text, length(text) div 2 + 1)").as("tail"))
    val mixed = docs.crossJoin(rep)
      .withColumn("t_id",
        (col("doc_id") - lit(minId) + col("rep")) % lit(n) + lit(minId))
      .join(tails, "t_id")
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(concat(expr("substring(text, 1, length(text) div 2)"),
            col("tail"))))
      .withColumn("idx", col("doc_id") - lit(minId) + col("rep") * lit(n))
      .select(col("idx"), col("text"), col("lang"), col("source"))
    // inject: row idx with idx % DupEvery == 1 becomes a light
    // perturbation of row idx-1 (drop the last 12 chars, append a
    // short marker) — one near-dup pair per injection, never a clique
    val partnersD = mixed.select(col("idx").as("pidx"), col("text").as("ptext"))
    val dupDocs = mixed
      .withColumn("pidx",
        when(col("idx") % lit(DupEvery) === 1, col("idx") - 1))
      .join(partnersD, Seq("pidx"), "left")
      .withColumn("text",
        when(col("ptext").isNotNull,
          concat(expr("substring(ptext, 1, greatest(length(ptext) - 12, 1))"),
            lit(" dupvar"), col("idx") % 9))
          .otherwise(col("text")))
      .withColumn("doc_id", col("idx") + lit(minId))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    dupDocs.repartition(math.max(8, replicas / 2))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scalegen] wrote dupctl documents x$replicas (dup rate 1/$DupEvery)")

    // ---- embeddings
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (en, eMinId) = {
      val r = emb.agg(count(lit(1)), min("vec_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val rotated = emb.crossJoin(rep)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> element_at(embedding, " +
          "cast((i + rep) % size(embedding) as int) + 1))"))
      .withColumn("idx", col("vec_id") - lit(eMinId) + col("rep") * lit(en))
      .drop("rep", "vec_id")
    val partnersE = rotated.select(
      col("idx").as("pidx"), col("embedding").as("pemb"))
    val dupEmb = rotated
      .withColumn("pidx",
        when(col("idx") % lit(DupEvery) === 1, col("idx") - 1))
      .join(partnersE, Seq("pidx"), "left")
      .withColumn("embedding",
        when(col("pemb").isNotNull,
          // ~0.1% per-dim jitter: cosine vs the partner stays ~0.999995
          expr("transform(pemb, (x, i) -> cast(x * (1.0d + 0.001d * " +
            "((i % 7) - 3)) as float))"))
          .otherwise(col("embedding")))
      .withColumn("vec_id", col("idx") + lit(eMinId))
      .drop("pidx", "pemb", "idx")
    dupEmb.repartition(math.max(8, replicas / 2))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scalegen] wrote dupctl embeddings x$replicas (dup rate 1/$DupEvery)")
  }

  /** sf0.1-sized skew variants: ~25% of fact rows collapse onto one hot
    * key (the adversarial distribution AQE/salting must survive).
    */
  private def skewed(spark: SparkSession, sfDir: String, out: String): Unit = {
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val hotPart = lineitem.agg(min("l_partkey")).head().getLong(0)
    lineitem
      .withColumn("l_partkey",
        when(pmod(col("l_orderkey"), lit(4)) === 0, lit(hotPart))
          .otherwise(col("l_partkey")))
      .repartition(8).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val events = graft.Tables.load(spark, sfDir, "events")
    val hotUser = events.agg(min("user_id")).head().getLong(0)
    events
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(4)) === 0, lit(hotUser))
          .otherwise(col("user_id")))
      .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")
    // the dims/other tables the skew phases join against, unchanged
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println("[scalegen] wrote skew variants (hot l_partkey, hot user_id)")
  }
}
