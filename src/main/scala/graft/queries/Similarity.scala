package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor surface over `embeddings` (64-dim
  * float vectors).
  *
  * Oracle determinism: scores are computed in double (per-element
  * products are IEEE-identical in both engines; the 64-term summation
  * order differs only at ~1e-16 relative), then rounded to 6 decimals
  * BEFORE ranking — both engines rank identical rounded values, and
  * rounding-induced ties break on vec_id. (Decimal-sum was tried and
  * rejected: double→decimal casts at scale 12 round shortest-repr in
  * Spark vs exact-binary in DuckDB and diverge ~1e-4 of the time.)
  *
  * Scale path: q30 (brute force) is O(Q·N) with the corpus broadcast —
  * fine when Q·N fits a stage or as a per-bucket kernel; q31 (IVF,
  * probe=1) is the 100 TB topology: assign every vector to its nearest
  * centroid (tiny broadcast), then search only the query's own cell —
  * the candidate join keys on the cell id, so it shuffles instead of
  * cross-joining. Swapping the deterministic stand-in centroids for
  * k-means output changes recall, not the plan shape.
  */
object Similarity {

  /** Native codegen-friendly kernels (graft.functions.VectorExprs):
    * the `aggregate(zip_with(...))` formulation runs interpreted per
    * element and dominated ANN wall-clock. Same left-to-right summation
    * order, so values are bit-identical.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.arrayDot(a, b)

  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExprs.arraySqDist(a, b)

  /** embeddings spread across cores before the O(N·C) distance sweeps —
    * single small parquet file would otherwise single-thread them.
    */
  private def embParallel(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)

  /** Cell-size threshold above which q41's pair join sub-bands by SRP
    * signature — see subBandedCellPairs. Same literal in the oracle
    * SQL. Far above the sf0.1 max cell size, so small-SF results are
    * unchanged; at 100 TB it is the skew ceiling. */
  private[queries] val MaxCellPairFanout = 512

  /** DuckDB twin of dot(): positional list indexing over a 1..64 range. */
  private[queries] def duckDot(a: String, b: String): String =
    s"SUM(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE))"

  private[queries] def duckSqDist(a: String, b: String): String =
    s"""SUM((CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE))
       |    * (CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE)))""".stripMargin

  private def loadEmb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** embeddings as array<double> (float→double widening is exact on
    * both engines; kernels and the SQL twins all compute in double).
    */
  private[graft] def embDouble(s: SparkSession, dir: String): DataFrame =
    embParallel(s, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

  /** Deterministic Lloyd k-means: 2 fixed iterations from fixed seeds
    * (`vec_id % stride == 0`), per-dim means ROUNDED to 6 decimals
    * before reuse — raw double means differ between engines by
    * summation order; the rounded values rank identically (oracle
    * portability rules). Empty cells drop, exactly as in the SQL twin.
    *
    * Seed stride = max(97, ceil(N / [[MaxCentroids]])): ~N/97 cells at
    * test scale, CAPPED at ~4096 centroids beyond that — an uncapped
    * N/97 seed rule would make the centroid set grow linearly with the
    * corpus and the broadcast distance sweep quadratic (N²/97) at
    * 100 TB. The oracle twin computes the same stride with a COUNT
    * subquery, so both engines bind the cap at exactly the same N.
    *
    * TRAINING runs on a deterministic stride sample (`vec_id %
    * (stride/[[TrainPerCell]]) == 0`, ≈[[TrainPerCell]] training
    * vectors per centroid) — the standard IVF discipline: centroid
    * quality needs a representative sample, not the corpus, and a
    * full-corpus Lloyd sweep would triple the build's N×K distance
    * cost for no recall gain. 64 per cell sits above the ~39×K
    * floor below which centroid means get noisy (recall measurably
    * dropped at 24×K in SimilaritySpec). The sample stride is 1 —
    * training identical to full-corpus — until N ≈ 128·MaxCentroids
    * (~524k vectors); past that only the final ASSIGNMENT sweep (the
    * index itself) touches every vector, so the build is one full
    * N×K pass + two bounded ~ (TrainPerCell·K)×K passes — at the
    * 4096-centroid cap the training cost is CONSTANT in corpus size.
    * The oracle twin samples with the same integer arithmetic.
    *
    * Scale shape: each iteration is one broadcast distance sweep
    * (centroids ≤ 4096 ≪ corpus) + one (cell, dim)-keyed mean — no
    * collect, no driver loop beyond the fixed iteration count.
    */
  private[graft] val MaxCentroids = 4096L
  private[graft] val TrainPerCell = 64L

  private[queries] def kmeansCentroids(embD: DataFrame): DataFrame =
    kmeansCentroidsWith(embD, TrainPerCell)

  /** `trainPerCell`/`maxCentroids` are parameters only so
    * SimilaritySpec can compare sampled vs full-corpus training at an
    * N where the sample stride actually binds (with the production
    * cap that takes ~524k vectors); production always uses
    * [[TrainPerCell]]/[[MaxCentroids]]. */
  private[graft] def kmeansCentroidsWith(
      embD: DataFrame, trainPerCell: Long,
      maxCentroids: Long = MaxCentroids): DataFrame = {
    val n = embD.count()
    val stride = math.max(97L, math.ceil(n.toDouble / maxCentroids).toLong)
    val trainStride = math.max(1L, stride / trainPerCell)
    val train = embD.filter(col("vec_id") % trainStride === 0)
    var cents = embD.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
    for (_ <- 1 to 2) {
      cents = nearestCell(train, cents).join(train, "vec_id")
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos").agg(round(avg("v"), 6).as("m"))
        .groupBy("cent_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"), col("pm.m").as("centv"))
    }
    cents
  }

  /** Built-once IVF index artifact: trained centroids plus each
    * vector's two nearest cells (rn = 1 is the assignment, rn ≤ 2 the
    * probe set), persisted and materialized eagerly. Cached per
    * (session, dataset): an IVF index is trained at corpus-ingest time
    * and reused by every query — retraining per query would be the
    * wrong shape at any scale. Training is deterministic (fixed seeds,
    * fixed iterations), so caching cannot change any result.
    */
  /** `spark.catalog.clearCache()` (benchmark isolation, memory
    * pressure tooling) unpins persisted blocks WITHOUT consulting the
    * index caches — the cached DataFrames would then silently rebuild
    * their whole lineage on every downstream action (the q31 "serve
    * path rebuilds per query" pathology). Re-pin and re-materialize
    * ONCE under the build lock when eviction is detected.
    */
  private def repin(key: String, dfs: DataFrame*): Unit =
    if (dfs.exists(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
      IndexCache.buildLock.synchronized {
        val evicted = dfs.filter(_.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
        if (evicted.nonEmpty) IndexCache.timedBuild(key) {
          evicted.foreach { df =>
            df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            df.count(): Unit
          }
        }
      }

  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private[queries] def ivfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = IndexCache.key("ivf", s, dir)
    IndexCache.noteAccess(key)
    val hit = ivfCache.get(key)
    if (hit != null) { repin(key, hit._1, hit._2); hit }
    else IndexCache.buildLock.synchronized {
      val again = ivfCache.get(key)
      if (again != null) again
      else IndexCache.timedBuild(key) {
        val embD = embDouble(s, dir)
        val cents = kmeansCentroids(embD)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ranks = cellRanks(embD, cents).filter(col("rn") <= 2)
          .select("vec_id", "cent_id", "rn")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ranks.count() // the "build" step: train + assign, once
        ivfCache.put(key, (cents, ranks))
        (cents, ranks)
      }
    }
  }

  /** Built-once unthresholded cell-pair cosine table (vec_a, vec_b,
    * cell, cosine) over the IVF assignment — the embedding-dedup
    * candidate index. q41 (≥ 0.2) and q59 (≥ 0.3) are threshold
    * filters over this one artifact; production materializes it at
    * ingest next to the IVF index itself. Deterministic build, so
    * caching cannot change results. All first-builds serialize on the
    * one IndexCache.buildLock monitor (nested builds stay reentrant;
    * no cross-cache lock-order hazard).
    */
  private val cellPairCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[queries] def cellPairIndex(s: SparkSession, dir: String): DataFrame = {
    val key = IndexCache.key("cellpair", s, dir)
    IndexCache.noteAccess(key)
    val hit = cellPairCache.get(key)
    if (hit != null) { repin(key, hit); hit }
    else IndexCache.buildLock.synchronized {
      val again = cellPairCache.get(key)
      if (again != null) again
      else IndexCache.timedBuild(key) {
        val emb = embDouble(s, dir)
        val (_, ranks) = ivfIndex(s, dir)
        val withVec = ranks.filter(col("rn") === 1)
          .select(col("vec_id"), col("cent_id").as("cell"))
          .join(emb, "vec_id")
          .select(col("vec_id"), col("cell"), col("embedding"))
        val df = subBandedCellPairs(withVec, MaxCellPairFanout)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        cellPairCache.put(key, df)
        df
      }
    }
  }

  /** Oracle twin of `subBandedCellPairs`: SRP signatures, cell sizes,
    * sub-banded join keys and the unthresholded within-key cosine
    * pairs. Expects `idx`/`assign` from [[duckKmeans]] in scope; ends
    * with `pairs`(vec_a, vec_b, cell, cosine). Shared by q41/q59.
    */
  private[queries] val duckSubBandPairs: String =
    s"""bits AS (SELECT unnest(range(8)) AS j),
       |sgn AS (
       |  SELECT i, j, CASE WHEN STRPOS('01234567', SUBSTR(MD5(i || 'x' || j), 1, 1)) > 0
       |               THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM idx CROSS JOIN bits
       |), proj AS (
       |  SELECT e.vec_id, s.j,
       |         ROUND(SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.sgn), 6) AS dot
       |  FROM embeddings e CROSS JOIN sgn s GROUP BY e.vec_id, s.j
       |), sig AS (
       |  SELECT vec_id,
       |         STRING_AGG(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
       |  FROM proj GROUP BY vec_id
       |), sizes AS (SELECT cent_id, COUNT(*) AS cn FROM assign GROUP BY cent_id
       |), keyed AS (
       |  SELECT a.vec_id, a.cent_id,
       |         CAST(a.cent_id AS VARCHAR) || '#' ||
       |         CASE WHEN sz.cn > $MaxCellPairFanout
       |              THEN g.sig ELSE '' END AS jkey
       |  FROM assign a
       |  JOIN sizes sz ON sz.cent_id = a.cent_id
       |  JOIN sig g ON g.vec_id = a.vec_id
       |), pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cent_id AS cell,
       |         ROUND(${duckDot("ea", "eb")}
       |               / SQRT(${duckDot("ea", "ea")}
       |                      * ${duckDot("eb", "eb")}), 6) AS cosine
       |  FROM keyed a JOIN keyed b ON a.jkey = b.jkey AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  CROSS JOIN idx
       |  GROUP BY a.vec_id, b.vec_id, a.cent_id
       |)""".stripMargin

  /** Product-quantization sub-codebook: dims [lo..hi] of every vector,
    * seeded from vec_id < 16 (k = 16 per subspace), ONE Lloyd
    * refinement, then final (code, distortion) per vector — rounded
    * distances, cid tie-break, exactly the duckKmeans discipline.
    * Returns (codebook (cid, cv), codes (vec_id, code$sIdx,
    * dist$sIdx)) — q71 consumes the codes, q73's ADC search needs the
    * codebook too (the query-side lookup table is built against it).
    */
  private def pqSubspace(
      embD: DataFrame, sIdx: Int, lo: Int, hi: Int): (DataFrame, DataFrame) = {
    val sub = embD.select(col("vec_id"),
      slice(col("embedding"), lo, hi - lo + 1).as("sub"))
    val seed = sub.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("sub").as("cv"))
    def assign(cb: DataFrame): DataFrame =
      // min(struct) = "ORDER BY sqdist, cid LIMIT 1" as a map-side-
      // combined aggregate (same discipline as cellRanks: no window
      // sort over the N×K pair stream)
      sub.crossJoin(broadcast(cb))
        .select(col("vec_id"), col("cid"),
          round(sqDist(col("sub"), col("cv")), 6).as("sqdist"))
        .groupBy("vec_id")
        .agg(min(struct(col("sqdist"), col("cid"))).as("s"))
        .select(col("vec_id"), col("s.cid").as("cid"),
          col("s.sqdist").as("sqdist"))
    val cb1 = assign(seed).join(sub, "vec_id")
      .select(col("cid"), posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(round(avg("v"), 6).as("m"))
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), col("pm.m").as("cv"))
    val codes = assign(cb1).select(col("vec_id"), col("cid").as(s"code$sIdx"),
      col("sqdist").as(s"dist$sIdx"))
    (cb1, codes)
  }

  /** Built-once PQ index (both subspaces' codebooks + codes), cached
    * per (session, dataset) like the IVF index: PQ training runs at
    * corpus-ingest time; q71 (encode), q73 (ADC search) and q82 (index
    * health) read the same artifact. Deterministic training, so the
    * cache cannot change results.
    */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame, DataFrame, DataFrame)]()

  private[queries] def pqIndex(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val key = IndexCache.key("pq", s, dir)
    IndexCache.noteAccess(key)
    val hit = pqCache.get(key)
    if (hit != null) { repin(key, hit._1, hit._2, hit._3, hit._4); hit }
    else IndexCache.buildLock.synchronized {
      val again = pqCache.get(key)
      if (again != null) again
      else IndexCache.timedBuild(key) {
        val embD = embDouble(s, dir)
        val (cb0raw, codes0raw) = pqSubspace(embD, 0, 1, 32)
        val (cb1raw, codes1raw) = pqSubspace(embD, 1, 33, 64)
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // r16: the CODEBOOKS persist too — they are half the registered
        // artifact ("PQ codebooks + codes"), and unpersisted they made
        // q73/q82 re-run the whole training sweep (seed assign + Lloyd
        // mean + re-assign) on every execution. 16 rows per subspace.
        val cb0 = cb0raw.persist(lvl)
        val cb1 = cb1raw.persist(lvl)
        val codes0 = codes0raw.persist(lvl)
        val codes1 = codes1raw.persist(lvl)
        cb0.count(); cb1.count()
        codes0.count(); codes1.count() // the "train + encode" step, once
        val built = (cb0, codes0, cb1, codes1)
        pqCache.put(key, built)
        built
      }
    }
  }

  /** DuckDB twin of [[pqSubspace]]'s codes for subspace `s` over dims
    * [lo..hi]; ends with CTE `code_$s`(vec_id, code$s, dist$s).
    */
  private def duckPqSub(s: Int, lo: Int, hi: Int): String =
    s"""idx$s AS (SELECT unnest(range($lo, ${hi + 1})) AS i),
       |d0_$s AS (
       |  SELECT e.vec_id, c.vec_id AS cid,
       |         ROUND(SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
       |                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), 6) AS sqdist
       |  FROM embeddings e
       |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) c
       |  CROSS JOIN idx$s
       |  GROUP BY e.vec_id, c.vec_id
       |), a0_$s AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) AS rn
       |    FROM d0_$s) t WHERE rn = 1
       |), cb_$s AS (
       |  SELECT a.cid, i.i, ROUND(AVG(CAST(e.embedding[i.i] AS DOUBLE)), 6) AS v
       |  FROM a0_$s a JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN idx$s i
       |  GROUP BY a.cid, i.i
       |), df_$s AS (
       |  SELECT e.vec_id, c.cid,
       |         ROUND(SUM((CAST(e.embedding[c.i] AS DOUBLE) - c.v)
       |                   * (CAST(e.embedding[c.i] AS DOUBLE) - c.v)), 6) AS sqdist
       |  FROM embeddings e CROSS JOIN cb_$s c
       |  GROUP BY e.vec_id, c.cid
       |), code_$s AS (
       |  SELECT vec_id, cid AS code$s, sqdist AS dist$s FROM (
       |    SELECT vec_id, cid, sqdist,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) AS rn
       |    FROM df_$s) t WHERE rn = 1
       |)""".stripMargin

  /** The N×K distance sweep: one row per (vector, centroid) with the
    * 6-decimal-rounded squared distance. */
  private def cellSweep(embD: DataFrame, cents: DataFrame): DataFrame =
    embD.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(sqDist(col("embedding"), col("centv")), 6).as("sqdist"))

  /** min(struct(sqdist, cent_id)) per vector — lexicographic struct
    * ordering IS "ORDER BY sqdist, cent_id", so this reproduces the
    * rank-1 row of a window exactly, as a map-side-combined hash
    * aggregate: the N×K sweep reduces to N rows BEFORE the shuffle.
    * (A row_number window here would shuffle-sort the whole N×K pair
    * stream — the build bench OOM'd exactly there at 800k×4096.)
    */
  private def sweepMin(d: DataFrame, rn: Int): DataFrame =
    d.groupBy("vec_id")
      .agg(min(struct(col("sqdist"), col("cent_id"))).as("s"))
      .select(col("vec_id"), col("s.cent_id").as("cent_id"),
        col("s.sqdist").as("sqdist"), lit(rn).as("rn"))

  /** The two nearest cells per vector (rn = 1 the IVF assignment,
    * rn = 2 completing the probe set), ties on cent_id. Two min
    * aggregates over the distance sweep — recomputing the sweep for
    * rank 2 trades cheap codegen'd arithmetic for not sorting or
    * collecting K-sized groups; both passes shuffle only N rows. */
  private[graft] def cellRanks(embD: DataFrame, cents: DataFrame): DataFrame = {
    val first = sweepMin(cellSweep(embD, cents), 1)
    // rank 2: attach the rank-1 cell to the N-row VECTOR side before
    // the crossJoin — joining it onto the N×K sweep instead would
    // sort-merge (= sort) the whole sweep, the exact shape rank 1
    // avoids. Here the join is N×N; the exclusion is a streamed filter.
    val embWithC1 = embD
      .join(first.select(col("vec_id"), col("cent_id").as("c1")), "vec_id")
    val second = sweepMin(
      embWithC1.crossJoin(broadcast(cents))
        .filter(col("cent_id") =!= col("c1"))
        .select(col("vec_id"), col("cent_id"),
          round(sqDist(col("embedding"), col("centv")), 6).as("sqdist")), 2)
    first.unionByName(second)
  }

  private[queries] def nearestCell(embD: DataFrame, cents: DataFrame): DataFrame =
    sweepMin(cellSweep(embD, cents), 1).select("vec_id", "cent_id")

  /** SRP hyperplane j, dimension i: ±1 by md5 parity — data-
    * independent, identical in both engines. Shared by q56 and the
    * q41 sub-band skew guard. */
  private[queries] def srpSigns: Seq[Array[Float]] = {
    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until 8).map(j =>
      (1 to 64).map(i =>
        if ("01234567".contains(md5hex(s"${i}x$j").charAt(0))) 1.0f else -1.0f
      ).toArray)
  }

  /** 8-bit SRP signature column over `embedding`. */
  private[queries] def srpSigCol: Column =
    concat(srpSigns.map(arr =>
      when(round(graft.functions.VectorExprs.arrayDot(
        col("embedding"), typedLit(arr)), 6) >= 0, "1").otherwise("0")): _*)

  /** Cell-restricted cosine candidate pairs with a skew guard: a cell
    * larger than `cap` is sub-banded by the 8-bit SRP signature, so
    * the equi-join key becomes (cell, band) and one hot cell can't go
    * quadratic — near-identical vectors (the dedup case) share sign
    * bits, so they stay co-bucketed while the fan-out drops ~256×.
    * Input: (vec_id, cell, embedding). Output: (vec_a, vec_b, cell,
    * cosine) — unthresholded.
    */
  private[queries] def subBandedCellPairs(
      withVec: DataFrame, cap: Int): DataFrame = {
    val sizes = withVec.groupBy("cell").agg(count(lit(1)).as("cn"))
    val keyed = withVec.join(sizes, "cell")
      .withColumn("jkey", concat(col("cell").cast("string"), lit("#"),
        when(col("cn") > cap, srpSigCol).otherwise(lit(""))))
    val aSide = keyed.select(col("vec_id").as("vec_a"), col("cell"),
      col("embedding").as("va"), col("jkey"))
    val bSide = keyed.select(col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("jkey").as("jkeyb"))
    val cosine = round(
      dot(col("va"), col("vb"))
        / sqrt(dot(col("va"), col("va")) * dot(col("vb"), col("vb"))), 6)
    aSide.join(bSide, col("jkey") === col("jkeyb") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cell"), cosine.as("cosine"))
  }

  /** Shared oracle CTE prefix: the same fixed-seed 2-iteration k-means
    * in DuckDB SQL — same 6-decimal rounding, same tie-breaks. Ends
    * with `cents`(cent_id, i, v) as per-dim rows, `ranked`(vec_id,
    * cent_id, rn) and `assign`(vec_id, cent_id).
    */
  /** The same k-means chain trained over an arbitrary relation (CTE
    * name) instead of the full `embeddings` table — incremental-update
    * oracles train on the pre-existing corpus only. The base string
    * only uses "embeddings" as a table reference; the word-boundary
    * regex keeps a future identifier merely CONTAINING the substring
    * (alias, column, comment) from being silently rewritten.
    */
  private[queries] def duckKmeansOn(rel: String): String =
    duckKmeans.replaceAll("\\bembeddings\\b",
      java.util.regex.Matcher.quoteReplacement(rel))

  private[queries] val duckKmeans: String =
    s"""idx AS (SELECT unnest(range(1, 65)) AS i),
       |kst AS (SELECT GREATEST(97, CAST(CEIL(COUNT(*) / $MaxCentroids.0) AS BIGINT)) AS s
       |        FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, embedding FROM embeddings
       |       WHERE vec_id % (SELECT s FROM kst) = 0),
       |ktrain AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id % (SELECT GREATEST(1, CAST(FLOOR(s / $TrainPerCell.0) AS BIGINT))
       |                           FROM kst) = 0),
       |d0 AS (
       |  SELECT e.vec_id, c.cent_id, ROUND(${duckSqDist("e", "c")}, 6) AS sqdist
       |  FROM ktrain e CROSS JOIN c0 c CROSS JOIN idx
       |  GROUP BY e.vec_id, c.cent_id
       |), a0 AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cent_id) AS rn
       |    FROM d0) t WHERE rn = 1
       |), c1 AS (
       |  SELECT a.cent_id, i.i, ROUND(AVG(CAST(e.embedding[i.i] AS DOUBLE)), 6) AS v
       |  FROM a0 a JOIN ktrain e ON e.vec_id = a.vec_id CROSS JOIN idx i
       |  GROUP BY a.cent_id, i.i
       |), d1 AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROUND(SUM((CAST(e.embedding[c.i] AS DOUBLE) - c.v)
       |                   * (CAST(e.embedding[c.i] AS DOUBLE) - c.v)), 6) AS sqdist
       |  FROM ktrain e CROSS JOIN c1 c
       |  GROUP BY e.vec_id, c.cent_id
       |), a1 AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cent_id) AS rn
       |    FROM d1) t WHERE rn = 1
       |), cents AS (
       |  SELECT a.cent_id, i.i, ROUND(AVG(CAST(e.embedding[i.i] AS DOUBLE)), 6) AS v
       |  FROM a1 a JOIN ktrain e ON e.vec_id = a.vec_id CROSS JOIN idx i
       |  GROUP BY a.cent_id, i.i
       |), d2 AS (
       |  SELECT e.vec_id, c.cent_id,
       |         ROUND(SUM((CAST(e.embedding[c.i] AS DOUBLE) - c.v)
       |                   * (CAST(e.embedding[c.i] AS DOUBLE) - c.v)), 6) AS sqdist
       |  FROM embeddings e CROSS JOIN cents c
       |  GROUP BY e.vec_id, c.cent_id
       |), ranked AS (
       |  SELECT vec_id, cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cent_id) AS rn
       |  FROM d2
       |), assign AS (
       |  SELECT vec_id, cent_id FROM ranked WHERE rn = 1
       |)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Vector norms — sanity kernel shared by both ANN variants.
    QueryDef(
      "q29_vector_norms",
      s"""SELECT vec_id,
         |       CAST(ROUND(${duckDot("e", "e")}, 6) AS DOUBLE) AS sq_norm,
         |       CAST(len(embedding) AS BIGINT) AS dim
         |FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
         |GROUP BY vec_id, len(embedding)
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      embParallel(s, dir)
        .select(
          col("vec_id"),
          round(dot(col("embedding"), col("embedding")), 6).as("sq_norm"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy("vec_id")
    },

    // Brute-force top-5 cosine neighbors for query vectors vec_id < 10.
    QueryDef(
      "q30_knn_bruteforce",
      s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         |dots AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         CAST(ROUND(${duckDot("q", "c")}
         |                    / SQRT(${duckDot("q", "q")} * ${duckDot("c", "c")}),
         |                    6) AS DOUBLE) AS cosine
         |  FROM embeddings q
         |  JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |  CROSS JOIN idx
         |  GROUP BY q.vec_id, c.vec_id
         |)
         |SELECT qid, cid, cosine,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rn
         |FROM dots
         |QUALIFY rn <= 5
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val emb = embParallel(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val dots = q.join(broadcast(c), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          round(dot(col("qv"), col("cv"))
            / sqrt(dot(col("qv"), col("qv")) * dot(col("cv"), col("cv"))), 6)
            .as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      dots
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    },

    // IVF-style ANN, probe=1: centroids from the deterministic 2-round
    // k-means (duckKmeans twin), assign all vectors to their nearest
    // centroid by squared L2, then top-3 within the query's own cell.
    QueryDef(
      "q31_ivf_topk",
      s"""WITH $duckKmeans, pairs AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS cid, qa.cent_id AS cell,
         |         CAST(ROUND(${duckSqDist("q", "c")}, 6) AS DOUBLE) AS sqdist
         |  FROM assign qa
         |  JOIN assign ca ON qa.cent_id = ca.cent_id AND qa.vec_id <> ca.vec_id
         |  JOIN embeddings q ON q.vec_id = qa.vec_id
         |  JOIN embeddings c ON c.vec_id = ca.vec_id
         |  CROSS JOIN idx
         |  WHERE qa.vec_id < 10
         |  GROUP BY qa.vec_id, ca.vec_id, qa.cent_id
         |)
         |SELECT qid, cid, cell, sqdist,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sqdist, cid) AS BIGINT) AS rn
         |FROM pairs
         |QUALIFY rn <= 3
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val emb = embDouble(s, dir)
      val (_, ranks) = ivfIndex(s, dir)
      val assign = ranks.filter(col("rn") === 1).select("vec_id", "cent_id")
      val withVec = assign.join(emb, "vec_id")
      val qside = withVec.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cent_id").as("cell"),
          col("embedding").as("qv"))
      val cside = withVec
        .select(col("vec_id").as("cid"), col("cent_id").as("ccell"),
          col("embedding").as("cv"))
      val pairs = qside.join(cside,
          col("cell") === col("ccell") && col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), col("cell"),
          round(sqDist(col("qv"), col("cv")), 6).as("sqdist"))
      val w = Window.partitionBy("qid").orderBy(col("sqdist"), col("cid"))
      pairs.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("qid", "cid", "cell", "sqdist", "rn")
        .orderBy("qid", "rn")
    },

    // IVF, nprobe=2: queries search their TWO nearest cells — the
    // standard recall knob (missed neighbors usually sit just across a
    // cell boundary). Database side stays rn=1-assigned, so cells are
    // disjoint and candidates can't duplicate; the probe fan-out
    // multiplies candidate volume by ~2, not the shuffle count. Same
    // plan as q31 otherwise: tiny centroid broadcast, candidate join
    // keyed on the cell id.
    QueryDef(
      "q50_ivf_probe2",
      s"""WITH $duckKmeans, probe AS (
         |  SELECT vec_id, cent_id FROM ranked WHERE rn <= 2 AND vec_id < 10
         |), pairs AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS cid, ca.cent_id AS cell,
         |         CAST(ROUND(${duckSqDist("q", "c")}, 6) AS DOUBLE) AS sqdist
         |  FROM probe qa
         |  JOIN assign ca ON qa.cent_id = ca.cent_id AND qa.vec_id <> ca.vec_id
         |  JOIN embeddings q ON q.vec_id = qa.vec_id
         |  JOIN embeddings c ON c.vec_id = ca.vec_id
         |  CROSS JOIN idx
         |  GROUP BY qa.vec_id, ca.vec_id, ca.cent_id
         |)
         |SELECT qid, cid, cell, sqdist,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sqdist, cid) AS BIGINT) AS rn
         |FROM pairs
         |QUALIFY rn <= 3
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val emb = embDouble(s, dir)
      val (_, ranks) = ivfIndex(s, dir)
      val assign = ranks.filter(col("rn") === 1).select("vec_id", "cent_id")
      val probe = ranks.filter(col("rn") <= 2 && col("vec_id") < 10)
        .select("vec_id", "cent_id")
      val qside = probe.join(emb, "vec_id")
        .select(col("vec_id").as("qid"), col("cent_id").as("cell"),
          col("embedding").as("qv"))
      val cside = assign.join(emb, "vec_id")
        .select(col("vec_id").as("cid"), col("cent_id").as("ccell"),
          col("embedding").as("cv"))
      val pairs = qside.join(cside,
          col("cell") === col("ccell") && col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), col("ccell").as("cell"),
          round(sqDist(col("qv"), col("cv")), 6).as("sqdist"))
      val w = Window.partitionBy("qid").orderBy(col("sqdist"), col("cid"))
      pairs.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("qid", "cid", "cell", "sqdist", "rn")
        .orderBy("qid", "rn")
    },

    // Sign-random-projection LSH (Charikar 2002): 8 deterministic
    // ±1 hyperplanes (signs seeded from md5 parity, identical in both
    // engines) → 8-bit signature → bucket-equality join = candidate
    // pairs → exact cosine verify. The third ANN topology next to IVF
    // (q31/q50): no centroids, no training, candidates shuffle on the
    // signature. Projection dots are rounded to 6 decimals BEFORE the
    // sign so engine summation order can't flip a boundary bit.
    QueryDef(
      "q56_srp_lsh_candidates",
      s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         |bits AS (SELECT unnest(range(8)) AS j),
         |signs AS (
         |  SELECT i, j, CASE WHEN STRPOS('01234567', SUBSTR(MD5(i || 'x' || j), 1, 1)) > 0
         |               THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM idx CROSS JOIN bits
         |), proj AS (
         |  SELECT e.vec_id, s.j,
         |         ROUND(SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.sgn), 6) AS dot
         |  FROM embeddings e CROSS JOIN signs s GROUP BY e.vec_id, s.j
         |), sig AS (
         |  SELECT vec_id,
         |         STRING_AGG(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
         |  FROM proj GROUP BY vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.sig AS sig
         |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |), scored AS (
         |  SELECT p.vec_a, p.vec_b, p.sig,
         |         ROUND(${duckDot("ea", "eb")}
         |               / SQRT(${duckDot("ea", "ea")} * ${duckDot("eb", "eb")}), 6) AS cosine
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b
         |  CROSS JOIN idx
         |  GROUP BY p.vec_a, p.vec_b, p.sig
         |)
         |SELECT vec_a, vec_b, sig, CAST(cosine AS DOUBLE) AS cosine
         |FROM scored WHERE cosine >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      // hyperplanes from the shared srpSigns helper (also the q41
      // sub-band guard): ±1 by md5 parity — data-independent, exact
      val sig = embParallel(s, dir).select(col("vec_id"), col("embedding"),
        srpSigCol.as("sig"))
      val aSide = sig.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("sig"))
      val bSide = sig.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("sig").as("sigb"))
      val cosine = round(
        dot(col("va"), col("vb"))
          / sqrt(dot(col("va"), col("va")) * dot(col("vb"), col("vb"))), 6)
      aSide.join(bSide, col("sig") === col("sigb") && col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("sig"), cosine.as("cosine"))
        .filter(col("cosine") >= 0.2)
        .orderBy("vec_a", "vec_b")
    },

    // Int8 scalar quantization — the vector-compression step that makes
    // 100 TB ANN affordable: per-dimension min/max codebook (one
    // map-side-partial pass), then code = floor((x-mn)/(mx-mn)*255)
    // per dim (floor, not round — .5-prone double rounds diverge
    // between engines). The 64-row codebook broadcasts; the only
    // shuffle is the per-vector re-aggregation. Output: exact integer
    // code checksums (any code bit off moves both), plus the
    // midpoint-reconstruction error bound |x - x'| ≤ step/2 verified
    // per dim on the Spark side — TRUE on the oracle side, the
    // invariant-oracle pattern (q38/q46).
    QueryDef(
      "q70_int8_quantization",
      """WITH u AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |), st AS (
        |  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM u GROUP BY i
        |), c AS (
        |  SELECT u.vec_id,
        |         CAST(FLOOR((u.x - st.mn) / (st.mx - st.mn) * 255) AS BIGINT) AS code
        |  FROM u JOIN st ON u.i = st.i
        |)
        |SELECT vec_id,
        |       CAST(SUM(code) AS BIGINT) AS code_l1,
        |       CAST(SUM(code * code) AS BIGINT) AS code_l2,
        |       TRUE AS within_bound
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val u = embDouble(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
        .select(col("vec_id"), (col("i0") + 1).as("i"), col("x"))
      val st = u.groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      u.join(broadcast(st), "i")
        .withColumn("step", (col("mx") - col("mn")) / 255)
        .withColumn("code",
          floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255))
        .withColumn("ok",
          abs(col("x") - (col("mn") + (col("code") + 0.5) * col("step")))
            <= col("step") * 0.500001)
        .groupBy("vec_id")
        .agg(sum("code").cast("long").as("code_l1"),
          sum(col("code") * col("code")).cast("long").as("code_l2"),
          expr("bool_and(ok)").as("within_bound"))
        .orderBy("vec_id")
    },

    // Product quantization: 64 dims → 2 subspaces × 16-centroid
    // codebooks (seeded, one Lloyd refinement — the q31 k-means
    // discipline per subspace), each vector encoded as (code0, code1)
    // = 8 bits — a 512× compression of the float32 vector, the
    // memory-resident form ANN serves at 100 TB (ADC then scans codes
    // with a 2×16 lookup table instead of touching raw vectors).
    // Codebooks broadcast; training is two broadcast sweeps + one
    // (cid, dim) mean per subspace; encoding is one broadcast sweep.
    // distortion = dist0 + dist1 (each rounded-6, so the sum is the
    // same double on both engines).
    QueryDef(
      "q71_pq_codes",
      s"""WITH ${duckPqSub(0, 1, 32)},
         |${duckPqSub(1, 33, 64)}
         |SELECT a.vec_id, a.code0, b.code1,
         |       CAST(a.dist0 + b.dist1 AS DOUBLE) AS distortion
         |FROM code_0 a JOIN code_1 b ON a.vec_id = b.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      val (_, codes0, _, codes1) = pqIndex(s, dir)
      codes0.join(codes1, "vec_id")
        .select(col("vec_id"), col("code0"), col("code1"),
          (col("dist0") + col("dist1")).cast("double").as("distortion"))
        .orderBy("vec_id")
    },

    // PQ asymmetric-distance (ADC) top-k search — the serving half of
    // product quantization (Jégou et al. 2011): each query builds a
    // 2×16 lookup table of EXACT squared distances from its sub-vectors
    // to every codebook centroid, then scans candidate CODES only —
    // adc(q, x) = lut0[code0(x)] + lut1[code1(x)]. The corpus's raw
    // floats are never touched at query time; the scan side is 2 bytes
    // per vector, which is why a 100 TB corpus serves from RAM. Plan
    // shape: the LUTs (queries × 16 rows per subspace) BROADCAST onto
    // the code table, so candidate generation is two map-side hash
    // joins — no shuffle of the corpus codes; the only shuffle is the
    // per-query top-3 window. Distances are each rounded to 6 decimals
    // (the q30/q31 discipline), so their sum is the same double in both
    // engines; ties break on cid.
    QueryDef(
      "q73_pq_adc_topk",
      s"""WITH ${duckPqSub(0, 1, 32)},
         |${duckPqSub(1, 33, 64)},
         |lut0 AS (
         |  SELECT q.vec_id AS qid, c.cid AS c0,
         |         ROUND(SUM((CAST(q.embedding[c.i] AS DOUBLE) - c.v)
         |                   * (CAST(q.embedding[c.i] AS DOUBLE) - c.v)), 6) AS d0
         |  FROM embeddings q CROSS JOIN cb_0 c
         |  WHERE q.vec_id < 10 GROUP BY q.vec_id, c.cid
         |), lut1 AS (
         |  SELECT q.vec_id AS qid, c.cid AS c1,
         |         ROUND(SUM((CAST(q.embedding[c.i] AS DOUBLE) - c.v)
         |                   * (CAST(q.embedding[c.i] AS DOUBLE) - c.v)), 6) AS d1
         |  FROM embeddings q CROSS JOIN cb_1 c
         |  WHERE q.vec_id < 10 GROUP BY q.vec_id, c.cid
         |), adc AS (
         |  SELECT l0.qid, a.vec_id AS cid, l0.d0 + l1.d1 AS adc
         |  FROM code_0 a
         |  JOIN code_1 b ON a.vec_id = b.vec_id
         |  JOIN lut0 l0 ON l0.c0 = a.code0
         |  JOIN lut1 l1 ON l1.qid = l0.qid AND l1.c1 = b.code1
         |  WHERE a.vec_id <> l0.qid
         |)
         |SELECT qid, cid, CAST(adc AS DOUBLE) AS adc,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS BIGINT) AS rn
         |FROM adc
         |QUALIFY rn <= 3
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val embD = embDouble(s, dir)
      val (cb0, codes0, cb1, codes1) = pqIndex(s, dir)
      val codes = codes0.join(codes1, "vec_id")
        .select("vec_id", "code0", "code1")
      def lut(cb: DataFrame, lo: Int, len: Int, qCol: String, cCol: String, dCol: String) =
        embD.filter(col("vec_id") < 10)
          .select(col("vec_id").as(qCol), slice(col("embedding"), lo, len).as("qs"))
          .crossJoin(broadcast(cb))
          .select(col(qCol), col("cid").as(cCol),
            round(sqDist(col("qs"), col("cv")), 6).as(dCol))
      val adc = codes
        .join(broadcast(lut(cb0, 1, 32, "qid", "c0", "d0")), col("code0") === col("c0"))
        .join(broadcast(lut(cb1, 33, 32, "qid2", "c1", "d1")),
          col("qid") === col("qid2") && col("code1") === col("c1"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          (col("d0") + col("d1")).as("adc"))
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("cid"))
      adc.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), col("adc").cast("double").as("adc"), col("rn"))
        .orderBy("qid", "rn")
    },

    // ANN index health report: per-IVF-cell occupancy joined with the
    // PQ reconstruction error of the cell's members — the dashboard an
    // index operator watches before shipping a corpus index (oversized
    // cells → probe latency spikes; high distortion cells → recall
    // loss; both are re-train triggers). Pure composition of the two
    // cached index artifacts (IVF assignment, PQ codes): one shuffle
    // on the cell id. Distortions sum in decimal (each addend is a
    // rounded-6 double, so the decimal cast is exact on both engines).
    QueryDef(
      "q82_ann_index_report",
      s"""WITH $duckKmeans,
         |${duckPqSub(0, 1, 32)},
         |${duckPqSub(1, 33, 64)},
         |dist AS (
         |  SELECT a.vec_id,
         |         CAST(a.dist0 AS DECIMAL(20,6)) + CAST(b.dist1 AS DECIMAL(20,6)) AS distortion
         |  FROM code_0 a JOIN code_1 b ON a.vec_id = b.vec_id
         |)
         |SELECT g.cent_id AS cell,
         |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(d.distortion) AS DOUBLE) AS total_distortion,
         |       CAST(MAX(d.distortion) AS DOUBLE) AS max_distortion
         |FROM assign g JOIN dist d ON d.vec_id = g.vec_id
         |GROUP BY g.cent_id ORDER BY cell""".stripMargin) { (s, dir) =>
      val dec6 = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(20, 6))
      val (_, ranks) = ivfIndex(s, dir)
      val assign = ranks.filter(col("rn") === 1)
        .select(col("vec_id"), col("cent_id").as("cell"))
      val (_, codes0, _, codes1) = pqIndex(s, dir)
      val dist = codes0.join(codes1, "vec_id")
        .select(col("vec_id"),
          (dec6(col("dist0")) + dec6(col("dist1"))).as("distortion"))
      assign.join(dist, "vec_id")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum("distortion").cast("double").as("total_distortion"),
          max("distortion").cast("double").as("max_distortion"))
        .orderBy("cell")
    },

    // Label-agreement eval of the IVF retriever: for each query, the
    // fraction of its top-3 same-cell neighbors sharing the query's
    // class label — the standard ground-truth-free retrieval-quality
    // probe when embeddings carry labels (kNN classification accuracy
    // as an index metric). Completes the ANN lifecycle: train (q31),
    // serve (q73), monitor capacity/distortion (q82), monitor QUALITY
    // (q85) — regression here fires before users notice recall loss.
    // Same candidate topology as q31 (cell-keyed join, cached index);
    // labels ride a vec_id-keyed join.
    QueryDef(
      "q85_ann_label_recall",
      s"""WITH $duckKmeans, pairs AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS cid,
         |         CAST(ROUND(${duckSqDist("q", "c")}, 6) AS DOUBLE) AS sqdist
         |  FROM assign qa
         |  JOIN assign ca ON qa.cent_id = ca.cent_id AND qa.vec_id <> ca.vec_id
         |  JOIN embeddings q ON q.vec_id = qa.vec_id
         |  JOIN embeddings c ON c.vec_id = ca.vec_id
         |  CROSS JOIN idx
         |  WHERE qa.vec_id < 10
         |  GROUP BY qa.vec_id, ca.vec_id
         |), top3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sqdist, cid) AS rn
         |    FROM pairs) t WHERE rn <= 3
         |)
         |SELECT t.qid, CAST(eq.label AS BIGINT) AS label,
         |       CAST(SUM(CASE WHEN ec.label = eq.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
         |       CAST(ROUND(CAST(SUM(CASE WHEN ec.label = eq.label THEN 1 ELSE 0 END)
         |                       AS DECIMAL(20,6)) / COUNT(*), 4) AS DOUBLE) AS match_rate
         |FROM top3 t
         |JOIN embeddings eq ON eq.vec_id = t.qid
         |JOIN embeddings ec ON ec.vec_id = t.cid
         |GROUP BY t.qid, eq.label
         |ORDER BY qid""".stripMargin) { (s, dir) =>
      val dec6 = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(20, 6))
      val emb = embDouble(s, dir)
      val (_, ranks) = ivfIndex(s, dir)
      val assign = ranks.filter(col("rn") === 1).select("vec_id", "cent_id")
      val withVec = assign.join(emb, "vec_id")
      val qside = withVec.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cent_id").as("cell"),
          col("embedding").as("qv"))
      val cside = withVec
        .select(col("vec_id").as("cid"), col("cent_id").as("ccell"),
          col("embedding").as("cv"))
      val pairs = qside.join(cside,
          col("cell") === col("ccell") && col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          round(sqDist(col("qv"), col("cv")), 6).as("sqdist"))
      val w = Window.partitionBy("qid").orderBy(col("sqdist"), col("cid"))
      val top3 = pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select("qid", "cid")
      val labels = loadEmb(s, dir).select(col("vec_id"), col("label"))
      val same = when(col("clabel") === col("qlabel"), 1).otherwise(0)
      top3
        .join(labels.select(col("vec_id").as("qid"), col("label").as("qlabel")), "qid")
        .join(labels.select(col("vec_id").as("cid"), col("label").as("clabel")), "cid")
        .groupBy(col("qid"), col("qlabel").cast("long").as("label"))
        .agg(sum(same).cast("long").as("n_same"),
          round(dec6(sum(same)) / count(lit(1)), 4).cast("double").as("match_rate"))
        .orderBy("qid")
    },

    // Hard-negative mining for contrastive training (DPR/Contriever
    // recipe): for each query, the CLOSEST same-cell vectors whose
    // class label DIFFERS — near in embedding space, wrong in label —
    // exactly the negatives that make a contrastive batch
    // informative. Same cell-keyed candidate topology as q31/q85 over
    // the cached index; the label filter rides the candidate join, so
    // no extra shuffle. Top-2 per query by rounded distance, cid
    // tie-break.
    QueryDef(
      "q88_hard_negatives",
      s"""WITH $duckKmeans, pairs AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS cid,
         |         CAST(ROUND(${duckSqDist("q", "c")}, 6) AS DOUBLE) AS sqdist
         |  FROM assign qa
         |  JOIN assign ca ON qa.cent_id = ca.cent_id AND qa.vec_id <> ca.vec_id
         |  JOIN embeddings q ON q.vec_id = qa.vec_id
         |  JOIN embeddings c ON c.vec_id = ca.vec_id
         |  CROSS JOIN idx
         |  WHERE qa.vec_id < 10 AND c.label <> q.label
         |  GROUP BY qa.vec_id, ca.vec_id
         |)
         |SELECT qid, cid, sqdist,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sqdist, cid) AS BIGINT) AS rn
         |FROM pairs
         |QUALIFY rn <= 2
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val emb = embDouble(s, dir)
      val (_, ranks) = ivfIndex(s, dir)
      val labels = loadEmb(s, dir).select(col("vec_id"), col("label"))
      val assign = ranks.filter(col("rn") === 1).select("vec_id", "cent_id")
      val withVec = assign.join(emb, "vec_id").join(labels, "vec_id")
      val qside = withVec.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cent_id").as("cell"),
          col("embedding").as("qv"), col("label").as("qlabel"))
      val cside = withVec
        .select(col("vec_id").as("cid"), col("cent_id").as("ccell"),
          col("embedding").as("cv"), col("label").as("clabel"))
      val pairs = qside.join(cside,
          col("cell") === col("ccell") && col("cid") =!= col("qid")
            && col("clabel") =!= col("qlabel"))
        .select(col("qid"), col("cid"),
          round(sqDist(col("qv"), col("cv")), 6).as("sqdist"))
      val w = Window.partitionBy("qid").orderBy(col("sqdist"), col("cid"))
      pairs.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("qid"), col("cid"), col("sqdist").cast("double").as("sqdist"),
          col("rn"))
        .orderBy("qid", "rn")
    },

    // Incremental IVF index maintenance — the MAINTAIN step of the ANN
    // lifecycle (train q31, serve q73, capacity q82, quality q85):
    // a new vector batch (10% of the corpus stands in as "arrived
    // later") is assigned to centroids trained on the EXISTING corpus
    // only, without retraining — per-cell base/new counts and growth
    // ratios are the signal that schedules the actual retrain (skewed
    // growth = drifted centroids). Scale shape: training sweeps only
    // the historical corpus (already done at ingest in production —
    // recomputed here so the oracle can replay it); the incremental
    // step is ONE broadcast distance sweep over the batch, O(batch),
    // never a corpus rescan.
    QueryDef(
      "q104_ivf_incremental_update",
      s"""WITH emb_old AS (
         |  SELECT * FROM embeddings WHERE vec_id % 10 <> 9
         |), ${duckKmeansOn("emb_old")},
         |newv AS (SELECT * FROM embeddings WHERE vec_id % 10 = 9),
         |ndist AS (
         |  SELECT e.vec_id, c.cent_id,
         |         ROUND(SUM((CAST(e.embedding[c.i] AS DOUBLE) - c.v)
         |                   * (CAST(e.embedding[c.i] AS DOUBLE) - c.v)), 6) AS sqdist
         |  FROM newv e CROSS JOIN cents c
         |  GROUP BY e.vec_id, c.cent_id
         |), nassign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cent_id) AS rn
         |    FROM ndist) t WHERE rn = 1
         |), base AS (
         |  SELECT cent_id, COUNT(*) AS n_base FROM assign GROUP BY cent_id
         |), nb AS (
         |  SELECT cent_id, COUNT(*) AS n_new FROM nassign GROUP BY cent_id
         |)
         |SELECT b.cent_id AS cell,
         |       CAST(b.n_base AS BIGINT) AS n_base,
         |       CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new,
         |       CAST(ROUND(CAST(COALESCE(nb.n_new, 0) AS DECIMAL(20,6))
         |                  / b.n_base, 4) AS DOUBLE) AS growth
         |FROM base b LEFT JOIN nb ON nb.cent_id = b.cent_id
         |ORDER BY cell""".stripMargin) { (s, dir) =>
      val embD = embDouble(s, dir)
      val old = embD.filter(col("vec_id") % 10 =!= 9)
      val fresh = embD.filter(col("vec_id") % 10 === 9)
      // the historical-corpus index is itself a built-once artifact —
      // deterministic training, so caching cannot change the result
      val cents = TextOps.cachedIndex(
        IndexCache.key("kmold", s, dir))(kmeansCentroids(old))
      val base = nearestCell(old, cents)
        .groupBy("cent_id").agg(count(lit(1)).as("n_base"))
      val added = nearestCell(fresh, cents)
        .groupBy("cent_id").agg(count(lit(1)).as("n_new"))
      base.join(added, Seq("cent_id"), "left")
        .select(col("cent_id").as("cell"),
          col("n_base").cast("long").as("n_base"),
          coalesce(col("n_new"), lit(0L)).cast("long").as("n_new"),
          round(coalesce(col("n_new"), lit(0L))
            .cast(org.apache.spark.sql.types.DecimalType(20, 6))
            / col("n_base"), 4).cast("double").as("growth"))
        .orderBy("cell")
    },

    // Scalar (int8) quantization ANN — the serving-compression member
    // of the quantization family beside PQ (q73): per-dimension global
    // [lo, hi] range, each component stored as an 8-bit code
    // (floor-clamped to 0..127), queries scored against the
    // DEQUANTIZED corpus in exact mirrored-double arithmetic. 16x
    // smaller vectors than float64 at a distortion the rn<=3 output
    // makes visible. Scale: the range table is 64 rows (broadcast);
    // codes are a map-only pass over the corpus; scoring composes with
    // the IVF cell restriction (q31/q104) exactly like the float path
    // — here the brute-force sweep doubles as the recall oracle.
    QueryDef(
      "q225_sq_int8_topk",
      s"""WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         |e AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings CROSS JOIN idx
         |), mm AS (
         |  SELECT i, MIN(v) AS lo, GREATEST(MAX(v) - MIN(v), 1e-12) AS span
         |  FROM e GROUP BY i
         |), deq AS (
         |  SELECT e.vec_id, e.i,
         |         mm.lo + LEAST(FLOOR((e.v - mm.lo) * 127.0 / mm.span), 127.0)
         |                 * mm.span / 127.0 AS dv
         |  FROM e JOIN mm USING (i)
         |), q AS (
         |  SELECT vec_id AS qid, i, v FROM e WHERE vec_id < 10
         |), adc AS (
         |  SELECT q.qid, d.vec_id AS cid,
         |         CAST(ROUND(SUM((q.v - d.dv) * (q.v - d.dv)), 6) AS DOUBLE) AS sqdist
         |  FROM q JOIN deq d ON d.i = q.i AND d.vec_id <> q.qid
         |  GROUP BY q.qid, d.vec_id
         |)
         |SELECT qid, cid, sqdist,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sqdist, cid) AS BIGINT) AS rn
         |FROM adc QUALIFY rn <= 3
         |ORDER BY qid, rn""".stripMargin) { (s, dir) =>
      val emb = embParallel(s, dir)
      val dims = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i0", "vf")))
        .select(col("vec_id"), (col("i0") + 1).as("i"), col("vf").cast("double").as("v"))
      // 64-row per-dimension range table, folded to two aligned arrays
      val mm = dims.groupBy("i")
        .agg(min("v").as("lo"), greatest(max("v") - min("v"), lit(1e-12)).as("span"))
        .agg(expr("transform(sort_array(collect_list(struct(i, lo, span))), x -> x.lo)").as("los"),
          expr("transform(sort_array(collect_list(struct(i, lo, span))), x -> x.span)").as("spans"))
      // dequantized corpus: one map-only transform per vector; the
      // quantize/dequantize expression mirrors the oracle's shape
      // bit-for-bit (identical doubles in -> identical doubles out)
      val deq = emb.crossJoin(broadcast(mm))
        .select(col("vec_id").as("cid"),
          expr("""transform(embedding, (vf, k) ->
                 |  los[k] + least(floor((cast(vf as double) - los[k]) * 127.0D / spans[k]),
                 |                 127.0D) * spans[k] / 127.0D)""".stripMargin).as("dv"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          expr("transform(embedding, vf -> cast(vf as double))").as("qv"))
      val adc = q.join(broadcast(deq), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          round(sqDist(col("qv"), col("dv")), 6).cast("double").as("sqdist"))
      val w = Window.partitionBy("qid").orderBy(col("sqdist"), col("cid"))
      adc.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("qid", "rn")
    },

    // ANN recall evaluation — exact-ground-truth recall@10 of the IVF
    // probe against brute force, per query. The production index-
    // quality gate: q85's label agreement is ground-truth-FREE (cheap,
    // always on); this one buys exact truth for a bounded query SAMPLE
    // (vec_id < 10 here; a fixed-size sample at any corpus scale), so
    // the exact side costs |sample| × N — linear, and only for the
    // audited sample. The IVF side reuses the cached index: probe
    // cells (rn ≤ 2) equi-joined to cell assignments, re-scored, top
    // 10. Output: per-query candidate count, hits, recall@10 — the
    // numbers an index-tuning loop (nprobe / centroid count) reads.
    QueryDef(
      "q239_ann_recall_eval",
      s"""WITH $duckKmeans,
         |exact AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         ROUND(${duckDot("q", "c")}
         |               / SQRT(${duckDot("q", "q")} * ${duckDot("c", "c")}), 6) AS cosine
         |  FROM embeddings q
         |  JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |  CROSS JOIN idx
         |  GROUP BY q.vec_id, c.vec_id
         |), etop AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
         |    FROM exact) t WHERE rn <= 10
         |), probe AS (
         |  SELECT vec_id AS qid, cent_id AS cell FROM ranked
         |  WHERE rn <= 2 AND vec_id < 10
         |), cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS cid
         |  FROM probe p JOIN assign a ON a.cent_id = p.cell AND a.vec_id <> p.qid
         |), scored AS (
         |  SELECT cn.qid, cn.cid,
         |         ROUND(${duckDot("q", "c")}
         |               / SQRT(${duckDot("q", "q")} * ${duckDot("c", "c")}), 6) AS cosine
         |  FROM cand cn
         |  JOIN embeddings q ON q.vec_id = cn.qid
         |  JOIN embeddings c ON c.vec_id = cn.cid
         |  CROSS JOIN idx
         |  GROUP BY cn.qid, cn.cid
         |), itop AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
         |    FROM scored) t WHERE rn <= 10
         |), ncand AS (
         |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY qid
         |)
         |SELECT e.qid, n.n_candidates,
         |       CAST(COUNT(i.cid) AS BIGINT) AS hits,
         |       CAST(ROUND(COUNT(i.cid) / 10.0, 6) AS DOUBLE) AS recall_at_10
         |FROM etop e
         |JOIN ncand n ON n.qid = e.qid
         |LEFT JOIN itop i ON i.qid = e.qid AND i.cid = e.cid
         |GROUP BY e.qid, n.n_candidates
         |ORDER BY e.qid""".stripMargin) { (s, dir) =>
      val emb = embDouble(s, dir)
      val (_, ranks) = ivfIndex(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val cosine = round(
        dot(col("qv"), col("cv")) /
          sqrt(dot(col("qv"), col("qv")) * dot(col("cv"), col("cv"))), 6)
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      val etop = c.join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("cosine", cosine)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("qid", "cid")
      val probe = ranks.filter(col("rn") <= 2 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
      val assigned = ranks.filter(col("rn") === 1)
        .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
      val cand = probe.join(assigned, "cell")
        .filter(col("cid") =!= col("qid")).select("qid", "cid").distinct()
      val itop = cand.join(q, "qid").join(c, "cid")
        .withColumn("cosine", cosine)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("qid").as("iqid"), col("cid").as("icid"))
      val ncand = cand.groupBy("qid")
        .agg(count(lit(1)).cast("long").as("n_candidates"))
      etop.join(ncand, "qid")
        .join(itop,
          col("qid") === col("iqid") && col("cid") === col("icid"), "left_outer")
        .groupBy("qid", "n_candidates")
        .agg(count(col("icid")).cast("long").as("hits"),
          round(count(col("icid")) / lit(10.0), 6).cast("double").as("recall_at_10"))
        .orderBy("qid")
    }
  )
}
