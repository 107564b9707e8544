package graft.tools

import graft.Session
import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** IVF index-build scaling evidence (round 9): times the full build —
  * sample-trained k-means (2 Lloyd iterations) + the rn ≤ 2 assignment
  * sweep — over synthetic 64-dim corpora at sizes that straddle the
  * point where the training sample stride starts to bind
  * (N ≈ TrainPerCell · MaxCentroids · 2 = 524k: below it the stride is
  * 1 and training sweeps the corpus; above it the training set is
  * pinned at ~64 · K vectors, so doubling N should grow the build by
  * ~the assignment sweep only, NOT 2× the whole build).
  *
  * Usage: sbt "runMain graft.tools.IvfBuildBench <outJson> <n1> <n2> ..."
  * Default sizes: 200000 400000 800000.
  */
object IvfBuildBench {

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("IVFBUILD_r9.json")
    val sizeArgs =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("200000", "400000", "800000")
    // a synthetic corpus is generated in-session, so only `dir:` sizes
    // read input from disk
    val spark = Session.build(sizeArgs.filter(_.startsWith("dir:"))
      .map(a => Session.dirBytes(a.stripPrefix("dir:"))).maxOption.getOrElse(0L))

    // a `dir:<path>` size arg times the build over that directory's
    // REAL embeddings table instead of a synthetic corpus — the
    // SCALE100 q31_build channel
    val rows = sizeArgs.map { sizeArg =>
      val emb =
        if (sizeArg.startsWith("dir:"))
          Similarity.embDouble(spark, sizeArg.stripPrefix("dir:")).persist()
        else {
          val n0 = sizeArg.toLong
          // same planted-cluster recipe as SimilaritySpec, 64-dim:
          // cluster centers from id%997, id-keyed jitter — no RNG
          spark.range(n0).select(
            col("id").as("vec_id"),
            array((0 until 64).map(j =>
              sin(col("id") % 997 * 7 + lit(j)) * 10.0 +
                sin(col("id") * 13 + lit(j)) * 2.0): _*).as("embedding"))
            .persist()
        }
      val n = emb.count() // materialize input outside the timed window
      val stride = math.max(97L, math.ceil(n.toDouble / Similarity.MaxCentroids).toLong)
      val trainStride = math.max(1L, stride / Similarity.TrainPerCell)
      val t0 = System.nanoTime()
      val cents = Similarity.kmeansCentroidsWith(emb, Similarity.TrainPerCell)
        .persist()
      val k = cents.count()
      val nAssigned = Similarity.cellRanks(emb, cents)
        .filter(col("rn") <= 2).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ivfbuild] n=$n stride=$stride ts=$trainStride " +
        f"k=$k assigned=$nAssigned build=$sec%.1f s")
      cents.unpersist(); emb.unpersist()
      (n, stride, trainStride, k, sec)
    }
    val qjson = rows.map { case (n, s, ts, k, sec) =>
      f"""{"n":$n,"stride":$s,"train_stride":$ts,"train_n":${n / ts},""" +
        f""""centroids":$k,"build_sec":$sec%.1f}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"sizes":$qjson,
         |"note":"synthetic 64-dim corpora; build = 2-iteration sample-trained k-means + rn<=2 assignment; train stride binds above N~524k (TrainPerCell=64, MaxCentroids=4096) — past that, doubling N grows the build by ~the assignment sweep only"}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
