package graft.tools

import graft.Session
import graft.streaming.StreamMaterializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-path scale gate (VERDICT r10 item 7): curationIngest
  * throughput at the sf0.1 input rate and at a 10x replica — the SAME
  * 8-file micro-batch layout at both scales, so each trigger carries
  * 10x the rows (10x input rate). The timed window INCLUDES a
  * checkpoint stop/restart mid-drain (first instance drains 4 files,
  * second resumes from the recorded offsets), and the final ingested
  * table must match the batch twin's row count exactly — throughput
  * that double-processes or drops a micro-batch does not count.
  *
  * Usage: runMain graft.tools.StreamScaleBench <baseDir> <scaleDir> <outJson>
  */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaleDir = args(1)
    val outJson = args(2)
    val spark = Session.build(Session.dirBytes(scaleDir))

    def scratch(): String =
      java.nio.file.Files.createTempDirectory("ssb").toString

    def run(label: String, dir: String): (Long, Long, Double) = {
      val docs = graft.Tables.load(spark, dir, "documents")
        .select("doc_id", "text")
      // the existing-corpus fingerprint index (static anti-join side):
      // every 10th doc, persisted once like any ingest artifact
      val corpusFps = docs.filter(col("doc_id") % 10 === 0)
        .select(md5(substring(col("text"), 1, 40)).as("fp")).distinct()
        .persist()
      corpusFps.count()
      val stage = scratch()
      docs.repartition(8, col("doc_id")).write.mode("overwrite").parquet(stage)
      val files = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(files.length == 8, s"$label: expected 8 staged files, got ${files.length}")
      val src = scratch()
      def addFiles(range: Range): Unit = range.foreach { i =>
        java.nio.file.Files.copy(files(i).toPath,
          java.nio.file.Paths.get(src, files(i).getName)): Unit
      }
      val wh = new graft.exec.Warehouse(spark, scratch())
      val ckpt = scratch()
      val name = s"ssb_ingest_$label"
      def startQuery() = {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        StreamMaterializer.curationIngest(stream, corpusFps)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) => wh.appendTable(name, b); () }
          .start()
      }
      val inputRows = docs.count()
      addFiles(0 until 4)
      val t0 = System.nanoTime()
      require(startQuery().awaitTermination(600000),
        s"$label: first stream instance did not drain")
      // checkpoint recovery INSIDE the timed window: new files arrive,
      // a NEW query instance resumes from the recorded offsets
      addFiles(4 until 8)
      require(startQuery().awaitTermination(600000),
        s"$label: restarted stream instance did not drain")
      val sec = (System.nanoTime() - t0) / 1e9
      val got = wh.read(name).count()
      val want = StreamMaterializer.curationIngest(docs, corpusFps).count()
      require(got == want,
        s"$label: stream ingested $got rows, batch twin says $want — " +
          "a micro-batch was dropped or double-processed")
      corpusFps.unpersist()
      System.err.println(f"[streamscale] $label: $inputRows rows in $sec%.2f s " +
        f"(${inputRows / sec}%.0f rows/s), ingested $got (== batch twin)")
      (inputRows, got, sec)
    }

    val (inB, gotB, secB) = run("base", baseDir)
    val (inS, gotS, secS) = run("scale", scaleDir)
    val factor = sys.env.getOrElse("SCALE_FACTOR", "10")
    val json =
      f"""{"base":"$baseDir","scale":"$scaleDir","data_factor":$factor,
         |"m_stream_ingest":{
         |  "input_rows_base":$inB,"ingested_base":$gotB,"sec_base":$secB%.3f,
         |  "rows_per_sec_base":${inB / secB}%.0f,
         |  "input_rows_scale":$inS,"ingested_scale":$gotS,"sec_scale":$secS%.3f,
         |  "rows_per_sec_scale":${inS / secS}%.0f,
         |  "sec_ratio":${secS / math.max(secB, 1e-9)}%.2f,
         |  "batch_twin_match":true},
         |"note":"curationIngest (quality filter + stream-static anti-join vs corpus index + stateful in-stream dedup), 8 micro-batches, checkpoint stop/restart mid-drain INSIDE the timed window; ingested rows must equal the batch twin exactly."}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
