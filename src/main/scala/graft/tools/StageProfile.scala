package graft.tools

import graft.{Session, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage breakdown for ONE query (optimization-loop instrument,
  * r16): run the query cold + N warm reps under the Bench session
  * config and print every stage of the LAST rep — submission order,
  * wall (completion − launch of first task), task count, summed
  * executor run time — so a "where does the wall go" question gets a
  * stage-level answer instead of a guess.
  *
  * Usage: sbt "runMain graft.tools.StageProfile <sfDir> <query> [reps]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.build(Session.dirBytes(sfDir))

    val q = SparkEntry.allQueries.find(_.name == qname)
      .getOrElse(sys.error(s"unknown query $qname"))
    def drain(): Double = {
      graft.queries.IndexCache.currentConsumer.set(q.name)
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally graft.queries.IndexCache.currentConsumer.remove()
      (System.nanoTime() - t0) / 1e9
    }
    val cold = drain()
    (1 until reps).foreach(_ => drain())

    case class St(id: Int, name: String, tasks: Int, submitMs: Long,
        launchMs: Long, doneMs: Long, runMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.add(St(si.stageId,
          si.name.takeWhile(_ != '\n').take(70), si.numTasks,
          si.submissionTime.getOrElse(0L),
          0L,
          si.completionTime.getOrElse(0L),
          si.taskMetrics.executorRunTime))
      }
    })
    val t0 = System.currentTimeMillis()
    val wall = drain()
    scala.util.Try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }.getOrElse(Thread.sleep(300))
    println(f"[stage] $qname cold=$cold%.3f lastWarmWall=$wall%.3f (t0=$t0)")
    import scala.jdk.CollectionConverters._
    val sorted = stages.asScala.toSeq.sortBy(_.submitMs)
    var prevEnd = t0
    sorted.foreach { s =>
      val gap = s.submitMs - prevEnd
      println(f"[stage] id=${s.id}%5d submit=+${s.submitMs - t0}%6dms " +
        f"gapFromPrevEnd=$gap%5dms wall=${s.doneMs - s.submitMs}%5dms " +
        f"tasks=${s.tasks}%4d taskRun=${s.runMs}%6dms  ${s.name}")
      prevEnd = s.doneMs
    }
    spark.stop()
  }
}
