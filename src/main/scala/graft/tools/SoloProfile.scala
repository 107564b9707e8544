package graft.tools

import graft.{Session, SparkEntry}

/** Optimization-loop profiler (r15): time the named queries solo in ONE
  * warm JVM under Bench's session (graft.Session), print per-query
  * cold wall + warm medians, and (optionally) dump each query's
  * `.explain("formatted")` to PLAN_DIR. This is the measure-first tool
  * the optimization guide §1 asks for — same noop sink, same session as
  * Bench.scala, so a per-query delta seen here predicts the bench delta
  * without paying a full 17-minute driver-shaped run per iteration.
  *
  * Usage:
  *   sbt "runMain graft.tools.SoloProfile <sfDir> <reps> <q1,q2,...|all|top:N>"
  * Env:
  *   PLAN_DIR   if set, write <query>.txt formatted plans there
  */
object SoloProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val sel = args(2)
    val spark = Session.build(Session.dirBytes(sfDir))

    val headline = SparkEntry.allQueries.filter(_.isThroughput)
    val qs =
      if (sel == "all") headline
      else if (sel.startsWith("top:")) headline // caller slices via list
      else {
        val names = sel.split(',').filter(_.nonEmpty).toSeq
        val byPrefix = names.map { n =>
          headline.find(_.name == n)
            .orElse(headline.find(_.name.startsWith(n + "_")))
            .orElse(headline.find(_.name.startsWith(n)))
            .getOrElse(sys.error(s"unknown query $n"))
        }
        byPrefix
      }

    // per-run scheduler metrics: job/stage/task counts, summed task
    // time, shuffle bytes — tells fixed scheduling overhead apart from
    // real compute (guide §1: decide WHERE the time goes first)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    val shufReadB = new java.util.concurrent.atomic.AtomicLong
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          taskTimeMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
          shufReadB.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
    def snap(): (Int, Int, Int, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskTimeMs.get, shufReadB.get, shufWriteB.get)

    def drain(q: graft.QueryDef): Double = {
      graft.queries.IndexCache.currentConsumer.set(q.name)
      val s = System.nanoTime()
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally graft.queries.IndexCache.currentConsumer.remove()
      (System.nanoTime() - s) / 1e9
    }

    val planDir = sys.env.get("PLAN_DIR")
    planDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))

    val rows = qs.map { q =>
      spark.sparkContext.setJobDescription(q.name)
      planDir.foreach { d =>
        val plan = q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"${q.name}.txt"), plan.getBytes("UTF-8"))
      }
      // wait for straggling listener events before reading counters
      // (listenerBus is private[spark]; reach it reflectively, else settle)
      def settle(): Unit = scala.util.Try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      }.getOrElse(Thread.sleep(200))
      val cold = drain(q)
      settle() // else the cold pass's stage events leak into the warm window
      val before = snap()
      val warms = (1 to reps).map(_ => drain(q)).sorted
      settle()
      val after = snap()
      val med = warms((warms.size - 1) / 2)
      val dJobs = (after._1 - before._1).toDouble / reps
      val dStages = (after._2 - before._2).toDouble / reps
      val dTasks = (after._3 - before._3).toDouble / reps
      val dTaskSec = (after._4 - before._4).toDouble / reps / 1000.0
      val dShufR = (after._5 - before._5).toDouble / reps / (1 << 20)
      val dShufW = (after._6 - before._6).toDouble / reps / (1 << 20)
      println(f"[solo] ${q.name}%-36s cold=$cold%7.3f warm_med=$med%7.3f " +
        f"warm_min=${warms.head}%7.3f jobs=$dJobs%5.1f stages=$dStages%5.1f " +
        f"tasks=$dTasks%6.1f taskSec=$dTaskSec%7.2f shufR=$dShufR%7.1fMB shufW=$dShufW%7.1fMB")
      (q.name, cold, med, warms.head)
    }
    val totMed = rows.map(_._3).sum
    println(f"[solo] TOTAL warm_med=${totMed}%.3f over ${rows.size} queries")
    spark.stop()
  }
}
