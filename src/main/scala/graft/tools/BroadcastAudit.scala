package graft.tools

import graft.{Session, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Broadcast-size audit (the q195 lesson, systematized): at the 10x
  * dataset, find every BroadcastExchange whose BUILD SIDE is estimated
  * above a threshold — the signature of the optimizer broadcasting a
  * fact-derived relation because it squeaked under
  * autoBroadcastJoinThreshold. Such plans "work" on one machine and
  * fall over on a cluster (driver collect + per-executor copy of a
  * fact). Usage:
  *
  * {{{
  *   sbt "runMain graft.tools.BroadcastAudit <dataDir> [thresholdMB]"
  * }}}
  *
  * Prints `query estMB first-line-of-build-subtree` for each flag;
  * exit is informational (plans legitimately broadcast dimension
  * tables, codebooks, folded sketches — all far below the threshold).
  */
object BroadcastAudit {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("target/scale/scale10")
    val thresholdMB = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = Session.build(Session.dirBytes(dataDir))

    def broadcastBuilds(p: SparkPlan): Seq[(BigInt, String)] =
      p.collect { case b: BroadcastExchangeExec =>
        val est = b.child.logicalLink.map(_.stats.sizeInBytes)
          .getOrElse(BigInt(-1))
        (est, b.child.toString.linesIterator.take(1).mkString.take(120))
      }

    var flags = 0
    SparkEntry.allQueries.filter(_.name.startsWith("q")).foreach { q =>
      try {
        val plan = q.run(spark, dataDir).queryExecution.executedPlan
        broadcastBuilds(plan).foreach { case (est, head) =>
          val mb = est.toDouble / 1024 / 1024
          if (mb > thresholdMB) {
            flags += 1
            println(f"FLAG ${q.name} est=${mb}%.1fMB build=$head")
          }
        }
      } catch {
        case e: Throwable => println(s"SKIP ${q.name}: ${e.getMessage.take(100)}")
      }
    }
    println(s"[broadcast-audit] $flags flagged above ${thresholdMB}MB at $dataDir")
    spark.stop()
  }
}
