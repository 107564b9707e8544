package graft.tools

import graft.{Session, SparkEntry}

/** Scale-stress gate (VERDICT r5 item 1): run the named queries at the
  * sf0.1 baseline AND at the ScaleGen 10x dataset, and record
  *
  *  - warm per-query seconds at both scales and the growth ratio
  *    (10x data => ratio ~<= 10 is the "~linear" bar; fixed overheads
  *    usually keep it well under),
  *  - the plan shape at both scales (CartesianProduct / SortMergeJoin /
  *    BroadcastHashJoin / Sort / Exchange operator counts from the
  *    formatted explain) and whether it changed,
  *
  * into one JSON file (`SCALE_r6.json`). Usage:
  *
  *   sbt "runMain graft.tools.ScaleBench <baseDir> <scaleDir> <outJson> <q1> <q2> ..."
  */
object ScaleBench {
  private val PlanOps = Seq("CartesianProduct", "SortMergeJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "Sort ", "Exchange")

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaleDir = args(1)
    val outJson = args(2)
    // accept space- and/or comma-separated names; a name may be any
    // unique prefix (the runbook spells the spot check "q02,q121,q235")
    val rawNames = args.drop(3).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    require(rawNames.nonEmpty, "pass query names")
    val allNames = SparkEntry.allQueries.map(_.name)
    val names = rawNames.map { n =>
      if (allNames.contains(n)) n
      else allNames.filter(_.startsWith(n + "_")) match {
        case Seq(one) => one
        case Seq() => n // fall through to the unknown-queries require
        case many => sys.error(s"ambiguous query prefix $n: ${many.mkString(",")}")
      }
    }
    val spark = Session.build(Session.dirBytes(scaleDir))

    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    def planCounts(name: String, dir: String): Map[String, Int] = {
      val plan = byName(name).run(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      PlanOps.map(op => op.trim -> op.r.findAllIn(plan).length).toMap
    }
    /** (cold, warm): the first run pays one-time builds (index
      * construction, codegen, cache fill); the second is the serving
      * path. cold - warm ~ build cost for index-backed queries. */
    def timeColdWarm(name: String, dir: String): (Double, Double) = {
      def once(): Double = {
        val s = System.nanoTime()
        byName(name).run(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }
      val cold = once()
      (cold, once())
    }

    val rows = names.map { name =>
      System.err.println(s"[scalebench] $name")
      // isolate measurements: session-persisted index caches built by
      // EARLIER queries (pair tables, IVF cells) otherwise occupy
      // executor memory and skew later queries' numbers — q195/q205
      // both read 8-14x here while measuring 1.2x isolated. Each
      // query's own builds still count via the warm-up pass.
      spark.catalog.clearCache()
      // time BEFORE explaining: cachedIndex-backed queries build their
      // shared indexes eagerly at DataFrame CONSTRUCTION (the repin
      // discipline), so an explain pass first would pay the build
      // outside the timed window and the cold channel would no longer
      // contain it — build_sec_* must stay = this query's own one-time
      // index construction
      val (baseCold, baseSec) = timeColdWarm(name, baseDir)
      val (scaleCold, scaleSec) = timeColdWarm(name, scaleDir)
      val basePlan = planCounts(name, baseDir)
      val scalePlan = planCounts(name, scaleDir)
      val ratio = scaleSec / math.max(baseSec, 1e-9)
      val changed = basePlan != scalePlan
      System.err.println(
        f"[scalebench] $name base=$baseSec%.2f scale=$scaleSec%.2f " +
          f"ratio=$ratio%.2f planChanged=$changed " +
          f"(cold base=$baseCold%.2f scale=$scaleCold%.2f)")
      (name, baseSec, scaleSec, ratio, basePlan, scalePlan, changed,
        baseCold, scaleCold)
    }

    def counts(m: Map[String, Int]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    val qjson = rows.map { case (n, b, s, r, bp, sp, ch, bc, sc) =>
      f""""$n":{"base_sec":$b%.3f,"scale_sec":$s%.3f,"ratio":$r%.2f,""" +
        f""""base_cold_sec":$bc%.3f,"scale_cold_sec":$sc%.3f,""" +
        f""""build_sec_base":${math.max(0.0, bc - b)}%.3f,""" +
        f""""build_sec_scale":${math.max(0.0, sc - s)}%.3f,""" +
        s""""plan_changed":$ch,"plan_base":${counts(bp)},"plan_scale":${counts(sp)}}"""
    }.mkString("{", ",", "}")
    val cart = rows.count(_._6.getOrElse("CartesianProduct", 0) > 0)
    val maxRatio = rows.map(_._4).max
    val medianRatio = rows.map(_._4).sorted.apply(rows.size / 2)
    val json =
      s"""{"base":"$baseDir","scale":"$scaleDir","data_factor":${
        sys.env.getOrElse("SCALE_FACTOR", "10")},
         |"n_queries":${rows.size},
         |"median_ratio":${f"$medianRatio%.2f"},
         |"max_ratio":${f"$maxRatio%.2f"},
         |"plans_changed":${rows.count(_._7)},
         |"cartesians_at_scale":$cart,
         |"queries":$qjson,
         |"note":"ratio=warm(serve) seconds at scale / warm at base; build_sec_*=cold-warm (one-time index builds); plan_* are formatted-explain operator counts"}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
