package graft.tools

import graft.{Session, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dump the formatted physical plan of every analytical query — the
  * reviewable record of the repo's plan discipline (pushdown, pruning,
  * broadcasts, top-k, codegen spans) — and ASSERT the one plan shape
  * that cannot survive a 100× scale-up is absent: a `WindowExec` with
  * no partitioning whose input is not provably bounded.
  *
  * Classification of empty-partitionSpec windows:
  *  - `topk`: the window's input subtree contains a GlobalLimit /
  *    TakeOrderedAndProject — the window runs over ≤ k rows by
  *    construction (e.g. q183's rank over a top-1000).
  *  - `bucket-offsets`: the nearest reducer below the window is an
  *    aggregate grouped solely on `__b*`/`__pid` bucket columns — the
  *    offsets table of the two-pass distributed prefix sum
  *    (`queries.Dist`, q177), ≤ #buckets rows by construction.
  *  - `bounded-domain`: explicitly allowlisted below with the reason
  *    the input cardinality is a bounded DOMAIN (a histogram over a
  *    fixed-width value grid, a decile table, …) rather than data.
  *  - anything else → FLAG; the run exits non-zero.
  *
  * Usage: {{{ sbt "runMain graft.tools.ExplainAudit [sfDir] [outDir]" }}}
  * Writes one `<query>.txt` per query plus `_summary.txt`; the window
  * audit is appended to the summary and printed.
  */
object ExplainAudit {

  /** One allowlist entry: how many unpartitioned windows the query may
    * carry, the declared HARD bound on each window's input row count
    * (a domain property — it must NOT grow with data volume), and why.
    * BoundedWindowSpec measures the actual input rows at 1× and 10×
    * data against `rowBound`, so "bounded domain" stays a measured
    * fact. Grows only with a written justification. */
  final case class BoundedDomain(maxWindows: Int, rowBound: Long, why: String)

  val boundedDomainAllowlist: Map[String, BoundedDomain] = Map(
    "q198_theil_decomposition" -> BoundedDomain(1, 25L,
      "per-nation rollup: one row per TPC-H nation, 25 rows"),
    "q147_revenue_anomaly" -> BoundedDomain(2, 5000L,
      "day-grain revenue series: calendar-bounded (~2,400 TPC-H days), not data-bounded"),
    "q165_pareto_front" -> BoundedDomain(1, 120000L,
      "per-price aggregate: p_retailprice is a fixed cents grid (~100k values max)"),
    "q176_ks_drift" -> BoundedDomain(1, 50000L,
      "n_chars histogram: bounded document-length domain"),
    "q206_discrete_hazard" -> BoundedDomain(1, 2000L,
      "tenure-week histogram: calendar-bounded"),
    "q208_stratified_exact_split" -> BoundedDomain(1, 200L,
      "one row per language stratum: bounded strata set"),
    "q218_gains_table" -> BoundedDomain(1, 16L,
      "decile aggregate: NTILE(10) output domain, <= 10 rows"))

  private def hasLimit(p: SparkPlan): Boolean = p.collectFirst {
    case _: GlobalLimitExec => true
    case _: TakeOrderedAndProjectExec => true
  }.isDefined

  /** Walk single-child links (sort/exchange/project/…) to the nearest
    * cardinality-reducing node under the window.
    */
  @annotation.tailrec
  private def nearestReducer(p: SparkPlan): Option[SparkPlan] = p match {
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => Some(p)
    case a: BaseAggregateExec => Some(a)
    case _ if p.children.size == 1 => nearestReducer(p.children.head)
    case _ => None
  }

  private def classify(w: SparkPlan, child: SparkPlan): String =
    if (hasLimit(child)) "topk"
    else nearestReducer(child) match {
      case Some(a: BaseAggregateExec)
          if a.groupingExpressions.nonEmpty &&
            a.groupingExpressions.forall(g =>
              g.name.startsWith("__b") || g.name == "__pid") =>
        "bucket-offsets"
      case _ => "FLAG"
    }

  /** (window node, classification) for every empty-partitionSpec
    * window — BoundedWindowSpec measures the FLAG/bounded-domain ones.
    * Expects a NON-adaptive plan (AQE stage wrappers hide the subtree
    * the classifier walks). */
  def classifiedWindows(plan: SparkPlan): Seq[(SparkPlan, String)] = plan.collect {
    case w: WindowExec if w.partitionSpec.isEmpty =>
      (w: SparkPlan, classify(w, w.child))
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
      (w: SparkPlan, classify(w, w.child))
  }

  /** (classification, description) for every empty-partitionSpec
    * window in the plan.
    */
  def auditWindows(plan: SparkPlan): Seq[(String, String)] = plan.collect {
    case w: WindowExec if w.partitionSpec.isEmpty =>
      (classify(w, w.child), w.orderSpec.map(_.sql).mkString(","))
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
      (classify(w, w.child), w.orderSpec.map(_.sql).mkString(","))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/plans")
    val spark = Session.build(Session.dirBytes(sfDir))
    // static plans: the audit walks the pre-execution tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    // formatted mode marks codegen membership per-operator as
    // "[codegen id : N]"; InMemoryTableScan = a reused cached artifact
    // (the IVF index) instead of recomputed lineage
    val interesting = Seq("CartesianProduct", "SortMergeJoin",
      "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
      "TakeOrderedAndProject", "InMemoryTableScan", "codegen id", "Exchange")
    val summary = new StringBuilder
    var flags = 0
    SparkEntry.allQueries.filter(_.name.startsWith("q")).foreach { q =>
      try {
        val qe = q.run(spark, sfDir).queryExecution
        val plan = qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(dir.resolve(s"${q.name}.txt"), plan)
        val counts = interesting.map(op =>
          s"$op=${op.r.findAllIn(plan).length}").mkString(" ")
        summary.append(s"${q.name}: $counts\n")
        val wins = auditWindows(qe.executedPlan)
        val flagged = wins.filter(_._1 == "FLAG")
        val allowed = boundedDomainAllowlist.get(q.name)
        val excess = flagged.size - allowed.map(_.maxWindows).getOrElse(0)
        wins.foreach { case (cls, ord) =>
          val label =
            if (cls == "FLAG" && allowed.isDefined && excess <= 0)
              s"bounded-domain (${allowed.get.why})"
            else cls
          summary.append(s"${q.name}: window[$label] order=$ord\n")
        }
        if (excess > 0) flags += excess
      } catch {
        case e: Throwable =>
          flags += 1
          summary.append(s"${q.name}: EXPLAIN FAILED ${e.getMessage}\n")
      }
    }
    summary.append(s"window_audit_flags=$flags\n")
    java.nio.file.Files.writeString(dir.resolve("_summary.txt"), summary.toString)
    print(summary)
    spark.stop()
    if (flags > 0) sys.exit(1)
  }
}
