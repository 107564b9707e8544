package graft.tools

import graft.{Session, SparkEntry}
import graft.queries.{IndexCache, IndexRegistry}

/** Generates INDEXES.md — the built-once index ledger (VERDICT r10
  * item 1): for every registered index (IndexRegistry.all), its
  * measured build cost per dataset scale, its consumer list (recorded
  * at runtime, not hand-maintained), and its incremental-maintenance
  * mechanism. IndexRegistrySpec asserts the file, the registry, and
  * the cache call sites in source stay in lockstep.
  *
  * Usage:
  *   runMain graft.tools.IndexesMd <outPath> <consumersDir> \
  *     [<label>=<dir1>[,<dir2>...] ...]
  *
  *  - consumersDir: every q-query runs here (cheap scale, sf0.001/
  *    sf0.01) with consumer recording on — yields the prefix->queries
  *    map and that scale's build costs.
  *  - label=dirs: for each additional scale label (sf0.1, 10x, 100x),
  *    ONE consumer query per index runs against the first listed dir
  *    whose tables satisfy it (the 100x corpus is split: dupctl has
  *    documents/embeddings, scale10 the framework tables) — the ledger
  *    isolates the index's own build seconds from the query around it.
  */
object IndexesMd {

  /** Patch mode: re-measure ONE index's build at ONE scale in a clean
    * session and rewrite just that cell of the existing ledger —
    * `runMain graft.tools.IndexesMd patch <mdPath> <prefix> <labelIdx>
    * <consumerQuery> <dir1>[,<dir2>...]`, where labelIdx is the
    * 0-based position in the build-cost column (0=consumers pass). A
    * full 40-minute regeneration accumulates every scale's persisted
    * blocks in one JVM, and a big build can fail on that pressure alone
    * (the r11 jaccpairs@100x hole) — the honest fix is a fresh-session
    * measurement, recorded by the same tool that owns the file. */
  private def patch(args: Array[String]): Unit = {
    val Array(mdPath, prefix, labelIdxS, qname, dirsS) = args
    val dirs = dirsS.split(",").toSeq
    val labelIdx = labelIdxS.toInt
    val spark = Session.build(dirs.map(Session.dirBytes).max)
    val q = SparkEntry.allQueries.find(_.name == qname).getOrElse(
      sys.error(s"no such query: $qname"))
    val built = dirs.find { dir =>
      IndexCache.currentConsumer.set(qname)
      try {
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        IndexCache.buildsForDir(dir).contains(prefix)
      } finally IndexCache.currentConsumer.remove()
    }.getOrElse(sys.error(s"no dir built '$prefix' via $qname: $dirs"))
    val sec = IndexCache.buildsForDir(built)(prefix)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(mdPath)).toArray(Array.empty[String])
    val rowIdx = lines.indexWhere(_.startsWith(s"| `$prefix` |"))
    require(rowIdx >= 0, s"no ledger row for $prefix in $mdPath")
    val cells = lines(rowIdx).split("\\|", -1) // "", index, site, costs, ...
    val costs = cells(3).trim.split(" / ")
    require(labelIdx < costs.length, s"label index $labelIdx out of range")
    costs(labelIdx) = f"$sec%.2f s"
    cells(3) = " " + costs.mkString(" / ") + " "
    lines(rowIdx) = cells.mkString("|")
    java.nio.file.Files.write(java.nio.file.Paths.get(mdPath),
      lines.mkString("\n").concat("\n").getBytes("UTF-8"))
    println(f"[indexesmd] patched $prefix cell $labelIdx = $sec%.2f s (via $qname @ $built)")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("patch")) { patch(args.drop(1)); return }
    val outPath = if (args.nonEmpty) args(0) else "INDEXES.md"
    val consumersDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val scaleArgs: Seq[(String, Seq[String])] = args.drop(2).toSeq.map { a =>
      val Array(label, dirs) = a.split("=", 2)
      label -> dirs.split(",").toSeq
    }

    val spark = Session.build(
      (consumersDir +: scaleArgs.flatMap(_._2)).map(Session.dirBytes).max)

    // audit trail: every drain outcome + per-dir build slice, so a
    // surprising ledger cell is diagnosable after the run
    val audit = new java.io.PrintWriter(new java.io.FileWriter(
      sys.env.getOrElse("INDEXESMD_AUDIT", "/tmp/indexesmd_audit.log")))
    def note(s: String): Unit = { audit.println(s); audit.flush(); System.err.println(s"[indexesmd] $s") }

    val headline = SparkEntry.allQueries.filter(_.name.startsWith("q"))

    def drain(name: String, dir: String): Boolean = {
      IndexCache.currentConsumer.set(name)
      try {
        headline.find(_.name == name).get.run(spark, dir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          note(s"$name @ $dir failed: ${String.valueOf(e.getMessage).take(300)}")
          false
      } finally IndexCache.currentConsumer.remove()
    }

    // Pass 1: consumer discovery + build costs at the cheap scale.
    System.err.println(s"[indexesmd] consumer pass at $consumersDir")
    headline.foreach(q => drain(q.name, consumersDir))
    val consumers = IndexCache.consumersByPrefix
    val baseBuilds = IndexCache.buildsForDir(consumersDir)

    // One covering consumer per index (smallest name = deterministic).
    val covering: Map[String, String] =
      IndexRegistry.all.flatMap { d =>
        consumers.getOrElse(d.prefix, Set.empty).toSeq.sorted.headOption
          .map(d.prefix -> _)
      }.toMap

    // Pass 2+: per-scale builds — one covering query per index, first
    // dir that can satisfy it wins.
    val scaleBuilds: Seq[(String, Map[String, Double])] = scaleArgs.map {
      case (label, dirs) =>
        note(s"scale pass $label -> ${dirs.mkString(",")}")
        covering.toSeq.sortBy(_._1).foreach { case (prefix, qname) =>
          def attempt(): Boolean = dirs.exists { dir =>
            val ok = drain(qname, dir)
            ok && IndexCache.buildsForDir(dir).contains(prefix)
          }
          // one retry after releasing earlier passes' persisted blocks:
          // a 40-minute single-session run accumulates every scale's
          // indexes and a big build can fail on memory pressure alone
          // (the repin discipline re-arms evicted survivors on demand)
          val done = attempt() || {
            note(s"$label: '$prefix' failed (via $qname) — clearCache + retry")
            spark.catalog.clearCache()
            attempt()
          }
          if (!done) note(s"$label: no dir built '$prefix' (via $qname)")
        }
        dirs.foreach { dir =>
          IndexCache.buildsForDir(dir).toSeq.sortBy(_._1).foreach {
            case (p, sec) => note(f"$label $dir: $p built in $sec%.2f s")
          }
        }
        val merged = dirs.map(IndexCache.buildsForDir)
          .foldLeft(Map.empty[String, Double]) { (acc, m) =>
            m.foldLeft(acc) { case (a, (k, v)) =>
              a.updated(k, math.max(a.getOrElse(k, 0.0), v))
            }
          }
        label -> merged
    }

    val labels = Seq(s"build@consumers") ++ scaleArgs.map("build@" + _._1)
    def fmt(v: Option[Double]): String =
      v.map(s => f"$s%.2f s").getOrElse("—")

    val sb = new StringBuilder
    sb.append("# INDEXES.md — built-once index ledger\n\n")
    sb.append(
      s"""Generated by `runMain graft.tools.IndexesMd` — do not edit by hand.
         |IndexRegistrySpec keeps this file, `IndexRegistry.all`, and the
         |`IndexCache.key("…")` call sites in source in lockstep.
         |
         |An index here is an ingest-time artifact: built once per dataset,
         |persisted, read by every consumer query, maintained incrementally
         |by the named mechanism (never rebuilt per query — the repin
         |discipline survives cache eviction). Build costs are MEASURED
         |per index by `IndexCache.timedBuild` (nested builds subtracted);
         |consumer lists are RECORDED at runtime, not hand-maintained.
         |Bench folds these builds into `warm_solo_plus_build_wall` (full
         |rebuild + one pass) and `warm_solo_plus_amortized_build_wall`
         |(each index charges build/consumers per pass) in BENCH_FULL.json.
         |
         |Consumer pass: `$consumersDir`. Scale passes: ${
        if (scaleArgs.isEmpty) "none"
        else scaleArgs.map { case (l, d) => s"$l=${d.mkString(",")}" }.mkString("; ")}.
         |""".stripMargin)
    sb.append("\n| index | built at | build: ")
    sb.append(labels.map(_.stripPrefix("build@")).mkString(" / "))
    sb.append(" | consumers | incremental maintenance |\n")
    sb.append("|---|---|---|---|---|\n")
    IndexRegistry.all.sortBy(_.prefix).foreach { d =>
      val costs = (fmt(baseBuilds.get(d.prefix)) +:
        scaleBuilds.map { case (_, m) => fmt(m.get(d.prefix)) }).mkString(" / ")
      val cs = consumers.getOrElse(d.prefix, Set.empty).toSeq.sorted
      val csShort =
        if (cs.isEmpty) "—"
        else s"${cs.size}: ${cs.map(_.takeWhile(_ != '_')).mkString(", ")}"
      sb.append(s"| `${d.prefix}` | ${d.site} | $costs | $csShort | ${d.maintenance} |\n")
    }
    sb.append(
      s"""
         |${IndexRegistry.all.size} indexes. `—` = not measured at that scale
         |(the consumer pass did not touch the index, or no listed dir carries
         |its tables). Consumer names are abbreviated to their `qNN` id.
         |""".stripMargin)

    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes("UTF-8"))
    println(s"[indexesmd] wrote $outPath")
    audit.close()
    spark.stop()
  }
}
