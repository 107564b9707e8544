package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session — Spark startup
  * is ~4 s; suites must not stop() it).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Scratch dirs register for JVM-exit cleanup — leaked /tmp scratch
    * journal-pressures the filesystem and skews every later
    * measurement (r13 runbook: 600k leaked files degraded bench solo
    * walls 172→256 s with no code change; r14 found ~95k leaked from
    * spec runs alone). */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    SparkSpec.scratch.add(d.toFile)
    d.toString
  }
}

object SparkSpec {
  /** The engine's one session definition at a fixed 4 cores and no
    * input data, so spec behaviour does not depend on the box. */
  lazy val session: SparkSession = Session.build(dataBytes = 0, cpus = 4)

  private[graft] val scratch =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** Register a suite-created scratch path for JVM-exit cleanup and
    * pass it through — the one-liner every spec's createTempDirectory
    * wraps in. */
  def registerScratch(p: java.nio.file.Path): java.nio.file.Path = {
    scratch.add(p.toFile)
    p
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratch.forEach { root =>
        def rm(f: java.io.File): Unit = {
          val children = f.listFiles()
          if (children != null) children.foreach(rm)
          f.delete(): Unit
        }
        rm(root)
      }))
  }
}
