package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Crash-injection workload (CrashCommitSpec's child): a plain JVM —
  * no Spark — that commits table versions through the REAL protocol
  * (data files into a fresh version dir FIRST, then
  * `Warehouse.writeCommitsFile`'s atomic manifest swap) as fast as it
  * can, until the parent SIGKILLs it mid-protocol. Version k's data is
  * a hard link of staged parquet file `part_<k % pool>.parquet`, whose
  * rows all carry `val = k % pool` — so the parent can cross-check
  * that whatever version the recovered manifest names, the DATA read
  * back matches it (manifest/data consistency, not just parseability).
  *
  * args: <whRoot> <stagedDir> <tableName> <poolSize>
  */
object CrashCommitChild {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val staged = args(1)
    val name = args(2)
    val pool = args(3).toInt

    // resume after a kill: next version = committed max + 1 (exactly
    // what Warehouse recovery computes)
    val start = graft.exec.Warehouse.readCommitsFile(root, name)
      .map(_.versions.map(_.stripPrefix("v").toInt))
      .filter(_.nonEmpty).fold(0)(_.max + 1)

    var k = start
    while (true) {
      // step 1: data files into the NEW version dir (the old manifest
      // does not name it — Spark's save plays this role in production)
      val vdir = Paths.get(root, name, s"v$k")
      Files.createDirectories(vdir)
      val dest = vdir.resolve("part-00000.parquet")
      Files.deleteIfExists(dest) // orphan from a kill at this version
      val src = Paths.get(staged, s"part_${k % pool}.parquet")
      try Files.createLink(dest, src)
      catch { case _: UnsupportedOperationException =>
        Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING): Unit
      }
      // step 2: the atomic manifest swap — replace semantics (paths = this version only)
      graft.exec.Warehouse.writeCommitsFile(root, name, Seq(s"$root/$name/v$k"))
      k += 1
    }
  }
}
