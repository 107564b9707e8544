package graft

/** The derivation behind [[Session.build]], checked on its pure form
  * plus the suite's own shared session — no second SparkContext. */
class SessionSpec extends SparkSpec {

  private val MB = 1L << 20

  private def shuffle(cpus: Int, bytes: Long): Int =
    Session.confs(cpus, bytes)("spark.sql.shuffle.partitions").toInt

  test("shuffle partitions: floor 8, bytes / 16 MB in the middle, cap 4 x cpus") {
    assert(shuffle(4, 0) === 8)
    assert(shuffle(32, 17 * MB) === 8) // sf0.1: the floor, not 32-way
    assert(shuffle(32, 200 * MB) === 12)
    assert(shuffle(32, 16 * 100 * MB) === 100)
    assert(shuffle(4, 10L << 30) === 16)
    assert(shuffle(32, 10L << 40) === 128) // no overflow at 10 TB
  }

  test("minPartitionNum is min(8, cpus); the codegen cache is 4096") {
    assert(Session.confs(4, 0)("spark.sql.files.minPartitionNum") === "4")
    assert(Session.confs(32, 0)("spark.sql.files.minPartitionNum") === "8")
    Seq(1, 4, 32).foreach { c =>
      assert(Session.confs(c, 0)("spark.sql.codegen.cache.maxEntries") === "4096")
    }
  }

  test("master: SPARK_MASTER when set, else local[cpus]") {
    assert(Session.master(4, None) === "local[4]")
    assert(Session.master(32, None) === "local[32]")
    assert(Session.master(4, Some("spark://host:7077")) === "spark://host:7077")
  }

  test("the specs' shared session carries Session's confs") {
    // the launch conf, which runtime `spark.conf.set` calls do not touch
    val launched = spark.sparkContext.getConf
    Session.confs(cpus = 4, dataBytes = 0).foreach { case (k, v) =>
      assert(launched.get(k) === v, k)
    }
    assert(launched.get("spark.sql.shuffle.partitions") === "8")
    assert(spark.sparkContext.appName === "graft")
  }
}
