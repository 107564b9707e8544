package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Iterative.fixpointRoundCounts releases its per-round caches on every
  * exit, the error paths included. */
class IterativeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("converging iteration returns per-round counts and leaves nothing persisted") {
    val before = persisted
    val init = spark.range(1, 4).toDF("k")
    val counts = Iterative.fixpointRoundCounts(init, maxRounds = 10) { f =>
      f.filter(col("k") < 3).select((col("k") + 1).as("k"))
    }
    assert(counts === Seq(3L, 2L, 1L))
    assert(persisted -- before === Set.empty)
  }

  test("a non-converging step leaves no persisted RDDs") {
    val before = persisted
    val init = spark.range(3).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Iterative.fixpointRoundCounts(init, maxRounds = 3)(_.select((col("k") + 1).as("k")))
    }
    assert(e.getMessage.contains("did not converge"))
    assert(persisted -- before === Set.empty)
  }

  test("a failing step leaves no persisted RDDs") {
    val before = persisted
    val init = spark.range(3).toDF("k")
    intercept[Exception] {
      Iterative.fixpointRoundCounts(init, maxRounds = 3) { f =>
        if (f.count() > 0) f.select(assert_true(col("k") < 0).as("k")) else f
      }
    }
    assert(persisted -- before === Set.empty)
  }
}
