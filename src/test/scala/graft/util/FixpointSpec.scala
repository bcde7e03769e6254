package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.{Dedup, Graphs}

/** Every path of the loop driver: round-1 convergence, fixed and
  * convergent runs on both sides of the every-8th-round cut, the
  * runaway guard, exit residue, and a lazily cached loop invariant
  * that must outlive every rotation. */
class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Checkpoint leaves in a frame's plan: the cuts its lineage went through. */
  private def cuts(df: DataFrame): Int =
    df.queryExecution.logical.collect { case r: LogicalRDD => r }.size

  private def seed: DataFrame = Seq((1L, 0L), (2L, 0L)).toDF("x", "v")
  private def bump(df: DataFrame): DataFrame = df.select(col("x"), (col("v") + 1).as("v"))

  test("converges on round 1 when the first step changes nothing") {
    val run = Fixpoint.converge("identity", 5, seed, on = "v")(identity)
    assert(run.rounds == 1)
    run.free()
    // the operator paths: a zero-pair corpus and an sssp source that is
    // not in the graph settle on their first round with empty/NULL output
    val before = persisted
    assert(Dedup.duplicateClusters(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    assert(Dedup.duplicateClustersFast(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 4L)).toDF("u", "v", "w")
    val got = Graphs.sssp(edges, source = 99L).collect()
    assert(got.length == 3 && got.forall(_.isNullAt(1)))
    assert((persisted -- before).size <= 3)
  }

  test("fixed runs of 7, 8, 9 and 17 rounds straddle the every-8th-round cut") {
    for ((n, wantCuts) <- Seq(7 -> 0, 8 -> 0, 9 -> 1, 17 -> 1)) {
      val before = persisted
      val run = Fixpoint.iterate("bump", n, seed)(bump)
      assert(run.rounds == n)
      // the newest cut sits at round 8 or 16; the rounds after it stay lazy
      assert(cuts(run.df) == wantCuts, s"$n rounds")
      assert(run.df.as[(Long, Long)].collect().toSet == Set((1L, n.toLong), (2L, n.toLong)))
      assert((persisted -- before).size == wantCuts, s"$n rounds hold one cut at most")
      run.free()
      assert((persisted -- before).isEmpty, s"$n rounds left residue")
    }
  }

  test("convergent runs of 7, 8, 9 and 17 rounds rotate every round") {
    for (n <- Seq(7, 8, 9, 17)) {
      val before = persisted
      // v climbs to n and stays: the witness repeats one round later
      val run = Fixpoint.converge("climb", 64, seed, on = "v")(g =>
        g.select(col("x"), least(col("v") + 1, lit(n.toLong)).as("v")))
      assert(run.rounds == n + 1)
      assert(cuts(run.df) == 1 && run.df.queryExecution.logical.isInstanceOf[LogicalRDD])
      assert(run.df.as[(Long, Long)].collect().toSet == Set((1L, n.toLong), (2L, n.toLong)))
      assert((persisted -- before).size == 1, "one generation held, the rest freed")
      run.free()
      assert((persisted -- before).isEmpty)
    }
  }

  test("a generation its step reads twice rotates every round, from the plan") {
    val before = persisted
    val run = Fixpoint.iterate("double", 5, seed)(g =>
      g.unionAll(bump(g)).groupBy("x").agg(max("v").as("v")))
    assert(run.df.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(run.df.as[(Long, Long)].collect().toSet == Set((1L, 5L), (2L, 5L)))
    assert((persisted -- before).size == 1)
    run.free()
    assert((persisted -- before).isEmpty)
  }

  test("a rename of the generation is one read, not two") {
    // a renaming projection has the same result as the frame under it;
    // only the outermost match counts, so this loop stays on the lazy path
    val run = Fixpoint.iterate("rename", 3, seed)(g =>
      bump(g.withColumnRenamed("v", "w").withColumnRenamed("w", "v")))
    assert(cuts(run.df) == 0)
    assert(run.df.as[(Long, Long)].collect().toSet == Set((1L, 3L), (2L, 3L)))
  }

  test("the guard throws at maxRounds and names the operator") {
    val e = intercept[IllegalStateException] {
      Fixpoint.until("myOperator", 3, seed)(_ => false)(bump)
    }
    assert(e.getMessage == "myOperator did not reach a fixpoint in 3 rounds")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val k = intercept[IllegalStateException](Graphs.kCore(path, k = 2, maxRounds = 1))
    assert(k.getMessage.startsWith("kCore(k=2) did not reach a fixpoint in 1 rounds"))
  }

  test("finish leaves only the materialized result behind") {
    val before = persisted
    val out = Fixpoint.converge("climb", 64, seed, on = "v")(g =>
      g.select(col("x"), least(col("v") + 1, lit(3L)).as("v")))
      .finish(_.df.agg(sum("v").as("s")))
    assert(out.head().getLong(0) == 6L)
    assert((persisted -- before).size == 1)
  }

  test("a lazily cached loop invariant survives every rotation") {
    // the invariant's blocks first materialize inside the round-8 cut's
    // checkpoint job; the cut must not claim them, or the round-16 cut
    // would free the cache out from under the loop
    val inv = Seq((1L, 10L), (2L, 20L)).toDF("x", "w").cache()
    val before = persisted
    val run = Fixpoint.iterate("withInvariant", 17, seed)(g =>
      g.join(inv, "x").select(col("x"), (col("v") + 1).as("v")))
    assert(run.df.as[(Long, Long)].collect().toSet == Set((1L, 17L), (2L, 17L)))
    run.free()
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.size == 1 && left.values.head.getStorageLevel.useMemory,
      "the invariant's cache must still be live after the loop")
    assert(inv.storageLevel.useMemory)
    inv.unpersist(blocking = true)
    assert((persisted -- before).isEmpty)
  }
}
