package graft.ops

import graft.SparkTestBase

class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  test("coOccurrenceEdges: canonical u<v, loops dropped, multiplicity deduped") {
    val df = Seq(
      ("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 3L), ("g2", 3L), // repeat item → would loop/dup
    ).toDF("grp", "item")
    val got = Graphs.coOccurrenceEdges(df, "grp", "item")
      .orderBy("u", "v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("triangleCounts: K4 has 4 triangles with every vertex in 3; stars have none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val got = Graphs.triangleCounts(k4)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))

    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("u", "v")
    assert(Graphs.triangleCounts(star).count() == 0)
  }

  test("pageRank: conserves mass, ranks the hub above symmetric leaves") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v") // 1 - 2 - 3
    val r = Graphs.pageRank(path, damping = 0.85, iters = 3)
      .orderBy("x").as[(Long, Double)].collect().toSeq
    val byV = r.toMap
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-12)   // symmetric: no sink mass
    assert(byV(1L) == byV(3L))                        // decimal path: EXACTLY equal
    assert(byV(2L) > byV(1L))
  }

  test("pageRank at 20 iterations: rotation keeps mass, symmetry and the pinned ranks") {
    // 20 rounds cross the every-8th-round cut twice (rounds 8 and 16);
    // branches 0-1-2 and 0-3-4 mirror each other, 0-5 is a lone leaf
    val g = Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 4L), (0L, 5L)).toDF("u", "v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = Graphs.pageRank(g, damping = 0.85, iters = 20)
      .orderBy("x").as[(Long, Double)].collect().toMap
    assert((sc.getPersistentRDDs.keySet -- before).size <= 2)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    assert(r(1L) == r(3L) && r(2L) == r(4L))
    // exact doubles from the uncut loop before the driver existed
    assert(r == Map(0L -> 0.282093794336242, 1L -> 0.1975367124387624,
      2L -> 0.10895310283187902, 3L -> 0.1975367124387624,
      4L -> 0.10895310283187902, 5L -> 0.10492657512247525))
  }

  test("triangleCounts: one triangle plus a tail counts only the cycle vertices") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.triangleCounts(g)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
