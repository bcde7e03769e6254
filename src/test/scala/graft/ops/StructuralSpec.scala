package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StructuralSpec extends SparkTestBase {
  import spark.implicits._

  // ---- Graphs.sssp -------------------------------------------------------

  test("sssp: hand graph with a cheaper long path and an unreachable island") {
    // 1-2 (1), 2-3 (1), 1-3 (5): best 1→3 is the two-hop path (2), not
    // the direct edge; 4-5 (2) is a separate component → NULL from 1
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (4L, 5L, 2L))
      .toDF("u", "v", "w")
    val got = Graphs.sssp(edges, source = 1L).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> -1L, 5L -> -1L))
  }

  test("sssp: relaxation refines an early greedy distance") {
    // star detour: 1-4 (10) direct vs 1-2-3-4 (3×1) — three rounds of
    // strictly-improving relaxation before the fixpoint
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("u", "v", "w")
    val got = Graphs.sssp(edges, source = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(4L) == 3L)
  }

  test("sssp: a source absent from the edge list yields all-NULL distances") {
    // round-9 advice fix: the empty frontier makes sum(d) NULL — the
    // witness read must not NPE; the contract returns NULL everywhere
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val got = Graphs.sssp(edges, source = 99L).collect()
    assert(got.length == 3)
    assert(got.forall(_.isNullAt(1)))
  }

  test("sssp and closeness on a 24-hop path: exact, and no generation left behind") {
    // 24 rounds cross three of the every-8th-round cuts the loops once
    // took; each round's step reads the previous generation twice, so a
    // lazy generation between cuts doubled the plan every round
    val path = (0L until 24L).map(i => (i, i + 1, 1L)).toDF("u", "v", "w")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dist = Graphs.sssp(path, source = 0L).as[(Long, Long)].collect().toMap
    assert(dist == (0L to 24L).map(i => i -> i).toMap)
    assert((sc.getPersistentRDDs.keySet -- before).size <= 2)
    val before2 = sc.getPersistentRDDs.keySet
    val c = Graphs.closenessCentrality(path.select("u", "v"), Seq(0L)).collect()
    assert(c.length == 1)
    assert(c(0).getLong(0) == 0L && c(0).getLong(1) == 25L && c(0).getLong(2) == 300L)
    assert(c(0).getDouble(3) == math.floor(24.0 / 300.0 * 1e6 + 0.5) / 1e6) // r6
    assert((sc.getPersistentRDDs.keySet -- before2).size <= 2)
  }

  // ---- Graphs.pageRankWeighted / TextRank --------------------------------

  test("pageRankWeighted: ranks sum to 1 and weight skews the flow") {
    // triangle where edge 1-2 carries 8× the weight of the others: 1 and
    // 2 must outrank 3, symmetrically equal to each other
    val edges = Seq((1L, 2L, 8L), (2L, 3L, 1L), (1L, 3L, 1L)).toDF("u", "v", "w")
    val r = Graphs.pageRankWeighted(edges, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(math.abs(r(1L) - r(2L)) < 1e-12)
    assert(r(1L) > r(3L))
  }

  test("textRankEdges: window-2 adjacency, canonicalized, pruned") {
    val docs = Seq(
      "alpha beta gamma beta alpha",
      "beta alpha xy alpha beta").toDF("text")
    // adjacent pairs with len>=4, a!=b, canonical: doc1 gives
    // (alpha,beta)×2 + (beta,gamma)×2; doc2 gives (alpha,beta)×2 (the
    // two xy pairs drop on length)
    val got = TextAnalysis.textRankEdges(docs, "text", minLen = 4, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("alpha", "beta", 4L), ("beta", "gamma", 2L)))
  }

  // ---- Graphs.hitsBipartite ----------------------------------------------

  test("hits: authority follows in-degree from strong hubs; L1 sides sum to 1") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val rows = Graphs.hitsBipartite(edges, iters = 4).collect()
    val hubs = rows.filter(_.getString(0) == "hub")
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val auth = rows.filter(_.getString(0) == "authority")
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(hubs.values.sum - 1.0) < 2e-6) // r6 per side
    assert(math.abs(auth.values.sum - 1.0) < 2e-6)
    assert(hubs(1L) > hubs(2L)) // 1 points at both authorities
    assert(auth(10L) > auth(11L)) // 10 is cited by both hubs
  }

  test("hits: iters = 0 is rejected loudly, not an NPE at the union") {
    val edges = Seq((1L, 10L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Graphs.hitsBipartite(edges, iters = 0))
    assert(e.getMessage.contains("iters >= 1"))
  }

  // ---- Privacy -----------------------------------------------------------

  private val privDf = Seq(
    // (qi, sensitive): group a has 3 rows / 1 distinct, b has 1 row
    ("a", 1L), ("a", 1L), ("a", 1L), ("b", 2L))
    .toDF("g", "s")

  test("kAnonymityAudit: per-level counts, k and l verdicts") {
    val r = Privacy.kAnonymityAudit(privDf,
      Seq(Privacy.QiLevel("fine", Seq("g" -> col("g"))),
        Privacy.QiLevel("all", Seq("c" -> lit(1)))),
      sensitive = col("s"), k = 2, l = 2).collect()
      .map(x => x.getString(0) -> x).toMap
    val fine = r("fine")
    // 4 rows, 2 groups, min 1, one group below k (1 row), both groups
    // below l=2 (each has 1 distinct sensitive)
    assert(fine.getLong(1) == 4L && fine.getLong(2) == 2L &&
      fine.getLong(3) == 1L && fine.getLong(4) == 1L &&
      fine.getLong(5) == 1L && !fine.getBoolean(6) &&
      fine.getLong(7) == 2L && !fine.getBoolean(8))
    val all = r("all")
    assert(all.getLong(2) == 1L && all.getBoolean(6) && all.getBoolean(8))
  }

  test("suppressToK drops exactly the audit's rows_below_k") {
    val kept = Privacy.suppressToK(privDf, Seq("g" -> col("g")), k = 2)
    assert(kept.count() == 3L)
    assert(kept.select("g").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("suppressToK keeps a NULL QI group of size >= k (audit parity)") {
    // round-9 advice fix: the audit's GROUP BY makes nulls their own
    // group, so suppression must use null-safe keys — a plain semi-join
    // would drop the 3-row null group and break the count invariant
    val df = Seq(
      (Option("a"), 1L), (Option("a"), 1L),
      (None: Option[String], 2L), (None, 2L), (None, 2L),
      (Option("b"), 3L)).toDF("g", "s")
    val kept = Privacy.suppressToK(df, Seq("g" -> col("g")), k = 2)
    assert(kept.count() == 5L) // only the 1-row "b" group is suppressed
    assert(kept.filter(col("g").isNull).count() == 3L)
    // invariant vs the audit at the same level
    val audit = Privacy.kAnonymityAudit(df,
      Seq(Privacy.QiLevel("l", Seq("g" -> col("g")))),
      sensitive = col("s"), k = 2, l = 1).collect().head
    assert(kept.count() == audit.getLong(1) - audit.getLong(5))
  }

  // ---- LinAlg ------------------------------------------------------------

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f)),
    (2L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")

  test("gramCov: hand-computed upper triangle") {
    val got = LinAlg.gramCov(vecs, "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got((0L, 0L)) == ((2L, 10.0, 1.0))) // 1+9; (10-16/2)/2
    assert(got((0L, 1L)) == ((2L, 14.0, 1.0))) // 2+12; (14-24/2)/2
    assert(got((1L, 1L)) == ((2L, 20.0, 1.0))) // 4+16; (20-36/2)/2
  }

  test("gramCov tolerates null and empty embeddings (they contribute nothing)") {
    val ragged = Seq(
      (1L, Option(Array(1.0f, 2.0f))),
      (2L, Option(Array(3.0f, 4.0f))),
      (3L, Option(Array.empty[Float])),
      (4L, None: Option[Array[Float]])).toDF("vec_id", "embedding")
    val got = LinAlg.gramCov(ragged, "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // identical statistics to the 2-row clean frame: n = 2 everywhere
    assert(got.values.toSet == Set(2L))
    assert(got.keySet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
  }

  test("topEigen rejects a matrix past the driver-bounded dimension") {
    val big = Seq((0L, 5000L, 1.0)).toDF("i", "j", "cov")
    val e = intercept[IllegalArgumentException](LinAlg.topEigen(big))
    assert(e.getMessage.contains("4096"))
  }

  test("topEigen: residual of the dominant eigenpair is tiny") {
    val (v, lambda) = LinAlg.topEigen(LinAlg.gramCov(vecs, "embedding"))
    // cov = [[1,1],[1,1]] → λ=2, v = (1,1)/√2
    assert(math.abs(lambda - 2.0) < 1e-9)
    assert(math.abs(v(0) - v(1)) < 1e-9)
    val av = Array(v(0) + v(1), v(0) + v(1)) // cov · v
    assert(math.abs(av(0) - lambda * v(0)) < 1e-9)
  }

  // ---- Graphs.labelPropagation / pageRankPersonalized --------------------

  test("labelPropagation: two triangles over a bridge settle into two communities") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.labelPropagation(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced 4 synchronous min-tie rounds: the left triangle
    // converges to label 1, the right (plus nothing else) to 3
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("pageRankPersonalized: mass concentrates at the seed, total stays 1") {
    // triangle 1-2-3 with a tail 3-4-5: seeding at 1 must outrank the
    // tail end, and rank mass is conserved on a connected graph
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val r = Graphs.pageRankPersonalized(edges, seeds = Seq(1L), iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(1L) > r(4L) && r(1L) > r(5L))
    assert(r(2L) > r(5L)) // one hop from the seed beats the tail end
  }

  // ---- Quantiles ---------------------------------------------------------

  test("exactQuantiles: ordinal selection across distinct buckets") {
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got(0.25) == ((3L, 3.0))) // ceil(2.5) = 3
    assert(got(0.5) == ((5L, 5.0)))
    assert(got(0.9) == ((9L, 9.0)))
  }

  test("exactQuantiles: in-bucket ordinal when every value shares one bucket") {
    val df = Seq(0.1, 0.9, 0.5, 0.3, 0.7).toDF("v") // all in floor-bucket 0
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(3)).toMap
    assert(got(0.5) == 0.5) // rank ceil(2.5)=3 of sorted (.1 .3 .5 .7 .9)
    assert(got(1.0) == 0.9)
  }

  // ---- Spatial.pointInPolygons -------------------------------------------

  test("pointInPolygons: concave cavity is outside, lobes are inside") {
    val notch = Spatial.Polygon("notch", Seq(
      (-74.1, 40.25), (-73.85, 40.25), (-73.85, 40.55),
      (-73.95, 40.4), (-74.1, 40.55)))
    val pts = Seq(
      (-74.0, 40.5), // in the cavity between the two top lobes: OUT
      (-74.05, 40.3), // deep in the body: IN
      (-74.08, 40.52), // inside the left lobe: IN
      (-74.5, 40.3) // outside the bbox entirely: OUT
    ).toDF("lon", "lat")
    val got = Spatial.pointInPolygons(pts, "lon", "lat", Seq(notch))
      .collect().map(r => (r.getDouble(0), r.getBoolean(2))).toMap
    assert(got == Map(-74.0 -> false, -74.05 -> true,
      -74.08 -> true, -74.5 -> false))
  }

  test("project: unrolled dot products against literal components") {
    val p = LinAlg.project(vecs, "embedding",
        Seq(Array(1.0, 0.0), Array(0.5, 0.5)))
      .orderBy("vec_id").collect()
    assert(p(0).getDouble(2) == 1.0 && p(0).getDouble(3) == 1.5)
    assert(p(1).getDouble(2) == 3.0 && p(1).getDouble(3) == 3.5)
  }
}
