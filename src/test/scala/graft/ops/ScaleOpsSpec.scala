package graft.ops

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** Round-3 scale operators: Bloom-filter runtime join pruning, exact
  * prefix-filter set-similarity join, declarative data-quality audit.
  */
class ScaleOpsSpec extends SparkTestBase {

  import spark.implicits._

  lazy val docs = Tables.table(spark, Sf0001, "documents").cache()

  // ---- RuntimeFilters -------------------------------------------------

  test("bloomJoin returns exactly the plain join's rows") {
    val li = Tables.table(spark, Sf0001, "lineitem")
    val dim = Tables.table(spark, Sf0001, "part")
      .filter(col("p_size") <= 3).select("p_partkey", "p_brand")
    val pruned = RuntimeFilters
      .bloomJoin(li, dim, "l_partkey", "p_partkey", 10000L, 1L << 16)
      .select("l_orderkey", "l_linenumber", "p_brand")
    val plain = li.join(dim, col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_brand")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }

  test("bloomPruned never drops a matching row and prunes non-matching ones") {
    val li = Tables.table(spark, Sf0001, "lineitem")
    val dim = Tables.table(spark, Sf0001, "part").filter(col("p_size") <= 3)
    val pruned = RuntimeFilters.bloomPruned(
      li, col("l_partkey"), dim, col("p_partkey"), 10000L, 1L << 16).cache()
    val matching = li.join(dim.select(col("p_partkey").as("l_partkey")),
      Seq("l_partkey"), "left_semi")
      .select(li.columns.map(col).toIndexedSeq: _*) // undo USING's key-first reorder
    // no false negatives: every genuinely-matching row survives pruning
    assert(matching.exceptAll(pruned).isEmpty)
    // effectiveness: the sketch rejects most of the non-matching fact
    // side (~6% of parts pass the dim filter; 1% FP budget at 64 Kib)
    val n = li.count().toDouble
    val kept = pruned.count().toDouble
    val m = matching.count().toDouble
    assert(kept < n * 0.5, s"pruning kept $kept of $n rows")
    assert(kept >= m)
    pruned.unpersist()
  }

  test("bloom pruning evaluates as a might_contain predicate on the fact side") {
    val li = Tables.table(spark, Sf0001, "lineitem")
    val dim = Tables.table(spark, Sf0001, "part").filter(col("p_size") <= 3)
    val p = RuntimeFilters
      .bloomPruned(li, col("l_partkey"), dim, col("p_partkey"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("might_contain"), s"no might_contain in plan:\n$p")
    assert(p.contains("bloom_filter_agg"), s"no bloom_filter_agg subquery:\n$p")
  }

  // ---- SetSimJoin -----------------------------------------------------

  private def shingleSets =
    TextAnalysis.shingles(TextAnalysis.tokens(col("text")))

  test("prefix-filter join matches brute force exactly (recall AND precision)") {
    val fast = SetSimJoin
      .jaccardSelfJoin(docs, "doc_id", shingleSets, threshold = 0.5)
    val sets = docs
      .select(col("doc_id"), array_distinct(shingleSets).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sets.toDF("id_a", "sa")
      .crossJoin(sets.toDF("id_b", "sb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jac", Dedup.jaccard(col("sa"), col("sb")))
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b", "jac")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
    assert(fast.count() > 0, "fixture should contain near-dup pairs")
  }

  test("prefix-filter join edge cases: identical, disjoint, sub-threshold") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"), // identical to 1
      (3L, "p q r s t u v w"), // disjoint from all
      (4L, "a b c d x y z w"), // shares half of 1's shingles' tokens
      (5L, "a b"), // too short for 3-shingles: drops out entirely
    ).toDF("doc_id", "text")
    val pairs = SetSimJoin
      .jaccardSelfJoin(df, "doc_id", shingleSets, threshold = 0.9)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("prefix-filter join generates far fewer candidates than all-pairs") {
    // the candidate economy: rare-element prefixes collide seldom. On
    // the sf0.001 corpus (500 docs → 124750 possible pairs) the verify
    // stage should see orders of magnitude fewer candidates.
    val sets = docs.select(col("doc_id").as("_id"),
      array_distinct(shingleSets).as("elems")).filter(size(col("elems")) > 0)
    val n = sets.count()
    val allPairs = n * (n - 1) / 2
    // reproduce the operator's candidate stage only
    val elems = sets.select(col("_id"), explode(col("elems")).as("elem"))
    val dfreq = elems.groupBy("elem").agg(count(lit(1)).as("df"))
    val ordered = elems.join(dfreq, "elem").groupBy("_id")
      .agg(sort_array(collect_list(struct(col("df"), col("elem")))).as("ranked"))
      .withColumn("sz", size(col("ranked")))
      .withColumn("plen", (col("sz") - ceil(lit(0.5) * col("sz")) + lit(2)).cast("int"))
    val prefix = ordered.select(col("_id"),
      explode(expr("transform(slice(ranked, 1, plen), x -> x.elem)")).as("elem"))
    val cand = prefix.toDF("id_a", "elem")
      .join(prefix.toDF("id_b", "elem"), Seq("elem"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
    assert(cand < allPairs / 10,
      s"prefix filter produced $cand candidates of $allPairs possible")
  }

  // ---- ProductQuantization --------------------------------------------

  lazy val emb = Tables.table(spark, Sf0001, "embeddings").cache()

  test("PQ codebooks: m subspaces × k centroids of the subspace dimension") {
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1).cache()
    assert(cb.select("subspace").distinct().count() == 8)
    assert(cb.groupBy("subspace").count().filter(col("count") > 16).isEmpty)
    assert(cb.filter(size(col("c")) =!= 8).isEmpty) // 64 dims / 8 subspaces
    cb.unpersist()
  }

  test("PQ encode assigns every vector a code per subspace, within range") {
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    val codes = ProductQuantization.encode(emb, "vec_id", "embedding", cb, m = 8)
      .cache()
    assert(codes.count() == emb.count() * 8)
    assert(codes.filter(col("code") < 0 || col("code") >= 16).isEmpty)
    codes.unpersist()
  }

  test("PQ ADC shortlist captures the exact top-10 (shortlist recall over 0.5)") {
    // PQ's production role is SHORTLIST generation (ADC scan → exact
    // rerank of the survivors), so the meaningful metric is how much of
    // the exact top-10 the ADC top-50 shortlist retains. Uniform random
    // 64-dim embeddings are PQ's worst case (distance concentration, no
    // cluster structure), which makes this a conservative floor.
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val codes = ProductQuantization.encode(emb, "vec_id", "embedding", cb, m = 8)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val shortlist = ProductQuantization.topK(codes, cb, queries, m = 8, topK = 50)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qd = queries.withColumn("qv", transform(col("qv"), _.cast("double")))
    val exact = qd.crossJoin(
        emb.select(col("vec_id").as("cid"),
          transform(col("embedding"), _.cast("double")).as("cv")))
      .withColumn("d2", Clustering.sqDist(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d2"), col("cid"))))
      .filter(col("rank") <= 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (shortlist & exact).size.toDouble / exact.size
    assert(recall > 0.5, s"ADC shortlist recall = $recall")
    // the query vector itself must make the shortlist: its ADC distance
    // is just its own quantization error
    assert((0L until 5L).forall(q => shortlist.contains((q, q))))
  }

  test("IVF-PQ: pruned ADC agrees with full-scan ADC on shared candidates") {
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1)
    val codes = ProductQuantization.encode(emb, "vec_id", "embedding", cb, m = 8)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ivf = ProductQuantization.ivfPqTopK(emb, "vec_id", "embedding",
        codes, cb, queries, m = 8, topK = 10, stride = 64, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.size == 50) // 5 queries × top-10 (cells hold enough candidates)
    // the full-scan ADC ranks every corpus vector; the IVF path must
    // report the IDENTICAL ad2 for every pair it returns — pruning
    // changes the candidate set, never a surviving pair's distance
    val full = ProductQuantization.topK(codes, cb, queries, m = 8,
        topK = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.foreach { case (pair, d) => assert(full(pair) == d, s"ad2 drift at $pair") }
  }

  test("kmeans at 12 rounds: the plan stays bounded and the results are unchanged") {
    // without a cut each Lloyd round embeds all previous rounds'
    // aggregates twice, so the plan grows super-linearly; the loop
    // driver cuts the centroid lineage at round 8, leaving 4 lazy rounds
    // over a checkpoint — no larger than a plain 4-round run
    def nNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    val twelve = Clustering.kmeans(emb, "vec_id", "embedding", k = 4, iters = 12)
    val four = Clustering.kmeans(emb, "vec_id", "embedding", k = 4, iters = 4)
    assert(nNodes(twelve) <= nNodes(four),
      s"plan not truncated: ${nNodes(twelve)} vs ${nNodes(four)}")
    // identical rows to the uncut 12-round loop, (vec_id, cluster, d2)
    // hashed from the output before the driver existed (checkpointEvery = 0)
    val rows = twelve.orderBy("vec_id").collect()
      .map(r => s"${r.getLong(0)}:${r.getInt(1)}:${r.getDouble(2)}").mkString(",")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    assert(sha == "16db671890593e7b")
  }

  // ---- Semantic dedup --------------------------------------------------

  test("semantic dedup: min-id dominance against a brute-force recompute") {
    val surv = Dedup.semanticDupSurvivors(emb, "vec_id", "embedding",
      k = 8, iters = 1, threshold = 0.35).cache()
    val assign = Clustering.kmeans(emb, "vec_id", "embedding", 8, 1)
      .select("vec_id", "cluster").cache()
    // brute-force loser set under the same assignment
    val av = assign.join(
      emb.select(col("vec_id"), col("embedding").as("v")), "vec_id")
    val losers = av.toDF("id_a", "cluster", "va")
      .join(av.toDF("id_b", "cluster", "vb"), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= 0.35)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val survIds = surv.select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = assign.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survIds == (allIds -- losers))
    // the smallest id of every cluster can never be dominated
    val minIds = assign.groupBy("cluster").agg(min("vec_id").as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(minIds.subsetOf(survIds))
    surv.unpersist(); assign.unpersist()
  }

  // ---- DeflateSize ----------------------------------------------------

  test("compression ratio separates repetition from diverse text") {
    import graft.functions.DeflateSize._
    val df = Seq(
      (1L, "spam " * 200), // degenerate repetition
      (2L, (1 to 200).map(i => s"w${i * 2654435761L % 9973}").mkString(" ")),
      (3L, ""),
    ).toDF("id", "text")
      .select(col("id"), compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df(1L) < 0.05, s"repetitive text ratio ${df(1L)}")
    assert(df(2L) > 0.3, s"diverse text ratio ${df(2L)}")
    assert(df(3L) == 1.0)
  }

  test("deflate size is deterministic and reachable from the SQL surface") {
    val one = spark.sql("SELECT deflate_size('abcabcabcabc') AS n").head().getInt(0)
    val two = spark.sql("SELECT deflate_size('abcabcabcabc') AS n").head().getInt(0)
    assert(one == two && one > 0 && one < 12)
    // repeated invocations over the corpus agree row-for-row
    import graft.functions.DeflateSize._
    val a = docs.select(col("doc_id"), deflateSize(col("text")).as("n"))
    assert(a.exceptAll(docs.select(col("doc_id"), deflateSize(col("text")).as("n")))
      .isEmpty)
  }

  // ---- Incremental ----------------------------------------------------

  test("incremental state merge equals the direct aggregate in any batch order") {
    val ev = Tables.events(spark, Sf0001)
    val b = (0 to 2).map(i =>
      Incremental.partialState(
        ev.filter(col("event_id") % 3 === i), Seq("event_type"), "value"))
    val direct = Incremental.finalize(
      Incremental.partialState(ev, Seq("event_type"), "value"), Seq("event_type"))
    for (perm <- Seq(b, b.reverse, Seq(b(1), b(2), b(0)))) {
      val merged = Incremental.finalize(
        Incremental.mergeStates(perm, Seq("event_type")), Seq("event_type"))
      assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    }
  }

  test("incremental state stays state-sized: one batch's state merges with history") {
    val ev = Tables.events(spark, Sf0001)
    val history = Incremental.partialState(
      ev.filter(col("event_id") % 3 =!= 0), Seq("event_type"), "value")
    val today = Incremental.partialState(
      ev.filter(col("event_id") % 3 === 0), Seq("event_type"), "value")
    val merged = Incremental.mergeStates(Seq(history, today), Seq("event_type"))
    // the merged STATE is still one row per key — the invariant that
    // keeps the daily job O(day), not O(history)
    assert(merged.count() == ev.select("event_type").distinct().count())
  }

  // ---- Table checksum -------------------------------------------------

  test("table checksum is partitioning-invariant and single-row-sensitive") {
    val li = Tables.table(spark, Sf0001, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag")
    val base = Profile.tableChecksum(li, cols).head()
    // any repartitioning / ordering yields the identical fingerprint
    val shuffled = Profile.tableChecksum(
      li.repartition(17, col("l_returnflag")).sortWithinPartitions("l_linenumber"),
      cols).head()
    assert(base == shuffled)
    // one extra row changes it
    import spark.implicits._
    val extra = Seq((-1L, -1, "X")).toDF(cols: _*)
    val tweaked = Profile.tableChecksum(li.unionByName(extra), cols).head()
    assert(tweaked.getLong(0) == base.getLong(0) + 1 &&
      base.getDecimal(1) != tweaked.getDecimal(1))
    // empty input: zero rows, zero checksum — not null
    val empty = Profile.tableChecksum(li.filter(lit(false)), cols).head()
    assert(empty.getLong(0) == 0L && empty.getDecimal(1).signum() == 0)
  }

  test("partition manifest: parts sum to the table checksum; changed part named") {
    val li = Tables.table(spark, Sf0001, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag")
    val manifest = Profile.partitionManifest(li, "l_returnflag", cols)
    val table = Profile.tableChecksum(li, cols).head()
    // the manifest is a refinement: rows and checksum terms sum exactly
    val sums = manifest.agg(sum("n_rows"),
      sum("checksum").cast("decimal(38,0)")).head()
    assert(sums.getLong(0) == table.getLong(0))
    assert(sums.getDecimal(1).compareTo(table.getDecimal(1)) == 0)
    // perturb ONE partition: exactly that manifest row changes
    import spark.implicits._
    val extra = Seq((-1L, -1, "A")).toDF(cols: _*)
    val before = manifest.collect()
      .map(r => r.getString(0) -> r.getDecimal(2)).toMap
    val after = Profile.partitionManifest(li.unionByName(extra),
        "l_returnflag", cols).collect()
      .map(r => r.getString(0) -> r.getDecimal(2)).toMap
    val changed = before.keySet.filter(k => before(k) != after(k))
    assert(changed == Set("A"), s"changed partitions: $changed")
  }

  test("table checksum NULL sentinel matches the cross-engine formula") {
    import spark.implicits._
    // a NULL cell must hash exactly like the documented printable
    // sentinel '<null>' — the contract the DuckDB oracle (q_checksum)
    // spells on its side. Compute the expected term out-of-band with
    // MessageDigest over the same '|'-joined string.
    val df = Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("id", "s")
    def term(joined: String): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(joined.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      BigInt(hex.take(15), 16)
    }
    val expected = term("1|a") + term("2|<null>")
    val got = Profile.tableChecksum(df, Seq("id", "s")).head()
    assert(got.getLong(0) == 2L &&
      BigInt(got.getDecimal(1).toBigInteger) == expected)
    // and a NULL is NOT the same as the empty string
    val emptyStr = Profile.tableChecksum(
      Seq((2L, "")).toDF("id", "s"), Seq("id", "s")).head()
    assert(BigInt(emptyStr.getDecimal(1).toBigInteger) != term("2|<null>"))
  }

  // ---- spark.ml LSH interop -------------------------------------------

  test("spark.ml MinHashLSH recovers the exact near-dup pairs (interop)") {
    // SURVEY §7.4 named spark.ml's MinHashLSH as the stock near-dup
    // path; the engine uses seed-free md5 MinHash for cross-engine
    // determinism. This asserts the two agree: the stock estimator
    // (seeded, binary-hashed features) finds every pair the exact
    // verified path emits at Jaccard >= 0.8.
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, Tokenizer}
    val tok = new Tokenizer().setInputCol("text").setOutputCol("toks")
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(tok.transform(docs))
      .filter(size(col("toks")) > 0)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
    val model = lsh.fit(feat)
    val approx = model.approxSimilarityJoin(feat, feat, 0.45, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .filter(col("a") < col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(approx),
      s"stock LSH missed ${exact -- approx} of ${exact.size} exact pairs")
  }

  // ---- DataQuality ----------------------------------------------------

  test("audit computes exact metrics and verdicts per constraint") {
    import DataQuality._
    val t = Seq(
      (1L, Some("x"), 5.0, "ok"),
      (2L, None, 15.0, "ok"), // null name; value out of [0,10]
      (3L, Some("y"), 7.0, "bad"), // category outside accepted set
      (3L, Some("z"), 9.0, "ok"), // duplicate id
    ).toDF("id", "name", "value", "cat")
    val dim = Seq(1L, 2L, 3L).toDF("k") // all ids resolve
    val report = audit(t, Seq(
      Complete("name", minRatio = 1.0),
      Unique("id"),
      Bounds("value", 0.0, 10.0),
      Accepted("cat", Seq("ok")),
      Referential("id", dim, "k"),
    )).collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(report("complete:name") == ((0.25, false)))
    assert(report("unique:id") == ((1.0, false)))
    assert(report("bounds:value") == ((1.0, false)))
    assert(report("accepted:cat") == ((1.0, false)))
    assert(report("ref:id") == ((0.0, true)))
  }

  test("custom predicate check counts violations; null predicates violate") {
    import DataQuality._
    val t = Seq(
      (1L, Some(5.0)), // 5 < 10: holds
      (2L, Some(15.0)), // violates
      (3L, None), // predicate is NULL → counts as violation
    ).toDF("id", "v")
    val row = audit(t, Seq(Custom("v_small", col("v") < 10.0))).head()
    assert(row.getString(0) == "custom:v_small")
    assert(row.getDouble(1) == 2.0 && !row.getBoolean(2))
  }

  test("audit referential check counts orphans, ignoring null keys") {
    import DataQuality._
    val t = Seq(Some(1L), Some(4L), None, Some(5L)).toDF("fk")
    val dim = Seq(1L, 2L).toDF("k")
    val row = audit(t, Seq(Referential("fk", dim, "k"))).head()
    assert(row.getDouble(1) == 2.0 && !row.getBoolean(2)) // 4 and 5 orphaned
  }

  test("audit runs all scalar constraints in one aggregate pass") {
    import DataQuality._
    val li = Tables.table(spark, Sf0001, "lineitem")
    val p = audit(li, Seq(
      Complete("l_quantity"), Unique("l_orderkey"),
      Bounds("l_discount", 0.0, 0.1), Accepted("l_returnflag", Seq("A", "N", "R"))))
      // simple mode: each operator appears once (formatted repeats them
      // in the per-node detail section, double-counting scans)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // one scan of lineitem — four constraints share the single aggregate
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$p")
  }
}
