package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding search (Jégou et al., TPAMI 2011 —
  * the faiss `PQ` index family): split each d-dim vector into `m`
  * subvectors, train a k-centroid codebook per subspace (distributed
  * Lloyd, keyed by subspace), store each vector as `m` small codes, and
  * answer queries with asymmetric distance computation (ADC) — the query
  * stays exact, candidates are scored from an m×k lookup table of
  * partial distances.
  *
  * Why this matters at 100 TB: a 1024-dim float32 corpus is 4 KiB/vec;
  * PQ at m=64,k=256 is 64 B/vec — a 64× scan-I/O cut that makes
  * whole-corpus rescoring feasible, with the codebook (m·k·d/m doubles)
  * broadcastable everywhere. Training shuffles only (subspace, cluster,
  * pos) partial sums; encoding is a broadcast join + per-row argmin;
  * query scoring shuffles only (qid, vec_id, partial) triples.
  *
  * Cross-engine determinism follows [[Clustering]]'s discipline: md5
  * hash-sample init per subspace, float→double once, index-order IEEE
  * fold for distances, min-struct tie-break by cluster id, DECIMAL
  * component sums for centroid updates and for the ADC sum across
  * subspaces (order-independent). The gate oracle replays the identical
  * unrolled computation in DuckDB ([[pqOracleSql]]).
  */
object ProductQuantization {

  /** (vec_id, subspace, sv): the m subvectors of each vector. `size(v)`
    * must be divisible by m (checked downstream by slice arithmetic —
    * a ragged tail would silently train a short subspace).
    */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    val v = transform(col(vecCol), _.cast("double"))
    df.select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("_dsub", (size(col("v")) / m).cast("int"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)), i =>
          slice(col("v"), i * col("_dsub") + 1, col("_dsub")))))
      .toDF("vec_id", "subspace", "sv")
  }

  /** Train the m codebooks: fixed-iteration Lloyd keyed by subspace —
    * one distributed computation for all m subspaces, not m jobs.
    * Returns (subspace, cluster, c: array<double>). Rounds and
    * generations: [[graft.util.Fixpoint]].
    */
  def train(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 2,
  ): DataFrame = {
    val subs = subvectors(emb, idCol, vecCol, m)
    // per-subspace deterministic hash-sample init (same k vec_ids win in
    // every subspace — harmless: their SUBvectors differ per subspace)
    val w = Window.partitionBy("subspace")
      .orderBy(md5(concat(lit("pq"), col("vec_id").cast("string"))), col("vec_id"))
    val init = subs
      .withColumn("cluster", (row_number().over(w) - 1).cast("int"))
      .filter(col("cluster") < k)
      .select(col("subspace"), col("cluster"), col("sv").as("c"))

    def assign(cent: DataFrame): DataFrame =
      subs.join(broadcast(cent), "subspace")
        .withColumn("d2", Clustering.sqDist(col("sv"), col("c")))
        .groupBy("vec_id", "subspace")
        .agg(min(struct(col("d2"), col("cluster"))).as("_best"))
        .select(col("vec_id"), col("subspace"),
          col("_best.cluster").as("cluster"), col("_best.d2").as("d2"))

    graft.util.Fixpoint.iterate("ProductQuantization.train", iters, init) { centroids =>
      val assigned = assign(centroids)
        .join(subs, Seq("vec_id", "subspace"))
        .select(col("subspace"), col("cluster"),
          posexplode(col("sv")).as(Seq("pos", "x")))
      assigned
        .groupBy("subspace", "cluster", "pos")
        .agg((sum(col("x").cast("decimal(38,20)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("subspace", "cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("c"))
    }.df
  }

  /** Encode: nearest codebook entry per (vector, subspace) →
    * (vec_id, subspace, code). The persisted form of the corpus.
    */
  def encode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      m: Int,
  ): DataFrame =
    subvectors(emb, idCol, vecCol, m)
      .join(broadcast(codebooks), "subspace")
      .withColumn("d2", Clustering.sqDist(col("sv"), col("c")))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("d2"), col("cluster"))).as("_best"))
      .select(col("vec_id"), col("subspace"), col("_best.cluster").as("code"))

  /** ADC top-k: exact query subvectors against the codebook LUT, summed
    * over subspaces per candidate, smallest approximate distance wins.
    * Returns (qid, cid, ad2, rank), rank 1..topK per qid.
    *
    * The per-(qid, candidate) distance is an exact DECIMAL sum of the m
    * LUT partials, so the ranking is reproducible under any aggregation
    * order; `ad2` is emitted as that decimal cast to double (callers
    * round for hashing).
    */
  def topK(
      codes: DataFrame, // (vec_id, subspace, code)
      codebooks: DataFrame, // (subspace, cluster, c)
      queries: DataFrame, // (qid, qv: array<float|double>)
      m: Int,
      topK: Int,
  ): DataFrame = {
    val qsubs = subvectors(queries, "qid", "qv", m)
      .toDF("qid", "subspace", "qsv")
    val lut = qsubs.join(broadcast(codebooks), "subspace")
      .select(col("qid"), col("subspace"), col("cluster").as("code"),
        Clustering.sqDist(col("qsv"), col("c")).as("pd2"))
    val scored = codes
      .join(broadcast(lut), Seq("subspace", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pd2").cast("decimal(38,20)")).cast("double").as("ad2"))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("ad2"), col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("cid"), col("ad2"), col("rank"))
  }

  /** Index-order squared-distance fold between two DuckDB double lists
    * — the SQL twin of [[Clustering.sqDist]], parameterized by operand
    * names so the cell- and subspace-level folds share one spelling.
    */
  private def d2of(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), " +
      s"i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * " +
      s"($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))), (acc, x) -> acc + x)"

  /** The shared train→encode→LUT CTE chain (through `codes`, `qsubs`,
    * `lut`), generated for (m, k, iters, nq) — consumed by both the
    * full-scan ADC oracle ([[pqOracleSql]]) and the IVF-restricted one
    * ([[ivfPqOracleSql]]).
    */
  private def pqChain(m: Int, k: Int, iters: Int, nq: Int): Seq[String] = {
    val d2 = d2of("sv", "c")
    def assignCte(name: String, src: String, cent: String): String =
      s"$name AS (SELECT vec_id, subspace, best.c2 AS cluster, best.d AS d2 FROM (" +
        s"SELECT vec_id, $src.subspace, min({'d': $d2, 'c2': cluster}) AS best " +
        s"FROM $src JOIN $cent USING (subspace) GROUP BY 1, 2))"
    def updateCte(name: String, asg: String): String =
      s"$name AS (SELECT subspace, cluster, list(mc ORDER BY pos) AS c FROM (" +
        "SELECT subspace, cluster, pos, " +
        "CAST(CAST(sum(CAST(x AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) / count(*) AS mc " +
        s"FROM (SELECT $asg.subspace, $asg.cluster, u.i AS pos, " +
        s"sv[CAST(u.i AS INT)] AS x FROM $asg " +
        "JOIN subs USING (vec_id, subspace), " +
        "unnest(range(1, len(sv) + 1)) AS u(i)) " +
        "GROUP BY 1, 2, 3) GROUP BY 1, 2)"
    val base =
      "vecs AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v " +
        "FROM embeddings), " +
        s"subs AS (SELECT vec_id, s.i AS subspace, " +
        s"v[CAST(s.i * (len(v) // $m) + 1 AS INT):" +
        s"CAST((s.i + 1) * (len(v) // $m) AS INT)] AS sv " +
        s"FROM vecs, unnest(range(0, $m)) AS s(i)), " +
        "ranked AS (SELECT subspace, sv, (row_number() OVER (" +
        "PARTITION BY subspace ORDER BY md5('pq' || vec_id::VARCHAR), vec_id) " +
        "- 1)::INT AS cluster FROM subs), " +
        s"cent0 AS (SELECT subspace, cluster, sv AS c FROM ranked WHERE cluster < $k)"
    val steps = (1 to iters).flatMap { i =>
      Seq(assignCte(s"asg$i", "subs", s"cent${i - 1}"), updateCte(s"cent$i", s"asg$i"))
    }
    val tail =
      s"codes AS (SELECT vec_id, subspace, cluster AS code FROM pqasg), " +
        s"qsubs AS (SELECT vec_id AS qid, subspace, sv FROM subs WHERE vec_id < $nq), " +
        "lut AS (SELECT qid, qsubs.subspace, cluster AS code, " +
        // the LUT distance reuses the fold with qsubs.sv as sv
        s"$d2 AS pd2 FROM qsubs JOIN cent$iters USING (subspace))"
    (Seq(base) ++ steps :+ assignCte("pqasg", "subs", s"cent$iters")) :+ tail
  }

  /** DuckDB spelling of train→encode→ADC for the same (m, k, iters,
    * nq, topK), over the `embeddings` table with queries = vec_id < nq —
    * the generated unrolled-CTE oracle, mirroring
    * [[Clustering.kmeansOracleSql]]'s structure with every stage keyed
    * by subspace. `finalSelect` wraps the ranked CTE (named `r`:
    * qid, cid, ad2, rank).
    */
  def pqOracleSql(
      m: Int, k: Int, iters: Int, nq: Int, topK: Int, finalSelect: String): String = {
    val tail =
      "ad AS (SELECT qid, vec_id, CAST(CAST(sum(CAST(pd2 AS DECIMAL(38,20))) " +
        "AS VARCHAR) AS DOUBLE) AS ad2 FROM codes JOIN lut USING (subspace, code) " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT qid, vec_id AS cid, ad2, row_number() OVER (" +
        "PARTITION BY qid ORDER BY ad2, vec_id) AS rank FROM ad)"
    (pqChain(m, k, iters, nq) :+ tail)
      .mkString("WITH ", ", ", s" $finalSelect")
  }

  /** IVF-PQ oracle: the [[pqChain]] plus stride-sampled cells, exact
    * full-vector cell assignment for corpus and queries, candidate
    * restriction to the probed cells, and the same ADC ranking over
    * candidates only.
    */
  def ivfPqOracleSql(
      m: Int, k: Int, iters: Int, nq: Int, topK: Int,
      stride: Int, nProbe: Int, finalSelect: String): String = {
    val tail =
      s"cen AS (SELECT vec_id AS cell_id, v AS cv FROM vecs " +
        s"WHERE vec_id % $stride = 0), " +
        "ccell AS (SELECT vec_id, best.c2 AS cell_id FROM (" +
        s"SELECT vec_id, min({'d': ${d2of("v", "cv")}, 'c2': cell_id}) AS best " +
        "FROM vecs, cen GROUP BY vec_id)), " +
        "qcell AS (SELECT qid, cell_id FROM (" +
        s"SELECT q.vec_id AS qid, cen.cell_id, row_number() OVER (" +
        s"PARTITION BY q.vec_id ORDER BY ${d2of("q.v", "cv")}, cell_id) AS rn " +
        s"FROM (SELECT vec_id, v FROM vecs WHERE vec_id < $nq) q, cen) " +
        s"WHERE rn <= $nProbe), " +
        "cand AS (SELECT qid, vec_id FROM ccell JOIN qcell USING (cell_id)), " +
        "ad AS (SELECT cand.qid, cand.vec_id, " +
        "CAST(CAST(sum(CAST(pd2 AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) AS ad2 " +
        "FROM cand JOIN codes USING (vec_id) " +
        "JOIN lut ON lut.qid = cand.qid AND lut.subspace = codes.subspace " +
        "AND lut.code = codes.code GROUP BY 1, 2), " +
        "r AS (SELECT qid, vec_id AS cid, ad2, row_number() OVER (" +
        "PARTITION BY qid ORDER BY ad2, vec_id) AS rank FROM ad)"
    (pqChain(m, k, iters, nq) :+ tail)
      .mkString("WITH ", ", ", s" $finalSelect")
  }

  /** IVF-PQ top-k — the production ANN architecture (faiss IVFPQ):
    * a stride-sampled coarse quantizer prunes the corpus to the
    * queries' `nProbe` nearest cells (exact full-vector distances, so
    * cell choice is deterministic), then ADC scores ONLY the surviving
    * candidates from their m-code representation. Scan work drops by
    * ~|cells|/nProbe on top of PQ's per-candidate byte economy.
    *
    * Scale shape: centroids broadcast (stride keeps them bounded for
    * any corpus); corpus cell assignment is one broadcast join +
    * per-row argmin, storable alongside the codes; the probe join
    * broadcasts (nq × nProbe) cell picks; ADC inherits [[topK]]'s
    * bounded-triple shuffle, now over candidates only.
    */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codes: DataFrame, // (vec_id, subspace, code)
      codebooks: DataFrame, // (subspace, cluster, c)
      queries: DataFrame, // (qid, qv)
      m: Int,
      topK: Int,
      stride: Int = 64,
      nProbe: Int = 2,
  ): DataFrame = {
    val vecs = emb.select(col(idCol).as("vec_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val cen = vecs.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    val cCells = vecs.crossJoin(broadcast(cen))
      .withColumn("d2", Clustering.sqDist(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cell_id"))).as("_best"))
      .select(col("vec_id"), col("_best.cell_id").as("cell_id"))
    val qvecs = queries.select(col("qid"),
      transform(col("qv"), _.cast("double")).as("v"))
    val qCells = qvecs.crossJoin(broadcast(cen))
      .withColumn("d2", Clustering.sqDist(col("v"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2"), col("cell_id"))))
      .filter(col("rn") <= nProbe)
      .select("qid", "cell_id")
    val cand = cCells.join(broadcast(qCells), "cell_id").select("qid", "vec_id")
    val qsubs = subvectors(queries, "qid", "qv", m).toDF("qid", "subspace", "qsv")
    val lut = qsubs.join(broadcast(codebooks), "subspace")
      .select(col("qid"), col("subspace"), col("cluster").as("code"),
        Clustering.sqDist(col("qsv"), col("c")).as("pd2"))
    cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "subspace", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pd2").cast("decimal(38,20)")).cast("double").as("ad2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad2"), col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("cid"), col("ad2"), col("rank"))
  }
}
