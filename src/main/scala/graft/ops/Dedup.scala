package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import graft.util.Lineage

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §7.4): exact content-hash dedup, deterministic MinHash + LSH banding
  * for near-dup candidate generation, n-gram Jaccard verification, and
  * SimHash fingerprints.
  *
  * Scale design (100 TB posture):
  *  - every stage keys on a digest/band hash, so the only shuffles are
  *    hash-partitioned group-bys/joins on uniformly distributed keys (md5
  *    output — no skew by construction);
  *  - signatures are narrow per-row projections (codegen'd higher-order
  *    functions, no UDF);
  *  - the LSH self-join never compares all pairs — candidates are
  *    generated per band bucket, and only candidates get the exact
  *    Jaccard verification.
  */
object Dedup {

  /** Exact dedup on a normalization of the text: group by content hash,
    * keep the minimum id as representative. `keyExpr` defaults to the
    * raw text hash; pass e.g. [[wordSetKey]] to collapse token-permuted
    * copies.
    */
  def exactDuplicates(
      df: DataFrame,
      idCol: String,
      key: Column,
  ): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("copies"),
      )

  /** sha256 of the raw text — byte-exact duplicate key. */
  def textKey(text: Column): Column = sha2(text, 256)

  /** md5 over the sorted distinct token set — catches shuffled/reordered
    * copies of the same bag of words.
    */
  def wordSetKey(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))))

  /** (id, shingle) relation: one row per distinct n-word shingle. Docs
    * with fewer than `n` tokens vanish (explode of an empty array).
    *
    * This relational shape is deliberate: higher-order lambdas are
    * interpreted (no codegen) and re-evaluate inlined argument
    * expressions per element, so computing k MinHash permutations inside
    * nested `transform`s re-does the tokenize/shingle work k× per row —
    * measured 30× slower at sf0.1 than explode + hash-aggregate, and the
    * gap widens with scale. Exploding once and aggregating keeps every
    * md5 evaluation single-shot inside whole-stage codegen.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol),
      explode(TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)).as("shingle"))

  /** Deterministic k-permutation MinHash signature, one column per
    * permutation: `sig_i = min_s md5(s || '#' || i)`.
    *
    * md5-as-permutation keeps the signature reproducible across engines
    * and runs (no RNG seeds to persist) — the property the correctness
    * oracle needs and a production pipeline wants for incremental dedup.
    *
    * Computed by the one-pass codegen expression
    * [[graft.functions.MinHashSigs]]: a pure narrow projection — no
    * explode, no exchange, no aggregation buffers. The relational
    * spelling ([[minhashSignaturesRelational]]) is kept as the semantic
    * reference; OpsSpec asserts exact agreement, and the DuckDB oracle
    * (which spells exactly the relational form) keeps checking this
    * path because the values are identical.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val sh = TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)))
    df.select(col(idCol),
        graft.functions.MinHashSigs.minhashSigs(sh, k).as("_sigs"))
      .filter(col("_sigs").isNotNull) // docs with no shingles drop, as in the group-by form
      .select(col(idCol) +:
        (0 until k).map(i => element_at(col("_sigs"), i + 1).as(s"sig_$i")): _*)
  }

  /** The explode → k-partial-min-aggregates spelling of
    * [[minhashSignatures]] — one exchange carrying docs × k hex strings.
    * Kept as the executable reference the codegen expression is
    * property-tested against (identical min semantics: hex string order
    * ≡ unsigned digest byte order).
    */
  def minhashSignaturesRelational(
      df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame =
    shingleTable(df, idCol, textCol)
      .groupBy(idCol)
      .agg(
        min(md5(concat(col("shingle"), lit("#0")))).as("sig_0"),
        (1 until k).map(i =>
          min(md5(concat(col("shingle"), lit(s"#$i")))).as(s"sig_$i")): _*)

  /** (id, band_idx, band_hash) relation: `rows` consecutive signature
    * values hashed per band. Docs sharing any band hash are near-dup
    * candidates.
    */
  def bandTable(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide evenly into bands")
    val rows = k / bands
    val bandStructs = array((0 until bands).map { b =>
      val joined = concat((0 until rows).map(r => col(s"sig_${b * rows + r}")): _*)
      struct(lit(b).as("band_idx"), md5(joined).as("band_hash"))
    }: _*)
    sigs
      .select(col(idCol), explode(bandStructs).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** Near-dup candidate pairs via MinHash-LSH: shingle → signature →
    * bands → per-(band_idx, band_hash) bucket pair expansion → distinct
    * (a < b) pairs.
    *
    * Buckets are grouped (`collect_list` of ids per band hash) rather
    * than self-joined: a self-join evaluates the whole
    * shingle→signature→band lineage once per branch and shuffles it
    * twice, while the group-by computes signatures once and shuffles
    * only (band, id) rows. Pair expansion happens inside each bucket —
    * bucket sizes track the corpus duplication rate (uniform md5 keys)
    * for benign corpora, but a real 100 TB crawl has degenerate classes
    * (boilerplate, empty pages) whose one colossal bucket would make a
    * single task collect it and expand O(|bucket|²).
    *
    * `bucketCap` bounds that: ids are ranked inside each bucket by a
    * sort-based (spill-safe) window; the first `bucketCap` get the full
    * quadratic expansion, every id past the cap is emitted as a single
    * star pair to the bucket minimum. A bucket that big is one duplicate
    * class, so the star keeps the class connected for
    * [[duplicateClusters]] in O(|bucket|) rows, and per-task memory is
    * bounded by the cap regardless of corpus pathology.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      bucketCap: Int = 10000,
  ): DataFrame = {
    require(bucketCap >= 2, "bucketCap must allow at least one pair")
    val banded = bandTable(minhashSignatures(df, idCol, textCol, k), idCol, k, bands)
    // row_number and min share one window spec → a single sort-based
    // WindowExec; min over the ascending prefix frame is the bucket min
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band_idx", "band_hash").orderBy(idCol)
    // persist: the in-cap and overflow branches below both consume
    // `ranked`, and without it each re-executes the full
    // shingle→minhash→band→sort lineage (measured ~2× on the dedup
    // queries). The first branch materializes the narrow (id, band, rn,
    // min_id) frame; the second reads the cache. Plan-keyed in Spark's
    // CacheManager, so repeated dedup queries in one session share it.
    // MEMORY_ONLY deliberately: a lazy API can't unpersist, and
    // disk-backed blocks are reclaimed only by unpersist/shutdown — a
    // long-lived session calling this repeatedly would accumulate local
    // disk forever. Memory blocks evict under pressure (worst case:
    // recompute, i.e. the pre-persist behavior).
    val ranked = banded
      .withColumn("rn", row_number().over(w))
      .withColumn("min_id", min(col(idCol)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val buckets = ranked
      .filter(col("rn") <= bucketCap)
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    // all (i < j) pairs within the sorted bucket: ids is ascending, so
    // pairing each element with its tail yields canonical doc_a < doc_b.
    // Spelled as two codegen'd generates (posexplode × slice-explode —
    // the adamicAdar/coOccurrenceEdges discipline), not the r13
    // flatten(transform(transform(...))) HOF: that spelling built the
    // whole O(|bucket|²) pair ARRAY per bucket row through interpreted
    // CodegenFallback lambdas before the explode could stream it —
    // the same per-row interpreted stretch the r14 gramCov retirement
    // named, plus a cap²-sized allocation the streamed form never makes.
    val inCapPairs = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("_i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("_i") + lit(2),
          greatest(size(col("ids")) - col("_i") - lit(1), lit(0))))
          .as("doc_b"))
    // overflow star: min_id has rn = 1 < rn here, so doc_a < doc_b holds
    val overflowPairs = ranked
      .filter(col("rn") > bucketCap)
      .select(col("min_id").as("doc_a"), col(idCol).as("doc_b"))
    inCapPairs.union(overflowPairs).distinct()
  }

  /** Incremental near-dup detection: a NEW batch against the EXISTING
    * corpus — the daily-crawl production shape. Candidates come from a
    * band equi-join between the batch's bands and the corpus's bands,
    * never batch×batch or corpus×corpus, so a day's increment costs
    * |batch| band rows joined into the corpus index instead of
    * re-pairing the already-deduped corpus with itself. Verification is
    * the same exact Jaccard as [[nearDuplicatePairs]].
    *
    * At scale the corpus band table is precomputed once and stored
    * bucketed on the band hash ([[graft.etl.Layout.writeBucketed]]), so
    * the daily join shuffles only the batch side. Signatures are
    * seed-free md5 permutations precisely so the incremental index
    * never goes stale against re-computed batch signatures.
    */
  def incrementalNearDupPairs(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      k: Int = 8,
      bands: Int = 4,
  ): DataFrame = {
    val cb = bandTable(minhashSignatures(corpus, idCol, textCol, k), idCol, k, bands)
      .toDF("corpus_id", "band_idx", "band_hash")
    val bb = bandTable(minhashSignatures(batch, idCol, textCol, k), idCol, k, bands)
      .toDF("batch_id", "band_idx", "band_hash")
    val cand = bb.join(cb, Seq("band_idx", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    val ct = corpus.select(col(idCol).as("corpus_id"),
      TextAnalysis.tokens(col(textCol)).as("toks_c"))
    val bt = batch.select(col(idCol).as("batch_id"),
      TextAnalysis.tokens(col(textCol)).as("toks_b"))
    cand.join(bt, "batch_id").join(ct, "corpus_id")
      .withColumn("jac", jaccard(col("toks_b"), col("toks_c")))
      .filter(col("jac") >= threshold)
      .select("batch_id", "corpus_id", "jac")
  }

  /** Global dense rank (1-based, ordered by `idCol`) WITHOUT the
    * single-partition window `row_number().over(Window.orderBy(id))`
    * plans — that spelling funnels the whole table through one task.
    * Two-stage cumulative-offset spelling instead: bucket ids by fixed
    * width, rank within each bucket (a PARTITIONED window), and add the
    * bucket's cumulative row offset. The only unpartitioned window runs
    * over the bucket-count summary — one row per OCCUPIED bucket, ≪ N —
    * and the offsets join back as a broadcast. Equals `row_number()
    * OVER (ORDER BY id)` exactly for unique ids at any scale.
    *
    * `bucketWidth` trades summary size against per-bucket skew: ids
    * clustered inside one width-sized range all land in one bucket
    * (that bucket's window sorts them in one task). The default (0) is
    * ADAPTIVE (r14, ADVICE r13): a fixed width fails exactly in the
    * sparse/surrogate-id case this op targets — random 64-bit ids land
    * ~1 row per fixed-width bucket, making the summary O(N) and the
    * "summary-sized" window/broadcast data-sized again. Adaptive width
    * = ceil(observed id range / targetBuckets) with targetBuckets =
    * clamp(n/4096, 1024, 2^20): the summary is bounded by 2^20 rows
    * (≤ ~16 MB broadcast, single-task cum-window over ≤ 1M rows) and
    * the average bucket holds ~4096 rows REGARDLESS of how ids are
    * distributed across their range. Costs one narrow min/max/count
    * pass. Residual (documented, not hidden): equi-width buckets are
    * quantile-free by design (no extra shuffle), so a cluster+outlier
    * distribution — 99% of ids inside one width, one id far away —
    * still concentrates that cluster's sort in one task; true
    * range-partitioned ranking would fix it at the cost of a sampled
    * boundary pass whose reuse-across-branches is not contractual.
    */
  /** The [[denseRank]] adaptive width: summary ≤ min(2^20, max(1024,
    * n/4096)) occupied buckets whatever the id distribution's RANGE is,
    * average bucket ~4096 rows. Pure so the bound is unit-testable.
    */
  private[ops] def adaptiveBucketWidth(lo: Long, hi: Long, n: Long): Long = {
    // hi ≥ lo, but the span of a full-64-bit id domain overflows —
    // saturate instead (the width only has to be monotone-consistent)
    val d = hi - lo
    val range = if (d < 0 || d == Long.MaxValue) Long.MaxValue else d + 1
    val targetBuckets = math.max(1024L, math.min(1L << 20, n / 4096))
    math.max(1L, range / targetBuckets + (if (range % targetBuckets == 0) 0 else 1))
  }

  def denseRank(
      df: DataFrame,
      idCol: String,
      rankCol: String = "rk",
      bucketWidth: Long = 0L,
  ): DataFrame = {
    val width =
      if (bucketWidth > 0) bucketWidth
      else {
        val r = df.agg(min(col(idCol).cast("long")),
          max(col(idCol).cast("long")), count(lit(1))).head()
        if (r.isNullAt(0)) 1L
        else adaptiveBucketWidth(r.getLong(0), r.getLong(1), r.getLong(2))
      }
    val w = org.apache.spark.sql.expressions.Window
    val b = df.withColumn("_b",
      floor(col(idCol).cast("double") / lit(width.toDouble)).cast("long"))
    val offsets = b.groupBy("_b").agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(
        sum(col("_n")).over(w.orderBy("_b")
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("_b", "_off")
    b.join(broadcast(offsets), "_b")
      .withColumn(rankCol,
        col("_off") + row_number().over(w.partitionBy("_b").orderBy(idCol)))
      .drop("_b", "_off")
  }

  /** Neighbor-window n-gram Jaccard pairs: each doc against the next
    * `window` docs in id order. Candidates come from an equi-join on a
    * DENSIFIED rank (([[denseRank]]) + offset — never a theta join), so
    * sparse or surrogate ids are safe: `doc_id + 3` being absent no
    * longer silently shrinks a doc's candidate set (the raw-id spelling
    * this replaced was a dense-id-only demonstration, SCALE.md §11).
    */
  def ngramNeighborPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 3,
  ): DataFrame = {
    val tk = denseRank(
      df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks")),
      idCol)
    val a = tk.select(col(idCol).as("doc_a"), col("toks").as("toks_a"),
      col("rk").as("rk_a"))
      .withColumn("off", explode(expr(s"sequence(1, $window)")))
      .withColumn("rk", col("rk_a") + col("off"))
    a.join(tk.select(col(idCol).as("doc_b"), col("toks").as("toks_b"),
      col("rk")), Seq("rk"))
      .select(col("doc_a"), col("doc_b"), jaccard(col("toks_a"), col("toks_b")).as("jac"))
  }

  /** Exact token-set Jaccard similarity between two token arrays —
    * integer set sizes, one double division (deterministic).
    */
  def jaccard(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    size(array_intersect(ad, bd)).cast("double") /
      size(array_union(ad, bd)).cast("double")
  }

  /** LSH candidates verified with exact Jaccard ≥ threshold: the full
    * near-dup pipeline (shingle → minhash → band → bucket join → verify).
    */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      k: Int = 8,
      bands: Int = 4,
      bucketCap: Int = 10000,
  ): DataFrame = {
    val cand = lshCandidatePairs(df, idCol, textCol, k, bands, bucketCap)
    val toks = df.select(
      col(idCol),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    cand
      .join(toks.toDF("doc_a", "toks_a"), "doc_a")
      .join(toks.toDF("doc_b", "toks_b"), "doc_b")
      .withColumn("jac", jaccard(col("toks_a"), col("toks_b")))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** Both CC loops' setup: the symmetrized edge list and the own-id
    * label table, each checkpointed. Symmetrize in ONE pass: inline()
    * emits the two directed copies of each pair from a single
    * evaluation of the upstream (shingle→minhash→LSH→verify) lineage,
    * straight into the edge checkpoint. */
  private def ccSetup(pairs: DataFrame): (Lineage.Gen, Lineage.Gen) = {
    val edges = Lineage.checkpoint(
      pairs.select(inline(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst"))))))
    (edges, Lineage.checkpoint(
      edges.df.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))))
  }

  /** Connected components over a duplicate-pair list: each doc gets the
    * minimum doc id reachable through pair edges as its `cluster_id` —
    * the step that turns pairwise near-dups into dedupable groups (keep
    * one representative per cluster, drop the rest).
    *
    * Distributed min-label propagation: labels start as own id; each
    * round every node takes the min of its own and its neighbours'
    * labels; fixed point when nothing changes. Each round is two
    * hash-partitioned operations (edge join + min aggregate); the driver
    * only sees the converged/changed counter, never data. Rounds ≈ the
    * cluster graph's diameter — small for duplicate clusters, which are
    * near-cliques (for adversarial long-chain graphs, switch to
    * large-star/small-star, same DataFrame skeleton). Rounds and
    * generations: [[graft.util.Fixpoint]].
    */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    val (edges, init) = ccSetup(pairs)
    // labels only ever DECREASE under min-propagation, so the label
    // witness settles exactly at the fixed point — one aggregate per
    // round instead of a join+diff
    val run = graft.util.Fixpoint.converge("duplicateClusters", Int.MaxValue,
        init.df, on = "label") { labels =>
      val neighbourLabels = edges.df
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      labels.union(neighbourLabels)
        .groupBy("id").agg(min("label").as("label"))
    }
    Seq(init, edges).foreach(Lineage.free)
    run.df.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components in O(log n) rounds: min-label hooking, a
    * pointer shortcut, AND per-round edge CONTRACTION — the
    * adversarial-graph-safe twin of [[duplicateClusters]].
    *
    * Plain propagation needs diameter rounds (a 10k-link near-dup CHAIN
    * — overlapping shingle drift across a crawl — means 10k shuffles).
    * Each mechanism alone has a blind spot, found empirically:
    *
    *  - Hook+shortcut without contraction (rounds ≤ 5): once regions
    *    collapse into stars around LOCAL-minimum roots, `l ← l(l)` is a
    *    no-op and the smaller label crawls root-to-root along boundary
    *    edges — the DBSCAN percolation-lattice core graph at sf0.1
    *    (74k cores, 237k edges, 1699 components) needed 50 rounds,
    *    the tail advancing one supernode per round.
    *  - Contraction without cumulative labels: on a monotone chain the
    *    per-round pointer map is an injective SHIFT (i → i−2), so
    *    contraction merges nothing and the chain shrinks by a constant
    *    per round.
    *
    * Combined they cover each other: each round (1) HOOKS every node to
    * the min label in its closed neighbourhood of the CONTRACTED edge
    * list, (2) SHORTCUTS through the cumulative label table
    * (`l ← l(l)`, the monotone-chain doubler), and (3) CONTRACTS the
    * edge list onto the updated labels, dropping self-loops and
    * duplicate super-edges — boundary edges between settled regions
    * become root-to-root edges immediately (the star-stall killer),
    * and the per-round shuffle SHRINKS as components close. The loop
    * ends when no contracted edge survives, which is also the
    * correctness proof of the fixed point: a stable label table makes
    * every remaining edge a self-loop in the next contraction, and a
    * uniform component label must be the component min because the min
    * node's own label never changes. Measured: the 50-round lattice
    * case converges in 8 rounds, 3.4× less wall-clock; the 200-link
    * ordered chain stays logarithmic.
    *
    * Output contract unchanged: (doc_id, cluster_id = min reachable
    * id). `maxRounds` bounds the hook rounds and the pointer chase
    * together (and lets specs assert the logarithmic convergence);
    * rounds and generations: [[graft.util.Fixpoint]].
    */
  def duplicateClustersFast(pairs: DataFrame, maxRounds: Int = 48): DataFrame = {
    val (edges0, labels0) = ccSetup(pairs)
    def shortcut(labels: DataFrame) = labels
      .join(labels.select(col("id").as("label"), col("label").as("label2")),
        Seq("label"), "left")
      .select(col("id"), coalesce(col("label2"), col("label")).as("label"))
    val hooks = graft.util.Fixpoint.loop("duplicateClustersFast", maxRounds,
      Seq("edges" -> edges0.df, "labels" -> labels0.df), Seq(
        "labels" -> { r =>
          // hook: min label over the closed neighbourhood of the
          // contracted (symmetric) edge list, then shortcut: label ←
          // label(label); labels are node ids, coalesce guards the root.
          // The hooked frame stays LAZY though the shortcut reads it
          // twice: an eager checkpoint of it measured SLOWER (r15 A/B ×3
          // at sf0.1: lazy 11.6–13.4 s vs eager 14.8–20.5 s per loop).
          shortcut(r("labels").union(
            r("edges").join(r("labels").withColumnRenamed("id", "src"), "src")
              .select(col("dst").as("id"), col("label")))
            .groupBy("id").agg(min("label").as("label")))
        },
        // contract: rewrite both endpoints onto the updated labels, drop
        // self-loops (settled regions) and duplicate super-edges
        "edges" -> { r =>
          r("edges")
            .join(r("labels").select(col("id").as("src"), col("label").as("_ls")),
              Seq("src"), "left")
            .select(coalesce(col("_ls"), col("src")).as("_s"), col("dst"))
            .join(r("labels").select(col("id").as("dst"), col("label").as("_ld")),
              Seq("dst"), "left")
            .select(col("_s").as("src"), coalesce(col("_ld"), col("dst")).as("dst"))
            .filter(col("src") =!= col("dst"))
            .distinct()
        }),
      settled = Some(_("edges").isEmpty))
    // pointer-chase to the fixpoint: at loop exit every REGION ROOT
    // carries its component min (a root only settles once no contracted
    // edge touches its region), but contraction may have stranded
    // interior nodes a few pointer hops behind — their edges were
    // dropped while their root kept learning. Each chase round doubles
    // the compressed depth (l ← l(l)), so this is log(strand depth)
    // label-table self-joins, no edge shuffles; the label sum is
    // strictly decreasing until the fixed point.
    val chase = graft.util.Fixpoint.converge("duplicateClustersFast",
      maxRounds - hooks.rounds, hooks("labels"), on = "label")(shortcut)
    hooks.free()
    Seq(edges0, labels0).foreach(Lineage.free)
    chase.df.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The dedup pipeline's OUTPUT stage: drop every non-canonical cluster
    * member, keeping one representative (the min-id doc — exactly the
    * cluster label, since clusters are min-label connected components).
    * Docs that never appeared in a verified pair pass through untouched.
    *
    * Scale shape: the non-canonical set is `duplication_rate × corpus`,
    * usually a small fraction — it arrives as a broadcastable frame and
    * the removal is a broadcast LEFT ANTI join (no shuffle of the
    * corpus). With a pathological duplication rate the anti join
    * degrades gracefully to shuffle-hash on the unique id.
    */
  def canonicalDocs(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[canonicalDocs]] with a QUALITY rule: among each near-dup
    * cluster's members keep the highest-`scoreCol` doc (id-asc
    * tiebreak), not the min-id one — the production corpus rule
    * ("among duplicates keep the longest / best-scoring copy").
    * Singletons pass through untouched.
    *
    * Scale shape: losers come from ONE pass over the cluster-member
    * frame — a row_number window partitioned by cluster id (groups are
    * cluster-sized, so the per-partition sort is bounded by the largest
    * near-dup cluster), keeping everything ranked past 1. The earlier
    * max_by-then-rejoin formulation consumed the scored frame twice
    * (winner aggregate + loser join), re-reading the doc scan and
    * cluster blocks per consumer. Scores join clusters on the doc id
    * (uniform key); the corpus never shuffles.
    */
  def canonicalDocsBy(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      scoreCol: String): DataFrame = {
    // total order (score DESC, id ASC): rank 1 is the highest score
    // with the LOWEST id on ties — same winner as max_by over
    // struct(score, -id)
    val scored = clusters.join(
      docs.select(col(idCol).as("doc_id"), col(scoreCol).as("_sc")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("_sc").desc, col("doc_id").asc)
    val losers = scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup pairs: LSH-bucket the vectors (codegen'd
    * random-hyperplane signature, [[Similarity.lshBucket]]), self-join
    * within buckets, verify candidates with exact cosine ≥ threshold.
    *
    * The all-pairs matrix is never materialized — the self-join is an
    * equi-join on the bucket id, so at 100 TB the shuffle is
    * hash-partitioned on a uniform key and each task compares only its
    * bucket. Recall follows the hyperplane-agreement probability
    * (1 − θ/π)^nBits; raise nBits for precision, add signature bands
    * (run with several bit offsets) for recall.
    */
  def embeddingDupPairs(
      emb: DataFrame, // (id, vec: array<float>)
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 4,
  ): DataFrame = {
    val withBucket = emb.select(
      col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), nBits).as("bucket"))
    val a = withBucket.toDF("id_a", "va", "bucket")
    val b = withBucket.toDF("id_b", "vb", "bucket")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic dedup (the SemDeDup recipe — Abbas et al., 2023: cluster
    * the embedding space, then drop within-cluster semantic redundancy):
    * k-means partitions the corpus into semantically coherent cells, and
    * only WITHIN a cell are pairwise cosines computed — the step that
    * makes semantic dedup tractable, since the pair scan is bounded by
    * cluster size, never corpus². A vector is dropped iff some
    * smaller-id vector in its cluster is cosine-similar above the
    * threshold (min-id dominance — the deterministic keep-one rule,
    * matching [[exactDuplicates]]' representative choice).
    *
    * Scale shape: the assignment inherits [[Clustering.kmeans]]'s
    * broadcast-Lloyd plan; the pair stage is an equi-join on `cluster`
    * whose fan-in is the cell size — k scales WITH the corpus (SemDeDup
    * uses ~100k clusters at web scale) precisely to keep cells bounded;
    * the removal is a broadcast anti join of the (small) loser set.
    *
    * Returns the SURVIVORS: (vec_id, cluster).
    */
  def semanticDupSurvivors(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      threshold: Double = 0.35,
  ): DataFrame = {
    val assign = Clustering.kmeans(emb, idCol, vecCol, k, iters)
      .select("vec_id", "cluster")
    val vecs = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val av = assign.join(vecs, "vec_id")
    val a = av.toDF("id_a", "cluster", "va")
    val b = av.toDF("id_b", "cluster", "vb")
    val losers = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    assign.join(losers, Seq("vec_id"), "left_anti")
  }

  /** SimHash fingerprint per document (custom Catalyst expression,
    * codegen'd); near-dups have small Hamming distance.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      SimHash64.simhash64(TextAnalysis.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs via 4×16-bit banding (Manku et al., WWW
    * 2007): two fingerprints within Hamming distance ≤ 3 must agree on
    * at least one of 4 disjoint 16-bit bands (pigeonhole — 3 flipped
    * bits can touch at most 3 bands), so banded equi-join + exact
    * `bit_count(xor)` verify finds EVERY such pair: exact recall, no
    * probabilistic tuning, unlike the MinHash-LSH path.
    *
    * Scale shape matches the LSH family: candidates come from an
    * equi-join on (band_idx, band_value) — never all-pairs — and the
    * Hamming verify is one codegen'd integer op per candidate. A
    * boilerplate-heavy corpus concentrating one band value has the same
    * oversized-bucket hazard as MinHash banding; route hot band values
    * through [[lshCandidatePairs]]'s cap-and-star strategy if profiling
    * shows it.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
  ): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4x16 banding guarantees recall only for maxDist <= 3, got $maxDist")
    val sh = simhashes(df, idCol, textCol)
    val bands = sh.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(i => struct(
        lit(i).as("bi"),
        shiftright(col("simhash"), 16 * i).bitwiseAND(lit(0xFFFFL)).as("bv"))): _*))
        .as("band"))
      .select(col(idCol), col("simhash"),
        col("band.bi").as("bi"), col("band.bv").as("bv"))
    val a = bands.toDF("doc_a", "sh_a", "bi", "bv")
    val b = bands.toDF("doc_b", "sh_b", "bi", "bv")
    a.join(b, Seq("bi", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct() // multi-band hits once
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Cross-document duplicated-SPAN detection — the span-level member
    * of the dedup family. Doc-level near-dup ops miss the dominant
    * duplication mode in web corpora: long verbatim substrings
    * (boilerplate, quotes, licenses) embedded in otherwise-distinct
    * documents (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"). Exact suffix arrays don't distribute;
    * the relational equivalent is winnowed w-gram fingerprinting
    * (Schleimer et al. 2003, the MOSS scheme): hash every w-token
    * window, KEEP a position iff its hash is the minimum of the
    * `winnow` trailing hashes. Selection is content-local — two copies
    * of a span select the same interior positions — so grams shared
    * verbatim by ≥ `minDocs` distinct docs mark duplicated regions,
    * and overlapping marks merge into islands (the q_islands shape).
    *
    * Output per input doc (all docs, zeros where nothing matched):
    * `(doc_id, n_grams, n_sel, n_dup, n_spans, dup_tokens)` — w-gram
    * count, winnow-selected count, selected grams shared cross-doc,
    * merged duplicated islands, and tokens covered by those islands.
    * Spans of ≥ ~w+2·winnow tokens are detected with near-certainty;
    * matching joins on the verbatim gram text, so after the join there
    * are NO hash-collision false positives to verify away.
    *
    * 100 TB shape: the gram table is a per-doc array transform (no
    * join, no shuffle); winnowing is a bounded trailing-window
    * function partitioned by doc; the ONLY corpus-wide shuffle keys on
    * the selected gram string — md5-uniform selection at ~1/winnow
    * density, so the exchanged volume is tokens/winnow, not tokens —
    * and the island merge is again per-doc. Nothing is ever all-pairs.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      winnow: Int = 4,
      minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    val base = df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
    // guard: sequence(0, n-w) DESCENDS when n < w — short docs must
    // yield an empty gram array, not phantom negative positions
    val gramArr = when(col("n") >= w,
      transform(sequence(lit(0), col("n") - w),
        p => concat_ws(" ", slice(col("toks"), p + 1, lit(w)))))
      .otherwise(array().cast("array<string>"))
    val grams = base
      .select(col("doc_id"), posexplode(gramArr).as(Seq("p", "gram")))
      .withColumn("h", md5(col("gram")))
    val trailing = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(winnow - 1), Window.currentRow)
    val sel = grams
      .withColumn("_m", min("h").over(trailing))
      .filter(col("h") === col("_m"))
      .select("doc_id", "p", "gram")
    val dupGrams = sel.groupBy("gram")
      .agg(countDistinct("doc_id").as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select("gram")
    val dup = sel.join(dupGrams, "gram")
    // merge overlapping marks: covered interval [p, p+w-1]; a gap
    // opens when the next mark starts past the previous cover
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val isl = dup
      .withColumn("_new",
        when(lag("p", 1).over(byPos).isNull ||
          col("p") > lag("p", 1).over(byPos) + (w - 1), 1).otherwise(0))
      .withColumn("_sid", sum("_new").over(byPos))
      .groupBy("doc_id", "_sid")
      .agg(min("p").as("p0"), (max("p") + w).as("p1"))
    val perDocSel = sel.groupBy("doc_id").agg(count(lit(1)).as("n_sel"))
    val perDocDup = dup.groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val perDocSpan = isl.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("p1") - col("p0")).as("dup_tokens"))
    base
      .select(col("doc_id"),
        when(col("n") >= w, (col("n") - w + 1).cast("long")).otherwise(0L)
          .as("n_grams"))
      .join(perDocSel, Seq("doc_id"), "left")
      .join(perDocDup, Seq("doc_id"), "left")
      .join(perDocSpan, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_sel", "n_dup", "n_spans", "dup_tokens"))
  }
}
