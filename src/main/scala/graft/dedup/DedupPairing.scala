package graft.dedup

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pair-producing dedup operators (round-9 split of the 2,100-line
  * DedupOps object — pure move, no semantic change): exact dedup,
  * n-gram Jaccard verify, MinHash+LSH banding, SimHash, embedding
  * near-dup, SemDeDup pruning. Mixed into [[DedupOps]]; shared
  * members widened to private[dedup] where a sibling trait uses them.
  */
private[dedup] trait DedupPairing { self: DedupOps.type =>
  private[dedup] val Tau = 0.5 // near-dup Jaccard threshold

  /** v16's shingle-containment threshold — ONE definition shared by
    * the standalone gate (Spark default + oracle SQL) and the st25
    * ingest DAG (review finding, r8: independent 0.05 literals let
    * the composed gate silently diverge from the operator it
    * composes). */
  private[graft] val ContamTau = 0.05

  /** Ceiling for the FIXED benchmark slice (v16c/v66b): benchmark =
    * `id % 97 == 0 AND id < 500` — six ids {0,97,194,291,388,485},
    * present at every driver SF and CONSTANT under any corpus
    * blow-up. The registry v16/v16b/v66 keep the unbounded `% 97`
    * slice (the fixture that co-grows with the corpus and reads
    * super-linear at ×100 — SCALING.md); these `*_fixedbench` twins
    * grade the DEPLOYMENT shape, where the benchmark is an external
    * fixed-size eval set (the st21c convention applied to decontam). */
  private[graft] val FixedBenchCeil = 500L

  /** Distinct 3-word shingle strings of `text` — the fused single-pass
    * expression; string output keeps the DuckDB oracle's shingle
    * semantics byte-for-byte. */
  private[dedup] def shingles: Column =
    graft.functions.ShingleFunctions.shingle_strings(col("text"))

  /** V1: exact dedup — hash-groupBy on the full text; keeps min doc_id
    * (the Spark-native `dropDuplicates` semantics, made deterministic). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("text_hash"))
      .orderBy(col("keep_id"))

  /** Per-doc distinct shingle sets with sizes. */
  private[dedup] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), shingles.as("sh"))
      .withColumn("sz", size(col("sh")))

  /** V2a: n-gram (3-word shingle) Jaccard near-dup pairs — the exact
    * count-based form: explode shingles, self-join on shingle, count
    * intersections in a hash aggregate. MEASURED faster than the
    * prefix-filtered alternative on this corpus (4.2 s vs 9.4 s at
    * sf0.1): with ~52 shingles/doc, weak frequency skew and τ=0.5, the
    * prefix join still emits ~409k candidates and the verify join drags
    * two full string arrays per candidate, while this form shuffles
    * narrow (i,j) rows straight into partial aggregation. See
    * [[ngramJaccardPrefix]] for the regime where prefix filtering wins. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    // memoized ([[graft.util.Memo.frame]]): FIVE consumers per process
    // share this one exact plan (the v2a entry, v2c2's witness baseline,
    // v2e's pair graph, v2f's apply step, and DedupSpec's equality pins)
    // — computed once, stored, read four more times. ORDER BY re-applied
    // on the (tiny) read side; the pair set itself is deterministic.
    graft.util.Memo.frame(spark, "v2a_jaccard", dir)(
      ngramJaccardPlan(spark, dir))
      .orderBy(col("i"), col("j"))

  private[graft] def ngramJaccardPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val sets = shingleSets(spark, dir)
    // cache: both join sides derive from the same shingle explosion
    val ex = sets.select(col("doc_id"), col("sz"),
      explode(col("sh")).as("shingle")).cache()
    val a = ex.select(col("doc_id").as("i"), col("sz").as("sz_i"),
      col("shingle"))
    val b = ex.select(col("doc_id").as("j"), col("sz").as("sz_j"),
      col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"), col("sz_i"), col("sz_j"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", Exact.ratio6(col("inter"),
        col("sz_i") + col("sz_j") - col("inter")))
      .filter(col("jaccard") >= Tau)
      .select(col("i"), col("j"), col("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  /** EXACT alternative via prefix filtering (the SSJoin/PPJoin lemma):
    * under any global total order on shingles, a pair with J(A,B) ≥ τ
    * MUST share a shingle inside both documents' prefixes of length
    * |S| - ⌈τ·|S|⌉ + 1; ordering by (document frequency asc, shingle)
    * makes the prefix join touch only rare-shingle occurrences.
    * Equality with [[ngramJaccard]] is pinned in DedupSpec. The win
    * condition is long documents, high τ and heavy df skew (prefix
    * shrinks with τ, and frequent shingles — the quadratic join terms —
    * fall outside it); on THIS corpus (short docs, τ=0.5, max df 25)
    * the candidate-verify join costs more than the count-based form,
    * so it is the documented alternative, not the registered entry. */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(spark, dir).cache()
    val ex = sets.select(col("doc_id"), col("sz"),
      explode(col("sh")).as("shingle"))
    val freq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val pref = ex.join(freq, Seq("shingle"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * Tau) + 1)
      .select(col("doc_id"), col("shingle"))
    val cands = pref.select(col("doc_id").as("i"), col("shingle"))
      .join(pref.select(col("doc_id").as("j"), col("shingle")),
        Seq("shingle"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    verifyJaccard(cands, sets)
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — shared by the prefix-filtered exact join and MinHash LSH. */
  private[dedup] def verifyJaccard(cands: DataFrame, sets: DataFrame): DataFrame = {
    val si = sets.select(col("doc_id").as("i"), col("sh").as("sh_i"),
      col("sz").as("sz_i"))
    val sj = sets.select(col("doc_id").as("j"), col("sh").as("sh_j"),
      col("sz").as("sz_j"))
    cands.join(si, Seq("i")).join(sj, Seq("j"))
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jaccard", Exact.ratio6(col("inter"),
        col("sz_i") + col("sz_j") - col("inter")))
      .filter(col("jaccard") >= Tau)
      .select(col("i"), col("j"), col("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  // ---- MinHash + LSH banding (V2b) ----
  private[dedup] val NumPerm = 32
  private[dedup] val Bands = 8 // 4 rows per band
  private[graft] val Prime = 2147483647L
  /** Fixed permutation coefficients (seeded — stable across runs). */
  private[graft] val coefs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumPerm)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures: fused shingle hashes
    * ([[graft.functions.ShingleHashes]]) folded through all NumPerm
    * affine permutations in ONE compiled pass per row
    * ([[graft.functions.MinHashSig]]) — a pure per-row projection.
    * (The previous form exploded hashes into a 32-min groupBy: a
    * corpus-sized SHUFFLE for numbers that never leave the row;
    * FunctionsSpec pins bit-equality of the two spellings.) The
    * null filter matches the explode form (null text had no rows to
    * aggregate). The `size(sh) > 0` guard below is DEFENSIVE-ONLY
    * today: [[graft.functions.ShingleHashes]] emits max(n-2, 1) ≥ 1
    * shingles for ANY non-null text (a <3-word doc gets one
    * whole-text shingle and participates in banding normally —
    * round-10 review corrected the earlier claim that such docs are
    * dropped here). The guard stays because an all-sentinel
    * (Long.MaxValue) signature — possible only if the shingle rule
    * ever changes to emit empty arrays — would make every tiny doc a
    * pairwise LSH candidate of every other (an O(m²) hot bucket) and
    * feed 0/0 into the Jaccard verify. */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .withColumn("sh",
        graft.functions.ShingleFunctions.shingle_hashes(col("text")))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.MinHashFunctions.minhash_sig(
        col("sh"), coefs, Prime))
      .select(Seq(col("doc_id")) ++ (0 until NumPerm).map(k =>
        col("sig").getItem(k).as(s"m$k")): _*)

  /** The 8 LSH band hashes over signature columns m0..m31 — ONE
    * spelling for the batch banding (groupBy-built signatures) and the
    * streaming in-row signature path (st24), so the stored index and
    * the stream probe cannot disagree on a bucket. */
  private[dedup] def bandHashCols: Seq[Column] =
    (0 until Bands).map { bi =>
      hash((4 * bi until 4 * bi + 4).map(k => col(s"m$k")): _*).cast("long")
    }

  /** (doc_id, band_idx, band_hash) LSH bucket rows — the banding step
    * shared by the all-pairs candidate join (v2b) and the stored band
    * INDEX the incremental probe (v20c) maintains at ingest. */
  private[dedup] def bandedBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array(bandHashCols: _*)).as(Seq("band_idx", "band_hash")))

  /** Candidate pairs sharing at least one LSH band bucket. */
  private[graft] def lshCandidates(sigs: DataFrame): DataFrame = {
    val banded = bandedBuckets(sigs)
    val x = banded.select(col("doc_id").as("i"), col("band_idx"),
      col("band_hash"))
    val y = banded.select(col("doc_id").as("j"), col("band_idx"),
      col("band_hash"))
    x.join(y, Seq("band_idx", "band_hash"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
  }

  /** V2b: MinHash+LSH near-dup — banded candidates, then exact-Jaccard
    * verification restricted to candidates. Same output contract as
    * [[ngramJaccard]]; the scalable path. No oracle (murmur3 is
    * Spark-specific) — equivalence to V2a is pinned in DedupSpec. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(spark, dir).cache()
    val cands = lshCandidates(signatures(Tables.documents(spark, dir)))
    verifyJaccard(cands, sets)
  }

  // ---- SimHash (V2c) ----

  /** 64-bit SimHash per doc over 3-word shingle features (order-sensitive;
    * unigram features saturate on small vocabularies — every doc shares
    * nearly the same word SET — while shingles track sequence similarity,
    * aligning SimHash distance with shingle-Jaccard).
    *
    * Computed WITHOUT a shuffle: hash the shingle array once per row and
    * fold it through the codegen'd [[graft.functions.SimHash64]]
    * expression — one projection, map-side only. (The explode + 64-way
    * groupBy form costs a 500k-row shuffle at sf0.1; 64 `size(filter())`
    * higher-order calls are CodegenFallback and slower still.) */
  def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashFunctions.simhash64(
        graft.functions.ShingleFunctions.shingle_hashes(col("text")))
        .as("simhash"))

  /** V2c: SimHash near-dup — pigeonhole block join (8 x 8-bit blocks: a
    * pair within hamming ≤ 7 MUST agree on at least one block), then
    * exact hamming filter. Linear-shuffle candidate generation, like
    * MinHash banding. */
  def simhashDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 7): DataFrame = {
    val sigs = simhashes(Tables.documents(spark, dir))
    val blocks = (0 until 8).map(k =>
      shiftright(col("simhash"), 8 * k).bitwiseAND(lit(0xFFL)))
    val keyed = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(blocks: _*)).as(Seq("blk_idx", "blk")))
    val x = keyed.select(col("doc_id").as("i"), col("simhash").as("h_i"),
      col("blk_idx"), col("blk"))
    val y = keyed.select(col("doc_id").as("j"), col("simhash").as("h_j"),
      col("blk_idx"), col("blk"))
    x.join(y, Seq("blk_idx", "blk"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("h_i").bitwiseXOR(col("h_j"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("i"), col("j"))
  }

  /** Embeddings with double-cast vectors and norms — the shared
    * projection from [[graft.sim.SimilarityOps]] (sequential-fold dot,
    * bit-identical to the oracle's list_dot_product). */
  private[dedup] def normedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    graft.sim.SimilarityOps.withNorm(Tables.embeddings(spark, dir))

  /** Number of id-blocks for the exact pair join: bounds every task to a
    * block-pair's worth of comparisons and gives B-way parallelism. */
  private[dedup] val PairBlocks = 64

  /** V2d: embedding-cosine near-dup pairs (cos ≥ 0.4) — the EXACT
    * threshold join, executed as a block-partitioned shuffle join: the
    * left side keys each vector by `vec_id % B`, the right side is
    * replicated to all B blocks, and the join runs B-way parallel with no
    * broadcast of an unbounded table side (the earlier theta-join form
    * compiled to a single-task BroadcastNestedLoopJoin — 12.6 s at sf0.1
    * and a fact-sized broadcast at scale).
    *
    * Why this stays the oracle entry instead of an LSH/IVF candidate
    * path: at τ=0.4 the qualifying pairs are the tail of a CONTINUOUS
    * cosine distribution (max pairwise cos ≈ 0.51 in the testdata — no
    * planted high-cosine dups), so no candidate scheme prunes without
    * losing pairs. Measured on this data: 1-probe IVF cells recall 0.19
    * (nlist=16); 4-probe recall 0.94 while touching 72% of ALL pairs.
    * Exact-at-threshold is therefore quadratic by definition; the
    * sub-quadratic near-dup paths for genuinely-near thresholds are V2b
    * (MinHash LSH), V2c (SimHash) and V3c (celled kNN), plus
    * [[embeddingNearDupIvf]] as the candidates+verify shape on this very
    * query (registered, recall pinned in spec). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val e = normedEmbeddings(spark, dir)
    val a = e.select(pmod(col("vec_id"), lit(PairBlocks)).cast("int")
        .as("blk"),
      col("vec_id").as("i"), col("v").as("v_i"), col("nrm").as("n_i"))
    val b = e.select(col("vec_id").as("j"), col("v").as("v_j"),
      col("nrm").as("n_j"),
      explode(sequence(lit(0), lit(PairBlocks - 1))).as("blk"))
    // the hint marks the BUILD side: it must be `a` (N/B rows per block),
    // NOT the replicated `b` whose every block partition holds the whole
    // table — hinting b would rebuild the unbounded in-memory side this
    // join exists to avoid. PlanSpec pins BuildLeft.
    a.hint("shuffle_hash").join(b, Seq("blk"))
      .filter(col("i") < col("j")) // before the dot: only N²/2 evals
      .withColumn("cos", round(
        dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("i"), col("j"), col("cos"))
      .orderBy(col("i"), col("j"))
  }

  /** V50: SemDeDup-style semantic pruning — the dedup DECISION layered
    * on the near-dup machinery: within each semantic block (the `label`
    * column — a cluster assignment stands exactly here in the SemDeDup
    * paper; v3b's IVF cells are the unsupervised drop-in), a vector is
    * pruned when some LOWER-ID vector of the same block sits above the
    * cosine threshold — the deterministic keep-first rule, so exactly
    * one representative of every tight semantic neighborhood survives.
    * Output carries the pruning witness (max cosine against any prior
    * same-block vector, 6 dp).
    *
    * Scale: the pair work is quadratic ONLY within a block — which is
    * the entire point of SemDeDup: cluster first so the quadratic term
    * is bounded by cluster size, not corpus size. An unguarded
    * block-keyed join would still put each WHOLE block on one task, so
    * one oversized semantic cluster (exactly what real corpora have)
    * becomes a single-task quadratic blowup. Guard: the v3c subcell
    * salt, adapted to keep the keep-first rule EXACT — a row j must see
    * every lower-id same-block row i, so the higher-id (probe) side is
    * salted into ONE of `n_sub = ceil(block_n / maxBlockSize)` subcells
    * by vec_id hash while the lower-id (prior) side is REPLICATED across
    * all subcells. Every i<j pair meets exactly once (j lives in one
    * subcell; i is present in all of them), so the result — and the
    * DuckDB oracle — is bit-identical to the unsalted join, while each
    * task's pair product drops from block_n² to ~block_n·maxBlockSize
    * and tasks parallelize n_sub-ways. Replication cost is
    * block_n·n_sub rows ≈ block_n²/maxBlockSize — linear in the number
    * of pairs each i-row must anyway serve, not a new term. At sane
    * block sizes (n_sub = 1) the plan is the plain block join.
    * DedupSpec pins the bound on an all-one-label fixture. */
  def semanticPrune(spark: SparkSession, dir: String,
      tau: Double = 0.35, maxBlockSize: Int = 4096): DataFrame = {
    saltedSemanticPrune(labelBlocked(spark, dir), tau, maxBlockSize)
      .withColumnRenamed("blk", "label")
      .select(col("vec_id"), col("label"), col("max_prior_cos"),
        col("pruned"))
  }

  /** The label-blocked (blk, vec_id, v, nrm) projection [[semanticPrune]]
    * runs over — label INLINE next to v/nrm: one scan, no recovery join
    * (review finding, round 6). */
  private def labelBlocked(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").as("blk"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
  }

  /** The PRUNED ids alone — (vec_id) where max_prior_cos >= tau. v66's
    * ledger consumes only this flag set; going through
    * [[semanticPrune]]'s full report pays an extra embeddings scan and
    * a join to restore the unpruned rows a flag consumer immediately
    * drops (round 13). Same salted pair join, same verdict set:
    * pruned == (max_prior_cos IS NOT NULL AND >= tau), which is the
    * post-filter survivor set of [[saltedMaxPrior]] verbatim. */
  private[graft] def semanticPruneFlags(spark: SparkSession, dir: String,
      tau: Double = 0.35, maxBlockSize: Int = 4096): DataFrame =
    saltedMaxPrior(labelBlocked(spark, dir), maxBlockSize)
      .filter(col("max_prior_cos") >= tau)
      .select(col("j").as("vec_id"))

  /** The salted keep-first prune over any (blk, vec_id, v, nrm) frame —
    * the shared core of v50 (blk = label) and v50b (blk = v47 k-means
    * cell). See [[semanticPrune]]'s scaladoc for the exactness argument:
    * the j side lands in one subcell, the i side is replicated across
    * all of them, so every i<j pair meets exactly once and the result
    * is bit-identical to the unsalted block join. */
  private[graft] def saltedSemanticPrune(e: DataFrame, tau: Double,
      maxBlockSize: Int): DataFrame = {
    val maxPrior = saltedMaxPrior(e, maxBlockSize)
    e.select(col("vec_id"), col("blk"))
      .join(maxPrior, col("vec_id") === col("j"), "left")
      .select(col("vec_id"), col("blk"), col("max_prior_cos"),
        coalesce(col("max_prior_cos") >= tau, lit(false)).as("pruned"))
      .orderBy(col("vec_id"))
  }

  /** The salted pair-join core: (j, max_prior_cos) per vector that has
    * at least one same-block predecessor — see [[saltedSemanticPrune]]
    * for the exactness argument (the j side lands in one subcell, the
    * i side is replicated across all of them, so every i<j pair meets
    * exactly once). */
  private[graft] def saltedMaxPrior(e: DataFrame,
      maxBlockSize: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val sizes = e.groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
    // ≤ |blocks| rows — broadcastable by construction
    val sized = e.join(broadcast(sizes), Seq("blk"))
      .withColumn("n_sub",
        greatest(lit(1L), ceil(col("blk_n") / maxBlockSize)).cast("int"))
    val a = sized.select(col("blk"),
      explode(sequence(lit(0), col("n_sub") - 1)).as("sub"),
      col("vec_id").as("i"), col("v").as("v_i"), col("nrm").as("n_i"))
    val b = sized.select(col("blk"),
      pmod(xxhash64(col("vec_id")), col("n_sub")).cast("int").as("sub"),
      col("vec_id").as("j"), col("v").as("v_j"), col("nrm").as("n_j"))
    // build the UNreplicated j side (~maxBlockSize rows per (blk,sub)
    // partition); the replicated i side streams — same convention as
    // the v3c cell join
    a.join(b.hint("shuffle_hash"), Seq("blk", "sub"))
      .filter(col("i") < col("j"))
      .withColumn("cos", round(
        dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .groupBy(col("j")).agg(max(col("cos")).as("max_prior_cos"))
  }

  /** V50b: the UNSUPERVISED SemDeDup composition — the form the paper
    * actually runs: blocks are not a given label but the v47 exact
    * k-means cells (cluster first, then keep-first-prune within each
    * cluster). Every stage is oracle-checked: DuckDB reruns the
    * identical integer-micro Lloyd unroll (the lloydChainSql
    * convention), derives the same cell map, and hash-matches the prune
    * verdicts — so even the cluster assignment feeding the dedup
    * decision is engine-agreed. Same salted pair join as v50. */
  def semanticPruneKmeans(spark: SparkSession, dir: String,
      tau: Double = 0.35, maxBlockSize: Int = 4096,
      cellK: Int = graft.sim.ClusterOps.K): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    // v50c's deployment lever: grow the CELL COUNT with the corpus
    // (cells of ~250 — the adaptiveCoarseK convention) so expected
    // block size stays constant and the within-block pair work stays
    // LINEAR in corpus size. coarseAt IS the aliasing seam: at
    // cellK == K it returns the shared v47 Lloyd run verbatim — which
    // is every driver SF — so v50c replays v50b bit-for-bit and
    // shares its oracle, st21c-style. A fixed cell count — like v50's
    // fixed label set — makes blocks co-grow and the pair term
    // quadratic (SCALING.md round 12).
    val cells = graft.sim.ClusterOps.coarseAt(spark, dir, cellK)._1
      .select(col("vec_id"), col("cid"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      .join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("cid").as("blk"), col("v"), col("nrm"))
    saltedSemanticPrune(e, tau, maxBlockSize)
      .withColumnRenamed("blk", "cluster")
      .select(col("vec_id"), col("cluster"), col("max_prior_cos"),
        col("pruned"))
  }

  private[dedup] lazy val semanticPruneKmeansSql: String =
    s"""${graft.sim.ClusterOps.lloydChainSql},
       | e AS (SELECT em.vec_id, fa.cid,
       |   CAST(em.embedding AS DOUBLE[]) AS v,
       |   sqrt(list_dot_product(CAST(em.embedding AS DOUBLE[]),
       |        CAST(em.embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings em JOIN fa ON fa.vec_id = em.vec_id),
       | p AS (SELECT b.vec_id AS j,
       |   max(round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6)) AS mpc
       |  FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  GROUP BY 1)
       |SELECT e.vec_id, e.cid AS cluster, p.mpc AS max_prior_cos,
       | coalesce(p.mpc >= 0.35, false) AS pruned
       |FROM e LEFT JOIN p ON p.j = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

  private[dedup] val semanticPruneSql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |       CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
       | p AS (SELECT b.vec_id AS j,
       |   max(round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6)) AS mpc
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  GROUP BY 1)
       |SELECT e.vec_id, e.label, p.mpc AS max_prior_cos,
       | coalesce(p.mpc >= 0.35, false) AS pruned
       |FROM e LEFT JOIN p ON p.j = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

}
