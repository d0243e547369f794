package graft.operators

import graft.functions.{ArrayDot, ArraySqDist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate / exact nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Determinism contract: every float is cast to DOUBLE before arithmetic and
  * sums run left-to-right over the array (Spark `aggregate`), matching what a
  * sequential engine computes bit-for-bit; reported similarities are rounded
  * BEFORE ordering so ties sort identically in any engine.
  *
  * Scale notes (100 TB): brute force is an embarrassingly-parallel scan —
  * the query vector broadcasts, each partition computes local top-k, and only
  * k rows per partition reach the driver-side TakeOrderedAndProject. The LSH
  * path prunes that scan to matching hash buckets: the bucket id is a
  * partition-friendly key, so the corpus can be written bucketBy(bucket) and a
  * probe touches only its buckets' files (partition pruning at the source).
  */
object Similarity {

  /** embedding cast to DOUBLE elements (fp determinism + no float drift).
    * A native array-to-array Cast, not a transform lambda: Cast is
    * codegen'd, the lambda form is interpreted — and every float widens
    * to double exactly, so the values are identical either way. */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine of two double-array columns on the native `array_dot`
    * kernel — structurally identical to the lambda `cosine` (dot / norms,
    * each dot left-to-right), so values are bit-identical; the lambda form
    * pays ~6 interpreted dispatches per element per evaluation, which
    * dominates full-corpus and candidate-set scans (see ArrayDot). */
  private def nativeCosine(a: Column, b: Column): Column =
    ArrayDot(a, b) / (sqrt(ArrayDot(a, a)) * sqrt(ArrayDot(b, b)))

  /** Left-to-right dot product of two equally-sized double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** round(x, d) with the ZERO SIGN normalized: quantizes through an
    * integer — `(round(x·10^d) as long) / 10^d` — so a tiny-negative
    * value that rounds to zero emits +0.0 in BOTH Spark and DuckDB.
    * Spark's BigDecimal HALF_UP round drops the sign (+0.0) where
    * DuckDB's round keeps it (−0.0); the driver's correctness hash is
    * bit-sensitive to the difference (r16's one FAIL). Use this, not
    * bare round(x, d), for any rounded score that can land on exact
    * zero from a negative (cosines, centered scores). Oracle twin:
    * `round(x * 10^d)::BIGINT / 10^d.0`. */
  def roundZ(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    round(c * lit(p), 0).cast("long") / lit(p)
  }

  /** Matryoshka truncation (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): keep the first `dims` coordinates and
    * L2-renormalize — the nested-prefix trick for progressively cheaper
    * ANN over the same embeddings. Map-only column transform; a zero
    * prefix stays zero rather than dividing by its zero norm. */
  def matryoshkaTruncate(emb: DataFrame, dims: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val v = slice(asDouble(col(vecCol)), 1, dims)
    val n = norm(v)
    // the scalar norm rides along as an array_repeat argument so it is
    // evaluated ONCE per row — referencing `n` directly inside the lambda
    // would re-run the whole O(dims) norm aggregate per element (Spark
    // higher-order lambdas are interpreted with no loop-invariant
    // hoisting, and CollapseProject inlines single-use aliases back in)
    val scaled = zip_with(v, array_repeat(n, size(v)),
      (x, nn) => when(nn > 0, x / nn).otherwise(x))
    emb.select(col(idCol), scaled.as("vec_trunc"), n.as("norm_trunc"))
  }

  /** Symmetric per-vector int8 quantization (max-abs scaling) — the
    * standard embedding-compression step for ANN serving (4x smaller than
    * fp32, inner products survive to ~1%). Map-only; quantized values are
    * computed as round(x * 127 / maxAbs) in one double expression chain so
    * the integers are bit-reproducible across engines (no intermediate
    * rounded scale). Returns (id, max_abs, q: array of long in [-127,127]);
    * the serving-side scale is max_abs / 127. */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val maxAbs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    emb.select(col(idCol), maxAbs.as("max_abs"), int8Codes(v).as("q"))
  }

  /** The [[quantizeInt8]] code array for one vector expression — ONE
    * definition shared by the quantization report and the SQ8 search so
    * the two can never drift. */
  def int8Codes(v: Column): Column = {
    val maxAbs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    // max_abs rides along as an array_repeat argument — one evaluation per
    // row instead of one per element (see matryoshkaTruncate)
    zip_with(v, array_repeat(maxAbs, size(v)), (x, ma) =>
      when(ma > 0, greatest(lit(-127L), least(lit(127L),
        round(x * 127.0 / ma, 0).cast("long")))).otherwise(lit(0L)))
  }

  /** The SQ8 integer dot over code columns `__q` (corpus) and `qq`
    * (query) — ONE definition shared by the single-query and batch
    * operators (the int8Codes convention: shared so twins can't drift). */
  private val Sq8IntDot =
    "aggregate(zip_with(__q, qq, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"

  /** SQ8 approx cosine from exact integer quantities: int dot over the
    * quantized norms, round(6); zero-code vectors rank last at −1
    * instead of dividing by zero. Shared by [[annTopKSq8]] and
    * [[batchTopKSq8]]. */
  private def sq8ApproxSim(idot: Column, inv: Column, inq: Column): Column =
    when(inv > 0 && inq > 0, round(idot / (sqrt(inv) * sqrt(inq)), 6))
      .otherwise(lit(-1.0))

  /** Zero-norm-guarded exact cosine over vector columns `__v`/`qv`
    * (cosine of a zero vector is 0/0 = NaN, and Spark sorts NaN ABOVE
    * every number — an unguarded zero vector would rank FIRST, not
    * last). Shared by both SQ8 rerank phases. */
  private def sq8ExactSim: Column = {
    val vn = expr("aggregate(__v, 0D, (acc, x) -> acc + x * x)")
    val qn = expr("aggregate(qv, 0D, (acc, x) -> acc + x * x)")
    when(vn > 0 && qn > 0, round(nativeCosine(col("__v"), col("qv")), 4))
      .otherwise(lit(-1.0))
  }

  /** SQ8 scalar-quantized ANN top-k (the scalar-quantizer index family —
    * the compression tier between raw fp32 scan and PQ): every candidate
    * scores on its int8 codes first, and only the top `rerank` re-score
    * with exact float cosine. The per-vector max-abs scales CANCEL in
    * the quantized cosine — approx_sim = int_dot(qx, qy) / (|qx|·|qy|)
    * over the integer codes — so candidate RANKING derives from exact
    * integer arithmetic (bit-stable in any engine; the only floats are
    * one sqrt + one divide of exact integers, then round(6)).
    * Zero vectors rank last (approx −1) instead of dividing by zero.
    *
    * Shape at 100 TB: the approx phase SCORES on 1 byte per dimension
    * (the integer-code fold) and its TakeOrdered ships only
    * (id, approx_sim) rows — no float vector rides the per-partition
    * top-rerank shuffle; the float path is a second pass over the
    * corpus joining the BROADCAST rerank-sized candidate set, map-only.
    * Note the SCAN still reads the fp32 embedding column both passes —
    * the codes are computed on the fly here; the 1-byte-per-dimension
    * READ story additionally needs a precomputed/stored code column
    * (write `int8Codes` out once and feed that frame), which this
    * operator's phases are shaped to exploit but do not require. */
  def annTopKSq8(emb: DataFrame, queryId: Long, k: Int, rerank: Int = 40,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && rerank >= k, s"bad sq8 config (k=$k, rerank=$rerank)")
    val base = emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__q", int8Codes(col("__v")))
    val qRow = base.where(col(idCol) === queryId)
    val q = broadcast(qRow.select(col("__q").as("qq")))
    val cand = base.where(col(idCol) =!= queryId).crossJoin(q)
      .select(col(idCol),
        expr(Sq8IntDot).as("idot"),
        expr("aggregate(__q, 0L, (acc, x) -> acc + x * x)").as("inv"),
        expr("aggregate(qq, 0L, (acc, x) -> acc + x * x)").as("inq"))
      .withColumn("approx_sim",
        sq8ApproxSim(col("idot"), col("inv"), col("inq")))
      .select(col(idCol), col("approx_sim"))
      .orderBy(col("approx_sim").desc, col(idCol)).limit(rerank)
    // ADVICE r15: join __v only AFTER the candidate set is fixed — the
    // rerank-sized frame broadcasts onto the corpus for a map-only
    // exact pass instead of carrying every partition's top-rerank
    // float vectors through the TakeOrdered
    emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(cand), Seq(idCol))
      .crossJoin(broadcast(qRow.select(col("__v").as("qv"))))
      .select(col(idCol), col("approx_sim"), sq8ExactSim.as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)
  }

  /** Batch SQ8 ANN — [[annTopKSq8]] generalized from one query to a
    * query FRAME on [[batchTopK]]'s machinery: the corpus's int8 codes
    * score once against the broadcast query codes (per-vector max-abs
    * scales cancel in the cosine, so candidate ranking is exact integer
    * arithmetic), a bounded `rerank`-element heap per (query, partition)
    * keeps the approx winners (the two-phase top-k — never a
    * collect_list), ONLY those candidates re-score with exact float
    * cosine, and a k-bounded window per query finishes. Zero vectors
    * rank last at −1 on both paths (the [[annTopKSq8]] contract —
    * [[batchTopK]] instead drops them, a documented twin divergence:
    * the SQ8 family reports the degenerate rows, the exact family
    * refuses to rank undefined cosines).
    *
    * Shape at 100 TB: the batch scan SCORES on 1 byte per dimension
    * with no corpus shuffle (the read itself still decodes the fp32
    * column — see [[annTopKSq8]]'s precomputed-code-column note for the
    * full 1-byte READ story); the float path touches ≤
    * queries·rerank·partitions rows. */
  def batchTopKSq8(emb: DataFrame, queries: DataFrame, k: Int,
                   rerank: Int = 40,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id"): DataFrame = {
    require(k >= 1 && rerank >= k,
      s"bad sq8 batch config (k=$k, rerank=$rerank)")
    requireIntegralId(emb, idCol); requireIntegralId(queries, queryIdCol)
    val q = broadcast(queries.select(col(queryIdCol).as("qid"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qq", int8Codes(col("qv")))
      .withColumn("inq", expr("aggregate(qq, 0L, (acc, x) -> acc + x * x)")))
    val scored = emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__q", int8Codes(col("__v")))
      .withColumn("inv", expr("aggregate(__q, 0L, (acc, x) -> acc + x * x)"))
      .crossJoin(q)
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        sq8ApproxSim(expr(Sq8IntDot), col("inv"), col("inq")).as("sim"))
    val cand = topKPerQuery(scored, rerank, idCol, queryIdCol)
      .select(col(queryIdCol), col(idCol), col("sim").as("approx_sim"))
    // the candidate frame is queries×rerank rows — BROADCAST it so the
    // exact rerank is a map-only second pass over the corpus, not a
    // corpus-wide shuffle on the id key
    val exact = emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol),
        asDouble(col(vecCol)).as("qv"))), Seq(queryIdCol))
      .withColumn("sim", sq8ExactSim)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryIdCol).orderBy(col("sim").desc, col(idCol))
    exact.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(queryIdCol), col(idCol), col("approx_sim"), col("sim"),
        col("rnk"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of a LEXICAL and a
    * DENSE candidate list — rrf = 1/(k0 + lex_rank) + 1/(k0 + ann_rank),
    * ranks 1-based, a missing membership contributes 0. Fusion is
    * RANK-only: BM25 scores and cosines live on incomparable scales, and
    * rank fusion is why RRF beats score mixing without calibration. The
    * fused score is a fixed-order two-term sum of exact rationals
    * (1/(k0+rank) with integer denominators), so round(6) is
    * engine-stable. Inputs are pool-sized frames (id, rank); everything
    * here is arithmetic on ≤ 2·pool rows. */
  def rrfFuse(lex: DataFrame, ann: DataFrame, k0: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(k0 >= 1, s"bad rrf k0 $k0")
    lex.select(col(idCol), col("rank").as("bm25_rank"))
      .join(ann.select(col(idCol), col("rank").as("ann_rank")),
        Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(k0) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("ann_rank")), lit(0.0)), 6))
  }

  /** HYBRID retrieval top-k: BM25 over the text corpus fused with exact
    * cosine over the embedding corpus by [[rrfFuse]] — the standard
    * two-tower retrieval stack a corpus-mining pipeline runs (lexical
    * catches exact terms, dense catches paraphrase; the fused list beats
    * either alone). Each side retrieves a `pool`-sized candidate list;
    * ranks are row_number over each list's own (score desc, id) order —
    * the global windows run on POOL-sized frames, never the corpus (the
    * same bounded-window contract as batchTopK's final phase).
    * The lexical side ranks documents by `queryTerms`; the dense side
    * ranks vectors around `queryId` (the corpus id spaces are assumed
    * shared — the documents/embeddings contract of this corpus). Returns
    * top `k` of (id, bm25_rank, ann_rank, rrf_score). */
  def hybridTopKRrf(docs: DataFrame, emb: DataFrame, queryId: Long,
                    queryTerms: Seq[String], k: Int, pool: Int = 20,
                    k0: Int = 60, idCol: String = "doc_id",
                    textCol: String = "text", vecIdCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && pool >= k, s"bad hybrid config (k=$k, pool=$pool)")
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    val lex = TextAnalysis.bm25TopK(docs, queryTerms, pool,
        idCol = idCol, textCol = textCol)
      .select(col(idCol), row_number().over(wLex).cast("long").as("rank"))
    val wAnn = org.apache.spark.sql.expressions.Window
      .orderBy(col("sim").desc, col(vecIdCol))
    val ann = cosineTopK(emb, queryId, pool, vecIdCol, vecCol)
      .select(col(vecIdCol).as(idCol),
        row_number().over(wAnn).cast("long").as("rank"))
    rrfFuse(lex, ann, k0, idCol)
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
  }

  /** Sign-bit binary quantization: one bit per dimension (x >= 0), packed
    * 32 bits per BIGINT word (bit d of word w = sign of dimension
    * 32w + d) — 32× smaller than fp32 conceptually, the coarsest tier of
    * the embedding compression ladder (int8 → matryoshka → binary).
    * 32-bit words rather than 64: every packed value stays positive and
    * exactly representable in both engines (bit 63 would flip a BIGINT's
    * sign, where cross-engine shift/overflow semantics diverge). Map-only;
    * Hamming distance between two packed vectors is
    * sum(bit_count(xor(word_i, word_i'))) — see `annTopKHamming`. */
  def quantizeBinary(emb: DataFrame, dims: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val nWords = (dims + 31) / 32
    val words = array((0 until nWords).map { w =>
      val lo = w * 32
      val hi = math.min(lo + 32, dims)
      (lo until hi).map { d =>
        // element_at is 1-based; literal powers of two build the word
        // without a lambda (per-element lambdas are interpreted — see
        // matryoshkaTruncate)
        when(element_at(v, d + 1) >= 0,
          lit(1L << (d - lo))).otherwise(lit(0L)): Column
      }.reduce(_ + _)
    }: _*)
    emb.select(col(idCol), words.as("bits"))
  }

  /** Approximate top-k by Hamming distance over sign-bit quantized vectors:
    * the query row broadcasts, the corpus side is a map-only
    * xor + bit_count scan + global top-k (TakeOrderedAndProject) — the
    * cheapest rerank-stage-one at 100 TB (32× less data moved than fp32
    * cosine, no corpus shuffle). Ties break on id for determinism. */
  def annTopKHamming(emb: DataFrame, dims: Int, queryId: Long, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val packed = quantizeBinary(emb, dims, idCol, vecCol)
    val q = broadcast(
      packed.where(col(idCol) === queryId).select(col("bits").as("qbits")))
    val nWords = (dims + 31) / 32
    val dist = (0 until nWords).map(i =>
      bit_count(element_at(col("bits"), i + 1)
        .bitwiseXOR(element_at(col("qbits"), i + 1))): Column)
      .reduce(_ + _)
    packed.where(col(idCol) =!= queryId)
      .crossJoin(q)
      .select(col(idCol), dist.cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol))
      .limit(k)
  }

  /** BATCH ANN: exact cosine top-k for EVERY query in a (small) query
    * frame, one corpus pass — the batch-inference shape a pipeline
    * actually serves (retrieval eval sets, dedup seed lookups, RAG
    * index probes), where the single-query operators would re-scan the
    * corpus per query. The query frame broadcasts (kilobytes); scoring
    * is map-only; top-k is TWO-PHASE: a BOUNDED k-element heap per
    * query inside each input partition (queries × k state, no
    * corpus-sized buffer or shuffle), then a final per-query window
    * over at most k · partitions candidate rows — never the corpus
    * (the single-task-per-query global Window trap at 10⁹ rows).
    * Ties: sim round(4) desc, then id — deterministic in any engine.
    * Self-matches (corpus id == query id) and zero-norm vectors
    * (cosine undefined — 0/0 is NaN, which sorts above every real
    * double) are excluded. Both id columns must be INTEGRAL (the
    * bounded-heap phase encodes them as LONG; non-numeric ids are
    * rejected at construction rather than nulled at runtime). */
  def batchTopK(emb: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    requireIntegralId(emb, idCol); requireIntegralId(queries, queryIdCol)
    val q = broadcast(queries.select(col(queryIdCol).as("qid"),
        asDouble(col(vecCol)).as("qv"))
      // query norm once per query, not once per (corpus row × query)
      .withColumn("qn", sqrt(ArrayDot(col("qv"), col("qv")))))
    val scored = emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("nrm", sqrt(ArrayDot(col("__v"), col("__v"))))
      // a zero-norm vector's cosine is 0/0 = NaN, and NaN sorts ABOVE
      // every real double in Spark — drop undefined rows before they
      // can poison a top-k slot
      .where(col("nrm") > 0)
      .crossJoin(q)
      .where(col(idCol) =!= col("qid") && col("qn") > 0)
      .select(col("qid"), col(idCol),
        round(ArrayDot(col("__v"), col("qv")) / (col("nrm") * col("qn")), 4)
          .as("sim"))
    topKPerQuery(scored, k, idCol, queryIdCol)
  }

  /** Batch ANN under the TRAINED IVF quantizer — [[batchTopK]]'s indexed
    * sibling and [[annTopKIvfTrained]] generalized from one query to a
    * query frame: corpus cells assign map-only, the query frame (with
    * its own cell scores and nprobe threshold under the SAME trained
    * centroids) broadcasts, the probe predicate prunes each query's
    * candidates to its `nprobe` best cells, and the two-phase top-k
    * finishes per query. Recall < 1 by construction — measured by
    * [[recallAtK]]. */
  def batchTopKIvf(emb: DataFrame, queries: DataFrame, k: Int,
                   centroids: Int, nprobe: Int, dims: Int,
                   sampleMod: Int = 5,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id"): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be positive")
    // nprobe > cells would index past the sorted score array: under
    // default (non-ANSI) Spark that is a silent NULL threshold — every
    // probe predicate null, every query EMPTY, recall 0 — so fail loudly
    // when the cell count is explicit and clamp when AutoCells resolves it
    require(centroids <= 0 || nprobe <= centroids,
      s"nprobe ($nprobe) must be <= centroids ($centroids)")
    requireIntegralId(emb, idCol); requireIntegralId(queries, queryIdCol)
    // AutoCells sentinel resolves like the cell-bounded family's — and the
    // clamped threshold below keeps an oversized nprobe exhaustive rather
    // than out-of-bounds against the resolved count
    val cents = ivfCentroidsTrained(emb, resolveCells(emb, centroids), dims,
      sampleMod, idCol, vecCol)
    val corpus = ivfCellsWith(emb, cents, idCol, vecCol)
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("nrm", sqrt(ArrayDot(col("__v"), col("__v"))))
      .drop("cell_scores")
    val q = broadcast(
      ivfCellsWith(queries.select(col(queryIdCol).as("qid"), col(vecCol)),
          cents, "qid", vecCol)
        .select(col("qid"), asDouble(col(vecCol)).as("qv"),
          col("cell_scores").as("qscores"))
        .withColumn("qn", sqrt(ArrayDot(col("qv"), col("qv"))))
        .withColumn("thr", expr(
          s"sort_array(qscores, false)[least($nprobe, size(qscores)) - 1]")))
    val scored = corpus
      .where(col("nrm") > 0) // NaN guard — see batchTopK
      .crossJoin(q)
      .where(col(idCol) =!= col("qid") && col("qn") > 0 &&
        expr("element_at(qscores, cell + 1) >= thr"))
      .select(col("qid"), col(idCol),
        round(ArrayDot(col("__v"), col("qv")) / (col("nrm") * col("qn")), 4)
          .as("sim"))
    topKPerQuery(scored, k, idCol, queryIdCol)
  }

  /** ANN RECALL@k: |approx top-k ∩ exact top-k| / k per query — the
    * evaluation loop a pipeline runs before committing an index config
    * (the RecallBench harness's measurement as a first-class operator).
    * Exact side [[batchTopK]], approximate side [[batchTopKIvf]], both
    * under identical round(4)/id tie rules so the intersection is
    * engine-exact. */
  def recallAtK(emb: DataFrame, queries: DataFrame, k: Int,
                centroids: Int, nprobe: Int, dims: Int,
                sampleMod: Int = 5,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id"): DataFrame = {
    val exact = batchTopK(emb, queries, k, idCol, vecCol, queryIdCol)
      .select(col(queryIdCol).as("__q"), col(idCol).as("__i"))
    val approx = batchTopKIvf(emb, queries, k, centroids, nprobe, dims,
        sampleMod, idCol, vecCol, queryIdCol)
      .select(col(queryIdCol).as("__qa"), col(idCol).as("__ia"),
        lit(1L).as("__hit"))
    exact.join(approx,
        col("__q") === col("__qa") && col("__i") === col("__ia"), "left")
      .groupBy(col("__q").as(queryIdCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall", round(col("hits") / lit(k.toDouble), 4))
  }

  /** Shared two-phase per-query top-k over a (qid LONG, id LONG, sim
    * DOUBLE) frame: phase one keeps a BOUNDED k-element heap per query
    * inside each input partition (mapPartitions — state is
    * queries × k entries, never the partition's rows; a collect_list
    * partial agg would buffer and shuffle the FULL candidate list and
    * only truncate after aggregation), so the final per-query window
    * sees at most k · partitions candidate rows — never the corpus
    * (the single-task-per-query global Window trap at 10⁹ rows). The
    * heap's eviction rule is exactly the final window's (sim desc, id
    * asc) order, so phase one can never drop a true top-k member.
    * Null/NaN sims must be filtered by the caller (NaN sorts above
    * every real double). */
  /** The batch-ANN family's id-type contract: the heap phase encodes
    * ids as LONG, so a string/uuid id would silently null (or collide
    * as "01" vs "1") — fail loudly at construction instead. */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
      s"batch top-k ids must be integral, got $idCol: ${dt.simpleString}")
  }

  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String,
                           queryIdCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // worst-of-the-kept-set at the heap head: smaller sim is "greater"
    // (evicted first); on a sim tie the LARGER id is worse
    val worstFirst = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val candidates = scored
      .select(col("qid").cast("long"), col(idCol).cast("long"),
        col("sim").cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Double)]]
        it.foreach { case (q, id, sim) =>
          val h = heaps.getOrElseUpdate(q,
            scala.collection.mutable.PriorityQueue.empty(worstFirst))
          h.enqueue((id, sim))
          if (h.size > k) h.dequeue()
        }
        heaps.iterator.flatMap { case (q, h) =>
          h.iterator.map { case (id, sim) => (q, id, sim) } }
      }
      .toDF("qid", idCol, "sim")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    candidates.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("qid").as(queryIdCol), col(idCol), col("sim"), col("rnk"))
  }

  /** NEAR-DUP pairs over a 64-bit fingerprint column via Hamming BANDING —
    * ONE definition of the banded candidate join `Multimodal.imageNearDup`
    * (dHash) and `Multimodal.audioNearDup` (PCM delta-sign) share: the
    * hash splits into four disjoint 16-bit bands; by pigeonhole two
    * hashes within Hamming distance ≤ 3 agree exactly on at least one
    * band, so candidates come from a banded EQUI-join (never all-pairs)
    * and at `maxHamming` ≤ 3 the result is EXACTLY the all-pairs answer.
    * Thresholds above 3 would silently lose completeness, so the
    * parameter is capped instead.
    *
    * Input: (idCol, hashCol 64-bit long). Output: (id_a, id_b, hamming).
    *
    * Shape at 100 TB: the candidate join shuffles on (band, 16-bit
    * value) — 4 rows per item; the pair dedup rides an (id_a, id_b)-keyed
    * aggregation (uniform keys); verification is one bit_count(xor) per
    * candidate. */
  /** Band `i` (0..3) of a 64-bit hash — the 16-bit slice the Hamming
    * banding joins on. ONE definition shared by [[hamming64NearDup]] and
    * the streaming gate (`CorpusStreams.imageDedupGate`), so batch pairs
    * and live gate decisions can never use different band boundaries. */
  def hamming64BandKey(hash: Column, band: Int): Column = {
    require(band >= 0 && band < 4, s"band must be 0..3, got $band")
    shiftrightunsigned(hash, 16 * band).bitwiseAND(lit(0xffffL))
  }

  def hamming64NearDup(hashes: DataFrame, maxHamming: Int = 3,
                       idCol: String = "id",
                       hashCol: String = "hash"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be 0..3 (4-band pigeonhole completeness), got $maxHamming")
    val bands = hashes
      .select(col(idCol).as("__id"), col(hashCol).as("__h"),
        posexplode(array((0 until 4).map(i =>
          hamming64BandKey(col(hashCol), i)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    val a = bands.select(col("band"), col("bval"),
      col("__id").as("id_a"), col("__h").as("ha"))
    val b = bands.select(col("band"), col("bval"),
      col("__id").as("id_b"), col("__h").as("hb"))
    a.join(b, Seq("band", "bval"))
      .where(col("id_a") < col("id_b"))
      // a pair sharing several bands appears once per shared band —
      // collapse on the pair key (uniform) before verification
      .groupBy("id_a", "id_b")
      .agg(first(col("ha")).as("ha"), first(col("hb")).as("hb"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ---- product quantization ----------------------------------------------

  /** Deterministic PQ seed codebooks: m subvectors × k codes × subDims,
    * from the same md5-nibble family as the IVF/LSH seeds (distinct
    * namespace so the three never collide). */
  def pqSeedCodebooks(m: Int, k: Int, subDims: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k, subDims)((s, c, d) => planeComponent(s * 100 + c + 2000, d))

  /** Per-code squared-L2 distance array of one subvector slice against one
    * codebook (plan literal — same compact-literal trick as the LSH
    * planes). */
  /** Lambda-form per-code squared distances — kept for the TRAINING path
    * only (it scans just the id%N sample, where interpreted lambdas are
    * immaterial and the struct-explode shape has no named sub column).
    * The full-corpus assignment/serving paths use the native
    * `array_sqdist` variants below — identical summation order. */
  private def pqDists(sub: Column, codes: Array[Array[Double]]): Column = {
    val codesLit = array(codes.map(c => array(c.map(lit(_)): _*)).toIndexedSeq: _*)
    transform(sequence(lit(0), lit(codes.length - 1)), c =>
      aggregate(zip_with(sub, element_at(codesLit, c + 1),
          (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (a, x) => a + x))
  }

  /** Native per-code squared distances over a NAMED sub-vector column:
    * one codegen'd array_sqdist call per code against the codebook row
    * rendered as a literal (see cellScores for the pattern and ArraySqDist
    * for why the summation order is preserved verbatim). */
  private def pqDistsNamed(subName: String, codes: Array[Array[Double]]): Column =
    array(codes.map { c =>
      ArraySqDist(col(subName),
        expr(s"array(${c.map(d => s"${d}D").mkString(",")})"))
    }.toIndexedSeq: _*)

  private def pqArgminNamed(subName: String, codes: Array[Array[Double]]): Column = {
    val d = pqDistsNamed(subName, codes)
    (array_position(d, array_min(d)) - 1).cast("long")
  }

  /** 0-based code of one subvector (first-min wins ties — identical rule
    * in any engine). */
  private def pqArgmin(sub: Column, codes: Array[Array[Double]]): Column = {
    val d = pqDists(sub, codes)
    (array_position(d, array_min(d)) - 1).cast("long")
  }

  /** Product-quantization code assignment (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector splits into
    * `m` contiguous subvectors, each assigned to its nearest codebook
    * entry by squared L2 — m·log2(k) bits per vector (m=8, k=16 ⇒ 4
    * bytes, 64× smaller than fp32). Map-only; output columns c0..c{m-1}.
    * ADC search then sums per-subvector query→code lookup tables — the
    * standard IVF+PQ serving pair (IVF cells already exist above). */
  def pqCodesWith(emb: DataFrame, books: Array[Array[Array[Double]]],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val subDims = books(0)(0).length
    val withSubs = books.indices.foldLeft(
      emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))) { (d, s) =>
      d.withColumn(s"__sub$s", slice(col("__v"), s * subDims + 1, subDims))
    }
    val codeCols = books.indices.map(s =>
      pqArgminNamed(s"__sub$s", books(s)).as(s"c$s"))
    withSubs.select(col(idCol) +: codeCols: _*)
  }

  /** One seeded, SAMPLED training iteration for every subvector codebook
    * in a single job (explode over subvectors → code → per-dim mean,
    * round(4) for engine portability exactly like `ivfCentroidsTrained`;
    * a code with no sample keeps its seed). Ships back m×k×subDims
    * doubles — kilobytes — from a scan of only the sample. */
  def pqCodebooksTrained(emb: DataFrame, m: Int = 8, k: Int = 16,
                         subDims: Int = 8, sampleMod: Int = 5,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val books = pqSeedCodebooks(m, k, subDims)
    val v = asDouble(col(vecCol))
    val perS = (0 until m).map { s =>
      val sub = slice(v, s * subDims + 1, subDims)
      struct(lit(s).as("s"), pqArgmin(sub, books(s)).as("code"), sub.as("sub"))
    }
    emb.where(col(idCol) % sampleMod === 0)
      .select(explode(array(perS: _*)).as("e"))
      .select(col("e.s"), col("e.code"), posexplode(col("e.sub")))
      .groupBy("s", "code", "pos").agg(round(avg("col"), 4).as("cd"))
      .collect()
      .foreach(r => books(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) =
        r.getDouble(3))
    books
  }

  /** Trained-codebook PQ codes: train on the sample, assign everything. */
  def pqCodes(emb: DataFrame, m: Int = 8, k: Int = 16, subDims: Int = 8,
              sampleMod: Int = 5, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    pqCodesWith(emb, pqCodebooksTrained(emb, m, k, subDims, sampleMod,
      idCol, vecCol), idCol, vecCol)

  /** PQ/ADC approximate top-k: distance(query, x) ≈ Σ_s ‖q_s − cent_s(c_s)‖²
    * — the asymmetric-distance serving path over PQ codes (Jégou et al.
    * 2011 §IV). The query row broadcasts; each corpus row's distance is m
    * codebook LOOKUPS (element_at into the plan-literal codebooks, indexed
    * by the row's own code) + subDims-length squared diffs against the raw
    * query subvector — no raw corpus vectors read at all, which is the
    * point: at 100 TB the scan touches 4-byte codes, not 256-byte floats.
    * round(4) before ordering + id tiebreak keep the top-k engine-stable. */
  def annTopKPq(emb: DataFrame, queryId: Long, topK: Int, m: Int = 8,
                k: Int = 16, subDims: Int = 8, sampleMod: Int = 5,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val books = pqCodebooksTrained(emb, m, k, subDims, sampleMod, idCol, vecCol)
    val codes = pqCodesWith(emb, books, idCol, vecCol)
    val q = broadcast(
      emb.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv")))
    val withParts = (0 until m).foldLeft(
      codes.where(col(idCol) =!= queryId).crossJoin(q)) { (d, s) =>
      val booksLit = array(books(s).map(c =>
        array(c.map(lit(_)): _*)).toIndexedSeq: _*)
      d.withColumn(s"__q$s", slice(col("qv"), s * subDims + 1, subDims))
        .withColumn(s"__cent$s",
          element_at(booksLit, col(s"c$s").cast("int") + 1))
    }
    val dist = (0 until m).map(s =>
      ArraySqDist(col(s"__q$s"), col(s"__cent$s"))).reduce(_ + _)
    withParts
      .select(col(idCol), round(dist, 4).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(topK)
  }

  /** Exact top-k by cosine similarity against the single query row
    * `idCol == queryId`. The query side is one row — Spark broadcasts it, so
    * this is a map-only scan + global top-k (no shuffle of the corpus). */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(
      emb.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv")))
    emb.where(col(idCol) =!= queryId)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(q)
      .select(col(idCol), round(nativeCosine(col("__v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Dense pseudo-relevance feedback (Rocchio 1971's vector-space form,
    * positive term only — PRF has no non-relevant judgments): pass 1
    * takes the exact cosine top-`feedback` for the query row and ASSUMES
    * them relevant; the expanded query is `alpha·q + (beta/f)·Σ v_i`
    * with the feedback vectors summed IN RANK ORDER (pass-1 sim desc,
    * id asc — a deterministic left fold, so the float sum can never
    * drift with partitioning); pass 2 re-scores the whole corpus under
    * the expanded query (feedback docs stay eligible — the standard PRF
    * contract; only the query row is excluded). `beta = 0` degrades to
    * plain [[cosineTopK]] exactly (cosine is scale-invariant in the
    * query).
    *
    * Shape at 100 TB: two map-only corpus scans, each ending in a
    * global top-k (TakeOrdered — no corpus shuffle); between them the
    * feedback set is `feedback` rows packed into ONE broadcast row, so
    * the expansion arithmetic is constant work. */
  def prfTopK(emb: DataFrame, queryId: Long, k: Int = 10,
              feedback: Int = 5, alpha: Double = 1.0, beta: Double = 0.75,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && feedback >= 1, s"bad prf config ($k, $feedback)")
    val fb = cosineTopK(emb, queryId, feedback, idCol, vecCol)
      .join(emb.select(col(idCol), asDouble(col(vecCol)).as("fv")), idCol)
    // one row: the feedback vectors rank-ordered (−sim, id ascending ==
    // sim desc, id asc — cosineTopK's own order key)
    val packed = fb
      .agg(array_sort(collect_list(struct((-col("sim")).as("ns"),
        col(idCol).as("i"), col("fv").as("v")))).as("lst"))
      .select(col("lst"), size(col("lst")).as("f"))
    val q = emb.where(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("qv"))
    val expanded = broadcast(packed.crossJoin(q).select(
      aggregate(col("lst"), transform(col("qv"), x => x * lit(alpha)),
        (acc, s) => zip_with(acc, s.getField("v"),
          (a, x) => a + lit(beta) / col("f") * x)).as("qx")))
    emb.where(col(idCol) =!= queryId)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(expanded)
      .select(col(idCol), round(nativeCosine(col("__v"), col("qx")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick k results from the relevance top-`pool`, each step
    * taking the candidate maximizing
    * `mmrLambda·rel − (1−mmrLambda)·max_{s∈selected} sim(cand, s)` —
    * the standard diversity-aware retrieval trick (near-duplicate hits
    * that plain top-k would stack are pushed down by their similarity
    * to what's already selected). First pick has no selected set; the
    * max-sim fold starts at −1 (cosine's floor), a constant shift that
    * cannot change any argmax. Ties break toward the smaller id;
    * relevance and pairwise sims are round(4) (the cosineTopK contract)
    * so both engines rank identical numbers; 1−mmrLambda is computed in
    * decimal (the Graphs.pageRank teleport rule) so a SQL 0.3 literal
    * matches. A pool with fewer than k candidates returns that many
    * rows (selection exhausts; never NULL padding).
    *
    * Shape at 100 TB: ONE map-only corpus scan (the relevance pass);
    * everything after runs on the pool packed into a single row —
    * pool² pairwise sims and the k-step greedy fold are column-local
    * arithmetic on that one row, never a corpus shuffle. Pool and k are
    * bounded parameters (a re-ranker, not a scan). */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int = 10, pool: Int = 50,
              mmrLambda: Double = 0.7, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && pool >= k && mmrLambda >= 0 && mmrLambda <= 1,
      s"bad mmr config ($k, $pool, $mmrLambda)")
    val mu = (BigDecimal(1) - BigDecimal(mmrLambda)).toDouble
    val pv = cosineTopK(emb, queryId, pool, idCol, vecCol)
      .join(emb.select(col(idCol), asDouble(col(vecCol)).as("v")), idCol)
    // one row: candidates rank-ordered (sim desc, id asc), then the
    // pool x pool sim matrix aligned by that rank index
    val packed = pv.agg(array_sort(collect_list(struct(
        (-col("sim")).as("ns"), col(idCol).as("id"),
        col("sim").as("rel"), col("v").as("v")))).as("cs"))
    val withSims = packed.select(transform(col("cs"), c => struct(
      c.getField("id").as("id"), c.getField("rel").as("rel"),
      transform(col("cs"), d =>
        round(cosine(c.getField("v"), d.getField("v")), 4)).as("sims")))
      .as("cs"))
    val cs = col("cs")
    val sel = aggregate(sequence(lit(1), lit(k)),
      array().cast("array<int>"),
      (selAcc, _) => {
        val scored = transform(cs, (c, i) => struct(
          (-(lit(mmrLambda) * c.getField("rel") - lit(mu) *
            aggregate(selAcc, lit(-1.0), (m, j) =>
              greatest(m, element_at(c.getField("sims"), j + 1))))).as("ns"),
          c.getField("id").as("id"), i.as("ix")))
        val open = filter(scored, s =>
          !array_contains(selAcc, s.getField("ix")))
        // a pool smaller than k exhausts: further steps are no-ops
        // instead of appending array_min(empty) = NULL (which would
        // poison array_contains and emit NULL-id rows)
        when(size(selAcc) >= size(cs), selAcc)
          .otherwise(concat(selAcc, array(array_min(open).getField("ix"))))
      })
    withSims.select(cs, sel.as("sel"))
      .select(cs, posexplode(col("sel")).as(Seq("r", "ix")))
      .select((col("r") + 1).as("mmr_rank"),
        element_at(cs, col("ix") + 1).getField("id").as(idCol),
        element_at(cs, col("ix") + 1).getField("rel").as("rel"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * first hex nibble of md5("p_d") mapped to [-7.5, 7.5]. The md5 is
    * evaluated at plan-build time (same digest any engine computes), so the
    * plane matrix lands in the plan as a compact array literal instead of
    * planes*dims codegen'd md5 calls — identical values, ~20x smaller plan. */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"${p}_$d".getBytes("UTF-8"))
    ((h(0) >> 4) & 0xf) - 7.5 // first hex nibble - 8.5 == nibble value - 7.5
  }

  /** Sign-random-projection LSH: `planes` hyperplanes; bucket = the string of
    * sign bits of the dot products. Map-only (no shuffle); dot products sum
    * left-to-right over dims, matching a sequential engine bit-for-bit.
    * Each plane's projection is one native `array_dot` call against the
    * plane rendered as a plan-literal array (the cellScores pattern) —
    * the interpreted transform/aggregate lambda this replaces cost ~6
    * dispatches per dimension per row; sum order is unchanged, so buckets
    * are bit-identical. */
  def lshBuckets(emb: DataFrame, planes: Int, dims: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bits = (0 until planes).map { p =>
      val arr = (0 until dims).map(d => s"${planeComponent(p, d)}D").mkString(",")
      when(ArrayDot(col("__v"), expr(s"array($arr)")) > 0, lit("1"))
        .otherwise(lit("0")): Column
    }
    emb.select(col(idCol), col(vecCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("bucket", concat(bits: _*))
      .drop("__v")
  }

  /** ANN top-k: exact cosine ranking restricted to the query's LSH bucket
    * (single-probe). Recall < 1 by construction; the bucketed scan touches
    * ~corpus/2^planes rows. */
  def annTopKLsh(emb: DataFrame, queryId: Long, k: Int, planes: Int, dims: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = lshBuckets(emb, planes, dims, idCol, vecCol)
    val q = broadcast(
      bucketed.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv"), col("bucket").as("qbucket")))
    bucketed.where(col(idCol) =!= queryId)
      .join(q, col("bucket") === col("qbucket"))
      .withColumn("__v", asDouble(col(vecCol)))
      .select(col(idCol), round(nativeCosine(col("__v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Sentinel for the `centroids` parameter of the cell-bounded family
    * ([[semDedup]], [[knnGraph]], [[hardNegatives]], [[labelPropagation]],
    * [[d4Prune]]): derive the cell count from the corpus size instead of
    * inheriting a fixed constant. A pinned cell count is quadratic — the
    * within-cell pair join is O(Σ cell²) = O(n²/k), so a constant k means
    * 10× data costs 100×/k more pair work (measured: 18.7× for 10× at the
    * oracle harness's k=8). [[autoCells]] keeps cells at a bounded target
    * occupancy so the pair stage stays linear in n. */
  val AutoCells: Int = 0

  /** SemDeDup's own prescription k ≈ n/target_cell_size: cells sized so
    * the within-cell quadratic is a constant per cell and the total pair
    * work is linear in n. Costs one count() job at plan time (memoized —
    * see below) — at 100 TB a caller that already knows n should pass an
    * explicit cell count. */
  def autoCells(emb: DataFrame, targetCellSize: Int = 250): Int = {
    val key = emb.queryExecution.analyzed
    val inner = autoCellsMemo.synchronized {
      var m = autoCellsMemo.get(key)
      if (m == null) { m = new java.util.HashMap[Integer, Integer](); autoCellsMemo.put(key, m) }
      m
    }
    inner.synchronized {
      val cached = inner.get(Integer.valueOf(targetCellSize))
      if (cached != null) {
        // surface the memo hit: a mutable-input deployment (same path
        // re-read after appends, structurally-equal plan) sees the stale
        // cached n HERE instead of only in a docstring — see STALENESS
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"autoCells memo hit: reusing cached cell count ${cached.intValue()} " +
            s"(targetCellSize=$targetCellSize) for a structurally-equal plan; " +
            "if the input grew since, pass an explicit cell count or call " +
            "Similarity.clearAutoCellsCache()")
        cached.intValue()
      }
      else {
        val k = math.max(8, math.ceil(
          emb.count().toDouble / targetCellSize)).toInt
        inner.put(Integer.valueOf(targetCellSize), k); k
      }
    }
  }

  /** One count() per distinct (analyzed plan, target size), not one per
    * cell-bounded operator CALL (ADVICE r13: AutoCells-as-default made a
    * loop constructing several operators over the same frame pay the
    * count job each time, an eager surprise in an otherwise lazy API).
    * Keys are the frames' analyzed plans: structurally-equal plans share
    * the entry, weak keys let entries die with their plans. The count
    * still runs at construction time — the cell count shapes the PLAN
    * (centroid matrix width), so it cannot defer to first action.
    *
    * STALENESS: the memo assumes the input is immutable for the JVM's
    * lifetime — a long-lived session that appends files under the SAME
    * path/view and re-derives a structurally-equal plan gets the OLD
    * cell count (over-full cells, quadratic creep). For mutable inputs
    * pass an explicit cell count, or construct the frame fresh
    * (`spark.read` after the append yields a new FileIndex and a
    * distinct plan identity is not guaranteed — explicit k is the
    * reliable route). */
  private val autoCellsMemo =
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      java.util.HashMap[Integer, Integer]]()

  /** Explicit staleness hook for mutable-input deployments: drop every
    * memoized AutoCells count so the next cell-bounded operator re-counts
    * its (possibly grown) input. Cheap — the memo only ever holds a few
    * plan → int entries. */
  def clearAutoCellsCache(): Unit =
    autoCellsMemo.synchronized { autoCellsMemo.clear() }

  private def resolveCells(emb: DataFrame, centroids: Int): Int = {
    require(centroids >= 0, s"centroids must be >= 0, got $centroids")
    if (centroids > 0) centroids else autoCells(emb)
  }

  /** NEGATIVE RESULT (round 18), recorded so it is not re-tried: salting
    * the cell-keyed pair self-joins (knnGraph / hardNegatives / semDedup)
    * per guide §2.5 — side A keyed by pmod(id, K), side B replicated K
    * ways, join on (cell, salt) — was implemented, oracle-verified
    * (24/24 green) and measured SLOWER under the interleaved filtered
    * min-of-2 A/B at sf0.1/local[32] with K=8: ss_knn_graph 1.03→1.78 s,
    * ss_hard_negatives 1.22→1.95, dd_semdedup 0.88→1.34, dd_d4_prune
    * 2.00→3.96. The committed plans explain why
    * (plans/r18/ss_knn_graph_before.txt vs _salted_attempt.txt): the
    * pair join ALREADY plans as a BroadcastHashJoin — the probe side
    * streams in its own scan partitions, so the presumed "nCells distinct
    * keys → ≤ nCells tasks" ceiling never existed in this plan; it would
    * bind only under a shuffle join. Salting therefore bought no
    * parallelism and paid a K× larger broadcast build (the exploded side)
    * per query. At the scale where the build side outgrows broadcast and
    * the join DOES shuffle, the production path is AutoCells
    * (k ≈ n/250 → cells ≫ cores), where the key count is never the
    * binding constraint. */

  /** IVF coarse quantizer with deterministic md5-derived random centroids
    * (seed offset 1000 keeps them independent of the LSH planes): cell =
    * argmax over centroids of cos-score dot(v,c)/|c|. Random centroids give
    * a valid Voronoi partition without a training pass, so the assignment
    * is a pure map — and fully reproducible in any engine. */
  def ivfCentroid(p: Int, d: Int): Double = planeComponent(p + 1000, d)

  /** The deterministic seed centroid matrix (no training pass). */
  def ivfSeedCentroids(centroids: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(centroids, dims)((p, d) => ivfCentroid(p, d))

  /** Per-centroid cos-score array for an explicit centroid matrix over a
    * NAMED double-array column. Each centroid's score is one native
    * `array_dot` call against the centroid rendered as an array literal —
    * the k×dims interpreted-lambda loop this replaces dominated IVF
    * assignment once k grows (the SemDeDup k≈n/cell guidance makes k
    * large by design). Sum order is unchanged, so scores, argmax cells,
    * and every downstream oracle value are bit-identical. */
  private def cellScores(vName: String, cents: Array[Array[Double]]): Column = {
    // Double.toString round-trips exactly; the D suffix keeps the SQL
    // literal a DOUBLE (a bare decimal would parse as DECIMAL)
    val scores = cents.map { c =>
      val nc = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
      ArrayDot(col(vName), expr(s"array(${c.map(d => s"${d}D").mkString(",")})")) /
        lit(nc)
    }
    array(scores.toIndexedSeq: _*)
  }

  /** vec_id, embedding, score array, assigned cell for an explicit centroid
    * matrix (0-based; first-max wins on ties). Map-only. */
  def ivfCellsWith(emb: DataFrame, cents: Array[Array[Double]],
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    emb.select(col(idCol), col(vecCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell_scores", cellScores("__v", cents))
      .withColumn("cell",
        (array_position(col("cell_scores"), array_max(col("cell_scores"))) - 1)
          .cast("int"))
      .drop("__v")
  }

  /** vec_id, embedding, per-centroid score array, assigned cell (0-based;
    * first-max wins on ties). Map-only. */
  def ivfCells(emb: DataFrame, centroids: Int, dims: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCellsWith(emb, ivfSeedCentroids(centroids, dims), idCol, vecCol)

  /** One seeded, SAMPLED k-means iteration: vectors with `id % sampleMod
    * == 0` are assigned to their best seed cell, and each trained centroid
    * is the element-wise mean of its sample, rounded to 4 decimals (a cell
    * with no sample keeps its seed). The rounding makes the trained matrix
    * engine-portable — partial-aggregation sum order differs only ~1e-13
    * across engines, far inside round(4) — so an oracle can recompute it
    * exactly. Returns the tiny (centroids × dims) matrix to the driver:
    * the standard train-then-assign IVF shape — at 100 TB the training job
    * scans only the sample and ships back kilobytes. */
  def ivfCentroidsTrained(emb: DataFrame, centroids: Int, dims: Int,
                          sampleMod: Int = 5, idCol: String = "vec_id",
                          vecCol: String = "embedding"): Array[Array[Double]] = {
    val cents = ivfSeedCentroids(centroids, dims)
    ivfCells(emb.where(col(idCol) % sampleMod === 0), centroids, dims, idCol, vecCol)
      .select(col("cell"), posexplode(asDouble(col(vecCol))))
      .groupBy("cell", "pos").agg(round(avg("col"), 4).as("cd"))
      .collect()
      .foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    cents
  }

  /** Cell assignment under trained centroids (data-adaptive occupancy;
    * same map-only shape as the untrained path). */
  def ivfCellsTrained(emb: DataFrame, centroids: Int, dims: Int,
                      sampleMod: Int = 5, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    ivfCellsWith(emb,
      ivfCentroidsTrained(emb, centroids, dims, sampleMod, idCol, vecCol),
      idCol, vecCol)

  /** Multi-iteration sampled spherical k-means (Lloyd's): starting from the
    * deterministic seed matrix, each iteration assigns the `id % sampleMod`
    * sample to its best (cosine) centroid and replaces every non-empty
    * centroid with its sample mean, rounded to 4 decimals per dimension so
    * the trained matrix is engine-portable (same contract as
    * [[ivfCentroidsTrained]], which is the iters=1 case). Ships k×dims
    * doubles to the driver per iteration — kilobytes — from scans of only
    * the sample. */
  def kmeansCentroids(emb: DataFrame, k: Int, dims: Int, iters: Int = 2,
                      sampleMod: Int = 5, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    var cents = ivfSeedCentroids(k, dims)
    val sample = emb.where(col(idCol) % sampleMod === 0)
    for (_ <- 1 to iters) {
      val fresh = cents.map(_.clone())
      ivfCellsWith(sample, cents, idCol, vecCol)
        .select(col("cell"), posexplode(asDouble(col(vecCol))))
        .groupBy("cell", "pos").agg(round(avg("col"), 4).as("cd"))
        .collect()
        .foreach(r => fresh(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = fresh
    }
    cents
  }

  /** Topic/domain clustering for data curation: assign EVERY vector to its
    * trained k-means centroid and report the per-row squared distance to
    * that centroid (round(4) — the portable per-row contribution an
    * inertia aggregate can sum exactly as DECIMAL). Train-then-assign:
    * the iterations scan only the sample; the full-corpus pass is map-only
    * against the plan-literal centroid matrix. Returns (id, cluster, sqd). */
  def kmeansClusters(emb: DataFrame, k: Int, dims: Int, iters: Int = 2,
                     sampleMod: Int = 5, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(emb, k, dims, iters, sampleMod, idCol, vecCol)
    val matrix = cents
      .map(c => s"array(${c.map(d => s"${d}D").mkString(",")})")
      .mkString("array(", ",", ")")
    emb.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell_scores", cellScores("__v", cents))
      .withColumn("cluster",
        (array_position(col("cell_scores"), array_max(col("cell_scores"))) - 1)
          .cast("int"))
      .withColumn("sqd",
        round(ArraySqDist(col("__v"),
          expr(s"element_at($matrix, cluster + 1)")), 4))
      .select(col(idCol), col("cluster"), col("sqd"))
  }

  /** Persist the IVF-assigned corpus partitioned BY CELL — the serving
    * half of the IVF contract the scale notes promise: written
    * `partitionBy(cell)`, a probe's `cell = c` predicate prunes the scan
    * to that cell's directory (PartitionFilters in the plan; the spec
    * asserts the probe's inputFiles all live under its own cell=
    * directory), so an ANN query against a 100 TB corpus reads
    * ~1/centroids of the files. Directory layout serves probes; for
    * co-located cell joins write the same frame `bucketBy(cell)` into a
    * catalog table instead. The stored index keeps (id, vector, cell). */
  def writeIvfIndex(emb: DataFrame, path: String, centroids: Int,
                    dims: Int, sampleMod: Int = 5,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    ivfCellsTrained(emb, centroids, dims, sampleMod, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Zero-shot domain/topic tagging by nearest LABEL centroid: the trusted
    * seed slice (`id % seedMod == 0`) defines one centroid per label
    * (per-dim mean, round(4) — engine-portable); every vector is then
    * assigned to the label whose centroid it is most cosine-similar to
    * (first-max wins in ascending label order). The cheap way to extend a
    * small human-audited domain labeling across a corpus WITHOUT training
    * a model — and, scored against held-out true labels, a continuously
    * measured classifier-accuracy artifact.
    *
    * Shape at 100 TB: the centroid matrix is labels×dims doubles
    * (kilobytes) shipped to the driver and re-entering the plan as a
    * literal — the full-corpus assignment is MAP-ONLY native `array_dot`
    * calls, no join, no shuffle. Returns (id, label, pred_label, score). */
  def centroidClassify(emb: DataFrame, dims: Int, seedMod: Int = 5,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    val rows = emb.where(col(idCol) % seedMod === 0)
      .select(col(labelCol).cast("int").as("lbl"),
        posexplode(asDouble(col(vecCol))))
      .groupBy("lbl", "pos").agg(round(avg("col"), 4).as("cd"))
      .collect()
    val cents: Array[(Int, Array[Double])] = rows.groupBy(_.getInt(0))
      .map { case (l, rs) =>
        val a = new Array[Double](dims)
        rs.foreach(r => a(r.getInt(1)) = r.getDouble(2))
        (l, a)
      }.toArray.sortBy(_._1)
    val lblArr = s"array(${cents.map(_._1).mkString(",")})"
    emb.select(col(idCol), col(labelCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__scores", cellScores("__v", cents.map(_._2)))
      .withColumn("pred_label", expr(s"element_at($lblArr, " +
        "cast(array_position(__scores, array_max(__scores)) as int))"))
      .withColumn("score", round(array_max(col("__scores")), 4))
      .select(col(idCol), col(labelCol), col("pred_label"), col("score"))
  }

  /** IVF ANN top-k: probe the query's `nprobe` best cells (every cell whose
    * query score reaches the nprobe-th largest — ties widen the probe set
    * identically in any engine), exact cosine within probed cells. The cell
    * id is a partition/bucket-friendly key: written bucketBy(cell), a probe
    * touches only its cells' files. */
  def annTopKIvf(emb: DataFrame, queryId: Long, k: Int, centroids: Int,
                 nprobe: Int, dims: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    annTopKInCells(ivfCells(emb, centroids, dims, idCol, vecCol),
      queryId, k, nprobe, idCol, vecCol)

  /** IVF ANN with a trained coarse quantizer (see ivfCentroidsTrained). */
  def annTopKIvfTrained(emb: DataFrame, queryId: Long, k: Int, centroids: Int,
                        nprobe: Int, dims: Int, sampleMod: Int = 5,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    annTopKInCells(ivfCellsTrained(emb, centroids, dims, sampleMod, idCol, vecCol),
      queryId, k, nprobe, idCol, vecCol)

  /** IVF-PQ serving (Jégou et al. 2011 §V — the canonical FAISS `IVFx,PQy`
    * composition): the trained coarse quantizer prunes the candidate set to
    * the query's `nprobe` best cells, and candidates are scored by PQ/ADC
    * lookups over their codes — the scan never touches a raw corpus vector.
    * Codes here quantize the raw vectors (not residuals): with round(4)
    * centroids the residual trick's extra precision is below the rounding
    * floor, and raw-vector codes keep ONE codebook serving both the pure-PQ
    * and IVF-PQ paths.
    *
    * Shape at 100 TB: cell AND codes are assigned in one map-only pass
    * (no id self-join between an IVF frame and a PQ frame); the query row
    * broadcasts; the probe predicate drops (centroids − nprobe)/centroids
    * of the corpus before any distance math; each survivor costs m literal
    * codebook lookups + m subDims-length squared diffs. Stored
    * bucketBy(cell), the probe reads only its cells' files. */
  def annTopKIvfPq(emb: DataFrame, queryId: Long, k: Int, centroids: Int,
                   nprobe: Int, dims: Int, m: Int = 8, kCodes: Int = 16,
                   subDims: Int = 8, sampleMod: Int = 5,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroidsTrained(emb, centroids, dims, sampleMod, idCol, vecCol)
    val books = pqCodebooksTrained(emb, m, kCodes, subDims, sampleMod, idCol, vecCol)
    val cells = ivfCellsWith(emb, cents, idCol, vecCol)
    val withSubs = (0 until m).foldLeft(
      cells.withColumn("__v", asDouble(col(vecCol)))) { (d, s) =>
      d.withColumn(s"__sub$s", slice(col("__v"), s * subDims + 1, subDims))
    }
    val coded = withSubs.select(
      // cell rides along for the probe predicate; cell_scores does NOT —
      // the probe compares the BROADCAST query's scores, and carrying a
      // centroids-length array per candidate row is dead weight
      col(idCol) +: col("cell") +:
        (0 until m).map(s => pqArgminNamed(s"__sub$s", books(s)).as(s"c$s")): _*)
    val q = broadcast(
      cells.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv"),
          col("cell_scores").as("qscores"))
        .withColumn("thr", expr(
          s"sort_array(qscores, false)[least($nprobe, size(qscores)) - 1]")))
    val cand = coded.where(col(idCol) =!= queryId)
      .crossJoin(q)
      .where(expr("element_at(qscores, cell + 1) >= thr"))
    val withCents = (0 until m).foldLeft(cand) { (d, s) =>
      val booksLit = array(books(s).map(c =>
        array(c.map(lit(_)): _*)).toIndexedSeq: _*)
      d.withColumn(s"__q$s", slice(col("qv"), s * subDims + 1, subDims))
        .withColumn(s"__cent$s",
          element_at(booksLit, col(s"c$s").cast("int") + 1))
    }
    val dist = (0 until m).map(s =>
      ArraySqDist(col(s"__q$s"), col(s"__cent$s"))).reduce(_ + _)
    withCents
      .select(col(idCol), round(dist, 4).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ with RESIDUAL coding — the canonical IVFADC composition
    * (Jégou et al. 2011 §V): codes quantize r(x) = x − centroid(cell(x))
    * rather than the raw vector, so the codebook's few bits per subvector
    * spend on the WITHIN-cell spread instead of the whole corpus spread —
    * recall improves at identical code size (measured in SCALE.md's recall
    * table). ADC per candidate scores ‖(q − centroid(cell(x))) − code‖²:
    * the query residual is a plan-literal centroid lookup per PROBED CELL,
    * never a per-vector recompute.
    *
    * Kept ALONGSIDE [[annTopKIvfPq]]'s raw-coding form, not replacing it:
    * raw codes share one codebook with the pure-PQ path (a storage
    * simplification worth having), residual codes buy recall when cells
    * carry real structure — the FAISS IVFx,PQy default. Same 100 TB shape:
    * map-only assignment, broadcast query, probe predicate before any
    * distance math, codes-not-vectors scan. */
  def annTopKIvfPqResidual(emb: DataFrame, queryId: Long, k: Int,
                           centroids: Int, nprobe: Int, dims: Int,
                           m: Int = 8, kCodes: Int = 16, subDims: Int = 8,
                           sampleMod: Int = 5, idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroidsTrained(emb, centroids, dims, sampleMod, idCol, vecCol)
    val centsLit = array(cents.map(c =>
      array(c.map(lit(_)): _*)).toIndexedSeq: _*)
    val cells = ivfCellsWith(emb, cents, idCol, vecCol)
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__r", zip_with(col("__v"),
        element_at(centsLit, col("cell").cast("int") + 1), (x, c) => x - c))
    val books = pqCodebooksTrained(cells, m, kCodes, subDims, sampleMod,
      idCol, "__r")
    val withSubs = (0 until m).foldLeft(cells) { (d, s) =>
      d.withColumn(s"__sub$s", slice(col("__r"), s * subDims + 1, subDims))
    }
    val coded = withSubs.select(
      // cell rides along for the probe predicate; cell_scores does NOT —
      // the probe compares the BROADCAST query's scores, and carrying a
      // centroids-length array per candidate row is dead weight
      col(idCol) +: col("cell") +:
        (0 until m).map(s => pqArgminNamed(s"__sub$s", books(s)).as(s"c$s")): _*)
    val q = broadcast(
      cells.where(col(idCol) === queryId)
        .select(col("__v").as("qv"), col("cell_scores").as("qscores"))
        .withColumn("thr", expr(
          s"sort_array(qscores, false)[least($nprobe, size(qscores)) - 1]")))
    val cand = coded.where(col(idCol) =!= queryId)
      .crossJoin(q)
      .where(expr("element_at(qscores, cell + 1) >= thr"))
      // query residual w.r.t. the CANDIDATE's cell
      .withColumn("__qr", zip_with(col("qv"),
        element_at(centsLit, col("cell").cast("int") + 1), (x, c) => x - c))
    val withCents = (0 until m).foldLeft(cand) { (d, s) =>
      val booksLit = array(books(s).map(c =>
        array(c.map(lit(_)): _*)).toIndexedSeq: _*)
      d.withColumn(s"__q$s", slice(col("__qr"), s * subDims + 1, subDims))
        .withColumn(s"__cent$s",
          element_at(booksLit, col(s"c$s").cast("int") + 1))
    }
    val dist = (0 until m).map(s =>
      ArraySqDist(col(s"__q$s"), col(s"__cent$s"))).reduce(_ + _)
    withCents
      .select(col(idCol), round(dist, 4).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol))
      .limit(k)
  }

  private def annTopKInCells(cells: DataFrame, queryId: Long, k: Int,
                             nprobe: Int, idCol: String,
                             vecCol: String): DataFrame = {
    val q = broadcast(
      cells.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv"),
          col("cell_scores").as("qscores"))
        .withColumn("thr", expr(
          s"sort_array(qscores, false)[least($nprobe, size(qscores)) - 1]")))
    cells.where(col(idCol) =!= queryId)
      .crossJoin(q)
      .where(expr("element_at(qscores, cell + 1) >= thr"))
      .withColumn("__v", asDouble(col(vecCol)))
      .select(col(idCol), round(nativeCosine(col("__v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster embeddings with
    * the trained coarse quantizer, then WITHIN each cluster mark every
    * vector that has an earlier (smaller-id) cluster-mate at cosine >=
    * `threshold` as a semantic duplicate. Returns (id, cell, dropped) for
    * every vector — survivors are `!dropped`.
    *
    * Shape at 100 TB: the clustering step is exactly what bounds the
    * quadratic — the pairwise join runs per cell (shuffle keyed by cell,
    * O(sum cell_size^2) not O(n^2)), which is the paper's own design: pick
    * k ~ n/target_cell_size so cells stay bounded and the join never sees
    * two vectors from different cells. The similarity is round(4)ed before
    * the threshold so an engine-ulp difference cannot flip a verdict.
    *
    * NOTE: the default `centroids = AutoCells` runs a count() job at
    * CONSTRUCTION time to derive the cell count (memoized per input
    * plan — see [[autoCells]]); pass an explicit count to stay lazy.
    */
  def semDedup(emb: DataFrame, centroids: Int = AutoCells, dims: Int = 64,
               threshold: Double = 0.3,
               sampleMod: Int = 5, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val nCells = resolveCells(emb, centroids)
    // the pairwise pass runs millions of 64-dim dots; the interpreted
    // zip_with/aggregate lambdas cost ~6 dispatches per dimension PER PAIR
    // (dd_semdedup: 237 s -> ~2 s at sf0.1). Native array_dot + norms
    // hoisted to one per ROW keep the pair kernel a single codegen'd call;
    // sum order is unchanged, so round(4) values are bit-identical
    // the assignment frame feeds BOTH sides of the self-join AND the final
    // verdict join — without materialization the trained-IVF assignment
    // (incl. the k-dot cellScores scan) recomputes 3x per run. An eager
    // localCheckpoint pays the scan once and severs lineage; its blocks are
    // released by the ContextCleaner when the frame is GC'd, so no explicit
    // unpersist is owed by the (lazy) returned DataFrame
    val cells = ivfCellsTrained(emb, nCells, dims, sampleMod, idCol, vecCol)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("cell"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
    val dups = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .where(round(ArrayDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
        4) >= threshold)
      .select(col("b.id").as("id")).distinct()
    cells.join(dups.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** Prototypicality pruning signal (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): each
    * vector's cosine to its OWN label's centroid, ranked within the label
    * (rank 1 = most prototypical; ties break to the smaller id). Data
    * pruning keeps the hard/unusual tail and drops redundant prototypes —
    * this emits the per-label ordering that decision reads from.
    *
    * Shape at 100 TB: the centroid pass is a per-dimension partial
    * aggregate producing a (labels × dims)-row frame — kilobytes —
    * broadcast back; scoring is map-only; the only window partitions by
    * label (balanced strata; for a single monster label, feed this
    * through the stratumTopK two-pass shape instead). Centroids and
    * similarities are round(4)ed so both engines agree bit-for-bit. */
  def prototypicality(emb: DataFrame, dims: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      labelCol: String = "label"): DataFrame = {
    val cents = emb
      .select(col(labelCol), posexplode(asDouble(col(vecCol))))
      .groupBy(labelCol, "pos").agg(round(avg("col"), 4).as("cd"))
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cd")))),
        s => s.getField("cd")).as("cent"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labelCol).orderBy(col("proto_sim").desc, col(idCol))
    emb.join(broadcast(cents), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(cosine(asDouble(col(vecCol)), col("cent")), 4).as("proto_sim"))
      .withColumn("rank_in_label", row_number().over(w))
  }

  /** Near-duplicate detection by embedding cosine over an explicit pair list
    * (id_a, id_b): returns pairs with similarity >= threshold. */
  def embeddingNearDups(emb: DataFrame, pairs: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    pairs
      .join(e.as("ea"), col("id_a") === col(s"ea.$idCol"))
      .join(e.as("eb"), col("id_b") === col(s"eb.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(nativeCosine(col("ea.v"), col("eb.v")), 4).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Matryoshka adaptive retrieval (Kusupati et al. 2022's serving
    * pattern): a cheap first pass ranks by cosine over the leading
    * `prefixDims` coordinates only — reading a quarter of each vector —
    * and the exact full-dimension cosine reranks just the `prefilterK`
    * survivors. With MRL-trained embeddings the prefix preserves the
    * coarse geometry, so the funnel keeps recall while the scan cost
    * drops by dims/prefixDims.
    *
    * Shape at 100 TB: both stages are broadcast-query map scans with
    * global top-k (TakeOrderedAndProject); the rerank input is
    * prefilterK rows — driver-bounded, not corpus-bounded. With vectors
    * stored column-truncated (the ss_matryoshka layout) the first pass
    * reads only the prefix bytes. round(4) + id tiebreaks at BOTH cuts
    * keep the funnel engine-exact. */
  def annTopKMatryoshka(emb: DataFrame, queryId: Long, k: Int,
                        prefilterK: Int, prefixDims: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(
      emb.where(col(idCol) === queryId)
        .select(asDouble(col(vecCol)).as("qv"))
        .withColumn("qp", slice(col("qv"), 1, prefixDims)))
    val cand = emb.where(col(idCol) =!= queryId)
      .crossJoin(q)
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__p", slice(col("__v"), 1, prefixDims))
      .withColumn("psim", round(nativeCosine(col("__p"), col("qp")), 4))
      .orderBy(col("psim").desc, col(idCol))
      .limit(prefilterK)
    cand
      .withColumn("sim", round(nativeCosine(col("__v"), col("qv")), 4))
      .select(col(idCol), col("psim"), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Within-cell k-NN graph: each vector's `k` nearest cluster-mates by
    * cosine — the adjacency a pipeline feeds to graph-based dedup
    * (connected components over near-dup edges), label propagation, or
    * k-center diversity sampling. The trained coarse quantizer bounds the
    * pairwise stage exactly as in SemDeDup: edges never cross cells, so
    * the join is O(Σ cell²) with k ~ n/target_cell_size, not O(n²).
    *
    * Shape at 100 TB: one shuffle keyed by cell for the pair join (norms
    * hoisted, native array_dot per pair), then the per-source top-k is a
    * window over the maximally-uniform src key — no global sort.
    * Similarities round(4) before ranking, dst tiebreak, so the graph is
    * engine-exact.
    *
    * NOTE: the default `centroids = AutoCells` runs a count() job at
    * CONSTRUCTION time to derive the cell count (memoized per input
    * plan — see [[autoCells]]); pass an explicit count to stay lazy.
    */
  def knnGraph(emb: DataFrame, k: Int, centroids: Int = AutoCells,
               dims: Int = 64,
               sampleMod: Int = 5, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val nCells = resolveCells(emb, centroids)
    val cells = ivfCellsTrained(emb, nCells, dims, sampleMod, idCol, vecCol)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("cell"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        round(ArrayDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4)
          .as("sim"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    pairs.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive training: for every vector, the
    * top-k most-similar vectors carrying a DIFFERENT label — the pairs a
    * contrastive objective learns most from (InfoNCE/DPR-style training
    * wants negatives that are nearly positives). Same trained-IVF
    * cell-bounded candidate stage as [[knnGraph]] (never all-pairs), with
    * the label inequality applied AT the pair join so cross-label pairs are
    * the only rows the join emits. Returns src, dst, neg_label, sim, rnk.
    *
    * Shape at 100 TB: identical to knnGraph — one cell-keyed shuffle for
    * the pair join, per-src top-k as a window over the uniform src key; the
    * label adds one small column to the shuffle, not a stage.
    *
    * NOTE: the default `centroids = AutoCells` runs a count() job at
    * CONSTRUCTION time to derive the cell count (memoized per input
    * plan — see [[autoCells]]); pass an explicit count to stay lazy.
    */
  def hardNegatives(emb: DataFrame, k: Int, centroids: Int = AutoCells,
                    dims: Int = 64,
                    sampleMod: Int = 5, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val nCells = resolveCells(emb, centroids)
    val cents = ivfCentroidsTrained(emb, nCells, dims, sampleMod, idCol, vecCol)
    val cells = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("cell_scores", cellScores("v", cents))
      .withColumn("cell",
        (array_position(col("cell_scores"), array_max(col("cell_scores"))) - 1)
          .cast("int"))
      .drop("cell_scores")
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint()
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id") &&
          col("a.lbl") =!= col("b.lbl"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        col("b.lbl").as("neg_label"),
        round(ArrayDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4)
          .as("sim"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    pairs.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
  }

  /** Semi-supervised label propagation over the within-cell k-NN graph
    * (Zhu & Ghahramani 2002 shape, hard labels): vectors with
    * `id % seedMod == 0` keep their trusted `label` as immutable seeds;
    * every other vector takes, each synchronous round, the MAJORITY label
    * among its out-neighbors' current labels (count desc, then smaller
    * label — deterministic), keeping its previous label when no neighbor
    * is labeled yet. This is the cheap way to extend a small trusted
    * labeling (human-audited quality/topic tags) across a web-scale
    * corpus without training a model.
    *
    * Shape at 100 TB: the edge list is built once (knnGraph's cell-bounded
    * pairwise join) and checkpointed; each round is one join of edges to
    * the current label frame (both keyed by vector id — uniform), a
    * partial-aggregated (src, label) count, and a per-src argmax window
    * over at most k rows per src. Rounds are O(iters) sequential jobs,
    * lineage truncated per round like `Dedup.neardupClusters`.
    *
    * NOTE: the default `centroids = AutoCells` runs a count() job at
    * CONSTRUCTION time to derive the cell count (memoized per input
    * plan — see [[autoCells]]); pass an explicit count to stay lazy.
    */
  def labelPropagation(emb: DataFrame, k: Int, centroids: Int = AutoCells,
                       dims: Int = 64,
                       iters: Int = 2, seedMod: Int = 5,
                       sampleMod: Int = 5, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    val edges = knnGraph(emb, k, centroids, dims, sampleMod, idCol, vecCol)
      .select(col("src"), col("dst")).localCheckpoint()
    var labels = emb.select(col(idCol).as("id"),
      when(col(idCol) % seedMod === 0, col(labelCol)).as("lbl"),
      (col(idCol) % seedMod === 0).as("seed"))
    // only OUR round checkpoints may release eagerly: the initial frame's
    // plan embeds `emb`, and a caller-checkpointed emb must keep its blocks
    var ours = false
    for (_ <- 1 to iters) {
      val votes = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .where(col("nlbl").isNotNull)
        .groupBy("src", "nlbl").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("src").orderBy(col("c").desc, col("nlbl"))
      val winner = votes.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("src").as("id"), col("nlbl").as("vote"))
      val next = labels.join(winner, Seq("id"), "left")
        .select(col("id"),
          when(col("seed"), col("lbl"))
            .otherwise(coalesce(col("vote"), col("lbl"))).as("lbl"),
          col("seed"))
        .localCheckpoint()
      if (ours) Blocks.release(labels) // superseded round checkpoint
      labels = next; ours = true
    }
    // the final labels checkpoint severed lineage, so the edge list's blocks
    // are no longer reachable from the returned frame
    if (ours) Blocks.release(edges)
    labels.select(col("id").as(idCol), col("lbl").as("label_prop"),
      col("seed"))
  }

  /** D4 pruning (Tirumala et al. 2023, "D4: Improving LLM Pretraining via
    * Document De-Duplication and Diversification"): SemDeDup first drops
    * semantic near-duplicates, then SSL-prototype pruning (Sorscher et al.
    * 2022) drops the most PROTOTYPICAL `dropFrac` of each cluster's
    * survivors — near-dups are redundant copies, prototypes are redundant
    * structure, and what remains is the diverse tail that moves the loss.
    * Returns one row per input vector: (id, cell, proto_sim, verdict)
    * with verdict in {'dup', 'proto', 'kept'} (proto_sim NULL for dups —
    * they never reach the prototype stage).
    *
    * Divergence from the paper, documented: the paper applies one GLOBAL
    * prototypicality threshold chosen to hit the target fraction; this
    * applies the fraction PER CELL (floor(dropFrac·|cell survivors|)) so
    * the decision is a window over the cell key — no global sort, no
    * driver-side quantile. At 100 TB the global variant is one
    * approx_percentile over proto_sim if a pipeline needs the paper's
    * exact semantics.
    *
    * Shape at 100 TB: inherits semDedup's cell-bounded pairwise contract
    * (k ~ n/cell_target); the centroid pass is a (cells × dims)-row
    * partial aggregate broadcast back; scoring is map-only on the native
    * `array_dot`; the rank/count windows partition by cell.
    *
    * NOTE: the default `centroids = AutoCells` runs a count() job at
    * CONSTRUCTION time to derive the cell count (memoized per input
    * plan — see [[autoCells]]); pass an explicit count to stay lazy.
    */
  def d4Prune(emb: DataFrame, centroids: Int = AutoCells, dims: Int = 64,
              threshold: Double = 0.3,
              dropFrac: Double = 0.25, sampleMod: Int = 5,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // (id, cell, dropped) — reused for survivors AND the final verdict join
    val sd = semDedup(emb, centroids, dims, threshold, sampleMod, idCol, vecCol)
      .localCheckpoint()
    val keep = sd.where(!col("dropped"))
      .join(emb.select(col(idCol), asDouble(col(vecCol)).as("__v")), idCol)
      .select(col(idCol), col("cell"), col("__v"))
    val cents = keep
      .select(col("cell"), posexplode(col("__v")))
      .groupBy("cell", "pos").agg(round(avg("col"), 4).as("cd"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cd")))),
        s => s.getField("cd")).as("cent"))
    val w = Window.partitionBy("cell").orderBy(col("proto_sim").desc, col(idCol))
    val ranked = keep.join(broadcast(cents), Seq("cell"))
      .select(col(idCol), col("cell"),
        round(nativeCosine(col("__v"), col("cent")), 4).as("proto_sim"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("proto_drop",
        col("rnk") <= floor(lit(dropFrac) * col("cnt")).cast("int"))
    sd.join(ranked.select(col(idCol), col("proto_sim"), col("proto_drop")),
        Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("proto_sim"),
        when(col("dropped"), lit("dup"))
          .when(col("proto_drop"), lit("proto"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** Embedding-space decontamination — the semantic sibling of the n-gram
    * `CorpusFilters.decontaminate`: a corpus vector is contaminated when
    * its max cosine to ANY eval-set vector reaches `threshold` (catches
    * paraphrased or reformatted benchmark leakage that shares no 5-gram).
    * Returns (id, max_eval_sim, contaminated) for every corpus row.
    *
    * Shape at 100 TB: the eval set is benchmark-sized — it BROADCASTS;
    * per-row norms are hoisted before the join so each (corpus, eval)
    * pair costs one native array_dot; the per-row max partial-aggregates
    * map-side, so the only shuffle carries |corpus| rows, not
    * |corpus|×|eval|. The corpus is scanned exactly once. */
  def embeddingDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                             threshold: Double, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__nv", sqrt(ArrayDot(col("__v"), col("__v"))))
    val ev = broadcast(
      evalSet.select(asDouble(col(vecCol)).as("__ev"))
        .withColumn("__nev", sqrt(ArrayDot(col("__ev"), col("__ev")))))
    c.crossJoin(ev)
      .withColumn("__sim",
        ArrayDot(col("__v"), col("__ev")) / (col("__nv") * col("__nev")))
      .groupBy(col(idCol))
      .agg(round(max("__sim"), 4).as("max_eval_sim"))
      .withColumn("contaminated", col("max_eval_sim") >= threshold)
  }
}
