package graft.operators

import graft.functions.{MinhashSignature, ShingleStrings, SimhashFingerprint, WindowHashes}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are expressed as declarative DataFrame transforms so Catalyst
  * keeps predicate pushdown / partial aggregation / AQE; none of them collects
  * to the driver. Determinism contract (for the DuckDB oracle): every hash is
  * an `md5` hex string (identical bytes in any engine), minima over hex
  * strings are plain lexicographic string minima.
  *
  * Scale notes (100 TB):
  *   - exactDedup is a single hash-shuffle on md5(text) — the canonical
  *     map-side-combinable groupBy; skew-safe because md5 keys are uniform.
  *   - minhash signatures are one explode + one groupBy(doc_id): shuffle keyed
  *     by doc_id (uniform). The LSH band join shuffles by 32-byte band key —
  *     uniform unless the corpus has giant near-dup clusters; those are
  *     exactly the rows one wants grouped, and AQE skew-join handles stragglers.
  *   - no O(n^2) stage anywhere: candidate generation is the banded join,
  *     exact Jaccard runs only on candidate (or explicitly enumerated) pairs.
  */
object Dedup {

  /** Word tokens of `textCol`, lowercased, split on runs of whitespace.
    * Empty tokens are filtered (regex-split engines disagree on whether a
    * leading/trailing separator produces an empty token). NULL text
    * yields NULL, not an empty array — per-row counts keep SQL NULL
    * semantics and every oracle replays that; an aggregation boundary
    * that must treat missing text as zero coalesces AT THE CALL SITE
    * (e.g. seqPack's driver-collected partition sums), it does not
    * change this shared definition. */
  def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), t => length(t) > 0)

  /** doc_id + exploded word n-gram shingles (space-joined) — one native
    * call per document (graft.functions.ShingleStrings, byte-identical
    * to the transform/concat_ws lambda the DuckDB oracles still run). */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col(idCol), explode(ShingleStrings(col("w"), n)).as("shingle"))
  }

  /** Exact-duplicate groups: one row per distinct md5(text), with the kept
    * (minimum) doc id and the group size. Keep-first exact dedup is then a
    * semi-join of `docs` against `keeper`. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))

  /** Incremental (new-batch-vs-corpus) exact dedup — the 100 TB production
    * shape: an already-released corpus is never re-deduplicated; each new
    * crawl batch is (1) anti-joined against the corpus' distinct text
    * hashes, then (2) keep-first deduplicated within itself. Returns the
    * surviving rows of `newBatch` with their original columns.
    *
    * Scale: both joins shuffle on uniform md5 keys (no skew); the corpus
    * side reduces to DISTINCT hashes — 16 bytes + overhead per unique doc —
    * which at the billions-of-docs scale is the smallest faithful
    * representation an exact check can use. For a membership test that
    * avoids shuffling the batch at all, see [[bloomDedup]] (approximate:
    * zero false negatives, tunable false-positive rate). */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // null text is a normal dedup group (exactGroups semantics): coalesce
    // the hash so the anti-join and keep-first joins never silently drop
    // null-key rows ('0' cannot collide with an md5 hex digest)
    val h = coalesce(md5(col(textCol)), lit("0"))
    val seen = corpus.select(h.as("seen_hash")).distinct()
    val keyed = newBatch.withColumn("text_hash", h)
    val fresh = keyed.join(seen, keyed("text_hash") === seen("seen_hash"),
      "left_anti")
    val keeper = fresh.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("ikeeper"))
    fresh.join(keeper, Seq("text_hash"))
      .where(col(idCol) === col("ikeeper"))
      .drop("text_hash", "ikeeper")
  }

  /** Bloom-filter membership variant of [[incrementalDedup]]'s corpus
    * check: builds a Bloom filter over the corpus' text hashes (distributed
    * treeAggregate build; the driver holds only the finished bitmap) and
    * drops batch rows the filter claims to have seen — a MAP-ONLY filter on
    * the batch side, no shuffle of either input at apply time.
    *
    * Guarantees: no false negatives (every true duplicate of a corpus doc
    * is dropped); false positives drop extra rows at ≤ `fpp` of the batch.
    * Sizing: 1e9 corpus docs at fpp=0.01 is a ~1.2 GB bitmap — broadcast-
    * able to big-memory executors; beyond that, fall back to the exact
    * anti-join (or shard the filter by a hash prefix). The UDF probe is
    * justified: Spark exposes no public bloom-probe function, and the probe
    * is O(1) per row against broadcast-resident bits.
    *
    * In-batch keep-first is NOT applied here (that needs the hash shuffle
    * the bloom path exists to avoid); chain [[exactGroups]] when needed. */
  def bloomDedup(newBatch: DataFrame, corpus: DataFrame,
                 expectedItems: Long, fpp: Double = 0.01,
                 textCol: String = "text"): DataFrame = {
    val bf = corpus.select(coalesce(md5(col(textCol)), lit("0")).as("h"))
      .stat.bloomFilter("h", math.max(expectedItems, 1L), fpp)
    val bcast = newBatch.sparkSession.sparkContext.broadcast(bf)
    // null-safe: the hash is coalesced on BOTH sides (null text dedups as
    // its own group, same as incrementalDedup) and the probe never sees null
    val probe = udf((h: String) => h != null && bcast.value.mightContainString(h))
    newBatch.where(!probe(coalesce(md5(col(textCol)), lit("0"))))
  }

  /** MinHash signature: ONE md5 per shingle, with the k hash functions
    * taken as k overlapping 16-hex-char (64-bit) fragments of the doubled
    * digest (h_i = substr(h || h, 4i+1, 16)) — each fragment is a distinct
    * 64-bit projection of the 128-bit digest, independent enough for
    * min-wise hashing at 1/k the hash cost. Signature column mh_i = min
    * over the doc's shingles.
    *
    * MAP-ONLY: the whole signature is one native expression call per
    * document (graft.functions.MinhashSignature — value-identical to the
    * explode + min-aggregate formulation the DuckDB oracle still runs, but
    * with no per-shingle rows and NO shuffle; at scale the shingle shuffle
    * was the dedup pipeline's dominant data movement). */
  def minhashSignatures(docs: DataFrame, n: Int = 3, k: Int = 8): DataFrame = {
    require(k <= 8, "at most 8 64-bit fragments fit one md5 digest")
    val cols = col("doc_id") +:
      (0 until k).map(i => element_at(col("sig"), i + 1).as(s"mh$i"))
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), MinhashSignature(col("w"), n, k).as("sig"))
      .select(cols: _*)
  }

  /** LSH banding over a minhash signature: k hashes, r rows per band, so
    * k/r bands; band key = md5 of the concatenated row hashes. Docs sharing
    * any band key are candidate near-duplicates.
    *
    * ONE scan: the band keys explode out of a per-row array, so the
    * (expensive, text-hashing) signature upstream computes once per doc —
    * the earlier union-of-projections formulation re-scanned the corpus
    * and re-ran the native minhash expression once PER BAND. */
  def lshBands(sigs: DataFrame, k: Int = 8, r: Int = 2): DataFrame = {
    require(k % r == 0, "k must be divisible by r")
    val keys = (0 until k / r).map { b =>
      md5(concat((b * r until (b + 1) * r).map(i => col(s"mh$i")): _*))
    }
    sigs.select(col("doc_id"), posexplode(array(keys: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** Distinct candidate pairs (id_a < id_b) from the banded self-join. */
  def lshCandidatePairs(docs: DataFrame, n: Int = 3, k: Int = 8, r: Int = 2): DataFrame =
    lshCandidatePairsFromSigs(minhashSignatures(docs, n, k), k, r)

  /** [[lshCandidatePairs]] over an ALREADY-computed signature frame — the
    * overload for callers that reuse one (checkpointed) signature pass
    * across several stages, so the pair contract lives in exactly one
    * place. */
  def lshCandidatePairsFromSigs(sigs: DataFrame, k: Int = 8,
                                r: Int = 2): DataFrame = {
    val bands = lshBands(sigs, k, r)
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Write the released corpus as a hash-BUCKETED catalog table: rows
    * bucketed (and sorted) by `md5(text)`, so every later text-keyed
    * operation — the incremental-dedup anti-join, exact-dup grouping, the
    * streaming corpus-dedup gate's static side — reads the corpus
    * PRE-PARTITIONED on its join key and never shuffles it again. This is
    * the executable form of the "bucket-by-hash the corpus table at scale"
    * contract the dedup scale notes promise: at 100 TB the corpus-side
    * shuffle is the dominant cost of every release-vs-batch check, and
    * bucketing pays it once at write time instead of per run.
    *
    * Null text hashes to '0' (the shared null-as-a-normal-group
    * convention), so null-text rows land in a deterministic bucket too. */
  def writeCorpusBucketed(docs: DataFrame, table: String, buckets: Int = 32,
                          textCol: String = "text"): Unit = {
    require(buckets > 0, "buckets must be positive")
    docs.withColumn("text_hash", coalesce(md5(col(textCol)), lit("0")))
      .write.mode("overwrite")
      .bucketBy(buckets, "text_hash").sortBy("text_hash")
      .format("parquet").saveAsTable(table)
  }

  /** [[incrementalDedup]] against a [[writeCorpusBucketed]] table: same
    * semantics (corpus-known texts dropped, then keep-first within the
    * batch), but the corpus side of the anti-join is the bucketed scan —
    * its output partitioning IS the join partitioning, so only the (small)
    * new batch shuffles; the released corpus is read in place. The
    * in-batch keeper stages then reuse the batch's text_hash partitioning,
    * so only batch-sized data ever shuffles — the terabyte side is read in place. */
  def incrementalDedupBucketed(newBatch: DataFrame, corpusTable: String,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    val corpus = newBatch.sparkSession.table(corpusTable)
      .select(col("text_hash"))
    val keyed = newBatch.withColumn("text_hash",
      coalesce(md5(col(textCol)), lit("0")))
    val fresh = keyed.join(corpus,
      keyed("text_hash") === corpus("text_hash"), "left_anti")
    val keeper = fresh.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("ikeeper"))
    fresh.join(keeper, Seq("text_hash"))
      .where(col(idCol) === col("ikeeper"))
      .drop("text_hash", "ikeeper")
  }

  /** Cross-source overlap matrix: for each ordered source pair, how many
    * of source A's DISTINCT texts also appear verbatim in source B, and
    * what fraction of A that is — the provenance-overlap report a corpus
    * release publishes (how much of crawl X is already in dump Y decides
    * dedup order and mixture accounting). Null text participates as its
    * usual single group.
    *
    * Shape at 100 TB: per-source text sets reduce to DISTINCT
    * (source, md5) rows (partial agg); the pair join is hash-keyed on the
    * uniform digest, and the output is sources²-bounded. Never all-pairs
    * on documents — only on (source, hash) distinct rows. */
  def sourceOverlap(docs: DataFrame, strataCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val h = docs.select(col(strataCol).as("src"),
      coalesce(md5(col(textCol)), lit("0")).as("h")).distinct()
    val totals = h.groupBy("src").agg(count(lit(1)).as("total_a"))
    h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.src") =!= col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("shared_texts"))
      .join(broadcast(totals.withColumnRenamed("src", "source_a")),
        Seq("source_a"))
      .withColumn("overlap_frac",
        round(col("shared_texts").cast("double") / col("total_a"), 4))
  }

  /** MinHash calibration — estimated vs TRUE Jaccard on the LSH candidate
    * pairs: `est = (matching signature components) / k` against the exact
    * shingle-set Jaccard, with the absolute error per pair. The
    * measure-don't-guess artifact for the near-dup pipeline: before trusting
    * a (k, r, threshold) configuration at corpus scale, run this on a
    * hash-sample and read the error distribution (E[est] = J and
    * sd ≈ sqrt(J(1-J)/k) — k=8 is a coarse estimator; the report shows
    * exactly how coarse).
    *
    * Shape at 100 TB: a QA operator meant for a `Sampling.hashSample` of
    * the corpus, not the full corpus — the signature frame (k longs/doc) is
    * localCheckpoint'ed so its three uses (banding, both pair sides) cost
    * one text pass; the true-Jaccard stage is ngramJaccard's candidate-only
    * shingle join, never all-pairs. */
  def minhashCalibration(docs: DataFrame, n: Int = 3, k: Int = 8,
                         r: Int = 2): DataFrame = {
    val sigs = minhashSignatures(docs, n, k).localCheckpoint()
    val pairs = lshCandidatePairsFromSigs(sigs, k, r)
    val sa = sigs.select(col("doc_id").as("id_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("id_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(matches.cast("double") / k, 4).as("est_jaccard"))
    ngramJaccard(docs, pairs, n).join(est, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))
  }

  /** Edit-distance verification of the LSH candidate pairs — the standard
    * second stage of a near-dup pipeline (band collisions are a recall
    * device; precision comes from re-checking each candidate with a real
    * string metric). `edit_sim = 1 - lev(a,b) / max(|a|,|b|)`, rounded to
    * 4 decimals; pairs below `threshold` are dropped.
    *
    * Levenshtein is O(|a|·|b|) per pair, so the comparison runs on the
    * first `prefixChars` characters — the prefix bound is what makes the
    * stage affordable on book-length documents (near-dups that agree on a
    * 2k prefix and share MinHash bands are near-dups; the reference
    * pipelines truncate the same way). Null text compares as "".
    *
    * Shape at 100 TB: pair generation is the banded join (never all-pairs);
    * the verify is two uniform id-keyed shuffle joins to attach the
    * prefixes, then a map-side metric. Pair count — not corpus size —
    * drives the cost. */
  def editDistVerify(docs: DataFrame, threshold: Double = 0.3, n: Int = 3,
                     k: Int = 8, r: Int = 2, prefixChars: Int = 2000,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(prefixChars > 0, "prefixChars must be positive")
    val pref = docs.select(col(idCol).as("pid"),
      substring(coalesce(col(textCol), lit("")), 1, prefixChars).as("pt"))
    lshCandidatePairs(docs, n, k, r)
      .join(pref.withColumnRenamed("pid", "id_a").withColumnRenamed("pt", "ta"),
        Seq("id_a"))
      .join(pref.withColumnRenamed("pid", "id_b").withColumnRenamed("pt", "tb"),
        Seq("id_b"))
      .withColumn("edit_sim", round(lit(1.0) -
        levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb")), lit(1)), 4))
      .where(col("edit_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("edit_sim"))
  }

  /** 32-bit SimHash over word unigrams (with multiplicity). Per token the
    * hash is the 32-bit value of the first 8 hex chars of md5(token); bit j
    * (j = 0..31, where bit j is bit 31-j of that value — i.e. hex chars in
    * order, MSB-first within each nibble) votes +1/-1; the fingerprint sets
    * bit j when the vote is positive.
    *
    * MAP-ONLY: one native expression call per document
    * (graft.functions.SimhashFingerprint) — no token explode, no doc_id
    * shuffle. (The DuckDB oracle keeps the explicit bits formulation; the
    * two are value-identical by the bit identity above.) */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col(idCol), SimhashFingerprint(col("w")).as("simhash"))
  }

  /** Near-duplicate CLUSTERS from a candidate-pair list: connected
    * components by iterative min-label propagation — every id's cluster_id
    * converges to the minimum id reachable through the pair graph, giving a
    * canonical keeper per cluster (keep-first dedup = keep id == cluster_id).
    *
    * Scale shape: each round is a neighbor-min join+groupBy followed by a
    * pointer-doubling shortcut join (label(x) := label(label(x)) — the
    * star-contraction halving step of large-star/small-star CC), all keyed
    * by id — uniform shuffles, no skew amplification. The shortcut makes
    * rounds O(log diameter): a 64-node adversarial chain converges in ~7
    * rounds instead of 63, while the shallow clusters LSH actually emits
    * still finish in 2-3. [[Blocks.iterate]] runs the rounds: lineage is
    * truncated per round with an eager localCheckpoint so the plan stays
    * flat however many rounds run, and the driver's only work per round is
    * the count of labels the propagate step lowered, read off that step's
    * own checkpoint job — no row data ever reaches the driver, and numeric
    * and string ids walk alike. `maxRounds` bounds an adversarial input
    * that cannot converge (2^maxRounds exceeds any real component
    * diameter). A graph whose labels and edges fit under the session's
    * broadcast threshold (some 400k directed edges of numeric ids at the
    * 10 MB default) runs the rounds after round 0 on the driver, over int
    * ranks, after one collect ([[Blocks.iterate]]'s bounded finish): the
    * candidate graphs of a single crawl batch or a registry query. A
    * 100 TB graph is far over it and every round stays distributed. */
  def neardupClusters(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxRounds: Int = 64): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().observe("edges", count(lit(1))).persist()
    // Round 1's neighbor-min folds into the SAME shuffle that used to
    // build the id set (`select(src).distinct` paid an identical exchange
    // to emit labels = id): labels start at min(id, min neighbor) — one
    // full propagation round ahead — and the iteration below converges to
    // the same per-component minimum fixpoint (labels stay within the
    // component's id set, the component min keeps labeling itself).
    val init = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id"))
    // The propagate step counts the labels it lowered. Labels only ever
    // decrease, so a round that lowers none found labels ALREADY a
    // fixpoint of the propagate step (for all edges (x,y):
    // label(x) <= label(y), which by symmetry makes labels constant per
    // component and equal to the component min): the walk stops there,
    // without a chase checkpoint that would re-materialize an identical
    // table. (The step's checkpoint also serves the chase below, which
    // self-joins its frame: unmaterialized, the self-join would recompute
    // the neighbor-min shuffle on both branches.)
    def propagate(labels: DataFrame): DataFrame = {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nbr_min"))
      labels.as("l")
        .join(nbrMin.as("n"), col("l.id") === col("n.src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.cluster_id"),
            coalesce(col("n.nbr_min"), col("l.cluster_id"))).as("cluster_id"),
          (col("n.nbr_min") < col("l.cluster_id")).as("lowered"))
    }
    // pointer doubling: chase one extra hop through the label table so
    // label distance halves per round (O(log diameter) total rounds).
    // NEGATIVE RESULT (r18): composing the chase with itself (a 4x jump
    // per round from the same two checkpoints, inner join recomputed on
    // both sides of the outer) measured dd_semantic_clusters 4.7->19.5 s
    // in the PlanProbe A/B — the nested unmaterialized self-join's
    // recompute + per-round planning far exceeded the saved rounds, the
    // same lesson as r17's fused-round revert. Single chase per
    // materialization is the measured optimum on this family.
    def chase(stepped: DataFrame): DataFrame =
      stepped.as("a")
        .join(stepped.select(col("id").as("pid"),
          col("cluster_id").as("pcluster")).as("p"),
          col("a.cluster_id") === col("p.pid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster_id"),
            coalesce(col("p.pcluster"), col("a.cluster_id"))).as("cluster_id"))
    try
      Blocks.iterate("neardupClusters", init, col("lowered"), maxRounds,
          twin = LabelTwin(edges))(
          propagate, Some(chase))((_, lowered, _) => lowered != 0)
        .select(col("id"), col("cluster_id"))
    finally edges.unpersist()
  }

  /** [[neardupClusters]]' rounds on the driver, for [[Blocks.iterate]]'s
    * in-memory finish: the chase (from round 2 on), then the propagate
    * step, each exactly as the distributed join computes it, so the
    * lowered counts, the round the walk stops at and a `maxRounds` throw
    * all match. Ids become their ranks in Spark's order (integers
    * numerically, strings by their UTF-8 bytes), so every min is an int
    * compare. Null ids are left to the distributed rounds. */
  private final class LabelTwin(edges: DataFrame, idType: DataType,
                                order: Ordering[Any]) extends Blocks.Twin {
    private var ids: Array[Any] = Array.empty
    private var label: Array[Int] = Array.empty
    private var lowered: Array[Boolean] = Array.empty
    private var src, dst: Array[Int] = Array.empty
    override def sides: Seq[DataFrame] = Seq(edges)
    // no count when the optimizer pruned the edge scan (no pairs): the
    // edges are then unknown, so over any budget
    override def sideBytes(round0: Map[String, Row]): Long =
      round0.get("edges").fold(Long.MaxValue)(
        _.getLong(0) * Blocks.rowWidth(edges))
    def load(rows: Array[InternalRow],
             sides: Seq[Array[InternalRow]]): Boolean =
      !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)) && {
        ids = rows.map(_.get(0, idType)).sorted(order)
        val rank = ids.zipWithIndex.toMap
        val byId = rows.map(r => rank(r.get(0, idType)) -> r.get(1, idType))
        label = new Array[Int](ids.length)
        byId.foreach { case (i, c) => label(i) = rank(c) }
        src = sides.head.map(e => rank(e.get(0, idType)))
        dst = sides.head.map(e => rank(e.get(1, idType)))
        true
      }
    def rows: Seq[InternalRow] = ids.indices.map(i =>
      new GenericInternalRow(Array[Any](ids(i), ids(label(i)), lowered(i))))
    def round(r: Int): Long = {
      if (r > 0) label = label.map(l => math.min(l, label(l)))
      val nbr = Array.fill(ids.length)(Int.MaxValue)
      src.indices.foreach(e => nbr(src(e)) = math.min(nbr(src(e)), label(dst(e))))
      lowered = nbr.indices.map(i => nbr(i) < label(i)).toArray
      label = nbr.indices.map(i => math.min(label(i), nbr(i))).toArray
      lowered.count(identity).toLong
    }
  }

  private object LabelTwin {
    def apply(edges: DataFrame): Option[Blocks.Twin] = {
      val t = edges.schema("src").dataType
      val order: Option[Ordering[Any]] = t match {
        case StringType => Some(Ordering.fromLessThan[Any]((a, b) =>
          a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String]) < 0))
        case LongType | IntegerType | ShortType | ByteType =>
          Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
        case _ => None
      }
      order.filter(_ => edges.schema("dst").dataType == t)
        .map(new LabelTwin(edges, t, _))
    }
  }

  /** Exact n-gram Jaccard similarity for an explicit pair list
    * (pairs: id_a, id_b). Relational formulation — distinct shingle sets,
    * pair-join on shingle equality — so it runs on candidates only, never
    * all-pairs. */
  /** One representative per near-dup cluster: the member with the highest
    * `scoreCol` (quality, length, recency — caller's choice), ties broken
    * to the smallest id. `clusters` is `neardupClusters` output
    * (id, cluster_id). Returns (cluster_id, keeper_id, best_score,
    * cluster_size) — the "keep the best copy, not the first copy" closing
    * step of a dedup pipeline.
    *
    * Portable + skew-safe shape: per-cluster max then a filtered min —
    * plain aggregates over uniform cluster keys, no struct-ordering
    * comparisons (engines disagree), no window over the corpus. */
  def clusterKeepBest(docs: DataFrame, clusters: DataFrame, scoreCol: Column,
                      idCol: String = "doc_id"): DataFrame = {
    val members = docs.select(col(idCol).as("id"), scoreCol.as("score"))
      .join(clusters, Seq("id"))
    val best = members.groupBy("cluster_id")
      .agg(max("score").as("best_score"), count(lit(1)).as("cluster_size"))
    members.join(best, Seq("cluster_id"))
      .where(col("score") === col("best_score"))
      .groupBy("cluster_id")
      .agg(min("id").as("keeper_id"), max("score").as("best_score"),
        max("cluster_size").as("cluster_size"))
  }

  /** Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): remove every duplicated run of at
    * least `l` words, keeping only the corpus-wide FIRST occurrence. The
    * paper builds a suffix array over the byte stream; the relational
    * re-expression hashes every length-`l` word window (stride 1) — a run
    * of m >= l words duplicated elsewhere has ALL of its windows
    * duplicated, so marking words covered by any non-first duplicate
    * window removes exactly the duplicated runs of length >= l, at word
    * (not byte) granularity. Returns per-doc
    * (n_words, removed_words, kept_words, kept_digest) where kept_digest
    * is md5 of the space-joined surviving words — a byte-exact oracle
    * check of WHICH words were cut, not just how many.
    *
    * Shape at 100 TB: windows explode to one row per word (the same rate
    * as cdcChunkDedup) and shuffle once by md5 window hash — uniform keys,
    * and the per-hash first-occurrence is a min(struct) aggregate, so a
    * boilerplate window appearing in 10% of the corpus collapses per map
    * partition BEFORE the shuffle (never a row_number window over a hot
    * hash). Covered-word expansion multiplies only the DUPLICATE windows
    * by l; the surviving-text rebuild groups words by doc_id (uniform).
    * No stage is quadratic and nothing collects to the driver. */
  def substringDedup(docs: DataFrame, l: Int = 8, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
    // every length-l window, 1-based start pos, md5 of the joined words —
    // one native call per document (graft.functions.WindowHashes,
    // value-identical to the transform/slice/concat_ws/md5 lambda the
    // DuckDB oracle still runs, without the per-window interpreted
    // dispatch + slice copies)
    val wins = base.where(size(col("ws")) >= l)
      .select(col("doc_id"), posexplode(WindowHashes(col("ws"), l)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    // canonical first occurrence per hash (map-side-combinable min-struct)
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"),
        count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
    // non-first occurrences of duplicated windows -> covered word indexes
    val covered = wins.join(firsts, Seq("h"))
      .where(struct(col("doc_id"), col("pos")) =!= col("f"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (l - 1))).as("idx"))
      .distinct()
    // rebuild the surviving text relationally (no per-word lambda scans):
    // word rows anti-joined against covered indexes, re-assembled in order
    val words = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("idx"), col("word"))
    val kept = words.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_words"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("idx"), col("word")))),
            s => s.getField("word")))).as("kept_digest"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("kept_words"), lit(0L)))
          .as("removed_words"),
        coalesce(col("kept_words"), lit(0L)).as("kept_words"),
        coalesce(col("kept_digest"), md5(lit(""))).as("kept_digest"))
  }

  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 2): DataFrame =
    pairShingleStats(docs, pairs, n)
      .select(col("id_a"), col("id_b"),
        round(coalesce(col("i"), lit(0)) /
          (col("ca") + col("cb") - coalesce(col("i"), lit(0))), 4)
          .as("jaccard"))

  /** ONE definition of the candidate-pair shingle frame [[ngramJaccard]]
    * and [[ngramContainment]] share: per (id_a, id_b) the intersection
    * size `i` (null when empty) and both sides' distinct-shingle counts
    * `ca` / `cb`. Pairs touching a doc with no shingles (under `n`
    * words) DROP here — the candidate contract both callers inherit. */
  private def pairShingleStats(docs: DataFrame, pairs: DataFrame,
                               n: Int): DataFrame = {
    val sh = shingles(docs, n).distinct()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = pairs
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"), col("id_b"), col("i"),
        col("ca.c").as("ca"), col("cb.c").as("cb"))
  }

  /** N-gram CONTAINMENT for candidate pairs — the asymmetric twin of
    * [[ngramJaccard]]: C(A⊂B) = |A∩B| / |A| and C(B⊂A) = |A∩B| / |B|,
    * the Broder containment that catches SUB-document duplication
    * (a page 95% quoted inside a bigger page scores ~0.95 here while
    * its Jaccard drowns under the size mismatch — the classic reason
    * quote-farms survive Jaccard-thresholded dedup). Same shingle
    * frames, same candidate-pair contract as [[ngramJaccard]] (never
    * all-pairs; a pair touching a doc with no shingles — under `n`
    * words — DROPS rather than reporting a fabricated score), round(4). */
  def ngramContainment(docs: DataFrame, pairs: DataFrame,
                       n: Int = 2): DataFrame =
    pairShingleStats(docs, pairs, n)
      .select(col("id_a"), col("id_b"),
        round(coalesce(col("i"), lit(0)) / col("ca"), 4)
          .as("containment_a_in_b"),
        round(coalesce(col("i"), lit(0)) / col("cb"), 4)
          .as("containment_b_in_a"))

  /** Incremental NEAR-duplicate dedup — the fuzzy counterpart of
    * [[incrementalDedup]]: a new crawl batch is deduplicated against the
    * already-released corpus at MinHash/LSH granularity, so a re-crawled
    * page with a tweaked footer still dies. Candidates are batch×corpus
    * pairs sharing ANY LSH band; each candidate is verified with exact
    * word n-gram Jaccard, and batch docs with a verified match
    * (round(4) jaccard ≥ threshold) are dropped. Docs under n words have
    * no shingles, hence no bands — they pass by contract.
    *
    * Shape at 100 TB: both sides are minhashed MAP-ONLY (native
    * expression), the only pair generator is the band-key equi-join
    * (uniform 32-byte keys — never all-pairs, AQE absorbs hot bands), and
    * the Jaccard verification joins run on candidates only, keyed by doc
    * id and (id, shingle). Neither corpus ever self-joins, and nothing
    * needs to fit in a broadcast — this is the big-big sibling of
    * CorpusFilters.decontaminateFuzzy's broadcast-eval shape. */
  def incrementalNearDedup(newBatch: DataFrame, corpus: DataFrame,
                           n: Int = 3, k: Int = 8, r: Int = 2,
                           threshold: Double = 0.5): DataFrame = {
    val bb = lshBands(minhashSignatures(newBatch, n, k), k, r)
    val cb = lshBands(minhashSignatures(corpus, n, k), k, r)
    val cand = bb.as("a").join(cb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sa = shingles(newBatch, n).distinct()
    val sb = shingles(corpus, n).distinct()
    val ca = sa.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val cbc = sb.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = cand
      .join(sa.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sb.as("sb"), col("id_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    val jac = cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(ca.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cbc.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"),
        round(coalesce(col("i"), lit(0L)).cast("double") /
          (col("ca.c") + col("cb.c") - coalesce(col("i"), lit(0L))), 4)
          .as("j"))
    val drops = jac.where(col("j") >= threshold)
      .select(col("id_a").as("doc_id")).distinct()
    newBatch.join(drops, Seq("doc_id"), "left_anti")
  }
}
