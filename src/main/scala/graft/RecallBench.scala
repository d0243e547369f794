package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** ANN quality measurement: mean recall@10 of each approximate index vs
  * the brute-force cosine ranking, over a deterministic spread of query
  * vectors. Recall is a property of the (deterministic) index math and the
  * data — unlike timings it is host-weather-independent, so the printed
  * numbers are directly publishable (SCALE.md carries the committed
  * table; SimilaritySpec asserts floors so a regression fails CI).
  *
  * Usage: runMain graft.RecallBench [sfDir] [nQueries]
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(8)
    // "uniform": queries spread evenly over the id space (on unstructured
    // random vectors this measures the probe-coverage/noise baseline).
    // "family": queries are GenCorpus planted-family bases (id % 100 == 0,
    // family members at +1..+9) — true-neighbor recall, the number that
    // actually differentiates the index structures.
    val mode = args.lift(2).getOrElse("uniform")
    val spark = Sessions.local()
    Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")

    // deterministic query spread: every (n/nQueries)-th id of the sorted
    // candidate list — ids only on the driver, never vectors
    val all = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val ids = if (mode == "family") all.filter(_ % 100 == 0) else all
    // uniform queries sit at stride MIDPOINTS: with consecutive ids a
    // stride that divides the corpus would land every query on an
    // id % 100 == 0 family base and silently measure family recall
    val off = if (mode == "family") 0 else ids.length / (2 * nQueries)
    val queryIds = (0 until nQueries)
      .map(i => ids((((i.toLong * ids.length) / nQueries).toInt + off)
        .min(ids.length - 1)))

    def topIds(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet

    val k = 10
    val methods: Seq[(String, Long => DataFrame)] = Seq(
      "lsh_p8" -> (q => Similarity.annTopKLsh(emb, q, k, planes = 8, dims = 64)),
      "ivf_seed_np2" -> (q => Similarity.annTopKIvf(emb, q, k, centroids = 8,
        nprobe = 2, dims = 64)),
      "ivf_trained_np2" -> (q => Similarity.annTopKIvfTrained(emb, q, k,
        centroids = 8, nprobe = 2, dims = 64)),
      "pq_m8k16" -> (q => Similarity.annTopKPq(emb, q, k)),
      "ivfpq_np2" -> (q => Similarity.annTopKIvfPq(emb, q, k, centroids = 8,
        nprobe = 2, dims = 64)),
      "ivfpq_res_np2" -> (q => Similarity.annTopKIvfPqResidual(emb, q, k,
        centroids = 8, nprobe = 2, dims = 64)),
      // finer coarse grid at the same 1/4 probe coverage: the config where
      // residual coding's within-cell range shrink actually bites
      "ivfpq_c32_np8" -> (q => Similarity.annTopKIvfPq(emb, q, k,
        centroids = 32, nprobe = 8, dims = 64)),
      "ivfpq_res_c32_np8" -> (q => Similarity.annTopKIvfPqResidual(emb, q, k,
        centroids = 32, nprobe = 8, dims = 64)),
      "mrl_p16_f50" -> (q => Similarity.annTopKMatryoshka(emb, q, k,
        prefilterK = 50, prefixDims = 16).select("vec_id", "sim")),
      "hamming_64" -> (q => Similarity.annTopKHamming(emb, dims = 64,
        queryId = q, k = k)))

    def topIdsOrdered(df: DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq

    // brute-force truth once per query (ordered — it is also the ranked
    // qrel set the RetrievalEval metrics score against, grade 1)
    val qs = queryIds.distinct
    val bruteMap = qs.map(q =>
      q -> topIdsOrdered(Similarity.cosineTopK(emb, q, k))).toMap
    import spark.implicits._
    val qrelsDf = bruteMap.toSeq
      .flatMap { case (q, ids2) => ids2.map(d => (q, d, 1)) }
      .toDF("query_id", "doc_id", "grade")

    val evals = methods.map { case (name, fn) =>
      val annLists = qs.map(q => q -> topIdsOrdered(fn(q)))
      val recall = annLists.map { case (q, ann) =>
        (ann.toSet & bruteMap(q).toSet).size.toDouble / k
      }.sum / qs.size
      // the ranked lists re-scored through the evaluation operator
      // itself (the same code a corpus team runs) — MRR@k and nDCG@k
      // add rank-position signal the flat set-recall cannot see
      val resultsDf = annLists.flatMap { case (q, ids2) =>
        ids2.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
      }.toDF("query_id", "doc_id", "rank")
      val m = graft.operators.RetrievalEval.evaluate(resultsDf, qrelsDf, k)
        .agg(org.apache.spark.sql.functions.avg("rr"),
          org.apache.spark.sql.functions.avg("ndcg"))
        .collect()(0)
      (name, recall, m.getDouble(0), m.getDouble(1))
    }

    val json = evals
      .map { case (n, r, _, _) => s""""$n":${math.round(r * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    val evalJson = evals
      .map { case (n, _, mrr, ndcg) =>
        s""""$n":{"mrr":${math.round(mrr * 1000) / 1000.0},""" +
          s""""ndcg":${math.round(ndcg * 1000) / 1000.0}}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"recall_at_10","sf":"$sfDir","n_queries":$nQueries,"mode":"$mode","recall":$json,"eval":$evalJson}""")

    // family mode also has LABEL ground truth: member vec f*100+m (m=1..9)
    // belongs to family f, so label propagation seeded ONLY at the family
    // bases (id % 100 == 0) carries a measurable accuracy — the quality
    // number next to labelPropagation's speed number, like recall is for
    // the ANN family. Accuracy = propagated == family over the planted
    // members; coverage = fraction of members labeled after 2 rounds.
    if (mode == "family") {
      import org.apache.spark.sql.functions._
      val fam = expr("CAST(vec_id DIV 100 AS INT)")
      val seeded = emb.withColumn("label", fam)
      val cents = math.max(8, math.ceil(all.length / 250.0).toInt)
      val lp = Similarity.labelPropagation(seeded, k = 3, centroids = cents,
        dims = 64, iters = 2, seedMod = 100)
      // coalesce: on a fixture with no planted family members the sums
      // aggregate zero rows to NULL and getLong would NPE after the recall
      // JSON already printed
      val m = lp.where(col("vec_id") % 100 >= 1 && col("vec_id") % 100 <= 9)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("label_prop").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("cov"),
          coalesce(sum(when(col("label_prop") === fam, 1L).otherwise(0L)),
            lit(0L)).as("ok"))
        .head()
      val (n, cov, ok) = (m.getLong(0), m.getLong(1), m.getLong(2))
      def r3(x: Double) = math.round(x * 1000) / 1000.0
      println(s"""{"metric":"label_prop","sf":"$sfDir","members":$n,"centroids":$cents,"coverage":${r3(cov.toDouble / n)},"accuracy_covered":${r3(if (cov == 0) 0 else ok.toDouble / cov)}}""")
    }
    spark.stop()
    sys.exit(0)
  }
}
