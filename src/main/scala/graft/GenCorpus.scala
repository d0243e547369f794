package graft

/** Deterministic corpus generator for larger-scale bench points (SCALE.md):
  * writes `documents.parquet` + `embeddings.parquet` shaped like the
  * driver's testdata (same columns/types, ~10% near-duplicate docs so the
  * dedup family has real work) at any multiple of the sf0.1 row counts.
  * Every row derives from `new java.util.Random(seed*K + id)` — the same
  * (outDir-independent) corpus on every run, machine, and partitioning; no
  * wall-clock, no global RNG.
  *
  * Usage: runMain graft.GenCorpus <outDir> [nDocs] [nVecs] [seed]
  * (sf1 ≈ 50000 docs / 20000 vecs — 10x the sf0.1 tables). */
object GenCorpus {
  // the testdata's word universe: short engine-flavored tokens
  private val Vocab: Array[String] = Array(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "join", "group", "shuffle", "merge", "hash",
    "index", "query", "plan", "stage", "task", "row", "page", "block",
    "cache", "disk", "read", "write", "seek", "flush", "commit", "seal",
    "stream", "window", "state", "event", "time", "span", "trace", "log",
    "metric", "gauge", "count", "sum", "min", "max", "avg", "rate",
    "filter", "map", "reduce", "fold", "zip", "take", "drop", "skip",
    "limit", "range", "split", "chunk", "shard", "bucket", "salt", "key",
    "data", "file", "table", "view", "schema", "field", "type", "null",
    "array", "struct", "list", "pair", "tuple", "graph", "node", "edge",
    "token", "term", "word", "text", "corpus", "sample", "label", "class",
    "model", "train", "test", "score", "rank", "top", "best", "worst")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  private def docWords(seed: Long, baseId: Long): Array[String] = {
    val rnd = new java.util.Random(seed * 1000003L + baseId)
    val len = 30 + rnd.nextInt(41)
    Array.fill(len)(Vocab(rnd.nextInt(Vocab.length)))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      sys.error("usage: GenCorpus <outDir> [nDocs] [nVecs] [seed]"))
    val nDocs = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nVecs = args.lift(2).map(_.toLong).getOrElse(20000L)
    val seed = args.lift(3).map(_.toLong).getOrElse(42L)
    val spark = Sessions.local()
    import spark.implicits._

    val docs = spark.range(nDocs).map { boxed =>
      val id: Long = boxed
      // every 20th doc (offset 7) re-generates doc id-7's words and inserts
      // one token at the front: a deterministic near-duplicate population
      // (~5%) that minhash/simhash/CDC operators must actually catch
      val isNearDup = id % 20 == 7 && id >= 7
      val baseId = if (isNearDup) id - 7 else id
      val words = docWords(seed, baseId)
      val text =
        if (isNearDup) ("inserted " + words.mkString(" ")) else words.mkString(" ")
      val rnd = new java.util.Random(seed * 7000003L + id)
      (id, text, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(8)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val vecs = spark.range(nVecs).map { boxed =>
      val id: Long = boxed
      // planted neighbor families (~10% of the corpus): ids with
      // id % 100 in 1..9 perturb their family base (id - id%100), so ANN
      // recall has TRUE near neighbors to find and the embedding-dedup
      // operators have real work — the vector-side mirror of the near-dup
      // doc population above. Everything still derives from (seed, id).
      val famPos = id % 100
      val isFam = famPos >= 1 && famPos <= 9
      val baseId = if (isFam) id - famPos else id
      val rnd = new java.util.Random(seed * 9000007L + baseId)
      val base = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
      val emb = if (isFam) {
        val nr = new java.util.Random(seed * 11000059L + id)
        base.map(x => x + (nr.nextFloat() * 2f - 1f) * 0.05f)
      } else base
      val lr = new java.util.Random(seed * 13000027L + id)
      (id, emb, lr.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
    vecs.repartition(4).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    println(s"[gencorpus] wrote $nDocs docs / $nVecs vecs to $outDir (seed=$seed)")
    spark.stop()
  }
}
