package graft

import graft.functions.{ArrayDot, ArraySqDist, DocBuckets, HashEmbed,
  WinnowingFingerprints}
import org.apache.spark.sql.functions._

/** The native winnowing expression must be value-identical to the SQL
  * array formulation it replaced (which the DuckDB oracle mirrors):
  * k-gram md5-prefix hashes, w-window minima, distinct + sorted. */
class FunctionsSpec extends SparkTestBase {

  private val k = 8
  private val w = 4

  private def sqlFormulation(df: org.apache.spark.sql.DataFrame) =
    df.where(length(col("text")) >= k)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .withColumn("hs", expr(
        s"transform(sequence(1, length(t) - ${k - 1}), p -> substring(md5(substr(t, p, $k)), 1, 8))"))
      .withColumn("fp", expr(
        s"""CASE WHEN size(hs) >= $w
           |THEN sort_array(array_distinct(transform(sequence($w, size(hs)),
           |  i -> array_min(slice(hs, i - ${w - 1}, $w)))))
           |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(col("doc_id"), col("fp"))

  private def nativeFormulation(df: org.apache.spark.sql.DataFrame) = {
    df.where(length(col("text")) >= k)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .withColumn("fp", WinnowingFingerprints(col("t"), k, w))
      .select(col("doc_id"), col("fp"))
  }

  test("winnowing expression ≡ SQL formulation on the documents corpus") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val a = sqlFormulation(docs)
    val b = nativeFormulation(docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(b.count() > 0)
  }

  test("winnowing expression ≡ SQL formulation on unicode + edge inputs") {
    import spark.implicits._
    val rows = Seq(
      1L -> "héllo wörld ünïcode ça va très bien",
      2L -> "日本語のテキストです。これはテストです。",
      3L -> "exactly8!",      // barely above k: 1-2 hashes, under w → empty set
      4L -> "aaaaaaaaaaaaaaaa", // degenerate repeats: one distinct hash
      5L -> "MiXeD CaSe TeXt WITH lower() FOLDING behaviour 12345")
      .toDF("doc_id", "text")
    val a = sqlFormulation(rows).collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = nativeFormulation(rows).collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b, s"sql=$a native=$b")
    assert(b(4L).size == 1)
    assert(b(3L).isEmpty)
  }

  test("minhash expression ≡ explode + min-aggregate formulation") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    // the relational formulation the native expression replaced (and the
    // DuckDB oracle still runs): one md5 per shingle, k doubled-digest
    // fragment minima behind a doc_id aggregate
    val sh = graft.operators.Dedup.shingles(docs, 3)
      .withColumn("h", md5(col("shingle")))
      .withColumn("h2", concat(col("h"), col("h")))
    val aggs = (0 until 8).map(i =>
      min(substring(col("h2"), 4 * i + 1, 16)).as(s"mh$i"))
    val relational = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val native = graft.operators.Dedup.minhashSignatures(docs)
    assert(native.exceptAll(relational).isEmpty &&
      relational.exceptAll(native).isEmpty)
    // and the native path is map-only — the shingle shuffle is gone
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("minhash expression handles unicode and short docs like the SQL") {
    import spark.implicits._
    val docs = Seq(
      1L -> "héllo wörld ünïcode tokens here",
      2L -> "a b",          // fewer than n words -> filtered out
      3L -> "x y z")        // exactly one shingle
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.minhashSignatures(docs).collect()
    assert(got.map(_.getLong(0)).toSet == Set(1L, 3L))
    val one = got.find(_.getLong(0) == 3L).get
    // one shingle: every fragment is a substring of md5("x y z") doubled
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val h2 = h + h
    (0 until 8).foreach(i => assert(one.getString(i + 1) == h2.substring(4 * i, 4 * i + 16)))
  }

  test("simhash expression ≡ explode + vote-aggregate formulation") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val toks = docs.select(col("doc_id"),
        explode(graft.operators.Dedup.tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .withColumn("v", expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"))
    val votes = (0 until 32).map(j =>
      sum(expr(s"shiftright(v, ${31 - j}) & 1") * 2 - 1).as(s"vote$j"))
    val fingerprint = (0 until 32).map(j =>
      expr(s"CASE WHEN vote$j > 0 THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE CAST(0 AS BIGINT) END"))
      .reduce(_ + _)
    val relational = toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
    val native = graft.operators.Dedup.simhash(docs)
    assert(native.exceptAll(relational).isEmpty &&
      relational.exceptAll(native).isEmpty)
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("winnowing expression stays inside whole-stage codegen") {
    Tables.register(spark, sfDir)
    val plan = nativeFormulation(spark.table("documents"))
      .queryExecution.executedPlan.toString
    // codegen'd stages are starred; the project hosting the expression
    // must not fall back to interpreted eval
    assert(plan.contains("*("), plan)
  }

  test("array_sqdist ≡ the zip_with/aggregate lambda squared-L2, bit-for-bit") {
    Tables.register(spark, sfDir)
    import org.apache.spark.sql.functions._
    val e = spark.table("embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") + 1 === col("b.vec_id"))
    val diff = pairs.select(
      ArraySqDist(col("a.v"), col("b.v")).as("nat"),
      aggregate(zip_with(col("a.v"), col("b.v"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, x) => acc + x).as("lam"))
      .where(col("nat") =!= col("lam"))
    assert(diff.isEmpty, "identical summation order must give identical doubles")
  }

  test("array_dot ≡ the zip_with/aggregate lambda dot, bit-for-bit") {
    Tables.register(spark, sfDir)
    import org.apache.spark.sql.functions._
    val e = spark.table("embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    // self-pairs and shifted pairs exercise unequal vectors
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") === col("b.vec_id") ||
        col("a.vec_id") + 1 === col("b.vec_id"))
    val diff = pairs.select(
      ArrayDot(col("a.v"), col("b.v")).as("nat"),
      aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("lam"))
      .where(col("nat") =!= col("lam")) // exact, not approximate
    assert(diff.isEmpty, "identical summation order must give identical doubles")
    // and it must stay inside whole-stage codegen
    val plan = e.select(ArrayDot(col("v"), col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
  }

  test("salts reach hash_embed and doc_buckets byte for byte: a quote and " +
    "a literal backslash-n") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def words(ws: String*) =
      new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any).toArray)
    // a salt read as SQL text would lose the quote (a parse error) or turn
    // the backslash-n into a newline; `unescaped` is that reading
    def unescaped(salt: String) = salt.replace("\\n", "\n")
    val salts = Seq("it's", "a\\nb")
    assert(salts(1).length == 4)

    val text = "the quick brown fox jumps over the lazy dog"
    val toks = text.split(" ").toSeq
    salts.foreach { salt =>
      val raw = HashEmbed.compute(words(toks: _*), 8, salt).toDoubleArray()
      if (unescaped(salt) != salt)
        assert(!raw.sameElements(
          HashEmbed.compute(words(toks: _*), 8, unescaped(salt)).toDoubleArray()))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      // the operator's normalization: x / norm, Spark's HALF_UP round(4)
      val want = raw.map(x => BigDecimal(x / nrm)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
      val got = graft.operators.TextAnalysis.hashEmbedding(
        Seq((1L, text)).toDF("doc_id", "text"), dims = 8, salt = salt)
        .collect().map(_.getSeq[Double](1))
      assert(got.toSeq == Seq(want), s"salt $salt")
    }

    // dsirWeights: one raw word x, one target word y, two buckets — the
    // weight is 0 iff x and y share a bucket, else log(1/2) (-0.6931)
    def bucket(w: String, salt: String) =
      DocBuckets.compute(words(w), 2, salt).toLongArray().indexOf(1L)
    def shared(y: String, salt: String) = bucket("x", salt) == bucket(y, salt)
    salts.foreach { salt =>
      // a y of each outcome, flipped under the unescaped salt when one exists
      val ys = (0 until 1000).map(i => s"y$i")
      def pick(same: Boolean) = ys.find(y => shared(y, salt) == same &&
        (unescaped(salt) == salt || shared(y, unescaped(salt)) != same)).get
      Seq(true, false).foreach { same =>
        val y = pick(same)
        val w = graft.operators.Sampling.dsirWeights(
          Seq((1L, "x")).toDF("doc_id", "text"),
          Seq((1L, y)).toDF("doc_id", "text"), buckets = 2, salt = salt)
          .collect().map(_.getAs[Double]("dsir_weight"))
        assert(w.toSeq == Seq(if (same) 0.0 else -0.6931), s"salt $salt, y $y")
      }
    }
  }

  test("native kernels and a seal write leave the session's functions " +
    "unchanged") {
    import spark.implicits._
    import graft.operators.{CorpusFilters, Dedup, Sampling, Similarity,
      TextAnalysis, WebFilters}
    Tables.register(spark, sfDir)
    def functions() = spark.catalog.listFunctions().collect().map(_.name).toSet ++
      spark.sessionState.catalog.listTemporaryFunctions().map(f => s"temp:${f.funcName}")
    val before = functions()
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy cat once more today",
      3L -> "a completely different sentence about tokenizers and merges")
      .toDF("doc_id", "text")
    val emb = spark.table("embeddings")
    val links = docs.select(col("doc_id"),
      concat(lit("https://h.example.org/d/"), col("doc_id")).as("base_url"),
      concat(lit("<a href=\"/x/"), col("doc_id"), lit("\">t</a>")).as("html"))
    val frames = Seq(
      "array_dot" -> Similarity.cosineTopK(emb, queryId = 7, k = 3),
      "array_sqdist" -> Similarity.kmeansClusters(emb, k = 2, dims = 64),
      "chunk_hashes" -> CorpusFilters.chunkDedup(docs, chunkWords = 4),
      "shingle_strings" -> Dedup.shingles(docs, 3),
      "cdc_flags" -> CorpusFilters.cdcChunks(docs, blockWords = 8),
      "hash_embed" -> TextAnalysis.hashEmbedding(docs),
      "doc_buckets" -> Sampling.dsirWeights(docs, docs),
      "minhash_signature" -> Dedup.minhashSignatures(docs),
      "plan_fence" -> WebFilters.htmlLinks(links),
      "simhash_fingerprint" -> Dedup.simhash(docs),
      "window_hashes" -> Dedup.substringDedup(docs, l = 4),
      "winnowing_fingerprints" -> TextAnalysis.winnowing(docs),
      "bpe_encode_doc" -> TextAnalysis.bpeEncode(docs,
        TextAnalysis.bpeMerges(docs, merges = 3)),
      "uni_encode_doc" -> TextAnalysis.unigramEncode(docs,
        TextAnalysis.unigramVocab(docs, vocabSize = 16)),
      "wp_encode_doc" -> TextAnalysis.wordpieceEncode(docs,
        TextAnalysis.wordpieceVocab(docs, vocabSize = 32)))
    frames.foreach { case (kernel, df) =>
      assert(df.queryExecution.analyzed.toString.contains(s"$kernel("), kernel)
      df.collect()
    }

    // a seal write scans its batch's rows directly
    val root = java.nio.file.Files.createTempDirectory("seal_no_registry")
    val cfg = graft.streaming.ServerConfig("otlp_serve", "otlp:127.0.0.1:4318",
      Map("disable_auth" -> "true", "target" -> "parquet",
        "parquet_root" -> root.toString))
    val rows = (0 until 3).map(i => graft.streaming.RowBin.forSignal("logs")
      .toBytes(Array[Any](1700000000000000L + i, null, null, null, "svc", null,
        null, 9, "INFO", null, s"body $i", "{}", null, null, null, null, 0, 0)))
    new graft.streaming.SealWriter(cfg, spark).write(graft.streaming.SealBatch(
      "logs", rows, 0L, 0L, 0L, "seal-1", Nil))
    assert(spark.read.parquet(s"$root/otlp_logs").count() == 3)

    val after = functions()
    assert((after diff before) ++ (before diff after) == Set.empty[String])
    assert(frames.map(_._1).toSet.intersect(after).isEmpty)
  }
}
