package graft

import graft.operators.{Dedup, Sampling}
import org.apache.spark.sql.functions._

/** Property tests for dedup clustering and deterministic sampling beyond
  * the oracle value checks. */
class DedupSpec extends SparkTestBase {

  test("neardup clusters: multi-hop chains converge to the min id") {
    import spark.implicits._
    // components: {1,2,3,4} (a 4-chain — 3 hops), {10,11}, {20,21,22} (a
    // triangle), and 30-31 via a duplicate edge listed both ways
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L), (31L, 30L)
    ).toDF("id_a", "id_b")
    val got = Dedup.neardupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == want, s"got $got")
  }

  test("neardup clusters: string (digest) ids converge multi-hop too") {
    import spark.implicits._
    // a 4-chain of lexicographic string ids needs 3 propagation rounds;
    // convergence must be type-agnostic (no numeric-sum shortcut)
    val pairs = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("id_a", "id_b")
    val got = Dedup.neardupClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"), s"got $got")
  }

  test("neardup clusters: 64-node adversarial chain converges in log rounds") {
    import spark.implicits._
    // a path graph 0-1-2-…-63 has diameter 63; plain min-label propagation
    // needs 63 rounds, the pointer-doubling shortcut halves the remaining
    // label distance per round — maxRounds=12 only passes with log-round
    // convergence (and exercises the non-convergence guard's headroom)
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.neardupClusters(pairs, maxRounds = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 64)
    assert(got.forall(_._2 == 0L), s"all labels must reach 0: ${got.toMap}")
  }

  test("neardup clusters: a walk that passes maxRounds throws and leaves " +
    "nothing persisted") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException](
      Dedup.neardupClusters(pairs, maxRounds = 1))
    // the edge cache and every round checkpoint must be gone again (a key
    // can only vanish in between, when the ContextCleaner collects an
    // earlier spec's garbage)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"still persisted after the throw: $leaked")
  }

  test("neardup clusters: graphs already converged by the fused init " +
    "(stars, 2-cliques) still emit every id with its component min") {
    import spark.implicits._
    // the init groupBy labels every node min(id, min neighbor): a star
    // with the min at the center and a 2-node component are fixpoints
    // after round 0 — the loop's first round must only CONFIRM (sum
    // unchanged) and the output must still carry one row per id
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (7L, 8L))
      .toDF("id_a", "id_b")
    val got = Dedup.neardupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L), s"got $got")
  }

  test("neardup clusters: no pairs (numeric or string ids) give no " +
    "clusters, and a self-pair is its own cluster") {
    import spark.implicits._
    // the round counts ride observed metrics: they must be read (as 0)
    // off checkpoints of empty frames too
    assert(Dedup.neardupClusters(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect().isEmpty)
    assert(Dedup.neardupClusters(
      Seq.empty[(String, String)].toDF("id_a", "id_b")).collect().isEmpty)
    val got = Dedup.neardupClusters(Seq((3L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L), s"got $got")
  }

  test("keep-first dedup = keep id == cluster_id") {
    import spark.implicits._
    val pairs = Seq((5L, 3L), (5L, 9L)).toDF("id_a", "id_b")
    val keepers = Dedup.neardupClusters(pairs)
      .where(col("id") === col("cluster_id")).collect().map(_.getLong(0)).toSet
    assert(keepers == Set(3L))
  }

  test("cluster keep-best: highest score wins, ties break to smallest id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster 1: tie at 30 → keeper 2
      (10L, 5L), (11L, 9L),            // cluster 10: keeper 11 (score 9)
      (99L, 100L))                     // unclustered: not in output
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.neardupClusters(pairs)
    val got = Dedup.clusterKeepBest(docs, clusters, col("score")).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("best_score"),
          r.getAs[Long]("cluster_size")))).toMap
    assert(got == Map(
      1L -> ((2L, 30L, 3L)),
      10L -> ((11L, 9L, 2L))), s"got $got")
  }

  test("hash sampling is deterministic and partitioning-invariant") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val a = Sampling.hashSample(docs, 0.3, "s0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(7), 0.3, "s0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "same rows must be kept under any partitioning")
    assert(a.nonEmpty && a.size < docs.count())
    // a different salt draws a different (deterministic) sample
    val c = Sampling.hashSample(docs, 0.3, "s1").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(c != a)
  }

  test("stratified sampling applies per-stratum rates") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val kept = Sampling.stratifiedSample(docs, "lang",
        rates = Map("en" -> 0.1), defaultRate = 0.9, salt = "s0")
      .groupBy("lang").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enShare = kept.getOrElse("en", 0L).toDouble / total("en")
    val deShare = kept.getOrElse("de", 0L).toDouble / total("de")
    assert(enShare < 0.35, s"en kept share $enShare should be near 0.1")
    assert(deShare > 0.6, s"de kept share $deShare should be near 0.9")
  }

  test("mixture sampling: rates hit the token budget, unlisted strata drop") {
    import spark.implicits._
    // 100 docs of 10 words per lang -> 1000 tokens per stratum
    val docs = (0 until 300).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3), ("w " * 10).trim)
    }.toDF("doc_id", "lang", "text")
    val report = Sampling.mixtureReport(docs,
        weights = Map("a" -> 0.8, "b" -> 0.2), budgetTokens = 500L)
      .collect().map(r => r.getString(0) -> r).toMap
    // rate_a = min(1, 500*0.8/1000) = 0.4; rate_b = 0.1; c unlisted -> 0
    assert(report("a").getAs[Double]("rate") == 0.4)
    assert(report("b").getAs[Double]("rate") == 0.1)
    assert(report("c").getAs[Double]("rate") == 0.0)
    assert(report("c").getAs[Long]("sampled_docs") == 0L)
    // sampled tokens = 10 * sampled docs, and the sampled-docs view agrees
    val sampled = Sampling.mixtureSample(docs,
        weights = Map("a" -> 0.8, "b" -> 0.2), budgetTokens = 500L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("a", "b").foreach { l =>
      assert(report(l).getAs[Long]("sampled_tokens") ==
        10 * report(l).getAs[Long]("sampled_docs"))
      assert(sampled(l) == report(l).getAs[Long]("sampled_docs"))
    }
    assert(!sampled.contains("c"))
    // a big enough budget keeps everything (rate caps at 1)
    val full = Sampling.mixtureReport(docs, Map("a" -> 1.0), 100000L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(full("a").getAs[Double]("rate") == 1.0)
    assert(full("a").getAs[Long]("sampled_docs") == 100L)
  }

  test("substring dedup removes duplicated runs >= l, keeps first occurrence") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"run$i").mkString(" ") // 10 shared words
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, run + " tail1 tail2 tail3"),       // first occurrence of the run
      (2L, "lead1 lead2 " + run),             // later copy of the run
      (3L, run),                              // exact copy, nothing survives
      (4L, "only seven words live here now ok") // < l: no windows at all
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, l = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    // doc 0 unique, doc 1 is the canonical first occurrence: untouched
    assert(got(0L) == ((10L, 0L, 10L, got(0L)._4)))
    assert(got(1L)._2 == 0L && got(1L)._3 == 13L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 2: exactly the 10 run words cut, the 2 lead words survive
    assert(got(2L) == ((12L, 10L, 2L, md5hex("lead1 lead2"))))
    // doc 3: every word covered -> empty survivor digest
    assert(got(3L) == ((10L, 10L, 0L, md5hex(""))))
    // doc 4: too short to window, fully kept
    assert(got(4L)._2 == 0L && got(4L)._3 == 7L)
  }

  test("dsir weights: target-vocabulary docs score above off-target docs") {
    import spark.implicits._
    val target = Seq(
      100L -> "alpha beams align and alpha arrays bloom in alpha fields",
      101L -> "alpha light and alpha shade cover the alpha meadow")
      .toDF("doc_id", "text")
    val raw = Seq(
      1L -> "alpha beams align and alpha arrays bloom in alpha fields",
      2L -> "zug vex quorp mizzle drang krell fosh wumble parn jex")
      .toDF("doc_id", "text")
    val got = Sampling.dsirWeights(raw, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    assert(got(1L) > got(2L),
      s"target-like doc must outweigh off-target doc: $got")
    assert(got(1L) > 0.0, "doc drawn from the target leans positive")
    // deterministic: the same call yields the same weights
    val again = Sampling.dsirWeights(raw, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    assert(again == got)
  }

  test("shuffle order: a deterministic permutation — dense pos per shard, " +
    "reproducible, seed-sensitive") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val out = Sampling.shuffleOrder(docs)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == docs.count(), "every row appears exactly once")
    assert(out.map(_._1).distinct.length == out.length)
    // pos is dense 0..n-1 within each shard
    out.groupBy(_._2).foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted.toSeq
      assert(ps == (0L until rows.length).toSeq, s"shard $shard pos not dense")
    }
    // reproducible bit-exactly; a different seed permutes differently
    val again = Sampling.shuffleOrder(docs)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    val other = Sampling.shuffleOrder(docs, seed = "s1")
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(other.sortBy(_._1).toSeq != out.sortBy(_._1).toSeq,
      "seed must change the permutation")
    // two hex digits widen to 256 shards and stay a permutation
    val wide = Sampling.shuffleOrder(docs, hexDigits = 2)
    assert(wide.select("shard").distinct().count() > 16)
    assert(wide.count() == out.length)
    // 7 digits is the Int32-safe ceiling: shards stay non-negative
    val max7 = Sampling.shuffleOrder(docs, hexDigits = 7)
      .agg(min("shard"), max("shard")).collect().head
    assert(max7.getInt(0) >= 0 && max7.getInt(1) < 268435456)
    intercept[IllegalArgumentException](
      Sampling.shuffleOrder(docs, hexDigits = 8))
  }

  test("incremental dedup: corpus duplicates dropped, then keep-first " +
    "within the batch, original columns preserved") {
    import spark.implicits._
    val corpus = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "aa"),  // duplicate of corpus doc 1 -> dropped
      (11L, "cc"),  // fresh, first occurrence -> kept
      (12L, "cc"),  // in-batch duplicate of 11 -> dropped
      (13L, "dd"),  // fresh -> kept
      (14L, "bb")   // duplicate of corpus doc 2 -> dropped
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    val got = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L), s"got $got")
  }

  test("incremental near-dedup: a tweaked re-crawl dies on the Jaccard " +
    "verify; fresh and sub-shingle docs survive") {
    import spark.implicits._
    val corpusText = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, corpusText + " tweaked footer"), // near-dup of corpus doc 1
      (11L, (100 to 160).map(i => s"v$i").mkString(" ")), // fresh
      (12L, "too short") // 2 words: no shingles, no bands — passes
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDedup(batch, corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 12L), s"got $got")
  }

  test("incremental + bloom dedup treat null text as a normal dedup group " +
    "(no NPE, no silent drop of null-key rows)") {
    import spark.implicits._
    val corpus = Seq((1L, null.asInstanceOf[String]), (2L, "bb"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, null.asInstanceOf[String]), (11L, "cc"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // corpus holds a null-text doc -> batch nulls are duplicates of it
    val got = Dedup.incrementalDedup(batch, corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L), s"got $got")
    val keptB = Dedup.bloomDedup(batch, corpus, expectedItems = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptB == Seq(11L), s"bloom got $keptB")
    // corpus WITHOUT nulls: batch nulls are fresh; keep-first keeps ONE
    val got2 = Dedup.incrementalDedup(batch,
        Seq((2L, "bb")).toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got2 == Seq(10L, 11L), s"got $got2")
  }

  test("bloom dedup: zero false negatives; extra drops bounded by fpp") {
    import spark.implicits._
    val corpus = (0 until 500).map(i => (i.toLong, s"corpus doc $i"))
      .toDF("doc_id", "text")
    val batch = ((0 until 200).map(i => (1000L + i, s"corpus doc $i")) ++
      (0 until 300).map(i => (2000L + i, s"fresh doc $i")))
      .toDF("doc_id", "text")
    val kept = Dedup.bloomDedup(batch, corpus, expectedItems = 500,
      fpp = 0.01).select("doc_id").as[Long].collect().toSet
    // containment guarantee: every true duplicate of a corpus doc is gone
    assert(kept.forall(_ >= 2000L), s"false negative survived: $kept")
    // false positives: expected 3 of the 300 fresh rows at fpp=0.01; a
    // deterministic bitmap makes this exact-per-seed, bound with slack
    assert(kept.size >= 285, s"kept only ${kept.size} of 300 fresh rows")
  }

  test("dd_bloom_dedup registry row carries its own bound check: " +
    "kept ∈ [batch − dups − fpp·batch·slack, batch − dups]") {
    val row = graft.queries.Registry.all.find(_.name == "dd_bloom_dedup").get
      .spark(spark, sfDir).first()
    val kept = row.getAs[Long]("kept_approx")
    val n = row.getAs[Long]("batch_size")
    val dups = row.getAs[Long]("true_dup_count")
    assert(n > 0, "batch must be non-empty for the bound to mean anything")
    // no false negatives: every true duplicate is dropped
    assert(kept <= n - dups, s"kept=$kept n=$n dups=$dups")
    // false positives bounded by fpp (0.01) with 5x statistical slack + 2
    assert(kept >= n - dups - (0.05 * n).toLong - 2,
      s"kept=$kept n=$n dups=$dups — bloom dropped far more than fpp allows")
  }

  test("dsir resampling: exact-n without replacement, deterministic, and " +
    "the sample's mean weight sits above the corpus mean (importance pull)") {
    Tables.register(spark, sfDir)
    val docs = spark.table("documents")
    val target = docs.where(col("source") === "src0")
    val n = 50
    val sample = Sampling.dsirSample(docs, target, n).collect()
    assert(sample.length == n)
    val ids = sample.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == n, "without replacement")
    // keys are the selection order: descending, id tiebreak
    val keys = sample.map(r => (-r.getAs[Double]("skey"), r.getAs[Long]("doc_id"))).toSeq
    assert(keys == keys.sorted, "descending key with id tiebreak")
    // the Gumbel draw is weighted BY the importance weight: the sampled
    // docs' mean weight must exceed the all-corpus mean (deterministic
    // data + salt -> a fixed, checkable margin rather than a flaky one)
    val corpusMean = Sampling.dsirWeights(docs, target)
      .agg(avg("dsir_weight")).collect().head.getDouble(0)
    val sampleMean = sample.map(_.getAs[Double]("dsir_weight")).sum / n
    assert(sampleMean > corpusMean,
      s"importance pull: sample mean $sampleMean <= corpus mean $corpusMean")
    // deterministic across runs
    val again = Sampling.dsirSample(docs, target, n).collect()
      .map(_.getAs[Long]("doc_id"))
    assert(again.toSeq == ids.toSeq)
  }

  test("temperature mixing flattens the source distribution toward uniform") {
    import spark.implicits._
    // 900 / 90 / 10 docs: a 90:9:1 natural mix
    val docs = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 990).map(i => (i.toLong, "mid")) ++
      (990 until 1000).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    val r = Sampling.temperatureRates(docs, alpha = 0.3, budgetDocs = 100L)
      .collect().map(x => x.getString(0) -> x).toMap
    // alpha < 1 up-samples the tail: small's share rises, big's falls
    assert(r("small").getAs[Double]("temp_share") >
      r("small").getAs[Double]("nat_share"))
    assert(r("big").getAs[Double]("temp_share") <
      r("big").getAs[Double]("nat_share"))
    // shares are probability distributions (to rounding)
    def tot(c: String) = r.values.map(_.getAs[Double](c)).sum
    assert(math.abs(tot("nat_share") - 1.0) < 1e-4, tot("nat_share"))
    assert(math.abs(tot("temp_share") - 1.0) < 1e-4, tot("temp_share"))
    // ordering never inverts: bigger stratum, >= temp share
    assert(r("big").getAs[Double]("temp_share") >
      r("mid").getAs[Double]("temp_share"))
    // alpha = 1 reproduces the natural distribution exactly
    val nat = Sampling.temperatureRates(docs, alpha = 1.0, budgetDocs = 100L)
      .collect()
    nat.foreach { x =>
      assert(x.getAs[Double]("temp_share") == x.getAs[Double]("nat_share"), x)
    }
    // a budget >= corpus caps every rate at 1 and the sample keeps all
    val full = Sampling.temperatureReport(docs, 0.3, 10000L)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(full.values.forall(_.getAs[Double]("rate") == 1.0))
    assert(full("big").getAs[Long]("sampled_docs") == 900L)
    // report membership == sample membership, and re-runs reproduce it
    val sampled = Sampling.temperatureSample(docs, 0.3, 100L)
      .groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val rep = Sampling.temperatureReport(docs, 0.3, 100L)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("sampled_docs")).toMap
    assert(sampled == rep.filter(_._2 > 0))
  }

  test("edit-distance verify: LSH recall stage + string-metric precision " +
    "stage") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base),                       // original
      (1L, base),                       // exact duplicate
      (2L, base + " lambda"),           // near duplicate (tail append)
      (3L, "one two three four five six seven eight nine ten"), // unrelated
      (4L, null.asInstanceOf[String])   // null text: must not crash
    ).toDF("doc_id", "text")
    val all = Dedup.editDistVerify(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("edit_sim"))
      .toMap
    // identical docs band together and score 1.0
    assert(all((0L, 1L)) == 1.0, all)
    // the tail-append near-dup is found and scores high
    assert(all.contains((0L, 2L)) && all((0L, 2L)) > 0.85, all)
    // the unrelated doc never pairs with the base family
    assert(!all.keys.exists { case (a, b) => a == 3L || b == 3L }, all)
    // the threshold drops sub-par pairs: only the exact dup survives 0.999
    val strict = Dedup.editDistVerify(docs, threshold = 0.999).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((0L, 1L)) && !strict.contains((0L, 2L)), strict)
    // the prefix cap bounds the comparison: under a 5-char prefix the
    // near-dup compares equal (both prefixes are "alpha")
    val capped = Dedup.editDistVerify(docs, threshold = 0.0, prefixChars = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped((0L, 2L)) == 1.0, capped)
  }

  test("hashUnitLocal is bit-identical to the SQL hashUnit column") {
    import spark.implicits._
    val ids = (0 until 500).map(_.toString) ++
      Seq("terr", "tslow", "tca", "deadbeef00112233")
    val viaSql = ids.toDF("id")
      .select(col("id"), Sampling.hashUnit(col("id"), "tail").as("u"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ids.foreach { id =>
      assert(Sampling.hashUnitLocal(id, "tail") == viaSql(id), id)
    }
  }

  test("held-out split: disjoint-exhaustive, subset-invariant, stable " +
    "under growth") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => Tuple1(i.toLong)).toDF("doc_id")
    val s = Sampling.heldoutSplit(docs, valRate = 0.1, testRate = 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc in exactly one split; rough rate sanity
    assert(s.size == 1000)
    val byS = s.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byS("train") > 700 && byS("val") > 50 && byS("test") > 50, byS)
    // subset invariance: filtering the corpus changes NO remaining doc
    val sub = Sampling.heldoutSplit(
        docs.where(col("doc_id") % 3 === 0), 0.1, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sub.foreach { case (id, sp) => assert(s(id) == sp, id) }
    // growth invariance: adding docs changes no existing assignment
    val grown = Sampling.heldoutSplit(
        (0 until 2000).map(i => Tuple1(i.toLong)).toDF("doc_id"), 0.1, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    s.foreach { case (id, sp) => assert(grown(id) == sp, id) }
    // a different salt is an independent split
    val other = Sampling.heldoutSplit(docs, 0.1, 0.1, salt = "split2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s.exists { case (id, sp) => other(id) != sp })
  }

  test("leak-free split: cluster members share a split, singletons match " +
    "the naive split, and no pair straddles train/test") {
    import spark.implicits._
    val docs = (0 until 300).map(i => Tuple1(i.toLong)).toDF("doc_id")
    // chains 0-1-2, 10-11, 20-21-22-23 plus singletons
    val pairs = Seq(0L -> 1L, 1L -> 2L, 10L -> 11L,
      20L -> 21L, 21L -> 22L, 22L -> 23L).toDF("id_a", "id_b")
    val clusters = Dedup.neardupClusters(pairs)
    val lf = Sampling.leakFreeSplit(docs, clusters, valRate = 0.1,
        testRate = 0.1, salt = "lfspec")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(lf.size == 300)
    // every clustered doc carries its component min as the unit and the
    // whole component shares one split
    Seq(Seq(0L, 1L, 2L), Seq(10L, 11L), Seq(20L, 21L, 22L, 23L)).foreach {
      comp =>
        comp.foreach { id => assert(lf(id)._1 == comp.min, id) }
        assert(comp.map(lf(_)._2).distinct.size == 1, comp)
    }
    // singletons hash their own id — identical to the naive split
    val naive = Sampling.heldoutSplit(docs, 0.1, 0.1, salt = "lfspec")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 until 300).map(_.toLong)
      .filterNot(Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L, 22L, 23L).contains)
      .foreach { id =>
        assert(lf(id)._1 == id, id)
        assert(lf(id)._2 == naive(id), id)
      }
    // the guarantee itself: no candidate pair straddles splits
    pairs.collect().foreach { r =>
      assert(lf(r.getLong(0))._2 == lf(r.getLong(1))._2, r)
    }
  }

  test("bucketed corpus dedup: same verdicts as the plain anti-join, the " +
    "corpus side never re-shuffles, and null text still dedups") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "released body one"), (101L, "released body two"),
      (102L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val batch = Seq(
      (0L, "released body one"),     // corpus dup -> drop
      (1L, "fresh body"), (2L, "fresh body"),  // keep-first within batch
      (3L, null.asInstanceOf[String]),         // corpus holds a null -> drop
      (4L, "another fresh")
    ).toDF("doc_id", "text")
    val table = "graft_test_corpus_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.writeCorpusBucketed(corpus, table, buckets = 4)
    try {
      val bucketed = Dedup.incrementalDedupBucketed(batch, table)
      val plain = Dedup.incrementalDedup(batch, corpus)
      val got = bucketed.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 4L), got)
      assert(got == plain.select("doc_id").collect().map(_.getLong(0)).toSet)
      // the scale contract, from the executed plan: the corpus scan is
      // bucketed, and its output partitioning replaces the corpus-side
      // shuffle. Tiny test frames would broadcast (hiding the shuffles
      // being compared) and AQE would re-plan them, so pin both off for
      // the shape comparison — at corpus scale neither side broadcasts.
      val conf = spark.conf
      val (bcast0, aqe0) = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
        conf.get("spark.sql.adaptive.enabled"))
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        val planB = Dedup.incrementalDedupBucketed(batch, table)
          .queryExecution.executedPlan
        val planP = Dedup.incrementalDedup(batch,
            spark.table(table).drop("text_hash"))
          .queryExecution.executedPlan
        assert(planB.toString.contains("Bucketed: true"), planB.toString)
        val shuffles = "Exchange hashpartitioning".r
        val (nB, nP) = (shuffles.findAllIn(planB.toString).size,
          shuffles.findAllIn(planP.toString).size)
        assert(nB < nP, s"bucketed $nB shuffles vs plain $nP\n$planB")
        // the structural claim: the anti-join's corpus (right) side carries
        // NO shuffle in the bucketed plan — the bucket layout IS the join
        // partitioning — while the plain formulation must exchange the
        // corpus keys before the same join
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        def antiRightShuffled(p: org.apache.spark.sql.execution.SparkPlan) =
          p.collect {
            case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" =>
              j.right.find(_.isInstanceOf[ShuffleExchangeExec]).isDefined
          }
        assert(antiRightShuffled(planB).nonEmpty &&
          antiRightShuffled(planB).forall(_ == false),
          s"corpus side shuffled:\n$planB")
        assert(antiRightShuffled(planP).exists(_ == true),
          "plain variant should shuffle the corpus keys")
      } finally {
        conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
        conf.set("spark.sql.adaptive.enabled", aqe0)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("source overlap matrix: asymmetric fractions, distinct-text " +
    "granularity, null text counts as a shared group, no-overlap pairs " +
    "absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "t one"), (2L, "A", "t two"), (3L, "A", "t three"),
      (4L, "A", null.asInstanceOf[String]),
      (5L, "A", "t two"), // within-source dup: distinct-text granularity
      (10L, "B", "t two"), (11L, "B", "t three"), (12L, "B", "t four"),
      (13L, "B", null.asInstanceOf[String]),
      (20L, "C", "t five")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("shared_texts"), r.getAs[Long]("total_a"),
          r.getAs[Double]("overlap_frac"))).toMap
    // A holds 4 distinct texts (two, three, one, null); shares 3 with B
    assert(got(("A", "B")) == ((3L, 4L, 0.75)), got)
    assert(got(("B", "A")) == ((3L, 4L, 0.75)), got)
    // C overlaps nobody: its pairs never appear
    assert(!got.keys.exists { case (a, b) => a == "C" || b == "C" }, got)
    assert(got.size == 2)
  }

  test("minhash calibration: exact duplicates read est = true = 1, and " +
    "every estimate is a valid k-quantized probability") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base), (1L, base),          // exact pair: J = 1, est = 1
      (2L, base + " lambda mu nu"),    // near pair vs 0/1
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (e01, j01, err01) = rows((0L, 1L))
    assert(e01 == 1.0 && j01 == 1.0 && err01 == 0.0, rows)
    // estimates are multiples of 1/k in [0,1]; err = |est - true| rounded
    rows.values.foreach { case (e, j, err) =>
      assert(e >= 0.0 && e <= 1.0 && math.abs(e * 8 - math.round(e * 8)) < 1e-9)
      assert(math.abs(err - math.abs(e - j)) < 1e-3, (e, j, err))
    }
    // the near pair's true Jaccard is sub-1 (8 shared / 13 total trigrams)
    rows.get((0L, 2L)).foreach { case (_, j, _) =>
      assert(j > 0.5 && j < 1.0, j)
    }
    // deterministic across runs (localCheckpoint does not inject RNG)
    val again = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(again == rows.map { case (k, v) => k -> v._3 })
  }

  test("dup-ngrams report surfaces cross-document boilerplate only") {
    import spark.implicits._
    val boiler = "all rights reserved"
    val docs = Seq(
      (0L, s"unique words here $boiler"),
      (1L, s"other content entirely $boiler"),
      (2L, s"third body text $boiler and more"),
      (3L, "nothing shared with anyone at all")
    ).toDF("doc_id", "text")
    val top = graft.operators.TextAnalysis.dupNgrams(docs, n = 3, topK = 10)
      .collect()
    // the planted banner is the top gram, counted once per document
    assert(top.head.getString(0) == boiler, top.mkString("; "))
    assert(top.head.getAs[Long]("n_docs") == 3L)
    assert(top.head.getAs[Long]("n_occurrences") == 3L)
    // single-document grams never appear
    assert(top.forall(_.getAs[Long]("n_docs") > 1), top.mkString("; "))
    assert(!top.exists(_.getString(0).contains("nothing")), top.mkString("; "))
    // within-doc repetition counts occurrences but not documents
    val rep = Seq((0L, s"$boiler $boiler x"), (1L, s"y $boiler"))
      .toDF("doc_id", "text")
    val r2 = graft.operators.TextAnalysis.dupNgrams(rep, n = 3, topK = 10)
      .collect().filter(_.getString(0) == boiler).head
    assert(r2.getAs[Long]("n_docs") == 2L)
    assert(r2.getAs[Long]("n_occurrences") == 3L)
  }
}
