package graft

import graft.operators.CorpusFilters
import graft.streaming.{CorpusStreams, OtlpServe}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The LLM-data capstone, live end to end: documents arrive over HTTP as
  * OTLP logs, the ingest server seals them, `format("otlp-seals")` streams
  * the seals with a checkpoint, watermarked dedup suppresses replays and
  * cross-seal text duplicates, the Gopher gate drops junk, and
  * `packShards` cuts training shards — and the shard set is IDENTICAL to
  * the batch pipeline run over the same sealed data, which is the
  * equivalence that makes the streaming path trustworthy.
  */
class CurationPipelineSpec extends SparkTestBase {

  private val ports = SparkTestBase.freePorts(1)

  private val client = HttpClient.newHttpClient()
  private val Token = "dev-token-1234567890"

  // Gopher-passing text, ~100 words, distinct per animal; all-alphabetic
  // words with stop words so only the deliberate junk docs fail the gate
  private def goodText(animal: String): String =
    Array.fill(10)(
      s"the quick brown foxes have jumped over that lazy sleeping $animal")
      .mkString(" ")

  // passes the Gopher gate like goodText, but is the planted BENCHMARK
  // text: any stream doc carrying it must be stopped by the
  // decontamination gate before it can reach the curated table
  private val benchText =
    Array.fill(10)("when those wizards have mixed a strange potion with " +
      "the silver moonlight over sleeping harbors tonight").mkString(" ")

  private val BaseNs = 1640000000000000000L
  private def tsNs(minute: Int): Long = BaseNs + minute * 60000000000L

  /** One OTLP/JSON envelope: one log record = one document; the producer
    * ships its document id as a doc_id attribute. */
  private def docLine(docId: Long, minute: Int, text: String): String =
    s"""{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"timeUnixNano":"${tsNs(minute)}","severityNumber":9,"severityText":"INFO","body":{"stringValue":"$text"},"attributes":[{"key":"doc_id","value":{"intValue":"$docId"}}]}]}]}]}"""

  test("capstone: HTTP ingest -> otlp-seals stream -> dedup -> quality " +
      "gate -> packShards matches the batch pipeline on the same seals") {
    val uri = s"otlp:127.0.0.1:${ports(0)}"
    val sealRoot = java.nio.file.Files.createTempDirectory("cap_root").toString
    val curatedDir = java.nio.file.Files.createTempDirectory("cap_cur").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cap_ckpt").toString
    OtlpServe.otlpServe(spark, uri, Map(
      "token" -> Token, "target" -> "parquet", "parquet_root" -> sealRoot,
      "seal_max_age_ms" -> "3600000", "seal_target_bytes" -> "1073741824",
      "stream_retain_seals" -> "64"))
    def post(lines: Seq[String]): Unit = {
      val code = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ports(0)}/v1/logs"))
          .header("Content-Type", "application/x-ndjson")
          .header("Authorization", s"Bearer $Token")
          .POST(HttpRequest.BodyPublishers.ofByteArray(
            lines.mkString("\n").getBytes("UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(code == 202)
    }
    // one incarnation of the curation stream: drain available seals into
    // the curated parquet table, then stop (kill+restart over one ckpt)
    import spark.implicits._
    val evalDocs = Seq(900L -> benchText).toDF("doc_id", "text")
    def drainOnce(): Unit = {
      val q = CorpusStreams.curateFromSeals(spark, uri,
          evalDocs = Some(evalDocs))
        .writeStream.format("parquet")
        .option("path", curatedDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }

    // seal 1: docs 1-4 good, doc 5 junk (too short), doc 2 replayed
    // verbatim (the at-least-once ingest story)
    post(Seq(
      docLine(1, 0, goodText("dog")),
      docLine(2, 1, goodText("cat")),
      docLine(3, 2, goodText("fox")),
      docLine(4, 3, goodText("owl")),
      docLine(5, 4, "tiny junk doc"),
      docLine(2, 1, goodText("cat"))))
    OtlpServe.otlpFlush(spark, uri)
    drainOnce()
    // seal 2, after the first incarnation committed: docs 6-7 good, doc 8
    // junk, doc 9 repeats doc 1's TEXT under a new id — only the
    // cross-batch dedup STATE (not within-batch distinct) can drop it
    post(Seq(
      docLine(6, 5, goodText("wolf")),
      docLine(7, 6, goodText("bear")),
      docLine(8, 7, "more tiny junk"),
      docLine(9, 8, goodText("dog")),
      // doc 10 is a verbatim benchmark leak: quality-clean, dedup-clean —
      // only the decontamination gate can stop it
      docLine(10, 9, benchText)))
    OtlpServe.otlpFlush(spark, uri)
    drainOnce()

    val curated = spark.read.parquet(curatedDir)
    assert(curated.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 6L, 7L),
      "survivors = good docs minus the replay, the cross-seal text dup, " +
        "and the benchmark leak")
    val streamShards = CorpusFilters.packShards(
      curated, budgetTokens = 150, nGroups = 2)

    // batch pipeline over the SAME sealed parquet: identical doc mapping,
    // first-arrival exact dedup, same gate, same packing
    val sealedLogs = spark.read
      .schema(graft.otlp.OtlpSchemas.logs())
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(s"$sealRoot/otlp_logs")
    val docs = CorpusStreams.docsFromLogs(sealedLogs)
    val firstArrival = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("text").orderBy("ts", "doc_id")))
      .where(col("rn") === 1).drop("rn")
    val leaked = CorpusFilters.decontaminateFuzzy(firstArrival, evalDocs)
      .where(col("contaminated")).select("doc_id")
    val batchCurated = firstArrival
      .join(leaked, Seq("doc_id"), "left_anti")
      .where(CorpusFilters.gopherKeep(col("text")))
    val batchShards = CorpusFilters.packShards(
      batchCurated, budgetTokens = 150, nGroups = 2)

    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(streamShards) == rows(batchShards),
      "streaming curation must shard exactly like the batch pipeline")
    assert(streamShards.select("shard", "grp").distinct().count() > 1,
      "the budget must actually cut more than one shard")
    OtlpServe.otlpStop(spark, uri)
  }
}
