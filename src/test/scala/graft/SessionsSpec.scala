package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains share one session shape, their dev switches stay the
  * documented few, src/main keeps one protobuf varint decoder, and it
  * binds nothing by name in a session. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.conf is Bench's session shape") {
    assert(Sessions.conf("local[6]", 6).toMap == Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "4m"))
    assert(Sessions.conf("local[6]", 6).size == 6)
    assert(Sessions.master == s"local[${Sessions.cpus}]")
    assert(Sessions.cpus == sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
  }

  private def mainSources: Seq[(Path, String)] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toVector
    finally files.close()
  }

  test("only Sessions builds a SparkSession in src/main") {
    val builders = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(builders == Seq("Sessions.scala"))
  }

  test("src/main reads no SPARK_GRAFT_* variable beyond the kept switches, " +
    "and SPARK_GRAFT_CPUS only in Sessions") {
    val kept = Set("BENCH_ONLY", "BENCH_FILTER", "VERIFY_FILTER",
      "BENCH_INGEST_MS", "BENCH_MAINT_MS", "CPUS", "SF_DIR")
    val seen = mainSources.flatMap { case (p, src) =>
      "SPARK_GRAFT_([A-Z0-9_]+)".r.findAllMatchIn(src)
        .map(m => m.group(1) -> p.getFileName.toString)
    }
    val unknown = seen.filterNot { case (v, _) => kept(v) }
    assert(unknown.isEmpty, s"undocumented switches: $unknown")
    val cpuReaders = mainSources.collect {
      case (p, src) if src.contains("\"SPARK_GRAFT_CPUS\"") => p.getFileName.toString
    }
    assert(cpuReaders == Seq("Sessions.scala"))
  }

  test("only ProtoReader decodes a protobuf varint in src/main") {
    // hand-rolled varint loops drifted apart on bounds checks; every
    // reader goes through the one bounds-checked ProtoReader
    val decoders = mainSources.collect {
      case (p, src) if src.contains("& 0x7fL) <<") => p.getFileName.toString
    }
    assert(decoders == Seq("ProtoReader.scala"))
  }

  test("src/main registers no session function and keeps no seal-handle registry") {
    // native kernels enter plans as expression values (their companions'
    // Column constructors) and a seal write scans a table value, so
    // nothing is bound by name in a session or a process-wide map
    val hits = for {
      (p, src) <- mainSources
      needle <- Seq("createOrReplaceTempFunction", "functionRegistry",
        "udf.register", "FunctionName", "SealRowSource")
      if src.contains(needle)
    } yield s"${p.getFileName}: $needle"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
