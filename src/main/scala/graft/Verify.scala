package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit =
    try mainImpl(args)
    catch { case e: Throwable =>
      // the driver keeps only the LAST lines of stderr, so the root-cause
      // message must be re-printed at the very end or a truncated stack is
      // all the artifact records (ADVICE r6: BENCH_r06 was undiagnosable)
      System.err.println(s"VERIFY_ERROR: ${e.getClass.getName}: ${e.getMessage}")
      sys.exit(1)
    }

  private def mainImpl(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // dev-loop aid: SPARK_GRAFT_VERIFY_FILTER=<prefix,prefix,...> dumps only
    // the matching queries (the driver leaves it unset -> full registry; the
    // oracle json always carries every entry so compare.py stays usable)
    val nameFilter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
    val selected = SparkEntry.queries
      .filter { case (name, _) => QSpec.nameMatches(nameFilter, name) }
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try QSpec.run(spark, sfDir, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // zero successful dumps means a harness/environment failure (e.g. the
    // round-6 fixture-schema change broke every events query at register
    // time) — exit nonzero so the driver records a failed run instead of
    // silently comparing an empty result set (ADVICE r6)
    if (selected.nonEmpty && failed.size == selected.size) {
      System.err.println(
        s"VERIFY_ERROR: all ${selected.size} query dumps failed (first: ${failed.last})")
      sys.exit(1)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
