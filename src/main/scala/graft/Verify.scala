package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name subset (local
    // iteration only — the driver always runs the full surface)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local(Bench.cores)
    new java.io.File(outDir).mkdirs()
    // a query that throws here simply has no parquet dir, so the driver's
    // correctness JSON silently OMITS it (round 7: 16 broken queries were
    // invisible in CORRECTNESS_r07.json). Record every failure durably in
    // verify_errors.json next to the results, and say so loudly at the end.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: ${errors.keys.mkString(", ")}")
    // ALWAYS end with one compact JSON line — the driver's tail capture
    // keeps the end of stdout even when its artifact pipeline truncates
    // (CORRECTNESS_r08/r09 arrived empty), so this line is the durable
    // record that the full surface executed and what, if anything, threw.
    val ran = SparkEntry.queries.count { case (name, _) => only.forall(_.contains(name)) }
    println(s"""{"verify_ran":$ran,"verify_failed":${errors.size},"oracles":${SparkEntry.oracleSql.size},"names":[${errors.keys.map(q).mkString(",")}]}""")
    spark.stop()
  }
}
