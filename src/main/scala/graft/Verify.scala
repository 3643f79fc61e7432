package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Runs each query and writes its result to `outDir/<name>` (parquet).
    *
    * A thrown query must be LOUD, never silent (r7 lesson: 8 broken
    * queries printed one stderr line each and then vanished from the
    * driver's CORRECTNESS scoreboard — absent, not `err`). Every failure
    * now leaves two artifacts: a per-query `outDir/<name>._ERROR` marker
    * holding the exception, and an aggregate `outDir/verify_errors.json`
    * (always written, `{}` when clean) that any scoreboard consumer can
    * join against. Returns the error map for spec assertions. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // a re-run into the same outDir after a fix must not leave the
          // old failure marker posing as a live one; its OWN failure must
          // not flag the just-succeeded query as broken
          try Files.deleteIfExists(Paths.get(s"$outDir/$name._ERROR"))
          catch { case e: Throwable => System.err.println(
            s"[verify] $name: stale _ERROR marker not removable: $e") }
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[verify] $name FAILED: $msg")
          errors(name) = msg
          try Files.writeString(Paths.get(s"$outDir/$name._ERROR"), msg + "\n")
          catch { case _: Throwable => () }
        }
    }
    val json = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), json)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always runs the full pack with 2 args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    run(spark, sfDir, outDir, SparkEntry.queries, only)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
