package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val usage =
    "usage: Verify <sfDir> <outDir> [comma-separated query names or <entry>_ prefixes]"

  /** The dump's (sf dir, out dir, name filter). Two arguments dump every
    * query; the optional third restricts the dump for fast local
    * iteration, each entry selecting queries by the `Bench.selected` rule.
    * Rejects, with the usage message, fewer than two or more than three
    * arguments and an entry that selects no registered query — before
    * any session is built. */
  private[graft] def parseArgs(args: Array[String]): (String, String, Option[Set[String]]) = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$usage")
    if (args.length < 2 || args.length > 3)
      fail(s"expected 2 or 3 arguments, got ${args.length}")
    val only = args.lift(2).map(_.split(",").toSet)
    val unmatched = only.toSeq.flatten.filterNot(e =>
      SparkEntry.queries.keys.exists(Bench.selected(Some(Set(e)), _)))
    if (unmatched.nonEmpty) fail(s"no query matches ${unmatched.sorted.mkString(", ")}")
    (args(0), args(1), only)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args)
    val spark = Graft.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => Bench.selected(only, name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.operators.CacheScope.drain()
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
    // Dynamic oracles (q195's eigenvector constants) evaluate against the
    // SAME sfDir the queries just ran on, then dump as plain static SQL.
    val dynamic = SparkEntry.oracleDynamic.map { case (k, f) =>
      k -> f(spark, sfDir) }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
