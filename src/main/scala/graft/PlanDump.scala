package graft

/** Diagnostic main: write the formatted physical plan of selected queries
  * (or `cache:<name>` SharedCaches builders) to files — the evidence dumps
  * the optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [--sf <sfDir>] <name...>
  * (`--sf` defaults to the sf0.001 test data; see [[parseArgs]] for what
  * is rejected).
  */
object PlanDump {

  private val usage = "usage: PlanDump <outDir> <suffix> [--sf <sfDir>] <name...>"

  /** The dump's (outDir, suffix, sf dir, names). Rejects, with the usage
    * message, fewer than three arguments, `--sf` without a directory, an
    * empty name list, a name that is neither a registered query nor a
    * `cache:` builder, and an sf dir that does not exist — before any
    * session is built. */
  private[graft] def parseArgs(args: Array[String]): (String, String, String, Seq[String]) = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$usage")
    if (args.length < 3) fail(s"expected at least 3 arguments, got ${args.length}")
    val (sfDir, names) =
      if (args(2) == "--sf")
        (args.lift(3).getOrElse(fail("--sf has no directory")), args.drop(4).toSeq)
      else ("/root/testdata/sf0.001", args.drop(2).toSeq)
    if (names.isEmpty) fail("no query or cache: name to dump")
    val caches = graft.queries.SharedCaches.builders.map("cache:" + _._1).toSet
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || caches(n))
    if (unknown.nonEmpty) fail(s"unknown name ${unknown.mkString(", ")}")
    if (!new java.io.File(sfDir).isDirectory) fail(s"--sf $sfDir: no such directory")
    (args(0), args(1), sfDir, names)
  }

  def main(args: Array[String]): Unit = {
    val (outDir, suffix, sfDir, names) = parseArgs(args)
    val spark = Graft.session("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df =
        if (n.startsWith("cache:"))
          graft.queries.SharedCaches.builders.toMap
            .apply(n.stripPrefix("cache:"))(spark, sfDir)
        else SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val fname = n.stripPrefix("cache:").replace(":", "_")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${fname}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"dumped $n -> $outDir/${fname}_$suffix.txt")
    }
    spark.stop()
  }
}
