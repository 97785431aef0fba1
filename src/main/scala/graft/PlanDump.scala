package graft

/** Diagnostic main: write the formatted physical plan of selected queries
  * (or `cache:<name>` SharedCaches builders) to files — the evidence dumps
  * the optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.PlanDump <outDir> <suffix> [--sf <sfDir>] <name...>
  * (`--sf` defaults to the sf0.001 test data; a directory that does not
  * exist is rejected).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val (sfDir, names) =
      if (args(2) == "--sf") (args(3), args.drop(4).toSeq)
      else ("/root/testdata/sf0.001", args.drop(2).toSeq)
    require(new java.io.File(sfDir).isDirectory, s"--sf $sfDir: no such directory")
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
