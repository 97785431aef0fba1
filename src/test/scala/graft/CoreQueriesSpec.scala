package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Graft.session("graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class CoreQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("every declared query runs at sf0.001 and has a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  /** Every `width`-line window of the lines `keep` accepts (trimmed,
    * whitespace runs collapsed) in the `.scala` files under `dir`, and each
    * window that occurs at two or more places as "file:line = file:line". */
  private def pastedWindows(dir: String, width: Int)(keep: String => Boolean)
  : (Int, Seq[String]) = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from the working directory")
    val files = java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    val windows = files.toSeq.flatMap { f =>
      val kept = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
        .zipWithIndex.collect {
          case (l, i) if keep(l.trim) => (l.trim.replaceAll("\\s+", " "), i + 1)
        }
      kept.sliding(width).filter(_.length == width)
        .map(w => w.map(_._1).mkString("\n") -> s"${root.relativize(f)}:${w.head._2}")
    }
    val pasted = windows.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" = ")).toSeq.sorted
    (windows.size, pasted)
  }

  test("no oracle SQL block is pasted twice") {
    // The DuckDB oracles are the suite's reference implementation: SQL two
    // oracles share is written once (a module-private fragment, or OracleSql
    // across modules). Scan every `|`-margin line of the query modules; no
    // 6-line window may occur at two places.
    val (n, pasted) = pastedWindows("src/main/scala/graft/queries", 6)(_.startsWith("|"))
    assert(n > 1000, s"only $n windows scanned")
    if (pasted.nonEmpty)
      fail(s"${pasted.size} 6-line oracle blocks occur twice:\n${pasted.mkString("\n")}")
  }

  test("no Spark code block is pasted twice") {
    // The Spark side's twin of the oracle guard: a kernel or Column chain
    // two operators share is written once, as a helper scoped to its
    // callers. Scan every code line under src/main/scala, skipping blank,
    // comment, import/package, lone-bracket and `|`-margin lines; no
    // 6-line window may occur at two places.
    val loneBrackets = "[{}()\\[\\],;]+"
    val (n, pasted) = pastedWindows("src/main/scala", 6) { l =>
      l.nonEmpty && !l.startsWith("//") && !l.startsWith("/*") && !l.startsWith("*") &&
        !l.startsWith("import ") && !l.startsWith("package ") && !l.startsWith("|") &&
        !l.matches(loneBrackets)
    }
    assert(n > 10000, s"only $n windows scanned")
    if (pasted.nonEmpty)
      fail(s"${pasted.size} 6-line code blocks occur twice:\n${pasted.mkString("\n")}")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("one engine configuration: the test session and Graft.tune carry Graft.sqlConfs") {
    // the build-time conf: suites may retune the shared session at run
    // time (the pipeline applies its configured shuffle width)
    val built = spark.sparkContext.getConf
    Graft.sqlConfs.foreach { case (k, v) =>
      assert(built.getOption(k).contains(v), s"test session built without $k=$v")
    }
    val others = Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.session.timeZone" -> "America/New_York",
      "spark.sql.parquet.compression.codec" -> "snappy",
      "spark.sql.sources.partitionOverwriteMode" -> "static",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")
    assert(others.keySet == Graft.sqlConfs.map(_._1).toSet)
    val s = spark.newSession()
    others.foreach { case (k, v) => s.conf.set(k, v) }
    Graft.tune(s)
    Graft.sqlConfs.foreach { case (k, v) =>
      assert(s.conf.get(k) == v, s"tune left $k=${s.conf.get(k)}, want $v")
    }
  }

  test("q03 global agg invariants: min <= avg <= max") {
    val r = SparkEntry.queries("q03_global_agg")(spark, sf).collect().head
    val (mn, mx, av) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(mn <= av && av <= mx)
  }

  test("q06 unnest roundtrip preserves exact row count") {
    val n = SparkEntry.queries("q06_unnest_roundtrip")(spark, sf).count()
    val base = Graft.table(spark, sf, "lineitem").count()
    assert(n == base)
  }

  test("q08 topk is ordered desc and bounded") {
    val rows = SparkEntry.queries("q08_topk")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q12 dedup keeps exactly one row per key") {
    val df = SparkEntry.queries("q12_dedup_first_per_key")(spark, sf)
    assert(df.groupBy("o_custkey").count().filter("count > 1").count() == 0)
  }

  test("q18 window rank caps at 3 per customer") {
    val df = SparkEntry.queries("q18_window_rank")(spark, sf)
    assert(df.groupBy("o_custkey").count().filter("count > 3").count() == 0)
  }
}
