package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CacheScope, Similarity, TextDedup}
import graft.queries.{SharedCache, SharedCaches}

/** Guards the Bench order-independence contract: every session-shared
  * [[SharedCache]] in graft.queries must be registered in
  * [[graft.queries.SharedCaches]], must declare every cache its build reads
  * (the registry is ordered by those declarations), and must actually
  * memoize per (session, dir) — otherwise Bench's pre-materialization pass
  * can't keep per-query times free of order-dependent build attribution.
  * Also pins the install contract: one build per (session, dir) under
  * concurrent first calls, and every shared frame pinned against a
  * standalone operator's drain.
  */
class BenchCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Every SharedCache held by a field of a module object of graft.queries
    * (caches a test builds for itself are not module fields). */
  private lazy val moduleCaches: Seq[SharedCache[_]] = {
    val dir = java.nio.file.Paths.get(getClass.getResource("/graft/queries").toURI)
    java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString)
      .filter(n => n.endsWith("$.class") && n.count(_ == '$') == 1)
      .sorted
      .flatMap { n =>
        val c = Class.forName("graft.queries." + n.stripSuffix(".class"))
        val module = c.getField("MODULE$").get(null)
        c.getDeclaredFields.toSeq
          .filter(f => classOf[SharedCache[_]].isAssignableFrom(f.getType))
          .map { f => f.setAccessible(true); f.get(module).asInstanceOf[SharedCache[_]] }
      }
  }

  private def closure(c: SharedCache[_]): Set[SharedCache[_]] =
    c.deps.flatMap(closure).toSet + c

  test("SharedCaches registry covers every SharedCache of the query modules") {
    val names = SharedCaches.builders.map(_._1)
    assert(names.distinct == names, s"duplicate registry names: $names")
    val declared = moduleCaches.flatMap(_.names)
    assert(declared.toSet == names.toSet,
      s"SharedCaches of graft.queries ${declared.sorted} vs registered " +
        s"${names.sorted} — register the new cache (see scaladoc)")
  }

  test("each cache built alone installs exactly its declared dependency closure") {
    val names = SharedCaches.builders.map(_._1)
    moduleCaches.foreach { c =>
      val fresh = spark.newSession()
      c(fresh, sf)
      val want = closure(c).flatMap(_.names)
      val got = moduleCaches.filter(_.installed(fresh, sf)).flatMap(_.names).toSet
      assert(got == want, s"${c.names} installed $got, declares closure $want")
      // Bench builds in registry order: the closure must come first
      val last = c.names.map(names.indexOf).min
      assert((want -- c.names).forall(names.indexOf(_) < last),
        s"${c.names} registered before one of its dependencies: $names")
    }
    CacheScope.drain()
  }

  test("each registered builder memoizes: second call returns the same plan instance") {
    graft.queries.SharedCaches.builders.foreach { case (name, b) =>
      val first = b(spark, sf)
      val second = b(spark, sf)
      assert(first eq second, s"builder $name did not memoize per (session, dir)")
      assert(first.storageLevel.useMemory || first.storageLevel.useDisk,
        s"builder $name result is not persisted")
    }
  }

  test("concurrent first calls on a twin cache: one build, same frames, no orphan pin") {
    val builds = new AtomicInteger()
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // the sem_cents/sem_assign build, held open until the second caller waits
    val twin = SharedCache.twin("test_cents", "test_assign") { (s, d) =>
      builds.incrementAndGet()
      inBuild.countDown()
      release.await(60, TimeUnit.SECONDS)
      val (assign, cents) = Similarity.semAssignmentFrames(
        Graft.table(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 8, lloydIters = 2)
      (cents, assign)
    }
    val s = spark.newSession()
    val pins = CacheScope.pinnedCount
    val got = new ConcurrentLinkedQueue[(DataFrame, DataFrame)]()
    def caller() = new Thread(() => { got.add(twin(s, sf)); () })
    val first = caller()
    first.start()
    assert(inBuild.await(60, TimeUnit.SECONDS), "first build never started")
    val second = caller()
    second.start()
    // the second caller overlaps the first build: it waits on the key's
    // install (or, were the install not atomic, inside its own build)
    while (second.getState == Thread.State.NEW ||
      second.getState == Thread.State.RUNNABLE) Thread.sleep(5)
    release.countDown()
    first.join()
    second.join()
    assert(builds.get == 1, s"${builds.get} builds for one key")
    val Seq(a, b) = got.asScala.toSeq
    assert((a._1 eq b._1) && (a._2 eq b._2), "the two callers got different frames")
    assert(CacheScope.pinnedCount - pins == 2, "a pinned frame was orphaned")
    assert(a._1.storageLevel != StorageLevel.NONE && a._2.storageLevel != StorageLevel.NONE)
  }

  test("a shared frame survives a standalone persist + drain of its identical plan") {
    // a private copy of the corpus, so no earlier build has cached this plan
    val dir = java.nio.file.Files.createTempDirectory("shared-cache-pin")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"),
      dir.resolve("documents.parquet"))
    val s = spark.newSession()
    CacheScope.persist(TextDedup.ngramJaccardPairs(
      Graft.table(s, dir.toString, "documents"), "doc_id", "text",
      maxDfFrac = 0.02, threshold = 0.5))
    val shared = SharedCaches.builders.toMap.apply("ngram_jaccard_pairs")(s, dir.toString)
    CacheScope.drain()
    try assert(shared.storageLevel != StorageLevel.NONE,
      "the standalone drain evicted the shared ngram_jaccard_pairs frame")
    finally {
      shared.unpersist()
      java.nio.file.Files.delete(dir.resolve("documents.parquet"))
      java.nio.file.Files.delete(dir)
    }
  }

  test("SPARK_GRAFT_ONLY selects a query by its full name or its `<entry>_` prefix") {
    val only = Some(Set("q31"))
    assert(Bench.selected(only, "q31_minhash_lsh_pairs"))
    assert(!Bench.selected(only, "q310_diff_in_diff"))
    assert(Bench.selected(Some(Set("q310_diff_in_diff")), "q310_diff_in_diff"))
    assert(!Bench.selected(Some(Set("q310_diff_in_diff")), "q31_minhash_lsh_pairs"))
    assert(Bench.selected(None, "q310_diff_in_diff"), "no list selects every query")
  }

  test("PlanDump rejects bad arguments before building a session") {
    def why(args: String*): String =
      intercept[IllegalArgumentException](PlanDump.parseArgs(args.toArray)).getMessage
    for (args <- Seq(Seq("out", "p"), Seq("out", "p", "--sf"), Seq("out", "p", "--sf", sf),
        Seq("out", "p", "q999_none"), Seq("out", "p", "cache:q31_minhash_lsh_pairs"),
        Seq("out", "p", "--sf", "/no/such/dir", "q31_minhash_lsh_pairs")))
      assert(why(args: _*).contains("usage: PlanDump"), args.mkString(" "))
    assert(why("out", "p", "--sf", sf).startsWith("no query"))
    assert(PlanDump.parseArgs(Array("out", "p", "--sf", sf, "q31_minhash_lsh_pairs",
      "cache:minhash_pair_graph")) ==
      (("out", "p", sf, Seq("q31_minhash_lsh_pairs", "cache:minhash_pair_graph"))))
    assert(PlanDump.parseArgs(Array("out", "p", "q31_minhash_lsh_pairs"))._3 == sf)
  }

  test("Verify rejects bad arguments before building a session") {
    def why(args: String*): String =
      intercept[IllegalArgumentException](Verify.parseArgs(args.toArray)).getMessage
    for (args <- Seq(Seq(), Seq(sf), Seq(sf, "out", "q999_none"),
        Seq(sf, "out", "q31,q31x"), Seq(sf, "out", "q31", "extra")))
      assert(why(args: _*).contains("usage: Verify"), args.mkString(" "))
    assert(why(sf, "out", "q31,nope").startsWith("no query matches nope"))
    // the two-argument form dumps every query
    assert(Verify.parseArgs(Array(sf, "out")) == ((sf, "out", None)))
    assert(Verify.parseArgs(Array(sf, "out", "q31,q75_ngram_jaccard_pairs")) ==
      ((sf, "out", Some(Set("q31", "q75_ngram_jaccard_pairs")))))
  }

  test("SPARK_GRAFT_REPEAT below one pass is rejected before building a session") {
    for (bad <- Seq("0", "-2", "two", ""))
      assert(intercept[IllegalArgumentException](Bench.repeatOf(Some(bad)))
        .getMessage.contains("SPARK_GRAFT_REPEAT"), bad)
    assert(Bench.repeatOf(None) == 1)
    assert(Bench.repeatOf(Some("3")) == 3)
  }
}
