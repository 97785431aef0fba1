package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 continuation shelf: character-coverage alphabet selection,
  * the Bloom-filter dedup false-positive census, BLEU-2 over near-dup
  * pairs, and the data-scaling-law fit — each pinned on hand-computable
  * fixtures or a pure-Scala replay of the exact arithmetic contract.
  */
class RoundSixteenShelfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A corpus's [[graft.operators.TextLm.docBigrams]] frame — the input
    * every `TextLm.*From` form below takes. */
  private def bigramsOf(df: org.apache.spark.sql.DataFrame) =
    graft.operators.TextLm.docBigrams(df, "doc_id", "text")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    md5hex(s).take(15).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))

  test("charCoverage: minimal prefix keep rule, per-source OOV, exact rate") {
    // chars: a x62, b x42, ' ' x3, c x1 (total 108); ranking (count desc,
    // char asc): a(62) b(42) ' '(3) c(1). 99% coverage: kept <=>
    // prev_cum * 100 < 108 * 99 = 10692: a(0) yes, b(62) yes,
    // ' '(104) yes, c(107) no -> alphabet 3, c is OOV.
    val docs = Seq(("s1", "a" * 60 + " " + "b" * 40), ("s2", "ab bc a"))
      .toDF("src", "text")
    // s1 chars: a60 ' '1 b40 (101, 0 oov); s2: a2 b2 c1 ' '2 (7, 1 oov)
    val out = graft.operators.TextPrep.charCoverage(docs, "text", "src")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    graft.operators.CacheScope.drain()
    assert(out("s1") == ((101L, 0L, 0.0, 3L)))
    // rate = halfUp(1e6 * 1/7) = (2*1*1e6 + 7) div 14 = 142857
    assert(out("s2") == ((7L, 1L, 0.142857, 3L)))
  }

  test("charCoverage: all-tied chars keep the char-asc prefix") {
    // 100 distinct chars U+0100..U+0163, each once; 99% coverage keeps
    // the 99 asc-first (prev_cum 98 * 100 < 100 * 99) and drops the last
    // (99 * 100 >= 9900).
    val docs = Seq(("s", (0 until 100).map(i => (0x100 + i).toChar).mkString))
      .toDF("src", "text")
    val r = graft.operators.TextPrep.charCoverage(docs, "text", "src")
      .collect().head
    graft.operators.CacheScope.drain()
    assert(r.getLong(1) == 100L && r.getLong(2) == 1L && r.getLong(4) == 99L)
  }

  test("charCoverage: astral-plane chars are ONE code point, never surrogates") {
    // U+1F600 (😀, a surrogate pair in UTF-16) appears 98x, ' ' 1x, 'a' 1x
    // (total 100 occurrences as CODE POINTS; a code-unit split would see
    // 198). Ranking (count desc, char asc): 😀(98), then ' '(1) and a(1)
    // tie -> ' ' < 'a'. 99% coverage, kept <=> prev_cum * 100 < 9900:
    // 😀 0 -> kept; ' ' 98 -> kept; 'a' 99 -> OOV. alphabet = 2, oov = 1
    // of 100.
    val docs = Seq(("s", "😀" * 98 + " a"))
      .toDF("src", "text")
    val r = graft.operators.TextPrep.charCoverage(docs, "text", "src")
      .collect().head
    graft.operators.CacheScope.drain()
    // (n_char_occ, n_oov_occ, oov_rate, alphabet_size)
    assert(r.getLong(1) == 100L, s"code-unit split leaked: ${r.getLong(1)}")
    assert(r.getLong(2) == 1L && r.getLong(4) == 2L)
    // halfUp(1e6 * 1/100) = (2*1*1e6 + 100) div 200 = 10000
    assert(r.getDouble(3) == 0.01)
  }

  test("jlRecall: empty embedding row is excluded instead of erroring") {
    // one empty vector among real ones — sequence(0, -1) DESCENDS, so an
    // unguarded fold dies with 'array indices start at 1', and a zero
    // projection would then divide by zero in the ANSI cosine; the guard
    // drops the zero-norm row from both rankings
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq.empty[Float])).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.jlRecall(
        df, "vec_id", "embedding", col("vec_id") < 2, k = 2, dOut = 2)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(out.forall(_.getLong(1) == 2L)) // 3 survivors -> 2 neighbors each
  }

  test("bloomDedupCensus: equals an imperative Bloom-filter run in canonical order") {
    // 4000 docs of 2 three-token lines; every 4th doc repeats doc 0's
    // first line (true dups); ~7000 line types fill the 2^16-bit filter
    // enough to force real false positives at every k.
    val nDocs = 4000L
    val docs = (0L until nDocs).map { i =>
      val l1 = if (i % 4 == 0) "dup line one" else s"u$i v$i w$i"
      (i, s"$l1 x$i y$i z$i")
    }.toDF("doc_id", "text")
    val mBits = 1L << 16
    val out = graft.operators.TextDedup.bloomDedupCensus(
        docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap
    graft.operators.CacheScope.drain()
    // pure-Scala replay: tile exactly like tileInventory, then RUN the
    // Bloom filter imperatively in ascending-o order
    val lines = (0L until nDocs).flatMap { i =>
      val l1 = if (i % 4 == 0) "dup line one" else s"u$i v$i w$i"
      val ts = s"$l1 x$i y$i z$i".split(" ", -1)
      val n = math.max((ts.length + 2) / 3, 1)
      (0 until n).map(t => ts.slice(t * 3, t * 3 + 3).mkString(" "))
    }
    val types = lines.groupBy(identity).map { case (l, v) =>
      (l, v.size.toLong, h60("bfford#" + l),
        (1 to 3).map(j => h60(s"bffbit$j#" + l) % mBits))
    }.toSeq.sortBy(_._3)
    assert(types.map(_._3).distinct.size == types.size, "order keys collide")
    val dupOcc = lines.size.toLong - types.size.toLong
    (1 to 3).foreach { k =>
      val set = scala.collection.mutable.Set.empty[Long]
      var fp = 0L
      types.foreach { case (_, _, _, bits) =>
        val bs = bits.take(k)
        if (bs.forall(set.contains)) fp += 1
        set ++= bs
      }
      val n = types.size.toLong
      val rate = ((2L * fp * 1000000L + n) / (2L * n)).toDouble / 1e6
      assert(out(k.toLong) == ((n, fp, rate, set.size.toLong, dupOcc)),
        s"k=$k engine ${out(k.toLong)} vs replay ${(n, fp, rate, set.size, dupOcc)}")
      assert(fp > 0L, s"fixture must force false positives at k=$k")
    }
    // NOTE deliberately no k-monotonicity claim: past the filter's
    // optimal k MORE probes mean MORE false positives — exactly the
    // regime the census exists to expose (the sf corpora sit below
    // saturation and show the falling curve: 5.2% -> 1.2% -> 0.6% at
    // sf0.01).
  }

  test("pairBleu: clipped precisions, brevity penalty, NULL at zero overlap") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat on the mat"),
      (3L, "a b c d"), (4L, "b c x"),
      (5L, "p q r"), (6L, "z z z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val rows = graft.operators.TextDedup.pairBleu(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    graft.operators.CacheScope.drain()
    // (1,2): perfect precisions, BP = 1 - 6/3 = -1
    assert(rows((1L, 2L)) == ((1.0, Some(1.0), Some(-1.0))))
    // (3,4): m1 = 2 of 4, m2 = 1 of 3, BP = 0 (candidate longer)
    val lb34 = math.round(
      (0.5 * (math.log(0.5) + math.log(1.0 / 3.0))) * 1e6).toDouble / 1e6
    assert(rows((3L, 4L)) == ((0.5, Some(1.0 / 3.0), Some(lb34))))
    // (5,6): zero unigram overlap -> p1 = 0 -> NULL score, never ln(0)
    assert(rows((5L, 6L)) == ((0.0, Some(0.0), None)))
  }

  test("groupedKnXent: per-group models replayed; groups are perfectly isolated") {
    // two "languages" with disjoint vocab; per-group replay of the KN
    // closed form (all scored bigrams observed in their OWN group model)
    val aDocs = Seq((1L, "a", "x y x y"), (2L, "a", "x y z"))
    val bDocs = Seq((3L, "b", "p q"), (4L, "b", "p q p"))
    val df = (aDocs ++ bDocs).toDF("doc_id", "lang", "text")
    def replay(docs: Seq[(Long, String, String)]): (Long, Long, Double) = {
      def bigrams(t: String) = {
        val w = t.split(" "); w.dropRight(1).zip(w.drop(1)).toSeq
      }
      val big = docs.flatMap(d => bigrams(d._3))
        .groupBy(identity).map { case (g, v) => g -> v.size.toLong }
      val c1 = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.map(_._2).sum }
      val n1p = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.size.toLong }
      val nc = big.toSeq.groupBy(_._1._2).map { case (w, v) => w -> v.size.toLong }
      val tT = big.size.toLong
      val vV = docs.flatMap(_._3.split(" ")).distinct.size.toLong
      def lp(w1: String, w2: String): Long = math.round(math.log(
        ((4L * big((w1, w2)) - 3L) * (tT + vV)
          + 3L * n1p(w1) * (nc(w2) + 1L)).toDouble /
          (4L * c1(w1) * (tT + vV)).toDouble) * 1e6)
      val rows = docs.flatMap(d => bigrams(d._3).groupBy(identity)
        .map { case (g, v) => (g, v.size.toLong) })
      val mu = rows.map { case (g, o) => o * lp(g._1, g._2) }.sum
      val m = rows.map(_._2).sum
      (docs.size.toLong, m, ((2L * -mu + m) / (2L * m)).toDouble / 1e6)
    }
    val out = graft.operators.TextLm.groupedKnXentFrom(
        bigramsOf(df), df, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("a") == replay(aDocs) && out("b") == replay(bDocs),
      s"engine $out vs replay ${(replay(aDocs), replay(bDocs))}")
    // isolation: group a's row is IDENTICAL when group b is absent —
    // per-group models share nothing (unlike the corpus-global q342)
    val aDf = aDocs.toDF("doc_id", "lang", "text")
    val alone = graft.operators.TextLm.groupedKnXentFrom(
        bigramsOf(aDf), aDf, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(alone("a") == out("a"), "per-group models must be isolated")
  }

  test("jmDeletedInterpolation: three EM rounds replayed exactly; lambda stays a probability") {
    // the q364 fixture shape — enough docs that the md5 carve splits it
    val docs = (0L until 64L).map { i =>
      val text =
        if (i % 7 == 0) s"a b u$i"
        else if (i % 7 == 1) s"z$i q a"
        else s"a b c a t${i % 3}"
      (i, text)
    }
    val df = docs.toDF("doc_id", "text")
    val eighth = 144115188075855872L
    def hv(i: Long) = h60(s"ho#$i")
    val train = docs.filter(d => hv(d._1) >= eighth)
    val ho = docs.filter(d => hv(d._1) < eighth)
    assert(train.nonEmpty && ho.nonEmpty, "carve must split fixture")
    def bigrams(t: String) = {
      val w = t.split(" "); w.dropRight(1).zip(w.drop(1)).toSeq
    }
    val big = train.flatMap(d => bigrams(d._2))
      .groupBy(identity).map { case (g, v) => g -> v.size.toLong }
    val c1 = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.map(_._2).sum }
    val unis = train.flatMap(_._2.split(" "))
    val cu = unis.groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val nv = unis.size.toLong + cu.size.toLong
    // held-out TYPE table with fixed-order component probabilities
    val hoTypes = ho.flatMap(d => bigrams(d._2))
      .groupBy(identity).toSeq.map { case (g, v) =>
        val pb = c1.get(g._1) match {
          case None => 0.0
          case Some(c) => big.getOrElse(g, 0L).toDouble / c.toDouble
        }
        val pu = (cu.getOrElse(g._2, 0L) + 1L).toDouble / nv.toDouble
        (v.size.toLong, pb, pu)
      }
    var lmu = 500000L
    val expected = (1 to 3).map { r =>
      val qs = hoTypes.map { case (occ, pb, pu) =>
        val q = if (pb == 0) 0.0
          else ((lmu.toDouble / 1e6) * pb) /
            ((lmu.toDouble / 1e6) * pb + (1.0 - lmu.toDouble / 1e6) * pu)
        (occ, math.round(q * 1e6))
      }
      val m = qs.map(_._1).sum
      lmu = (2L * qs.map(p => p._1 * p._2).sum + m) / (2L * m)
      val mu = hoTypes.map { case (occ, pb, pu) =>
        val mix = (lmu.toDouble / 1e6) * pb + (1.0 - lmu.toDouble / 1e6) * pu
        occ * math.round(math.log(mix) * 1e6)
      }.sum
      (r.toLong, lmu.toDouble / 1e6, m, ((2L * -mu + m) / (2L * m)).toDouble / 1e6)
    }.toSet
    val out = graft.operators.TextLm.jmDeletedInterpolationFrom(
        bigramsOf(df), df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3))).toSet
    graft.operators.CacheScope.drain()
    assert(out == expected, s"engine $out vs replay $expected")
    assert(out.forall(r => r._2 >= 0.0 && r._2 <= 1.0),
      "lambda must stay a probability")
  }

  test("jlRecall: engine == full pure-Scala replay (signs, projection, both rankings)") {
    // 24 vectors in 8 dims from a deterministic integer pattern
    val vecs = (0L until 24L).map { v =>
      (v, (0 until 8).map(i =>
        (((v * 7 + i * 13) % 19).toFloat - 9f) / 5f).toArray.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val signs = (0 until 4).map(j => (0 until 8).map(i =>
      if (h60(s"jl#$i#$j") % 2 == 0) 1.0 else -1.0))
    def topk(m: Map[Long, Seq[Double]], q: Long, k: Int): Seq[Long] =
      m.collect { case (vid, v) if vid != q =>
        val qv = m(q)
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        val c = dot / (math.sqrt(qv.map(x => x * x).sum) *
          math.sqrt(v.map(x => x * x).sum))
        (vid, c)
      }.toSeq.sortBy { case (vid, c) => (-c, vid) }.take(k).map(_._1)
    val full = vecs.map { case (v, e) => v -> e.map(_.toDouble) }.toMap
    val proj = full.view.mapValues(e =>
      (0 until 4).map(j => e.indices.map(i => e(i) * signs(j)(i)).sum).toSeq)
      .toMap
    val expected = (0L until 10L).map { q =>
      val ex = topk(full, q, 3); val ap = topk(proj, q, 3)
      (q, ex.size.toLong, ex.toSet.intersect(ap.toSet).size.toDouble / ex.size)
    }.toSet
    val out = graft.operators.Similarity.jlRecall(
        df, "vec_id", "embedding", col("vec_id") < 10, k = 3, dOut = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == expected, s"engine $out vs replay $expected")
  }

  test("tClosenessProfile: hand-computed ordered EMD, exact half-up t, threshold flag") {
    // global: a x3, b x2, c x4 (tot 9, m 3, ordered a < b < c)
    val df = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "c"), ("g2", "c"), ("g2", "c"),
      ("g3", "a"), ("g3", "b"), ("g3", "c")).toDF("g", "v")
    val out = graft.operators.MlOps.tClosenessProfile(df, Seq("g"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // g1 cum (2,3,3) vs global (3,5,9): S = 9+12+0 = 21, D = 3*9*2 = 54
    assert(out("g1") == ((3L, 0.388889, true)))
    // g2 cum (0,0,3): S = 9+15+0 = 24
    assert(out("g2") == ((3L, 0.444444, true)))
    // g3 matches the global shape: S = 0+3+0 = 3 -> t = 3/54, below 0.2
    assert(out("g3") == ((3L, 0.055556, false)))
  }

  test("minKppProb: engine == algorithm replay; closed-form moments == brute force") {
    val docs = Seq(
      (1L, "a b a b c"), (2L, "b a b d"), (3L, "x y x y x"),
      (4L, "a b c d a"), (5L, "y x y q"))
    val df = docs.toDF("doc_id", "text")
    def bigrams(t: String) = {
      val w = t.split(" "); w.dropRight(1).zip(w.drop(1)).toSeq
    }
    val docBig = docs.flatMap { case (id, t) =>
      bigrams(t).groupBy(identity).map { case (g, v) => (id, g, v.size.toLong) }
    }
    val big = docBig.groupBy(_._2).map { case (g, v) => g -> v.map(_._3).sum }
    val c1 = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.map(_._2).sum }
    val n1p = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.size.toLong }
    val nc = big.toSeq.groupBy(_._1._2).map { case (w, v) => w -> v.size.toLong }
    val vocab = docs.flatMap(_._2.split(" ")).distinct
      .map(w => w -> nc.getOrElse(w, 0L))
    val tT = big.size.toLong
    val vV = vocab.size.toLong
    def pcOf(n: Long) = (n + 1).toDouble / (tT + vV).toDouble
    def pfOf(g: (String, String)) =
      ((4L * big(g) - 3L) * (tT + vV)
        + 3L * n1p(g._1) * (nc.getOrElse(g._2, 0L) + 1L)).toDouble /
        (4L * c1(g._1) * (tT + vV)).toDouble
    // grid-quantized global moments
    val grid = vocab.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
    def gq(j: Int) = grid.map { case (n, gcnt) =>
      val pc = pcOf(n)
      // explicit ln chains, NOT pow: the engine text is pc*ln(pc)*ln(pc)
      val t = j match {
        case 0 => gcnt.toDouble * pc * 1e12
        case 1 => gcnt.toDouble * pc * math.log(pc) * 1e12
        case _ => gcnt.toDouble * pc * math.log(pc) * math.log(pc) * 1e12
      }
      math.round(t)
    }.sum
    val (g0, g1, g2) = (gq(0), gq(1), gq(2))
    // per-history observed sums (pico-quantized per type), mu/sigma
    val byHist = big.keys.toSeq.groupBy(_._1)
    val hstats = byHist.map { case (w1, gs) =>
      def s(f: ((String, String)) => Double) = gs.map(g => math.round(f(g))).sum
      val a1 = s(g => pfOf(g) * math.log(pfOf(g)) * 1e12)
      val a2 = s(g => pfOf(g) * math.log(pfOf(g)) * math.log(pfOf(g)) * 1e12)
      val b0 = s(g => pcOf(nc.getOrElse(g._2, 0L)) * 1e12)
      val b1 = s { g => val p = pcOf(nc.getOrElse(g._2, 0L)); p * math.log(p) * 1e12 }
      val b2 = s { g => val p = pcOf(nc.getOrElse(g._2, 0L))
        p * math.log(p) * math.log(p) * 1e12 }
      val lam = (3L * n1p(w1)).toDouble / (4L * c1(w1)).toDouble
      val ll = math.log(lam)
      val mu = a1.toDouble / 1e12 +
        lam * (ll * ((g0 - b0).toDouble / 1e12) + (g1 - b1).toDouble / 1e12)
      val sg = math.sqrt(math.max(a2.toDouble / 1e12 +
        lam * (ll * ll * ((g0 - b0).toDouble / 1e12)
          + 2 * ll * ((g1 - b1).toDouble / 1e12)
          + (g2 - b2).toDouble / 1e12) - mu * mu, 0))
      w1 -> ((mu, sg))
    }
    // brute force over the FULL vocab validates the decomposition algebra
    hstats.foreach { case (w1, (mu, sg)) =>
      val lam = (3L * n1p(w1)).toDouble / (4L * c1(w1)).toDouble
      val ps = vocab.map { case (v, n) =>
        if (big.contains((w1, v))) pfOf((w1, v)) else lam * pcOf(n)
      }
      assert(math.abs(ps.sum - 1.0) < 1e-9, s"p(.|$w1) must be a distribution")
      val muBf = ps.map(p => p * math.log(p)).sum
      val e2Bf = ps.map(p => p * math.log(p) * math.log(p)).sum
      assert(math.abs(mu - muBf) < 1e-6 &&
        math.abs(sg - math.sqrt(e2Bf - muBf * muBf)) < 1e-6,
        s"closed form vs brute force at $w1: ($mu,$sg) vs ($muBf)")
    }
    // per-doc bottom-k take with the signed half-up mean
    val expected = docs.map { case (id, t) =>
      val inst = bigrams(t).flatMap { g =>
        val (mu, sg) = hstats(g._1)
        if (sg > 0) Some(math.round((math.log(pfOf(g)) - mu) / sg * 1e6))
        else None
      }.sorted
      val m = inst.size.toLong
      val kk = (m * 1 + 4) / 5
      val s = inst.take(kk.toInt).sum
      val v = if (s >= 0) (2 * s + kk) / (2 * kk) else -((2 * -s + kk) / (2 * kk))
      (id, m, v.toDouble / 1e6)
    }.toSet
    val out = graft.operators.TextLm.minKppProbFrom(
        bigramsOf(df), df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.operators.CacheScope.drain()
    assert(out == expected, s"engine $out vs replay $expected")
  }

  test("dataScalingFit: per-carve ladder and integer OLS slope replayed exactly") {
    // the q364 fixture: 64 docs, every 7th carries unseen-bigram /
    // unseen-history shapes so the ladder's three paths are exercised
    val docs = (0L until 64L).map { i =>
      val text =
        if (i % 7 == 0) s"a b u$i"
        else if (i % 7 == 1) s"z$i q a"
        else s"a b c a t${i % 3}"
      (i, text)
    }
    val df = docs.toDF("doc_id", "text")
    val eighth = 144115188075855872L
    def hv(i: Long) = h60(s"ho#$i")
    assert(docs.exists(d => hv(d._1) < eighth) &&
      docs.exists(d => hv(d._1) >= 7L * eighth), "carve must split fixture")
    def bigrams(t: String) = {
      val w = t.split(" "); w.dropRight(1).zip(w.drop(1)).toSeq
    }
    val ks = Seq(1, 2, 4, 7)
    val pts = ks.map { k =>
      val lo = (8L - k) * eighth
      val train = docs.filter(d => hv(d._1) >= lo)
      val ho = docs.filter(d => hv(d._1) < eighth)
      val big = train.flatMap(d => bigrams(d._2))
        .groupBy(identity).map { case (g, v) => g -> v.size.toLong }
      val c1 = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.map(_._2).sum }
      val n1p = big.toSeq.groupBy(_._1._1).map { case (w, v) => w -> v.size.toLong }
      val nc = big.toSeq.groupBy(_._1._2).map { case (w, v) => w -> v.size.toLong }
      val tT = big.size.toLong
      val vV = train.flatMap(_._2.split(" ")).distinct.size.toLong
      val nTrainTokens = train.map(_._2.split(" ").length.toLong).sum
      def lp(w1: String, w2: String): Long = {
        val p =
          if (!c1.contains(w1))
            (nc.getOrElse(w2, 0L) + 1).toDouble / (tT + vV).toDouble
          else
            (math.max(4L * big.getOrElse((w1, w2), 0L) - 3L, 0L) * (tT + vV)
              + 3L * n1p(w1) * (nc.getOrElse(w2, 0L) + 1L)).toDouble /
              (4L * c1(w1) * (tT + vV)).toDouble
        math.round(math.log(p) * 1e6)
      }
      val hoBigs = ho.flatMap(d => bigrams(d._2).groupBy(identity)
        .map { case (g, v) => (g, v.size.toLong) })
      val mu = hoBigs.map { case (g, o) => o * lp(g._1, g._2) }.sum
      val m = hoBigs.map(_._2).sum
      val yMu = (2L * -mu + m) / (2L * m)
      (k.toLong, nTrainTokens, m, yMu)
    }
    val fitPts = pts.filter(p => p._2 > 0)
      .map(p => (math.round(math.log(p._2.toDouble) * 1e6), p._4))
    val n = fitPts.size.toLong
    val (sx, sy) = (fitPts.map(_._1).sum, fitPts.map(_._2).sum)
    val sxy = fitPts.map(p => p._1 * p._2).sum
    val sxx = fitPts.map(p => p._1 * p._1).sum
    val slope = BigDecimal((n * sxy - sx * sy).toDouble /
        (n * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pts.map(p =>
      (p._1, p._2, p._3, p._4.toDouble / 1e6, slope)).toSet
    val out = graft.operators.TextLm.dataScalingFitFrom(
        bigramsOf(df), df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    graft.operators.CacheScope.drain()
    assert(out == expected, s"engine $out vs replay $expected")
    // more train data must not raise held-out xent on this fixture
    val byK = pts.sortBy(_._1).map(_._4)
    assert(byK == byK.sorted.reverse, "xent should fall as the carve grows")
  }
}
