package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass statistics over TOKEN n-gram windows (tokens =
  * `split(text, ' ')`, Spark semantics: consecutive/trailing separators keep
  * their empty tokens).
  *
  * The key identity: splitting on a single space means consecutive tokens
  * are separated by exactly one space, so the k-token shingle
  * `concat_ws(' ', slice(split(text,' '), i, k))` IS the byte span of the
  * original text from token i's first byte to token i+k-1's last byte — no
  * shingle strings ever need building. Distinctness is byte-exact (open-
  * addressed table probing the original buffer, same scheme as
  * [[NgramDistinctCount]]); a space byte (0x20) can never occur inside a
  * multi-byte UTF-8 sequence, so byte scanning is unicode-safe.
  *
  * The interpreted alternatives these replace
  * (`transform(sequence(...), i -> concat_ws(' ', slice(toks, i, k)))` +
  * `array_distinct`/`explode`/corpus-wide `groupBy(doc, gram)`) allocate a
  * token array plus one string per window per row and run outside
  * whole-stage codegen — they were the dominant cost of the repetition
  * filter (q87) and decontamination (q85) at sf0.1.
  */
object TokenNgrams {

  /** Token start byte-offsets: length nTokens+1, `starts(n) = len+1` so
    * window end for tokens [i, i+k) is `starts(i+k) - 1` (drops the
    * trailing separator; the sentinel makes the last window end at len). */
  def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') n += 1; i += 1 }
    val starts = new Array[Int](n + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(n) = bytes.length + 1
    starts
  }

  /** Distinct k-token windows of `bytes` ([[WindowSet.probe]]), filling
    * `outHashes` when non-null; 0 when the row has fewer than k tokens. */
  private def scan(bytes: Array[Byte], starts: Array[Int], k: Int,
                   outHashes: Array[Long]): Int = {
    val windows = starts.length - k
    if (windows <= 0) return 0
    WindowSet.probe(bytes, starts, k, 1,
      new Array[Int](WindowSet.capacity(windows)), null, outHashes)
  }

  /** Per-slot multiplicities of the k-token windows, with the slot table
    * they index; null when the row has fewer than k tokens. */
  private def windowCounts(bytes: Array[Byte], starts: Array[Int], k: Int): Array[Array[Int]] = {
    val windows = starts.length - k
    if (windows <= 0) return null
    val slots = new Array[Int](WindowSet.capacity(windows))
    val counts = new Array[Int](slots.length)
    WindowSet.probe(bytes, starts, k, 1, slots, counts, null)
    Array(slots, counts)
  }

  def count(s: UTF8String, k: Int): Long = {
    val bytes = s.getBytes
    scan(bytes, tokenStarts(bytes), k, null).toLong
  }

  /** Per-row stats over the NON-OVERLAPPING `tileN`-token tiles (the
    * [[graft.operators]] tileInventory partition of a document: ceil(n/tileN)
    * tiles, at least 1 since a row has at least one token, last tile may be
    * short): returns `[n_tiles, n_tile_types, char_mass, dup_char_mass]`
    * where char_mass is the summed CHARACTER length of every tile instance
    * and dup_char_mass the character length of instances beyond their
    * type's first occurrence — the Gopher dup-line/para rule numerators.
    * The tiles are the 1-token windows of their start offsets, so tile
    * identity is [[WindowSet.probe]]'s byte-EXACT identity (NOT hashed),
    * and a tile's joined string is its byte span, so character length =
    * count of UTF-8 lead bytes in the span, counted once per tile type.
    * Replaces two corpus-wide `groupBy(doc, tile-string)` exchanges with a
    * per-row scan. */
  def tileStats(s: UTF8String, tileN: Int): ArrayData = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTokens = starts.length - 1
    val nTiles = (nTokens + tileN - 1) / tileN
    val tiles = new Array[Int](nTiles + 1)
    var t = 0
    while (t < nTiles) { tiles(t) = starts(t * tileN); t += 1 }
    tiles(nTiles) = starts(nTokens)
    val slots = new Array[Int](WindowSet.capacity(nTiles))
    val counts = new Array[Int](slots.length)
    val types = WindowSet.probe(bytes, tiles, 1, 1, slots, counts, null)
    var ch = 0L
    var dch = 0L
    var slot = 0
    while (slot < slots.length) {
      val e = slots(slot)
      if (e != 0) {
        var cl = 0L
        var j = tiles(e - 1)
        val end = tiles(e) - 1
        while (j < end) { if ((bytes(j) & 0xC0) != 0x80) cl += 1; j += 1 }
        ch += cl * counts(slot)
        dch += cl * (counts(slot) - 1)
      }
      slot += 1
    }
    new GenericArrayData(Array(nTiles.toLong, types.toLong, ch, dch))
  }

  /** Char mass of the MOST FREQUENT k-token window: max multiplicity,
    * ties broken by SMALLEST window in unsigned-byte order (= UTF8String /
    * Spark string ordering), times the winner's CHARACTER length — the
    * per-row form of `min(struct(-cnt, gram))` + `cnt * length(gram)`
    * (Gopher top-{2,3,4}-gram rules). 0 when the row has fewer than k
    * tokens. Window identity is byte-EXACT (probed against the original
    * buffer), not hashed. */
  def topNgramMass(s: UTF8String, k: Int): Long = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val table = windowCounts(bytes, starts, k)
    if (table == null) return 0L
    val slots = table(0); val counts = table(1)
    val cap = slots.length
    // winner: max count, then byte-order-smallest span among the maxima
    var best = -1   // winning window index
    var bestCnt = 0
    var slot = 0
    while (slot < cap) {
      val e = slots(slot)
      if (e != 0) {
        val cw = e - 1
        val c = counts(slot)
        if (c > bestCnt) { bestCnt = c; best = cw }
        else if (c == bestCnt) {
          // unsigned lexicographic span comparison (Spark string order)
          val a0 = starts(cw); val a1 = starts(cw + k) - 1
          val b0 = starts(best); val b1 = starts(best + k) - 1
          var m = 0
          val la = a1 - a0; val lb = b1 - b0
          val lim = math.min(la, lb)
          var cmp = 0
          while (cmp == 0 && m < lim) {
            cmp = (bytes(a0 + m) & 0xff) - (bytes(b0 + m) & 0xff); m += 1
          }
          if (cmp == 0) cmp = la - lb
          if (cmp < 0) best = cw
        }
      }
      slot += 1
    }
    val w0 = starts(best); val w1 = starts(best + k) - 1
    var cl = 0L
    var j = w0
    while (j < w1) { if ((bytes(j) & 0xC0) != 0x80) cl += 1; j += 1 }
    bestCnt * cl
  }

  def hashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val out = new Array[Long](math.max(starts.length - k, 0))
    val n = scan(bytes, starts, k, out)
    new GenericArrayData(java.util.Arrays.copyOf(out, n))
  }

  def topCount(s: UTF8String, k: Int): Long = {
    val bytes = s.getBytes
    val table = windowCounts(bytes, tokenStarts(bytes), k)
    if (table == null) return 0L
    val counts = table(1)
    var top = 0
    var i = 0
    while (i < counts.length) { if (counts(i) > top) top = counts(i); i += 1 }
    top.toLong
  }

  /** ALL k-token windows (positional, NOT deduplicated) as FNV-1a hashes
    * of their byte spans — the inventory form for position-aware shingle
    * pipelines (exact-substring dedup): window w of row r is element w,
    * so `posexplode` recovers (start, fingerprint) with no token array,
    * no window strings, no digest. Rows with fewer than k tokens return
    * an EMPTY array — the expression is total, so speculative pre-filter
    * evaluation can never throw. */
  def windowHashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val out = new Array[Long](math.max(starts.length - k, 0))
    var w = 0
    while (w < out.length) { out(w) = WindowSet.fnv(bytes, starts(w), starts(w + k) - 1); w += 1 }
    new GenericArrayData(out)
  }

  /** Winnowed fingerprint SELECTION (Schleimer et al. 2003, the MOSS
    * scheme) in one per-row pass: md5 of every k-token window — computed
    * over the window's BYTE SPAN, which IS the `concat_ws(' ',
    * slice(t,i,k))` string the interpreted form digested, so the hex
    * values are bit-identical — then the minimum digest of each of the
    * ng−w+1 full w-window frames (min = unsigned digest order = the hex
    * string order the old `min().over(rowsBetween(0, w−1))` used), the
    * distinct selected mins returned as lowercase hex. Rows with fewer
    * than k+w−1 tokens (no full frame) return an empty array — matching
    * the old `where(size(t) >= k+w−1)` pre-filter. Replaces the
    * transform+slice+concat_ws+md5 window build, the per-doc window
    * function and the distinct — three shuffle-adjacent stages — with a
    * scan. */
  def winnowedMins(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val starts = tokenStarts(bytes)
    val nTokens = starts.length - 1
    val ng = nTokens - k + 1
    if (ng < w) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val digests = new Array[Array[Byte]](ng)
    var i = 0
    while (i < ng) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - 1 - starts(i))
      digests(i) = md.digest()
      i += 1
    }
    @inline def less(a: Array[Byte], b: Array[Byte]): Boolean = {
      var j = 0
      while (j < 16) {
        val d = (a(j) & 0xff) - (b(j) & 0xff)
        if (d != 0) return d < 0
        j += 1
      }
      false
    }
    val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer]()
    var p = 0
    while (p <= ng - w) {
      var m = digests(p)
      var q = p + 1
      while (q < p + w) { if (less(digests(q), m)) m = digests(q); q += 1 }
      seen.add(java.nio.ByteBuffer.wrap(m))
      p += 1
    }
    val hexDigits = "0123456789abcdef".toCharArray
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      val d = it.next().array()
      val cs = new Array[Char](32)
      var j = 0
      while (j < 16) {
        cs(2 * j) = hexDigits((d(j) >> 4) & 0xf)
        cs(2 * j + 1) = hexDigits(d(j) & 0xf)
        j += 1
      }
      out(o) = UTF8String.fromString(new String(cs))
      o += 1
    }
    new GenericArrayData(out)
  }

  def token_ngram_distinct_count(c: Column, n: Int): Column =
    GraftShims.column(TokenNgramDistinctCount(GraftShims.expression(c), n))
  def token_ngram_distinct_hashes(c: Column, n: Int): Column =
    GraftShims.column(TokenNgramDistinctHashes(GraftShims.expression(c), n))
  def token_top_ngram_count(c: Column, n: Int): Column =
    GraftShims.column(TokenTopNgramCount(GraftShims.expression(c), n))
  def token_window_hashes(c: Column, n: Int): Column =
    GraftShims.column(TokenWindowHashes(GraftShims.expression(c), n))
  def token_tile_stats(c: Column, n: Int): Column =
    GraftShims.column(TokenTileStats(GraftShims.expression(c), n))
  def md5_winnowed_mins(c: Column, k: Int, w: Int): Column =
    GraftShims.column(Md5WinnowedMins(GraftShims.expression(c), k, w))
  def token_top_ngram_mass(c: Column, n: Int): Column =
    GraftShims.column(TokenTopNgramMass(GraftShims.expression(c), n))
}

private[functions] trait TokenNgramExpr extends UnaryExpression {
  def n: Int
  def fnName: String
  require(n >= 1, "n must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName requires STRING input, got ${child.dataType.catalogString}")
}

/** EXACT count of distinct k-token shingles — native form of
  * `size(array_distinct(transform(..., i -> concat_ws(' ', slice(toks, i, k)))))`. */
case class TokenNgramDistinctCount(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_ngram_distinct_count"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.count(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.count($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenNgramDistinctCount =
    copy(child = c)
}

/** Distinct k-token shingles as 64-bit FNV-1a hashes (byte-exact
  * distinctness, hashed identity) — the join-key form for shingle-keyed
  * pipelines (decontamination): joins/aggregations move 8-byte longs
  * instead of k-token strings. */
case class TokenNgramDistinctHashes(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_ngram_distinct_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.hashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.hashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenNgramDistinctHashes =
    copy(child = c)
}

/** ALL k-token windows as positional FNV-1a byte-span hashes — see
  * [[TokenNgrams.windowHashes]]. Join identity only (a 64-bit collision
  * merges two windows the way the md5 form's would at 128 bits — the q75
  * hashed-gram-identity precedent).
  *
  * Collision envelope (the 100 TB honesty note): with D distinct grams,
  * expected 64-bit birthday collisions ≈ D²/2^65. Negligible through
  * D ≈ 10^9 (~0.03 expected); at the 100 TB design point (D ≈ 10^11–10^12)
  * it reaches ~10^2–10^4 — each collision silently MERGES two distinct
  * grams (one phantom duplicate run / deterministic continuation /
  * inflated clipped count among ~10^12 true ones; relative error
  * ~D/2^65 ≲ 1e-7, far below any gating threshold here). Every tested
  * scale is oracle-exact. Accepted house trade since r12 for consumers
  * where gram identity is GROUP/JOIN identity only (q75/q300/q377/q383/
  * q389/q393/q396/q397, gopherMicro's dup-n rules); a future query whose
  * contract needs EXACT identity at 10^12 grams must not inherit this
  * blind — use a 128-bit fingerprint or byte-exact keys there. */
case class TokenWindowHashes(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_window_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.windowHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.windowHashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenWindowHashes =
    copy(child = c)
}

/** Distinct winnowed md5 fingerprints (hex) of the k-token windows under
  * a w-window frame — see [[TokenNgrams.winnowedMins]]. Output values are
  * bit-identical to the interpreted md5-string form (md5 IS the identity,
  * not a 64-bit house hash — the winnow MIN selection is part of the
  * declared output, so no FNV swap is possible here). */
case class Md5WinnowedMins(child: Expression, k: Int, w: Int)
  extends TokenNgramExpr {
  require(k >= 1 && w >= 1, "k and w must be positive")
  override def n: Int = k
  override def fnName: String = "md5_winnowed_mins"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.winnowedMins(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.winnowedMins($c, $k, $w);")
  override protected def withNewChildInternal(c: Expression): Md5WinnowedMins =
    copy(child = c)
}

/** Per-row non-overlapping tile stats `[n, n_types, char_mass,
  * dup_char_mass]` — see [[TokenNgrams.tileStats]]. Byte-exact identity
  * (no hashing). */
case class TokenTileStats(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_tile_stats"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.tileStats(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.tileStats($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenTileStats =
    copy(child = c)
}

/** Char mass of the most frequent k-token window (ties: byte-order-smallest
  * window) — see [[TokenNgrams.topNgramMass]]. Byte-exact identity. */
case class TokenTopNgramMass(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_top_ngram_mass"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.topNgramMass(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.topNgramMass($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenTopNgramMass =
    copy(child = c)
}

/** Max multiplicity of any k-token shingle (0 when fewer than k tokens) —
  * the "top bigram count" of Gopher-style repetition filters, without the
  * corpus-wide (doc, gram) groupBy or the per-doc sort+fold. */
case class TokenTopNgramCount(child: Expression, n: Int) extends TokenNgramExpr {
  override def fnName: String = "token_top_ngram_count"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TokenNgrams.topCount(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenNgrams.topCount($c, $n);")
  override protected def withNewChildInternal(c: Expression): TokenTopNgramCount =
    copy(child = c)
}
