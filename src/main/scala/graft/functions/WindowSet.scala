package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The byte-span window kernel behind the character n-gram expressions
  * ([[NgramDistinctCount]], [[NgramDistinctHashes]]) and the token n-gram
  * statistics ([[TokenNgrams]]). Window `w` of a row is the byte span
  * `[starts(w), starts(w + k) - gap)`: over char-start offsets
  * ([[charStarts]]) `gap` is 0, over token starts
  * ([[TokenNgrams.tokenStarts]]) it is 1, which drops the separating space.
  *
  * Distinctness is byte-exact: an open-addressed table of window indexes
  * probes the original UTF-8 buffer, so a hash collision costs one extra
  * probe, never a wrong answer. Plain static loops over primitive arrays,
  * since generated code calls them once per row. */
private[functions] object WindowSet {

  /** FNV-1a 64-bit over `bytes[b0, b1)`. */
  def fnv(bytes: Array[Byte], b0: Int, b1: Int): Long = {
    var h = -3750763034362895579L // 0xcbf29ce484222325
    var j = b0
    while (j < b1) { h = (h ^ (bytes(j) & 0xffL)) * 1099511628211L; j += 1 }
    h
  }

  /** Char-start byte offsets (UTF-8 sequence starts) of `s`, length
    * `numChars + 1`: the last entry is the byte length. */
  def charStarts(s: UTF8String): Array[Int] = {
    val bytes = s.getBytes
    val nChars = s.numChars()
    val off = new Array[Int](nChars + 1)
    var i = 0; var ci = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { off(ci) = i; ci += 1 }
      i += 1
    }
    off(nChars) = bytes.length
    off
  }

  /** Table capacity for `windows` entries: a power of two >= 2x windows. */
  def capacity(windows: Int): Int = {
    var cap = 4
    while (cap < windows * 2) cap <<= 1
    cap
  }

  /** One pass over the `starts.length - k` windows. `slots` (zeroed, length
    * [[capacity]]) receives 0 = empty, else window index + 1; when
    * non-null, `counts` receives each slot's multiplicity and `outHashes`
    * the FNV-1a hash of each distinct window in first-seen order. Returns
    * the distinct count. */
  def probe(bytes: Array[Byte], starts: Array[Int], k: Int, gap: Int,
            slots: Array[Int], counts: Array[Int], outHashes: Array[Long]): Int = {
    val windows = starts.length - k
    val mask = slots.length - 1
    var distinct = 0
    var w = 0
    while (w < windows) {
      val b0 = starts(w); val b1 = starts(w + k) - gap
      val h = fnv(bytes, b0, b1)
      var slot = (h.toInt ^ (h >>> 32).toInt) & mask
      var done = false
      while (!done) {
        val e = slots(slot)
        if (e == 0) {
          slots(slot) = w + 1
          if (outHashes != null) outHashes(distinct) = h
          if (counts != null) counts(slot) = 1
          distinct += 1
          done = true
        } else {
          val ew = e - 1
          val e0 = starts(ew); val e1 = starts(ew + k) - gap
          var same = (e1 - e0) == (b1 - b0)
          var m = 0
          while (same && m < b1 - b0) { same = bytes(e0 + m) == bytes(b0 + m); m += 1 }
          if (same) {
            if (counts != null) counts(slot) += 1
            done = true
          } else slot = (slot + 1) & mask
        }
      }
      w += 1
    }
    distinct
  }
}
