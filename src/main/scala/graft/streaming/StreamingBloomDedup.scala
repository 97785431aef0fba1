package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TTLConfig, TimerValues, ValueState}

/** Streaming twin of `TextDedup.bloomDedupCensus` — the Dolma "BFF" run
  * AS a stream processor: every incoming line (non-overlapping
  * `lineTokens`-token tile, the house line proxy) is probed against an
  * m-bit Bloom filter and emitted with its KEEP/DROP decision; kept
  * lines insert their probe bits. This is the exact production shape the
  * batch census (q366) prices: constant memory, per-occurrence
  * decisions, false positives accepted.
  *
  * Sharding — the reason this scales: the bit space is split into
  * `nShards` INDEPENDENT sub-filters and a line is routed to shard
  * h60(line) mod nShards, so all k of its probe bits live in ONE shard's
  * filter (bff's own sharding; FP behavior per shard is that of an
  * (mBits/nShards)-bit filter over its slice). State per key is a FIXED
  * byte array of mBits/nShards/8 bytes — bounded by construction, never
  * growing with the stream; hot shards stay the same size as cold ones.
  *
  * Determinism: true duplicates are caught unconditionally (bits never
  * clear, so every occurrence after a line's first KEEP is flagged);
  * which of two same-batch occurrences of one line is "the keep" and
  * whether a borderline FALSE positive fires can depend on arrival
  * order — inherent to any streaming Bloom run (the batch census fixes a
  * canonical order for exactly this reason). Order-FREE invariants the
  * spec pins: per line type, keeps + dups = occurrences; every keep sets
  * >= 1 new bit, so total keeps <= mBits (pigeonhole — past saturation
  * everything is flagged, the q366 saturation regime live).
  *
  * The per-batch decision vector is materialized before the single state
  * write (output size EQUALS input size here, so unlike the line-dedup
  * monitor's census there is no asymptotic buffering win to chase). */
object StreamingBloomDedup {

  final case class Doc(doc_id: Long, text: String)
  final case class LineOcc(shard: Int, line: String, doc_id: Long)
  final case class Decision(doc_id: Long, line: String, dup: Boolean)

  private val mdPool =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** The house 60-bit md5 hash (`Sketches.hash60`'s contract) in plain
    * Scala, via the SAME digest-byte fold the native expression uses
    * (`Hash60.fold` — no hex-string round trip; thread-local digest, no
    * per-call allocation). Salts match the batch census (q366), so the
    * two agree on probe IDENTITY; probe GEOMETRY matches only at
    * nShards = 1 — a sharded filter probes h60 mod (mBits/nShards), so
    * per-line bit positions (and individual FP decisions) differ from
    * the unsharded census while aggregate FP statistics stay
    * comparable. INSERT POLICY also differs even at nShards = 1: this
    * processor inserts bits only for KEPT lines, while the census's
    * minSetter formulation models an insert-always filter (flagged
    * types' bits still count) — so the census upper-bounds, not prices,
    * a keep-only run; see the q366 scaladoc. */
  private[streaming] def h60(s: String): Long = {
    val md = mdPool.get()
    md.reset()
    graft.functions.Hash60.fold(md.digest(s.getBytes("UTF-8")))
  }

  class Processor(shardBits: Int, k: Int)
      extends StatefulProcessor[Int, LineOcc, Decision] {
    @transient private var filt: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      filt = getHandle.getValueState("bits", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[LineOcc],
                                 timers: TimerValues): Iterator[Decision] = {
      val bytes =
        if (filt.exists()) filt.get() else new Array[Byte](shardBits / 8)
      var changed = false
      val out = rows.map { r =>
        val bits = (1 to k).map(i =>
          (h60(s"bffbit$i#${r.line}") % shardBits).toInt)
        val dup = bits.forall(b => (bytes(b / 8) & (1 << (b % 8))) != 0)
        if (!dup) {
          bits.foreach(b =>
            bytes(b / 8) = (bytes(b / 8) | (1 << (b % 8))).toByte)
          changed = true
        }
        Decision(r.doc_id, r.line, dup)
      }.toVector
      if (changed) filt.update(bytes)
      out.iterator
    }
  }

  /** Append-mode KEEP/DROP decision feed over a document stream. The
    * session must run the RocksDB state store provider
    * (transformWithState's requirement). Tiling mirrors the batch
    * operators (split(" ", -1), NULL text tiles as ""). */
  def dedupDecisions(docs: Dataset[Doc],
                     mBits: Int, nShards: Int): Dataset[Decision] = {
    val lineTokens = 3
    val k = 3
    require(nShards >= 1 && mBits >= nShards * 8 &&
      mBits % (nShards * 8) == 0,
      "need mBits >= nShards*8 and divisible by it (whole bytes per shard)")
    val shardBits = mBits / nShards
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
        Option(d.text).getOrElse("").split(" ", -1).grouped(lineTokens)
          .map { g =>
            val line = g.mkString(" ")
            LineOcc((h60(s"bffshard#$line") % nShards).toInt, line, d.doc_id)
          }.toSeq
      }
      .groupByKey(_.shard)
      .transformWithState(new Processor(shardBits, k), TimeMode.None(),
        OutputMode.Append())
  }
}
