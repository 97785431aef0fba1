package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TimeMode, TTLConfig, TimerValues, ValueState}

/** Streaming twin of `TextDedup.lineDedup`'s boilerplate census: as
  * documents stream in, emit each line (non-overlapping `lineTokens`-token
  * tile — the batch operator's line proxy) EXACTLY ONCE, the moment its
  * distinct-document count first reaches `minDocs`. The emitted feed is
  * the live boilerplate list an ingest pipeline subscribes to (downstream
  * writers drop those lines from documents they rewrite — the batch
  * operator's drop set, discovered incrementally).
  *
  * State design — the reason this scales: a line's state is AT MOST
  * `minDocs − 1` doc-id map entries plus a counter and an emitted flag.
  * Below the threshold the doc-id set is needed (within-doc repeats and
  * re-deliveries must not double-count); AT the threshold the map is
  * cleared and only the flag survives, so hot boilerplate lines — the
  * ones seen millions of times — carry ONE boolean of state each. Keyed
  * by line in the RocksDB state store (transformWithState's provider),
  * partitioned by the stream's key hash; no global structure.
  *
  * Determinism: the emitted SET over a full stream is micro-batch-split
  * invariant, with no buffering or sorting needed — distinct-doc counting
  * is order-free: a key emits iff prior-state count + its batch's new
  * distinct doc ids reaches `minDocs` (n_docs is then exactly minDocs),
  * and the residual sub-threshold state is ALL new ids; neither depends
  * on shuffle arrival order. Emission TIMING (which batch) naturally
  * depends on the split, as with every streaming threshold monitor here;
  * the spec pins the set. */
object StreamingLineDedup {

  final case class Doc(doc_id: Long, text: String)
  final case class LineOcc(line: String, doc_id: Long)
  final case class Boilerplate(line: String, n_docs: Long)

  class Processor(minDocs: Int)
      extends StatefulProcessor[String, LineOcc, Boilerplate] {
    @transient private var emitted: ValueState[Boolean] = _
    @transient private var docs: MapState[Long, Boolean] = _
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      emitted = getHandle.getValueState("emitted",
        Encoders.scalaBoolean, TTLConfig.NONE)
      docs = getHandle.getMapState("docs",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      n = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[LineOcc],
                                 timers: TimerValues): Iterator[Boilerplate] = {
      if (emitted.exists()) return Iterator.empty
      // single streaming pass, NO batch-slice buffering: a hot boilerplate
      // line can flood one batch with millions of rows, but only new
      // distinct doc ids matter and at most minDocs − prior-count of them
      // can appear before the threshold crosses — so the local set is
      // bounded by minDocs regardless of slice size. Order-free (see
      // object doc), so the old buffer-sort bought nothing.
      val prev = if (n.exists()) n.get() else 0L
      val fresh = scala.collection.mutable.HashSet.empty[Long]
      var out: Option[Boilerplate] = None
      while (rows.hasNext && out.isEmpty) {
        val d = rows.next().doc_id
        if (!fresh.contains(d) && !docs.containsKey(d)) {
          fresh += d
          if (prev + fresh.size >= minDocs) {
            out = Some(Boilerplate(key, prev + fresh.size))
            emitted.update(true)
            // threshold reached: drop the doc set — hot lines keep one flag
            docs.clear()
            n.clear()
          }
        }
      }
      if (out.isEmpty && fresh.nonEmpty) {
        fresh.foreach(d => docs.updateValue(d, true))
        n.update(prev + fresh.size)
      }
      out.iterator
    }
  }

  /** Append-mode boilerplate feed over a document stream. The session must
    * run the RocksDB state store provider (transformWithState's
    * requirement). Tiling mirrors the batch operator: non-overlapping
    * `lineTokens`-token windows, last tile may be short. */
  def boilerplateLines(docs: Dataset[Doc]): Dataset[Boilerplate] = {
    val lineTokens = 3
    val minDocs = 3
    import docs.sparkSession.implicits._
    // split(" ", -1) + null-coalesce mirror the batch operator exactly:
    // Spark SQL's split keeps trailing empty tokens (text "a b " tiles as
    // ["a","b",""]), and NULL text tiles as "" instead of NPE-ing the
    // query — the emitted set must stay equal to the batch drop set
    docs.flatMap { d =>
        Option(d.text).getOrElse("").split(" ", -1).grouped(lineTokens)
          .map(g => LineOcc(g.mkString(" "), d.doc_id)).toSeq
      }
      .groupByKey(_.line)
      .transformWithState(new Processor(minDocs), TimeMode.None(),
        OutputMode.Append())
  }
}
