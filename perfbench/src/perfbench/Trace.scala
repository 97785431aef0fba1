package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is (name, layer, start, end, parent,
  * trace id); spans of one day or one query share the trace id. Switched
  * off, `apply` only runs its body. */
final class Spans {
  var on = false
  final case class Span(id: Int, layer: String, name: String, start: Long, end: Long,
                        parent: Int, trace: String) {
    def dur: Long = end - start
  }

  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var traceId = ""

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body finally {
        done += Span(id, layer, name, t0, System.nanoTime(), parent, traceId)
        stack = stack.tail
      }
    }

  /** Duration minus the part of the interval its direct children cover. */
  def selfNanos: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map(s => s.id -> (s.dur - kids.getOrElse(s.id, Nil).map(_.dur).sum)).toMap
  }

  def write(path: Path): Unit = {
    val self = selfNanos
    val lines = done.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_ns" -> self(s.id), "parent" -> s.parent, "trace" -> s.trace)
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Engine work per operation. The harness tags each operation's jobs with
  * the `perfbench.op` local property; stages and tasks inherit the tag, so
  * attribution does not depend on when the bus delivers an event. */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  val byOp = mutable.Map.empty[String, Acc]
  private val stageOp = mutable.Map.empty[Int, String]
  /** Time spent in these callbacks: the listener's own overhead. */
  var busyNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  private def op(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(EngineListener.Key)))

  private def acc(k: String) = byOp.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    op(e.properties).foreach(acc(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    op(e.properties).foreach { k =>
      stageOp(e.stageInfo.stageId) = k
      acc(k).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (k <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(k)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }
}

object EngineListener {
  val Key = "perfbench.op"

  def tag(sc: SparkContext, op: String): Unit = sc.setLocalProperty(Key, op)
}

/** Executed plans per operation: exchange count and which shared-cache
  * frames were read. Walks into AQE (the adaptive root's current plan and
  * every query stage) and into subqueries, so cached scans that AQE wraps
  * in table-cache stages are seen. */
final class PlanListener extends QueryExecutionListener {
  @volatile var on = false
  var op = ""
  val exchanges = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** The cached plans scanned, compared by identity: every scan of one
    * cache entry shares its cached plan. */
  val reads = mutable.Map.empty[String, List[SparkPlan]].withDefaultValue(Nil)

  var busyNs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    val t0 = System.nanoTime()
    val all = PlanListener.nodes(qe.executedPlan).toSeq
    exchanges(op) += all.count(_.isInstanceOf[ShuffleExchangeExec])
    reads(op) ++= all.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
    busyNs += System.nanoTime() - t0
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ next.iterator.flatMap(nodes)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}
