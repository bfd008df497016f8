package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's own calls into each layer. Disabled, a
  * span is just the call. Enabled, it records name, start, end and parent
  * in memory, and tags the Spark jobs the call starts with the span's job
  * group, so the listener's counters nest under it.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var sc: SparkContext = _
  private val JobGroupKey = "spark.jobGroup.id"

  def span[A](layer: String, name: String)(body: => A): A = {
    if (!enabled) return body
    val id = Tracer.ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val ctx = sc
    val prevGroup = if (ctx != null) ctx.getLocalProperty(JobGroupKey) else null
    if (ctx != null) ctx.setJobGroup(s"$runId/$id", s"$layer.$name")
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      if (ctx != null) {
        if (prevGroup == null) ctx.clearJobGroup()
        else ctx.setLocalProperty(JobGroupKey, prevGroup)
      }
      spans.add(Span(id, parent, layer, name, t0, t1))
    }
  }

  /** Streaming queries name their jobs' group after their run id; this
    * maps such a group to the span that started the query.
    */
  val queryGroups = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def startedQuery(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (enabled) queryGroups.put(q.runId.toString, s"$runId/${stack.get.headOption.getOrElse(0L)}")

  /** Self time per span: its duration minus the union of its children. */
  def selfNs: Map[Long, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

object Tracer {
  /** Span ids are unique across tracers, so their spans can be merged. */
  private val ids = new AtomicLong(0)
}

/** Engine counters for one job group (one span), or for all of them. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var taskNs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  val schedDelayMs = mutable.ArrayBuffer.empty[Double]
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_failures" -> taskFailures, "task_s" -> taskNs / 1e9,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> input,
    "scheduler_delay_ms_mean" -> Stats.mean(schedDelayMs.toSeq))
}

/** A benchmark-owned SparkListener plus QueryExecutionListener: task
  * metrics per job group, and the Exchange count of every executed plan.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val JobGroupKey = "spark.jobGroup.id"
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Counters]
  @volatile var exchanges = 0L
  @volatile var plans = 0L


  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("-")
    e.stageIds.foreach(s => stageGroup(s) = g)
    val c = counters(g)
    c.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "-"))
    c.tasks += 1
    if (!e.taskInfo.successful) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    exchanges += EngineListener.countExchanges(qe.executedPlan)
    plans += 1
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def byGroupMaps: Map[String, Map[String, Any]] = synchronized(byGroup.map { case (g, c) => g -> c.toMap }.toMap)

  /** Counters summed over the groups `keep` accepts. */
  def total(keep: String => Boolean): Counters = synchronized {
    val t = new Counters
    byGroup.foreach { case (g, c) =>
      if (keep(g)) {
        t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
        t.taskFailures += c.taskFailures; t.taskNs += c.taskNs
        t.taskCpuNs += c.taskCpuNs; t.gcMs += c.gcMs
        t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
        t.spill += c.spill; t.input += c.input; t.schedDelayMs ++= c.schedDelayMs
      }
    }
    t
  }
}

object EngineListener {
  def countExchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case q: QueryStageExec => countExchanges(q.plan)
    case e: ShuffleExchangeLike => 1L + e.children.map(countExchanges).sum
    case other => (other.children ++ other.subqueries).map(countExchanges).sum
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** [[pct]] over values that each stand for `count` samples. */
  def weightedPct(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return 0.0
    val ends = s.map(_._2).scanLeft(0L)(_ + _).tail // rank after each value
    def at(rank: Long): Double = s(ends.indexWhere(_ > rank))._1
    val pos = (ends.last - 1) * p / 100.0
    val lo = pos.toLong
    val hi = math.min(lo + 1, ends.last - 1)
    at(lo) + (at(hi) - at(lo)) * (pos - lo)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
