package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters, all recorded from outside the engine.
  *
  * Each timed operation is a root span with an op id; its children wrap
  * the public calls it makes (the lens or pipeline call that builds a
  * frame, the action that runs it, a store write, a compaction). Spark
  * jobs are tied to the innermost open span through a job group, so the
  * scheduler's work lands on the span that caused it. Executed plans come
  * from a QueryExecutionListener and are charged to the span that ran
  * them (the client is a closed loop with one thread, so the listener bus
  * is drained whenever a span ends).
  *
  * With tracing off none of this is installed: [[op]] and [[span]] only
  * run their body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Counters per span id: scheduler work and executed-plan metrics. */
  val counts = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val pendingPlans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  private lazy val sc = spark.sparkContext

  private def add(span: Int, name: String, v: Double): Unit = synchronized {
    val m = counts.getOrElseUpdate(span, mutable.HashMap.empty[String, Double])
    m(name) = m.getOrElse(name, 0.0) + v
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
        .foreach { s =>
          e.stageIds.foreach(st => stageSpan.put(st, s))
          add(s, "jobs", 1)
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => add(s, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        add(s, "tasks", 1)
        if (!e.taskInfo.successful) add(s, "task.failed", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(s, "task.run_ms", m.executorRunTime.toDouble)
          add(s, "task.cpu_ms", m.executorCpuTime / 1e6)
          add(s, "task.gc_ms", m.jvmGCTime.toDouble)
          val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime
          add(s, "task.sched_delay_ms", math.max(0L, delay).toDouble)
          add(s, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = pendingPlans.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = pendingPlans.add(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.listenerManager.unregister(planListener)
    sc.removeSparkListener(listener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  private def open(name: String): Span = {
    val parent = stack.lastOption
    nextId += 1
    val s = Span(nextId, parent.map(_.id).getOrElse(0), parent.map(_.op).getOrElse(nextId), name,
      System.nanoTime(), 0L)
    stack += s
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack.remove(stack.length - 1)
    spans += s
    stack.lastOption match {
      case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** While paused, [[op]] and [[span]] only run their body: the traced
    * run times part of its loop untraced to measure tracing overhead.
    */
  var paused = false
  def active: Boolean = enabled && !paused

  /** A root span: one timed operation. */
  def op[T](name: String)(body: => T): T =
    if (!active) body
    else {
      drain()
      pendingPlans.clear()
      val s = open(name)
      try body finally { close(s); collect(s) }
    }

  /** A child span around one public call. */
  def span[T](name: String)(body: => T): T =
    if (!active || stack.isEmpty) body
    else {
      val s = open(name)
      try body finally { close(s); collect(s) }
    }

  /** Charge the plans executed since the last collect to span `s`. */
  private def collect(s: Span): Unit = {
    drain()
    var qe = pendingPlans.poll()
    while (qe != null) { harvest(s.id, qe); qe = pendingPlans.poll() }
  }

  /** Record a count on the innermost open operation (a span named
    * `op:*`), else on the root span.
    */
  def count(name: String, v: Double): Unit =
    if (active) stack.reverseIterator.find(_.name.startsWith("op:")).orElse(stack.headOption)
      .foreach(s => add(s.id, name, v))

  private def harvest(span: Int, qe: QueryExecution): Unit = {
    add(span, "plan.ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    nodes(qe.executedPlan).foreach { n =>
      def m(k: String): Double = n.metrics.get(k).map(_.value).filter(_ >= 0L).getOrElse(0L).toDouble
      val cls = n.getClass.getSimpleName
      cls match {
        case "FileSourceScanExec" =>
          add(span, "scan.files", m("numFiles")); add(span, "scan.bytes", m("filesSize"))
          add(span, "scan.rows", m("numOutputRows")); add(span, "scan.ms", m("scanTime"))
        case "InMemoryTableScanExec" => add(span, "cache.rows", m("numOutputRows"))
        case "HashAggregateExec" | "ObjectHashAggregateExec" | "SortAggregateExec" =>
          add(span, "agg.ms", m("aggTime")); add(span, "agg.spill_bytes", m("spillSize"))
        case "SortExec" =>
          add(span, "sort.ms", m("sortTime")); add(span, "sort.spill_bytes", m("spillSize"))
        case "ShuffleExchangeExec" =>
          add(span, "exchange.count", 1); add(span, "exchange.bytes", m("dataSize"))
          add(span, "exchange.records", m("shuffleRecordsWritten"))
        case "BroadcastExchangeExec" => add(span, "broadcast.count", 1)
        case "GenerateExec" => add(span, "generate.rows", m("numOutputRows"))
        case c if c.endsWith("JoinExec") => add(span, "join.rows", m("numOutputRows"))
        case "DataWritingCommandExec" =>
          add(span, "write.files", m("numFiles")); add(span, "write.bytes", m("numOutputBytes"))
          add(span, "write.rows", m("numOutputRows"))
          add(span, "write.commit_ms", m("taskCommitTime") + m("jobCommitTime"))
        case _ =>
      }
    }
  }

  /** Every physical node of an executed plan, through adaptive stages and
    * subqueries; a reused exchange is counted where it was built.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** Self time of each span: its duration minus the time its children
    * cover (children never overlap: one client thread).
    */
  def selfMsById: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.end - s.start - kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum) / 1e6
    }.toMap
  }

  /** Counters summed over the spans whose name satisfies `pred` and over
    * their descendants.
    */
  def sumUnder(pred: String => Boolean): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def matches(id: Int): Boolean = byId.get(id).exists(s => pred(s.name) || matches(s.parent))
    val out = mutable.HashMap.empty[String, Double]
    counts.foreach { case (id, m) => if (matches(id)) m.foreach { case (k, v) => out(k) = out.getOrElse(k, 0.0) + v } }
    out.toMap
  }

  def roots: Seq[Span] = spans.filter(_.parent == 0).toSeq

  /** Self time summed per span name. */
  def selfMsByName: Map[String, Double] = {
    val self = selfMsById
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Write every span, one JSON object a line: ids, name, start offset and
    * duration and self time in ms, and the counters charged to it.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val self = selfMsById
    val lines = spans.sortBy(_.start).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.start - t0) / 1e6, "ms" -> s.ms, "self_ms" -> self(s.id),
        "counts" -> counts.get(s.id).map(_.toMap).getOrElse(Map.empty[String, Double])))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long) {
    def ms: Double = (end - start) / 1e6
  }
}
