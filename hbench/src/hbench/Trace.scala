package hbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the enclosing span, -1 at the root. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** Spans and counters for one process. Tracing is switched per cycle: an
  * untraced cycle records nothing and never waits on the listener bus.
  *
  * Every phase runs under a Spark job group `<op>/<phase>`, set here, so the
  * listener can attribute each job to the op and phase that launched it.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (id, name, op). */
  private val stack = mutable.Stack.empty[(Int, String, Int)]
  private var nextId = 0
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, v: Double): Unit = counters.synchronized { counters(name) += v }

  /** Counters since the last call, after the listener bus has caught up. */
  def takeCounters(): Map[String, Double] = {
    HbenchBus.drain(spark.sparkContext)
    counters.synchronized {
      val out = counters.toMap
      counters.clear()
      out
    }
  }

  def takeSpans(): Seq[Span] = { val out = spans.toList; spans.clear(); out }

  private def currentOp: Int = stack.headOption.map(_._3).getOrElse(-1)

  private def setGroup(op: Int, name: String): Unit =
    spark.sparkContext.setJobGroup(s"$op/$name", name, interruptOnCancel = false)

  /** Run `f` as span `name` of op `op`; the span name is also the phase in
    * the Spark job group of every job `f` launches.
    */
  def span[T](name: String, op: Int = currentOp)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack.push((id, name, op))
    setGroup(op, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      if (enabled) spans += Span(id, name, t0, t1, parent, op)
      stack.headOption match {
        case Some((_, n, o)) => setGroup(o, n)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Force analysis, optimization and planning as span "plan", then run the
    * action as span "exec".
    */
  def planAndRun[T](df: DataFrame)(action: DataFrame => T): T = {
    span("plan")(df.queryExecution.executedPlan)
    span("exec")(action(df))
  }

  // ---------------------------------------------------------- listeners

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.split('/').last).getOrElse("none")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) add(s"jobs.${phaseOf(e.properties)}", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val info = e.stageInfo
      add("exec.stages", 1)
      add("exec.tasks", info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs.toDouble))
    }
    val nodes = Tracer.planNodes(qe.executedPlan)
    add("plan.scans", nodes.count(_.nodeName.contains("Scan")))
    add("plan.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
    add("plan.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeExec]))
    add("plan.queries", 1)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  // ---------------------------------------------------------------- JVM

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
