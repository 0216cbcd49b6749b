package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → phase → operation → Spark job → stage. */
case class Span(id: Long, parent: Long, kind: String, name: String,
                startMs: Long, endMs: Long)

/** Spans and layer counters of one traced run, kept in memory and written
  * out when the run ends. Listeners are registered only while tracing is
  * on, so untraced passes pay nothing for them.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val SpanProp = "perfbench.span"
  private var current = 0L
  /** Spans are recorded only while this is set. */
  var on = false

  /** Run `body` as a child span of the innermost open one; Spark jobs it
    * starts name it as their parent through a thread-local property.
    */
  def span[T](kind: String, name: String)(body: => T): T = if (!on) body else {
    val id = ids.getAndIncrement()
    val parent = current
    val t0 = System.currentTimeMillis()
    current = id
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      spans.add(Span(id, parent, kind, name, t0, System.currentTimeMillis()))
      current = parent
      sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
    }
  }

  val counters = new SparkCounters
  val plans = new PlanCounters

  def start(): Unit = {
    sc.addSparkListener(counters)
    spark.listenerManager.register(plans)
  }

  def stop(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
  }

  def snapshot(): Map[String, Double] = {
    Bus.drain(sc)
    counters.snapshot() ++ plans.snapshot()
  }

  def allSpans: Seq[Span] = (spans.asScala ++ counters.spans.asScala).toSeq.sortBy(_.id)

  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Job and stage spans draw ids from the same counter as the benchmark's own. */
  final class SparkCounters extends SparkListener {
    private val c = TrieMap.empty[String, AtomicLong]
    private def add(k: String, v: Long): Unit =
      c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
    val spans = new ConcurrentLinkedQueue[Span]()
    private val jobSpan = TrieMap.empty[Int, (Long, Long, Long)] // job → (span, parent, start)
    private val stageJob = TrieMap.empty[Int, Long]              // stage → job span

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val id = ids.getAndIncrement()
      jobSpan.put(e.jobId, (id, parent, e.time))
      e.stageIds.foreach(stageJob.put(_, id))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
        spans.add(Span(id, parent, "job", s"job ${e.jobId}", t0, e.time))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      add("stages", 1)
      add("tasks", info.numTasks)
      if (info.numTasks == 1) add("single_task_stages", 1)
      spans.add(Span(ids.getAndIncrement(), stageJob.getOrElse(info.stageId, 0L),
        "stage", s"stage ${info.stageId}: ${info.name}",
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.reason != Success) add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
      }
    }

    def snapshot(): Map[String, Double] = c.map { case (k, v) => k -> v.get.toDouble }.toMap
  }
}

/** Catalyst phase times and final plan size of every executed query. */
final class PlanCounters extends QueryExecutionListener {
  private val c = TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)

  private def nodes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => 1 + nodes(s.plan)
    case other => 1 + other.children.map(nodes).sum + other.subqueries.map(nodes).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      add(s"${ph}_ms", phases.get(ph).map(_.durationMs).getOrElse(0L))
    }
    add("plan_nodes", nodes(qe.executedPlan))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Double] = c.map { case (k, v) => k -> v.get.toDouble }.toMap
}
