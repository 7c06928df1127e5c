package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans come from the benchmark's own calls
  * into graft; jobs, stages, trigger progress and executed-plan metrics
  * come from Spark's listener buses. Everything stays in memory until
  * [[record]] hands it to the run record; run.py folds it into the
  * per-layer metrics.
  *
  * Times are epoch milliseconds, so spans line up with the engine's own
  * event times (job submission, trigger timestamps). */
final class Tracer(spark: SparkSession, runId: String, listen: Boolean) {

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  @volatile var enabled = false
  @volatile private var current = -1 // the client thread's innermost open span
  private var nextId = 0

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[String]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Run `body` inside a span named after the layer function it calls.
    * Opening and closing a span wait for the listener bus, so that the
    * engine events each action caused are attributed to the span that
    * was open when it ran. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current
      // events of work done before this span still belong to its parent
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      current = id
      val fs0 = FsStats.snapshot()
      val start = nowMs
      try body
      finally {
        val end = nowMs
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val fs = FsStats.delta(fs0, FsStats.snapshot())
        current = parent
        add(id, name, parent, start, end, Map("fs" -> fs))
      }
    }

  /** A span measured on another thread, attached under the client's
    * current span. */
  def external(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) {
      val id = synchronized { nextId += 1; nextId }
      add(id, name, current, startMs, endMs, Map.empty)
    }

  private def add(id: Int, name: String, parent: Int, start: Double,
                  end: Double, attrs: Map[String, Any]): Unit =
    synchronized {
      spans += Map("id" -> id, "name" -> name, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> end, "run" -> runId) ++ attrs
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      Tracer.this.synchronized {
        jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time.toDouble,
          "stages" -> e.stageIds, "call_site" -> site)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_("end_ms") = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val s = e.stageInfo
      val m = s.taskMetrics
      Tracer.this.synchronized {
        stages += Map("id" -> s.stageId, "tasks" -> s.numTasks,
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" ->
            (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Tracer.this.synchronized { progress += e.progress.json }
  }

  private val planListener = new QueryExecutionListener {
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           e: Exception): Unit = ()
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = if (enabled) {
      val nodes = PlanMetrics.nodes(qe.executedPlan)
      val observed = qe.observedMetrics.map { case (k, row) => k -> row.getLong(0) }
      val rec = Map("func" -> f, "span" -> current,
        "duration_ms" -> durationNs / 1e6, "observed" -> observed,
        "nodes" -> nodes.map { case (n, ms) => Map("node" -> n) ++ ms })
      Tracer.this.synchronized { plans += rec }
    }
  }

  // an untraced run registers nothing, so its end-to-end numbers carry
  // no listener cost at all
  if (listen) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def record: Map[String, Any] = synchronized {
    Map("spans" -> spans.toSeq,
      "jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.toSeq,
      "progress" -> progress.toSeq, "plans" -> plans.toSeq)
  }
}

/** The executed-plan SQL metrics a layer metric reads: rows, files and
  * bytes per physical node, looking through adaptive execution. */
object PlanMetrics {

  private val keep = Set("numOutputRows", "numFiles", "filesSize", "numOutputBytes")

  def nodes(plan: SparkPlan): Seq[(String, Map[String, Long])] = {
    val out = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        val ms = other.metrics.collect {
          case (k, m) if keep.contains(k) => k -> m.value
        }
        if (ms.nonEmpty) out += (other.nodeName -> ms.toMap)
        (other.children ++ other.subqueries).foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}

/** Hadoop FileSystem statistics of the local filesystem, which every
  * graft table path in this benchmark lives on. */
object FsStats {

  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (st == null) Map.empty
    else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }.filter(_._2 != 0L)
}
