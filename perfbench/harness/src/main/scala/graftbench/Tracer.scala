package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property that carries a query's id to the Spark jobs it starts.
    * Threads inherit local properties, so streaming micro-batch threads
    * started by a query builder carry it too (Spark resets their job group).
    */
  val QidKey = "perfbench.qid"
  /** Local property naming the harness phase (`build` or `execute`). */
  val PhaseKey = "perfbench.phase"
  private val SentinelGroup = "perfbench-flush"

  private final case class JobStart(timeMs: Long, qid: String, phase: String, group: String,
                                    stageIds: Seq[Int])
}

/** Keeps spans in memory and writes them out once, at the end of the run.
  *
  * Harness spans (run, session set-up, pass, query, `queries.build`,
  * `queries.execute`) are opened and closed by the harness around its own
  * calls. Engine records come from Spark's public listener events while the
  * tracer is attached: jobs and stages (`SparkListener`), query planning
  * phases (`QueryExecutionListener`) and streaming progress
  * (`StreamingQueryListener` events, received through `onOtherEvent`, so they
  * share one FIFO listener queue with the job events). They carry the query
  * id and times; `perfbench/layers.py` attaches them to the harness spans by
  * query id and time containment.
  */
final class Tracer {
  import Tracer._

  private final class Span(val id: Long, val parent: Long, val name: String, val layer: String,
                           val startUs: Long, val qid: String, val module: String, val pass: Int) {
    @volatile var endUs: Long = -1L
  }

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val records = new ConcurrentLinkedQueue[String]()

  def open(name: String, layer: String, parent: Option[Long], startUs: Long,
           qid: String = null, module: Option[String] = None, pass: Option[Int] = None): Long = {
    val s = new Span(ids.incrementAndGet(), parent.getOrElse(0L), name, layer, startUs, qid,
      module.orNull, pass.getOrElse(-1))
    spans.add(s)
    byId.put(s.id, s)
    s.id
  }

  def close(id: Long, endUs: Long): Unit = byId.get(id).endUs = endUs

  // ---- listener state; touched only from the listener-bus thread ----
  private val jobs = mutable.Map.empty[Int, JobStart]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val sentinelStages = mutable.Set.empty[Int]
  @volatile private var flushed: CountDownLatch = new CountDownLatch(0)

  private def us(ms: Long): Long = ms * 1000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): String = p.map(_.getProperty(k)).orNull
      val group = prop("spark.jobGroup.id")
      jobs(e.jobId) = JobStart(e.time, prop(QidKey), prop(PhaseKey), group, e.stageIds)
      if (group == SentinelGroup) sentinelStages ++= e.stageIds
      else e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.remove(e.jobId).foreach { j =>
      if (j.group == SentinelGroup) flushed.countDown()
      else records.add(Json.obj(
        "kind" -> Json.str("job"), "id" -> e.jobId.toString,
        "qid" -> Option(j.qid).map(Json.str).getOrElse("null"),
        "phase" -> Option(j.phase).map(Json.str).getOrElse("null"),
        "start_us" -> us(j.timeMs).toString, "end_us" -> us(e.time).toString,
        "ok" -> (e.jobResult == JobSucceeded).toString,
        "stages" -> Json.arr(j.stageIds.map(_.toString))))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!sentinelStages.contains(e.stageId) && e.taskInfo != null)
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val times = taskTimes.remove((s.stageId, s.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
      if (!sentinelStages.remove(s.stageId) && s.submissionTime.isDefined) {
        val m = s.taskMetrics
        val sorted = times.sorted
        def metric(f: org.apache.spark.executor.TaskMetrics => Long): String =
          (if (m == null) 0L else f(m)).toString
        records.add(Json.obj(
          "kind" -> Json.str("stage"), "id" -> s.stageId.toString,
          "attempt" -> s.attemptNumber().toString,
          "job" -> stageJob.get(s.stageId).map(_.toString).getOrElse("null"),
          "start_us" -> us(s.submissionTime.get).toString,
          "end_us" -> us(s.completionTime.getOrElse(s.submissionTime.get)).toString,
          "ok" -> s.failureReason.isEmpty.toString,
          "tasks" -> s.numTasks.toString,
          "run_ms" -> metric(_.executorRunTime),
          "cpu_ns" -> metric(_.executorCpuTime),
          "input_rows" -> metric(_.inputMetrics.recordsRead),
          "input_bytes" -> metric(_.inputMetrics.bytesRead),
          "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead),
          "task_max_ms" -> sorted.lastOption.getOrElse(0L).toString,
          "task_median_ms" -> (if (sorted.isEmpty) "0" else sorted(sorted.size / 2).toString)))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val g = p.progress
        val d = g.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val startMs = Instant.parse(g.timestamp).toEpochMilli
        val ops = g.stateOperators.toSeq
        records.add(Json.obj(
          "kind" -> Json.str("batch"), "run_id" -> Json.str(g.runId.toString),
          "batch_id" -> g.batchId.toString,
          "start_us" -> us(startMs).toString,
          "end_us" -> us(startMs + d.getOrElse("triggerExecution", 0L)).toString,
          "input_rows" -> g.numInputRows.toString,
          "durations_ms" -> Json.obj(d.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
          "state_rows_total" -> ops.map(_.numRowsTotal).sum.toString,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toString,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum.toString,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toString))
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        def ms(k: String): String = phases.get(k).map(_.durationMs).getOrElse(0L).toString
        records.add(Json.obj(
          "kind" -> Json.str("qe"), "func" -> Json.str(func), "ok" -> ok.toString,
          "start_us" -> us(phases.values.map(_.startTimeMs).min).toString,
          "end_us" -> us(phases.values.map(_.endTimeMs).max).toString,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning")))
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
      record(func, qe, ok = false)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Runs a one-task sentinel job and waits until the listener has seen it
    * end: events on one listener queue arrive in order, so every event of the
    * traced pass has been handled by then. Only then are the listeners removed.
    */
  def detach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    flushed = new CountDownLatch(1)
    sc.setJobGroup(SentinelGroup, "perfbench listener flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!flushed.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener flush timed out; trace may miss events")
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def write(path: Path): Unit = {
    val out = new StringBuilder
    spans.asScala.foreach { s =>
      out ++= Json.obj(
        "kind" -> Json.str("span"), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "qid" -> Option(s.qid).map(Json.str).getOrElse("null"),
        "module" -> Option(s.module).map(Json.str).getOrElse("null"),
        "pass" -> s.pass.toString,
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)
      out += '\n'
    }
    records.asScala.foreach { r => out ++= r; out += '\n' }
    Files.write(path, out.toString.getBytes(StandardCharsets.UTF_8))
  }
}
