package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** One span of the traced run: run → round → query → phase → job. Times
  * are epoch milliseconds, so Spark's event times compare directly. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

/** Collects Spark's public listener events for the traced rounds. The
  * runner attaches it around a traced round, and after each query (once
  * the bus is drained) calls `query` to turn the events into that query's
  * layer counters and spans, and to clear them for the next query. */
final class Tracer(spark: SparkSession) {
  /** Local property that tags each job with the phase that started it. */
  val PhaseKey = "graftbench.phase"
  /** Clock slack when comparing Spark's millisecond event times with the
    * runner's own spans. */
  val TolMs = 5.0

  private final class Job(val id: Int, val tag: String, val start: Long) {
    var end = -1L
    var stages, tasks, retries = 0
    var cpuNs, gcMs, shuffleW, shuffleR, spill = 0L
    var inBytes, inRows, outBytes = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val planMs = Array(0L, 0L, 0L)
  private var aqeUpdates = 0
  private val stored = mutable.HashMap.empty[BlockId, Long]
  private val pinnedRdds = mutable.HashSet.empty[Int]
  private var peakStored = 0L
  private var batches = 0
  private var triggerMs, streamPlanMs, addBatchMs, commitMs = 0L
  private var stateRows = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      val j = new Job(e.jobId, tag, e.time)
      jobs += j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.attemptNumber > 0) j.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleW += m.shuffleWriteMetrics.bytesWritten
          j.shuffleR += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val info = e.blockUpdatedInfo
        info.blockId.asRDDId.foreach { rdd =>
          if (info.storageLevel.isValid) {
            stored(info.blockId) = info.memSize + info.diskSize
            pinnedRdds += rdd.rddId
          } else stored -= info.blockId
          peakStored = math.max(peakStored, stored.values.sum)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Tracer.this.synchronized { aqeUpdates += 1 }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").zipWithIndex.foreach {
        case (k, i) => ph.get(k).foreach(s => planMs(i) += s.durationMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches += 1
        triggerMs += d("triggerExecution")
        streamPlanMs += d("queryPlanning")
        addBatchMs += d("addBatch")
        commitMs += d("commitOffsets") + d("walCommit")
        stateRows = math.max(stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    synchronized { clear() }
  }

  def drain(): Unit = org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)

  private def clear(): Unit = {
    jobs.clear(); stageJob.clear()
    java.util.Arrays.fill(planMs, 0L)
    aqeUpdates = 0; pinnedRdds.clear()
    // the clean room has emptied storage, and Spark does not report the
    // blocks its cleaner removes, so each query starts from zero
    stored.clear(); peakStored = 0
    batches = 0; triggerMs = 0; streamPlanMs = 0; addBatchMs = 0; commitMs = 0
    stateRows = 0
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(math.max(s0, lo), reach)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Turns the events since the last call into one query's counters and
    * adds its phase and job spans under `querySpan`. The phases are
    * [t0, t1) build and [t1, t2) serve, in epoch ms. */
  def query(t0: Double, t1: Double, t2: Double, querySpan: Int,
      spans: mutable.ArrayBuffer[Span], name: String): Map[String, Double] = synchronized {
    val bounds = Map("build" -> (t0, t1), "serve" -> (t1, t2))
    def phaseOf(j: Job): Option[String] =
      Option(j.tag).filter(bounds.contains).orElse(
        bounds.collectFirst { case (p, (a, b)) if j.start >= a - TolMs && j.start < b => p })
    val byPhase = jobs.toSeq.groupBy(phaseOf)
    val out = mutable.LinkedHashMap.empty[String, Double]
    var strayMs = 0.0
    for ((p, (a, b)) <- bounds) {
      val phaseSpan = spans.size
      spans += Span(phaseSpan, querySpan, "phase", s"$name/$p", a, b)
      val js = byPhase.getOrElse(Some(p), Nil)
      val iv = js.map(j => (j.start.toDouble, (if (j.end < 0) b else j.end).toDouble))
      js.zip(iv).foreach { case (j, (s, e)) =>
        spans += Span(spans.size, phaseSpan, "job", s"job${j.id}", s, e)
        strayMs += math.max(0.0, a - TolMs - s) + math.max(0.0, e - (b + TolMs))
      }
      val union = unionMs(iv, a, b)
      out(s"${p}_s") = (b - a) / 1e3
      out(s"${p}_jobs") = js.size
      out(s"${p}_job_s") = union / 1e3
      out(s"${p}_gap_s") = (b - a - union) / 1e3
    }
    val all = jobs.toSeq
    strayMs += byPhase.getOrElse(None, Nil)
      .map(j => (if (j.end < 0) j.start else j.end) - j.start).sum.toDouble
    def sum(f: Job => Long): Double = all.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    out ++= Seq(
      "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_cpu_s" -> sum(_.cpuNs) / 1e9, "task_gc_s" -> sum(_.gcMs) / 1e3,
      "task_retries" -> sum(_.retries),
      "shuffle_write_mb" -> sum(_.shuffleW) / mb, "shuffle_read_mb" -> sum(_.shuffleR) / mb,
      "spill_mb" -> sum(_.spill) / mb,
      "input_mb" -> sum(_.inBytes) / mb, "input_rows" -> sum(_.inRows),
      "output_mb" -> sum(_.outBytes) / mb,
      "analysis_s" -> planMs(0) / 1e3, "optimize_s" -> planMs(1) / 1e3,
      "physical_s" -> planMs(2) / 1e3, "aqe_replans" -> aqeUpdates.toDouble,
      "pin_rdds" -> pinnedRdds.size.toDouble, "pin_peak_mb" -> peakStored / mb,
      "stream_batches" -> batches.toDouble, "trigger_s" -> triggerMs / 1e3,
      "stream_plan_s" -> streamPlanMs / 1e3, "add_batch_s" -> addBatchMs / 1e3,
      "commit_s" -> commitMs / 1e3, "state_rows" -> stateRows.toDouble,
      "stray_job_s" -> strayMs / 1e3)
    clear()
    out.toMap
  }
}
