package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-layer recorder for engine passes: a SparkListener (jobs, stages,
  * tasks, shuffle, spill, cache churn) plus a StreamingQueryListener
  * (micro-batch progress). Events are kept raw with their wall-clock times,
  * so any window (a pass, one query) can be summarised after the fact. */
final class SparkLayer(spark: SparkSession, cores: Int) {
  private final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)
  private final case class StageRec(id: Int, attempt: Int, startMs: Long, endMs: Long)
  private final case class JobRec(startMs: Long, stageIds: Seq[Int], var endMs: Long)
  private final case class Progress(recvNs: Long, runId: String, triggerMs: Long,
      addBatchMs: Long)
  private final case class Life(runId: String, startNs: Long, var endNs: Long)

  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val progress = new ConcurrentLinkedQueue[Progress]
  private val lives = new java.util.concurrent.ConcurrentHashMap[String, Life]
  private val events = new java.util.concurrent.atomic.AtomicLong
  val cache = new graft.CacheEvents

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobs.put(e.jobId, JobRec(e.time, e.stageIds, 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
        e.taskInfo.finishTime,
        m.executorRunTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = cache.onBlockUpdated(e)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lives.put(e.runId.toString, Life(e.runId.toString, System.nanoTime(), 0L))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(System.nanoTime(), e.progress.runId.toString,
        get("triggerExecution"), get("addBatch")))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(lives.get(e.runId.toString)).foreach(_.endNs = System.nanoTime())
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streams)
  }

  /** Detach after the bus has gone quiet, so late events of the window
    * are not lost. */
  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streams)
  }

  /** Wait until no listener event arrived for 150 ms (at most 3 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(150)
    }
  }

  /** Engine metrics for the wall-clock window [w0, w1] (epoch ms). */
  def window(w0: Long, w1: Long): Map[String, Double] = {
    val ts = tasks.asScala.filter(t => t.finishMs >= w0 && t.finishMs <= w1).toSeq
    val runMs = ts.map(_.runMs.toDouble)
    val wallMs = math.max(1L, w1 - w0).toDouble
    val serial = ts.groupBy(t => (t.stage, t.attempt)).values.count { st =>
      val sum = st.map(_.runMs).sum.toDouble
      val max = st.map(_.runMs).max.toDouble
      sum > 500 && sum / math.max(max, 1.0) < 1.5
    }
    Map(
      "jobs" -> jobs.values.asScala.count(j => j.startMs >= w0 && j.startMs <= w1).toDouble,
      "stages" -> stages.asScala.count(s => s.endMs >= w0 && s.endMs <= w1).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_s" -> runMs.sum / 1000,
      "task_max_s" -> (if (runMs.isEmpty) 0.0 else runMs.max / 1000),
      "eff_parallelism" -> runMs.sum / (wallMs * cores),
      "serial_stages" -> serial.toDouble,
      "shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / 1e6,
      "shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / 1e6,
      "spill_mb" -> ts.map(_.spillB).sum / 1e6)
  }

  // epoch ms -> System.nanoTime scale, for spans built from listener times
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  /** Record engine spans for the window: Spark jobs under the innermost
    * harness span that contains their start, stages under their job, tasks
    * under their stage, and micro-batches (from progress) under the
    * innermost harness span. */
  def emitSpans(w0: Long, w1: Long, t0: Long, t1: Long, harness: Seq[Span]): Unit = {
    def under(t: Long): (Long, String) =
      Trace.enclosing(harness, t).map(s => (s.id, s.trace)).getOrElse((0L, "spark"))
    val stageParent = scala.collection.mutable.Map.empty[Int, (Long, String)]
    jobs.values.asScala.filter(j => j.startMs >= w0 && j.startMs <= w1 && j.endMs > 0)
      .foreach { j =>
        val id = Trace.nextId()
        val (parent, trace) = under(ns(j.startMs))
        Trace.record(id, parent, trace, "spark.job", ns(j.startMs), ns(j.endMs))
        j.stageIds.foreach(st => stageParent(st) = (id, trace))
      }
    val taskParent = scala.collection.mutable.Map.empty[(Int, Int), (Long, String)]
    stages.asScala.filter(s => s.endMs >= w0 && s.endMs <= w1).foreach { s =>
      val id = Trace.nextId()
      val (parent, trace) = stageParent.getOrElse(s.id, under(ns(s.startMs)))
      Trace.record(id, parent, trace, "spark.stage", ns(s.startMs), ns(s.endMs))
      taskParent((s.id, s.attempt)) = (id, trace)
    }
    tasks.asScala.filter(t => t.finishMs >= w0 && t.finishMs <= w1).foreach { t =>
      val (parent, trace) = taskParent.getOrElse((t.stage, t.attempt), under(ns(t.launchMs)))
      Trace.record(Trace.nextId(), parent, trace, "spark.task", ns(t.launchMs), ns(t.finishMs))
    }
    progress.asScala.filter(p => p.recvNs >= t0 && p.recvNs <= t1 && p.triggerMs > 0).foreach { p =>
      val start = p.recvNs - p.triggerMs * 1000000L
      val (parent, trace) = under(start)
      Trace.record(Trace.nextId(), parent, trace, "stream.batch", start, p.recvNs)
    }
  }

  /** Micro-batch metrics for progress reported in [t0, t1] (nanoTime):
    * batches, summed trigger and addBatch ms, and the streaming queries'
    * lifetime outside their triggers (start + stop), in ms. */
  def streamWindow(t0: Long, t1: Long): Map[String, Double] = {
    val ps = progress.asScala.filter(p => p.recvNs >= t0 && p.recvNs <= t1).toSeq
    val ls = lives.values.asScala.filter(l => l.startNs >= t0 && l.endNs > 0 && l.endNs <= t1).toSeq
    val trig = ps.map(_.triggerMs).sum.toDouble
    val lifeMs = ls.map(l => (l.endNs - l.startNs) / 1e6).sum
    val ownTrig = ps.filter(p => ls.exists(_.runId == p.runId)).map(_.triggerMs).sum
    Map(
      "batches" -> ps.count(_.triggerMs > 0).toDouble,
      "trigger_ms" -> trig,
      "add_batch_ms" -> ps.map(_.addBatchMs).sum.toDouble,
      "start_stop_ms" -> math.max(0.0, lifeMs - ownTrig))
  }
}

object Jvm {
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
