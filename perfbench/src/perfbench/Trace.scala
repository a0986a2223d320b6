package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for traced runs.
  *
  * Client spans wrap each call into a layer (frame build, forced physical
  * plan, action, fetch, micro-batch run, readback, JDBC load). Every span of
  * one operation carries the operation's id, which is also set as a Spark
  * local property, so jobs (and through them stages and tasks) submitted
  * inside a span are attributed to that operation and layer. Micro-batch
  * spans come from a [[StreamingQueryListener]]. Everything stays in memory
  * until the run writes it out at its end. */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  // Cached RDD blocks (local checkpoints, persists): live bytes, and per
  // operation the blocks added and the peak of live bytes above the level
  // at its start. Updated only on the listener thread.
  private val blockBytes = mutable.Map.empty[String, Long]
  @volatile private var liveBytes = 0L
  @volatile private var opBaseBytes = 0L
  val blocksAdded = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val blockPeak = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  @volatile private var currentOp = -1L
  @volatile var active = false

  private val sc = spark.sparkContext

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
      val layer = p.flatMap(x => Option(x.getProperty(LayerKey))).getOrElse("other")
      jobs.put(e.jobId, JobRec(e.jobId, op, layer, e.time, -1L, e.stageIds.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      val job = Option(stageJob.get(i.stageId)).flatMap(j => Option(jobs.get(j)))
      stages.add(StageRec(job.map(_.op).getOrElse(-1L), job.map(_.id).getOrElse(-1), i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = Option(e.taskMetrics)
      val info = e.taskInfo
      val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(info.launchTime)
      tasks.add(TaskRec(
        op = job.map(_.op).getOrElse(-1L), layer = job.map(_.layer).getOrElse("other"),
        stage = e.stageId, launch = info.launchTime, finish = info.finishTime,
        waitMs = math.max(0L, info.launchTime - submit), failed = info.failed,
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        inBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        inRows = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        outBytes = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
        shWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shRead = m.map(x => x.shuffleReadMetrics.localBytesRead +
          x.shuffleReadMetrics.remoteBytesRead).getOrElse(0L),
        fetchWaitMs = m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        spill = m.map(_.diskBytesSpilled).getOrElse(0L)))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (active) {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val old = blockBytes.getOrElse(id, 0L)
        if (old == 0L && bytes > 0L) blocksAdded(currentOp) += 1
        if (bytes > 0L) blockBytes(id) = bytes else blockBytes.remove(id)
        liveBytes += bytes - old
        blockPeak(currentOp) = math.max(blockPeak(currentOp), liveBytes - opBaseBytes)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(BatchRec(currentOp, e.progress.batchId, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L), e.progress.numInputRows))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    active = true
  }

  def detach(): Unit = {
    org.apache.spark.sql.graftshim.drainListenerBus(spark)
    active = false
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Start an operation: later spans and the jobs they submit carry `op`. */
  def begin(op: Long): Unit = {
    currentOp = op
    opBaseBytes = liveBytes
    sc.setLocalProperty(OpKey, op.toString)
  }

  def end(): Unit = {
    currentOp = -1L
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(LayerKey, null)
  }

  /** Time `body` as a span of `layer`; recorded only while the trace is
    * active, timed always. Returns (result, seconds). */
  def span[A](layer: String, name: String)(body: => A): (A, Double) = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val dt = System.nanoTime() - t0
      if (active) spans.add(Span(currentOp, layer, name, ms0, ms0 + dt / 1000000L, dt))
      sc.setLocalProperty(LayerKey, prev)
    }
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Trace {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"

  final case class Span(op: Long, layer: String, name: String, startMs: Long, endMs: Long,
                        durNs: Long)
  final case class JobRec(id: Int, op: Long, layer: String, start: Long, end: Long,
                          stages: Int)
  final case class StageRec(op: Long, job: Int, stage: Int, submit: Long, complete: Long,
                            tasks: Int)
  final case class TaskRec(op: Long, layer: String, stage: Int, launch: Long, finish: Long,
                           waitMs: Long, failed: Boolean, cpuNs: Long, gcMs: Long,
                           inBytes: Long, inRows: Long, outBytes: Long, shWrite: Long,
                           shRead: Long, fetchWaitMs: Long, spill: Long)
  final case class BatchRec(op: Long, batchId: Long, triggerMs: Long, addBatchMs: Long,
                            planningMs: Long, walCommitMs: Long, rows: Long)

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Self time per layer: a span's duration minus the spans of the same
    * operation nested inside it. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val byOp = spans.groupBy(_.op)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    byOp.values.foreach { ss =>
      ss.foreach { s =>
        val children = ss.filter(c => (c ne s) && c.startMs >= s.startMs && c.endMs <= s.endMs &&
          c.durNs < s.durNs)
        val direct = children.filterNot(c => children.exists(o => (o ne c) &&
          c.startMs >= o.startMs && c.endMs <= o.endMs && c.durNs < o.durNs))
        self(s.layer) += (s.durNs - direct.map(_.durNs).sum) / 1e9
      }
    }
    self.toMap
  }
}
