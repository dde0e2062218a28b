package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. `parent` is the id of the span that caused it (0 for
  * an op span); `op` is the id of the op span it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark around its calls into the program's
  * public functions, plus Spark jobs seen by [[Listeners]]. Kept in memory
  * and written out when the run ends. When disabled, [[apply]] just runs
  * the body.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  private var currentOp = 0L

  def nextId(): Long = ids.incrementAndGet()

  /** Op span: the client thread tags every Spark job it launches with the
    * op id, so the listener can attribute each job to its op.
    */
  def op[A](spark: SparkSession, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      currentOp = id
      spark.sparkContext.setLocalProperty(Listeners.OpKey, id.toString)
      try span(name, id)(body)
      finally {
        spark.sparkContext.setLocalProperty(Listeners.OpKey, null)
        currentOp = 0L
      }
    }

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body else span(name, nextId())(body)

  private def span[A](name: String, id: Long)(body: => A): A = {
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans.add(Span(id, parent, if (currentOp == 0L) id else currentOp, name,
        t0, System.nanoTime()))
    }
  }

  def byName(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Self time of each span: its duration minus the part of it covered by
    * its child spans.
    */
  def selfNs: Map[Long, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> (s.durNs - Tracer.coveredNs(
      kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)), s.startNs, s.endNs))).toMap
  }
}

object Tracer {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def coveredNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((a0, b0) <- ivs.sortBy(_._1)) {
      val a = math.max(a0, end); val b = math.min(b0, hi)
      if (b > a) { covered += b - a; end = b }
    }
    covered
  }
}

/** The public Spark listener APIs the traced run reads: job and task ends
  * (SparkListener), query planning phases (QueryExecutionListener) and
  * micro-batch progress (StreamingQueryListener). Listener times are
  * epoch milliseconds; [[toNs]] maps them onto the tracer's nanoTime clock.
  */
final class Listeners(tracer: Tracer) {
  import Listeners._

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def toNs(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val pinBytes = new java.util.concurrent.atomic.AtomicLong()
  private val pinRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(0L)
      // a stage's name is its job's call site, e.g. "localCheckpoint at X.scala:12"
      val pin = e.stageInfos.exists(st => PinSite.findFirstIn(st.name).isDefined)
      if (pin) e.stageInfos.foreach(_.rddInfos.foreach(r => pinRdds.add(r.id)))
      jobs.put(e.jobId, Job(e.jobId, op, e.time, pin))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        tracer.spans.add(Span(tracer.nextId(), j.op, j.op,
          if (j.pin) "operators.pin_job" else "spark.job", toNs(j.startMs), toNs(e.time)))
      }
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo; val m = e.taskMetrics
      if (m == null)
        tasks.add(Task(e.stageId, i.launchTime, i.finishTime, i.failed, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(Task(e.stageId, i.launchTime, i.finishTime, i.failed,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.peakExecutionMemory))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if pinRdds.contains(rdd) && b.storageLevel.isValid =>
          pinBytes.addAndGet(b.memSize + b.diskSize)
        case _ => ()
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.add(Phases(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches.add(Batch(ms("triggerExecution"), ms("addBatch"),
          ms("commitOffsets") + ms("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  def unregister(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(queries)
    s.streams.removeListener(streams)
  }

  /** Listener events arrive asynchronously: wait (bounded) until every
    * started job has ended and the event counts stop moving.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    var last = -1L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = tasks.size.toLong + phases.size + batches.size + jobsEnded.get
      stable = if (n == last && jobsEnded.get >= jobs.size) stable + 1 else 0
      last = n
    }
  }

  /** Per-layer metrics of the traced schedule: `opSpans` are the op spans,
    * `slots` the number of task slots.
    */
  def sparkMetrics(opSpans: Seq[Span], slots: Int): Map[String, Double] = {
    val ops = math.max(1, opSpans.size).toDouble
    val ts = tasks.asScala.toSeq
    val jobList = jobs.values.asScala.toSeq
    val wallNs = opSpans.map(_.durNs).sum.toDouble
    val taskIvs = ts.map(t => (toNs(t.launchMs), toNs(t.finishMs)))
    val gapNs = opSpans.map(o => o.durNs - Tracer.coveredNs(taskIvs, o.startNs, o.endNs)).sum
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs_per_op" -> jobList.size / ops,
      "spark.tasks_per_op" -> ts.size / ops,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / ops,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3 / ops,
      "spark.scan_mb" -> ts.map(_.inBytes).sum / mb / ops,
      "spark.shuffle_write_mb" -> ts.map(_.shWrite).sum / mb / ops,
      "spark.shuffle_read_mb" -> ts.map(_.shRead).sum / mb / ops,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb / ops,
      "spark.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb),
      "spark.slot_busy_share" ->
        (if (wallNs <= 0) 0.0 else ts.map(t => (t.finishMs - t.launchMs) * 1e6).sum / (slots * wallNs)),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "spark.driver_gap_s" -> gapNs / 1e9 / ops,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "operators.pin.count" -> jobList.count(_.pin) / ops,
      "operators.pin.mb" -> pinBytes.get / mb / ops,
      "operators.pin_s" -> tracer.byName("operators.pin_job").map(_.durNs).sum / 1e9 / ops,
      "trace.unattributed_jobs" -> jobList.count(_.op == 0L).toDouble)
  }

  def planMetrics(opSpans: Seq[Span]): Map[String, Double] = {
    val ops = math.max(1, opSpans.size).toDouble
    val ps = phases.asScala.toSeq
    val (a, o, p) = (ps.map(_.analysisMs).sum, ps.map(_.optimizerMs).sum, ps.map(_.planningMs).sum)
    val wallMs = opSpans.map(_.durNs).sum / 1e6
    Map("plans.analysis_ms" -> a / ops, "plans.optimizer_ms" -> o / ops,
      "plans.planning_ms" -> p / ops,
      "plans.plan_share" -> (if (wallMs <= 0) 0.0 else (a + o + p) / wallMs))
  }

  def streamMetrics: Map[String, Double] = {
    val bs = batches.asScala.toSeq
    def mean(f: Batch => Long) = if (bs.isEmpty) 0.0 else bs.map(f).sum.toDouble / bs.size
    Map("streaming.batch_ms" -> mean(_.triggerMs), "streaming.addbatch_ms" -> mean(_.addBatchMs),
      "streaming.commit_ms" -> mean(_.commitMs),
      "streaming.state_rows" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
      "streaming.state_mb" ->
        (if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max / (1024.0 * 1024.0)))
  }
}

object Listeners {
  val OpKey = "perfbench.op"
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, failed: Boolean,
      cpuNs: Long, gcMs: Long, inBytes: Long, shWrite: Long, shRead: Long,
      spill: Long, peakMem: Long)
  final case class Job(id: Int, op: Long, startMs: Long, pin: Boolean)
  final case class Phases(analysisMs: Long, optimizerMs: Long, planningMs: Long)
  final case class Batch(triggerMs: Long, addBatchMs: Long, commitMs: Long,
      stateRows: Long, stateBytes: Long)
  /** Call sites of the jobs that write checkpoint (pin) blocks. */
  private val PinSite = "(?i)checkpoint|Pin\\.scala".r
}
