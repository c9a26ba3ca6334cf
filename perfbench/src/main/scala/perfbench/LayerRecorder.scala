package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import java.io.{File, PrintWriter}
import scala.collection.mutable

/** A span of the trace tree workload → op → {build, action} → job →
  * stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String,
    start: Double, end: Double)

/** Observes every layer from outside, through public hooks only, for the
  * traced run: a SparkListener (jobs, stages, task metrics, blocks), a
  * QueryExecutionListener (Catalyst phases), a StreamingQueryListener
  * (micro-batches) and the codegen counters. Nothing is registered until
  * `start()`, so untraced runs carry none of it.
  *
  * Jobs are tied to the harness span that caused them by the local
  * property `perfbench.span`, which threads a query starts (streaming
  * executions) inherit. */
class LayerRecorder(spark: SparkSession, slots: Int) {
  import LayerRecorder._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var windowStart = 0.0

  private final case class Job(id: Int, parent: Long, start: Double,
      var end: Double = Double.NaN)
  private final case class Stage(id: Int, job: Int, tasks: Int, start: Double,
      end: Double, cpuNs: Long, runMs: Long, gcMs: Long, inBytes: Long,
      inRows: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
      spill: Long)

  // written on listener threads, read after `finish()`
  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val blockMem = mutable.HashMap[String, Long]()
  private var blockMemSum = 0L
  private var blockMemPeak = 0L
  // (start ms, phase name → ms) per executed query
  private val queryPhases = mutable.ArrayBuffer[(Double, Map[String, Long])]()
  private final case class Progress(at: Double, run: java.util.UUID,
      triggerMs: Double, planningMs: Double, stateRows: Long)
  private val progress = mutable.ArrayBuffer[Progress]()
  private val streamsRunning = mutable.HashSet[java.util.UUID]()
  // traced passes: their windows, and codegen work done inside them
  private val windows = mutable.ArrayBuffer[(Double, Double)]()
  private var compiles = 0L
  private var compileNs = 0L
  private var passStart = (0.0, 0L, 0L)

  // harness-side counts
  private var leakedRdds = 0L
  private var sinkKeys = 0L
  private var sinkValueBytes = 0L
  private var sinkEvents = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong)
      parent.foreach { p => LayerRecorder.this.synchronized {
        jobs(e.jobId) = Job(e.jobId, p, e.time.toDouble)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }}
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      LayerRecorder.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      LayerRecorder.this.synchronized { stageJob.get(i.stageId).foreach { j =>
        val m = i.taskMetrics
        stages += Stage(i.stageId, j, i.numTasks,
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble,
          m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
      }}
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) LayerRecorder.this.synchronized {
        val id = b.blockId.name
        blockMemSum += b.memSize - blockMem.getOrElse(id, 0L)
        if (b.memSize > 0) blockMem(id) = b.memSize else blockMem.remove(id)
        blockMemPeak = math.max(blockMemPeak, blockMemSum)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) LayerRecorder.this.synchronized {
        queryPhases += ((ph.values.map(_.startTimeMs).min.toDouble,
          ph.map { case (k, p) => k -> p.durationMs }))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    private def inWindow(ts: String): Boolean =
      java.time.Instant.parse(ts).toEpochMilli >= windowStart
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      if (inWindow(e.timestamp))
        LayerRecorder.this.synchronized { streamsRunning += e.runId }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      LayerRecorder.this.synchronized {
        progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.runId, ms("triggerExecution"), ms("queryPlanning"),
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      LayerRecorder.this.synchronized { streamsRunning -= e.runId }
  }

  def start(): Unit = {
    windowStart = System.currentTimeMillis().toDouble
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Brackets one traced pass. Events outside traced passes (the
    * untraced passes the run interleaves) are left out of the metrics. */
  def beginPass(): Unit = synchronized {
    passStart = (nowMs(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }
  def endPass(): Unit = synchronized {
    windows += ((passStart._1, nowMs()))
    compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - passStart._2
    compileNs += CodeGenerator.compileTime - passStart._3
  }
  private def traced(t: Double): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }

  /** Opens a span and returns its id; `close` sets its end. */
  def open(parent: Long, name: String): Long = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, nowMs(), Double.NaN)
    id
  }
  def close(id: Long): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    spans(i) = spans(i).copy(end = nowMs())
  }

  /** Runs `body` with its Spark jobs attributed to span `id`. */
  def within[T](id: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, id.toString)
    try body finally sc.setLocalProperty(SpanKey, null)
  }

  def addLeaked(n: Int): Unit = synchronized { leakedRdds += n }
  def addSink(keys: Long, valueBytes: Long, events: Long): Unit = synchronized {
    sinkKeys += keys; sinkValueBytes += valueBytes; sinkEvents += events
  }

  /** Waits until the listener queues have delivered every event of the
    * traced window, then unregisters. */
  def finish(): Unit = {
    val sc = spark.sparkContext
    val flush = open(0, "flush")
    within(flush)(sc.parallelize(Seq(1), 1).count())
    close(flush)
    val deadline = System.currentTimeMillis() + 30000
    def delivered: Boolean = synchronized {
      jobs.values.exists(j => j.parent == flush && !j.end.isNaN) &&
        streamsRunning.isEmpty
    }
    while (!delivered && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-layer metrics, counts and times per pass over `passes` passes. */
  def metrics(passes: Int): Seq[(String, Double, String)] = synchronized {
    val ops = spans.filter(_.name.startsWith("op:"))
    val phaseParent = spans.map(s => s.id -> s.parent).toMap
    val opJobs = jobs.values.filter(j => phaseParent.get(j.parent).exists(p =>
      ops.exists(_.id == p))).toSeq
    val opOf = opJobs.map(j => j.id -> phaseParent(j.parent)).toMap
    val opStages = stages.filter(s => opOf.contains(s.job)).toSeq
    val buildSpans = spans.filter(_.name == "build")
    val buildIds = buildSpans.map(_.id).toSet
    // seconds of each op's wall covered by at least one running job
    val inJobMs = ops.map { op =>
      val iv = opJobs.filter(j => opOf(j.id) == op.id && !j.end.isNaN)
        .map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN || a > ce) {
          if (!cs.isNaN) covered += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      covered
    }.sum
    val opMs = ops.map(o => o.end - o.start).sum
    val runS = opStages.map(_.runMs).sum / 1e3
    val inJobS = inJobMs / 1e3
    def per(x: Double): Double = x / passes
    val phaseMs = queryPhases.filter(q => traced(q._1)).flatMap(_._2)
      .groupMapReduce(_._1)(_._2.toDouble)(_ + _).withDefaultValue(0.0)
    val prog = progress.filter(p => traced(p.at)).toSeq
    val sortedTrig = prog.map(_.triggerMs).sorted
    // state rows: the last progress of each streaming run
    val stateRows = prog.groupBy(_.run).values.map(_.maxBy(_.at).stateRows).sum
    Seq(
      ("build.s", per(buildSpans.map(s => s.end - s.start).sum / 1e3), "s"),
      ("build.jobs", per(opJobs.count(j => buildIds.contains(j.parent))), "count"),
      ("catalyst.analysis_s", per(phaseMs("analysis") / 1e3), "s"),
      ("catalyst.optimizer_s", per(phaseMs("optimization") / 1e3), "s"),
      ("catalyst.planning_s", per(phaseMs("planning") / 1e3), "s"),
      ("codegen.compiles", per(compiles), "count"),
      ("codegen.compile_s", per(compileNs / 1e9), "s"),
      ("sched.jobs", per(opJobs.size), "count"),
      ("sched.stages", per(opStages.size), "count"),
      ("sched.tasks", per(opStages.map(_.tasks).sum), "count"),
      ("sched.in_job_s", per(inJobS), "s"),
      ("sched.driver_s", per((opMs - inJobMs) / 1e3), "s"),
      ("scan.input_bytes", per(opStages.map(_.inBytes).sum), "bytes"),
      ("scan.input_rows", per(opStages.map(_.inRows).sum), "count"),
      ("scan.single_task_stages",
        per(opStages.count(s => s.tasks == 1 && s.inBytes > 0)), "count"),
      ("exec.cpu_s", per(opStages.map(_.cpuNs).sum / 1e9), "s"),
      ("exec.run_s", per(runS), "s"),
      ("exec.slot_util", if (inJobS > 0) runS / (inJobS * slots) else 0.0, "ratio"),
      ("exec.gc_s", per(opStages.map(_.gcMs).sum / 1e3), "s"),
      ("shuffle.write_bytes", per(opStages.map(_.shWrite).sum), "bytes"),
      ("shuffle.read_bytes", per(opStages.map(_.shRead).sum), "bytes"),
      ("shuffle.fetch_wait_s", per(opStages.map(_.fetchWaitMs).sum / 1e3), "s"),
      ("shuffle.spill_bytes", per(opStages.map(_.spill).sum), "bytes"),
      ("cache.leaked_rdds", per(leakedRdds), "count"),
      ("cache.peak_mem_bytes", blockMemPeak.toDouble, "bytes"),
      ("stream.batches", per(prog.size), "count"),
      ("stream.trigger_ms_p50",
        if (sortedTrig.isEmpty) 0.0 else Stats.quantile(sortedTrig, 0.5), "ms"),
      ("stream.planning_ms", per(prog.map(_.planningMs).sum), "ms"),
      ("stream.state_rows", per(stateRows), "count"),
      ("sink.keys", per(sinkKeys), "count"),
      ("sink.value_bytes_per_event",
        if (sinkEvents > 0) sinkValueBytes.toDouble / sinkEvents else 0.0, "bytes"),
    )
  }

  /** Writes every span, jobs and stages included, as JSON lines. */
  def writeTrace(f: File): Unit = synchronized {
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    def line(s: Span): Unit = out.println(
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f}""")
    try {
      spans.foreach(line)
      // jobs and stages get ids above the harness's own
      val jobBase = nextId
      jobs.values.toSeq.sortBy(_.id).foreach(j =>
        line(Span(jobBase + j.id, j.parent, s"job:${j.id}", j.start, j.end)))
      val stageBase = jobBase + jobs.keys.maxOption.getOrElse(0) + 1
      stages.foreach(s => line(Span(stageBase + s.id, jobBase + s.job,
        s"stage:${s.id}:tasks=${s.tasks}", s.start, s.end)))
    } finally out.close()
  }
}

object LayerRecorder {
  val SpanKey = "perfbench.span"
  def nowMs(): Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}
