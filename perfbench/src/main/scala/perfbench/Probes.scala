package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local property that tags every Spark job with the query that ran it. */
object Tag {
  val Query = "perfbench.query"
  val Pass = "perfbench.pass"
}

/** Task metrics summed over the tasks of one stage. */
final class StageAgg(val id: Int, var name: String, val query: String, val pass: String) {
  var submitted = 0.0
  var completed = 0.0
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillDiskBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
  /** The stage was created by the MapReduce layer (Layer A). */
  def isMr: Boolean = name.contains("MapReduce.scala")
}

final case class JobRec(id: Int, query: String, pass: String, start: Double, var end: Double,
    stageIds: Seq[Int])

/** Collects jobs, stages and task metrics from the scheduler. Events arrive on
  * the listener-bus thread; readers drain the bus first and then read under
  * the same lock. */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageAgg]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val q = p.flatMap(x => Option(x.getProperty(Tag.Query))).getOrElse("")
    val pass = p.flatMap(x => Option(x.getProperty(Tag.Pass))).getOrElse("")
    val j = JobRec(e.jobId, q, pass, e.time.toDouble, e.time.toDouble, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  private def agg(id: Int, name: String): StageAgg = stages.getOrElseUpdate(id, {
    val j = stageJob.get(id)
    new StageAgg(id, name, j.map(_.query).getOrElse(""), j.map(_.pass).getOrElse(""))
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = agg(i.stageId, i.name)
    a.name = i.name
    a.submitted = i.submissionTime.getOrElse(0L).toDouble
    a.completed = i.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId, "")
    a.tasks += 1
    if (!e.taskInfo.successful) a.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      val total = e.taskInfo.finishTime - e.taskInfo.launchTime
      a.schedDelayMs += math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      a.spillDiskBytes += m.diskBytesSpilled
      a.inputRecords += m.inputMetrics.recordsRead
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Stages of one pass that are known to have run, with their job. */
  def stagesOf(pass: String): Seq[StageAgg] = synchronized {
    stages.values.filter(s => s.pass == pass && s.tasks > 0).toSeq
  }

  def jobsOf(pass: String): Seq[JobRec] = synchronized { jobs.values.filter(_.pass == pass).toSeq }

  def jobOfStage(stage: Int): Option[JobRec] = synchronized { stageJob.get(stage) }

  /** Stages that jobs of this pass listed but never ran: their output was
    * reused from an earlier job. */
  def skippedStages(pass: String): Int = synchronized {
    val ran = stages.values.filter(_.tasks > 0).map(_.id).toSet
    jobs.values.filter(_.pass == pass).flatMap(_.stageIds).toSet.count(s => !ran.contains(s))
  }
}

/** Planning phases and plan shape of every Catalyst query execution. */
final case class PlanRec(startMs: Double, phases: Map[String, (Double, Double)],
    exchanges: Int, singlePartitionExchanges: Int, singleTaskWindows: Int, interpreted: Int)

final class PlanListener extends QueryExecutionListener {
  val recs = mutable.ArrayBuffer[PlanRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
    }
    val start = if (phases.isEmpty) System.currentTimeMillis().toDouble else phases.values.map(_._1).min
    val nodes = try PlanShape.nodes(qe.executedPlan).toSeq catch { case _: Throwable => Nil }
    val rec = PlanRec(start, phases,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count {
        case x: ShuffleExchangeLike => x.outputPartitioning == SinglePartition
        case _ => false
      },
      nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum)
    synchronized { recs += rec }
  }

  def all: Seq[PlanRec] = synchronized(recs.toList)
}

object PlanShape {
  /** Every physical operator that ran, looking through adaptive wrappers and
    * subqueries; a reused exchange counts once, where it was built. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other =>
      Iterator.single(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }
}

/** One micro-batch, from `StreamingQueryProgress`. */
final case class BatchRec(query: String, startMs: Double, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateMemBytes: Long, stateCommitMs: Long, stateStores: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

final class BatchListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer[BatchRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val rec = BatchRec(p.id.toString,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numStateStoreInstances.toLong).sum)
    synchronized { batches += rec }
  }
  def all: Seq[BatchRec] = synchronized(batches.toList)
}

/** Counts WARN lines, function re-registration warnings and Janino
  * compilations ("Code generated in N ms", logged at INFO). */
final class LogCounter extends AbstractAppender("perfbench-log-counter", null, null, true,
    Property.EMPTY_ARRAY) {
  val warnLines = new AtomicLong
  val fnReplaced = new AtomicLong
  val codegenClasses = new AtomicLong
  val codegenMs = new DoubleAdder
  private val codegen = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (e.getLevel == Level.WARN) {
      warnLines.incrementAndGet()
      if (msg.contains("replaced a previously registered function")) fnReplaced.incrementAndGet()
    }
    msg match {
      case codegen(ms) => codegenClasses.incrementAndGet(); codegenMs.add(ms.toDouble)
      case _ =>
    }
  }
}

object LogCounter {
  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def attach(): LogCounter = {
    val c = new LogCounter
    c.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    conf.getRootLogger.addAppender(c, Level.WARN, null)
    // The compile-time line is INFO; route only it to the counter, not the console.
    val lc = new org.apache.logging.log4j.core.config.LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(c, Level.INFO, null)
    conf.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
    c
  }
}

/** Process-wide counters read at pass boundaries: JIT, GC, Hadoop file
  * system bytes, and the operations `CountingLocalFileSystem` counts. */
object JvmFs {
  def snapshot(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala ++
      org.apache.hadoop.fs.FileContext.getAllStatistics.values.asScala
    Map(
      "jvm.gc_ms" -> gc.toDouble,
      "jvm.jit_ms" -> jit.toDouble,
      "fs.read_ops" -> CountingLocalFileSystem.reads.get.toDouble,
      "fs.list_ops" -> CountingLocalFileSystem.lists.get.toDouble,
      "fs.write_ops" -> CountingLocalFileSystem.writes.get.toDouble,
      "fs.bytes_read" -> fs.map(_.getBytesRead.toDouble).sum,
      "fs.bytes_written" -> fs.map(_.getBytesWritten.toDouble).sum)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  /** Live heap: used heap right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The traced run's instruments on one session. They are attached for a
  * traced pass only; when it ends, the pass's per-layer metrics and spans are
  * derived from what they saw. Micro-batches come from `batches`, which
  * stays attached for the whole run; a pass takes those inside its window. */
final class Probes(spark: SparkSession, cpus: Int, batches: BatchListener) {
  val exec = new ExecListener
  val plans = new PlanListener
  private var fs0 = Map.empty[String, Double]

  def on(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    fs0 = JvmFs.snapshot()
  }

  def off(r: PassResult, tracer: Tracer): Unit = {
    Bus.drain(spark.sparkContext)
    val fs = JvmFs.delta(fs0, JvmFs.snapshot()).filter(_._1.startsWith("fs."))
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)

    def within(lo: Double, hi: Double)(ms: Double) = ms >= lo - 1.0 && ms <= hi + 1.0
    val pl = plans.all.filter(p => within(r.startMs, r.endMs)(p.startMs))
    val bs = batches.all.filter(b => within(r.startMs, r.endMs)(b.startMs))
    pl.foreach { p =>
      Seq("analysis" -> "plan.analyze", "optimization" -> "plan.optimize",
        "planning" -> "plan.physical").foreach { case (k, n) =>
        p.phases.get(k).foreach { case (s, e) => tracer.attach(n, "", s, e) }
      }
    }
    bs.foreach(b => tracer.attach("stream.batch", "", b.startMs, b.startMs + b.triggerMs))
    val jobSpans = exec.jobsOf(r.id).map(j =>
      j.id -> tracer.attach("job", s"${r.id}/${j.query}", j.start, j.end)).toMap
    val st = exec.stagesOf(r.id)
    st.foreach(s => tracer.attach("stage", "", s.submitted, s.completed,
      exec.jobOfStage(s.id).flatMap(j => jobSpans.get(j.id))))
    val spans = tracer.spans.filter(_.trace.startsWith(s"${r.id}/"))

    r.extra ++= metrics(st, exec.jobsOf(r.id), exec.skippedStages(r.id), pl, bs, spans,
      (r.endMs - r.startMs), perQuery = false) ++ fs
    val wallMs = r.windows.map(w => w._1 -> (w._3 - w._2)).toMap
    r.perQuery ++= r.windows.map { case (q, lo, hi) =>
      q -> metrics(st.filter(_.query == q), exec.jobsOf(r.id).filter(_.query == q), 0,
        pl.filter(p => within(lo, hi)(p.startMs)), bs.filter(b => within(lo, hi)(b.startMs)),
        spans.filter(_.trace == s"${r.id}/$q"), wallMs(q), perQuery = true)
    }
  }

  private def metrics(st: Seq[StageAgg], jobs: Seq[JobRec], skipped: Int, pl: Seq[PlanRec],
      bs: Seq[BatchRec], spans: Seq[Span], wallMs: Double, perQuery: Boolean): Map[String, Double] = {
    def sum(f: StageAgg => Long) = st.map(f).sum.toDouble
    val cpuMs = sum(_.cpuNs) / 1e6
    val multi = st.filter(_.tasks > 1)
    val mr = st.filter(_.isMr)
    val mrRecords = mr.map(_.shuffleWriteRecords).sum.toDouble
    def phase(k: String) = pl.flatMap(_.phases.get(k)).map(x => x._2 - x._1).sum
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val byQuery = bs.groupBy(_.query).values
    val self = Trace.selfMs(spans)
    val m = Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.stages_skipped" -> skipped.toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.tasks_failed" -> sum(_.tasksFailed),
      "exec.task_run_ms" -> sum(_.runMs),
      "exec.task_cpu_ms" -> cpuMs,
      "exec.cpu_util" -> (if (wallMs > 0) cpuMs / (wallMs * cpus) else 0.0),
      "exec.scheduler_delay_ms" -> sum(_.schedDelayMs),
      "exec.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "exec.shuffle_write_records" -> sum(_.shuffleWriteRecords),
      "exec.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "exec.spill_disk_bytes" -> sum(_.spillDiskBytes),
      "exec.input_records" -> sum(_.inputRecords),
      "exec.input_bytes" -> sum(_.inputBytes),
      "exec.max_task_share" -> {
        val total = multi.map(_.runMs).sum
        if (total > 0) multi.map(_.taskRunMs.max).sum.toDouble / total else 0.0
      },
      "mr.run_ms" -> mr.map(s => s.completed - s.submitted).sum,
      "mr.map_records_out" -> mrRecords,
      "mr.shuffle_bytes_per_record" ->
        (if (mrRecords > 0) mr.map(_.shuffleWriteBytes).sum / mrRecords else 0.0),
      "mr.spill_disk_bytes" -> mr.map(_.spillDiskBytes).sum.toDouble,
      "mr.reduce_skew" -> mr.filter(s => s.tasks > 1 && s.shuffleReadRecords > 0).map { s =>
        s.taskRunMs.max / math.max(1.0, Stats.median(s.taskRunMs.map(_.toDouble).toSeq))
      }.maxOption.getOrElse(0.0),
      "plan.build_ms" -> spans.filter(_.layer == "build").map(_.dur).sum,
      "plan.analyze_ms" -> phase("analysis"),
      "plan.optimize_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "plan.exchanges" -> pl.map(_.exchanges).sum.toDouble,
      "plan.single_partition_exchanges" -> pl.map(_.singlePartitionExchanges).sum.toDouble,
      "plan.single_task_windows" -> pl.map(_.singleTaskWindows).sum.toDouble,
      "plan.interpreted_exprs" -> pl.map(_.interpreted).sum.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.empty_batch_ratio" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.inputRows == 0).toDouble / bs.size),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.state_rows" -> byQuery.map(_.map(_.stateRows).max).sum.toDouble,
      "stream.state_mem_bytes" -> byQuery.map(_.map(_.stateMemBytes).max).sum.toDouble,
      "stream.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble,
      "stream.state_stores" -> bs.map(_.stateStores).sum.toDouble)
    if (perQuery) m
    else {
      val workload = spans.filter(_.layer == "workload")
      val attributed = spans.filter(s => s.layer.startsWith("plan.") || s.layer == "job" ||
        s.layer == "stream.batch").map(s => (s.start, s.end))
      val whole = workload.map(_.dur).sum
      m ++ Probes.Layers.map(l => s"trace.self_ms.$l" -> self.getOrElse(l, 0.0)) ++ Map(
        "trace.unattributed_frac" ->
          (if (whole > 0) 1.0 - workload.map(w => Trace.covered(attributed, w.start, w.end)).sum / whole
           else 0.0))
    }
  }
}

object Probes {
  /** Span layers, outermost first. */
  val Layers: Seq[String] = Seq("workload", "query", "mr.run", "build", "execute",
    "plan.analyze", "plan.optimize", "plan.physical", "stream.batch", "job", "stage")
}
