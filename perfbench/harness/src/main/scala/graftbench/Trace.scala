package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. Times are `System.nanoTime` readings; `parent` is 0
  * for the root (workload) span.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Ids {
  private val n = new AtomicLong(0)
  def next(): Long = n.incrementAndGet()
}

/** Spans and counters for ONE traced pass, observed only through Spark's
  * public listener and metric APIs: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (Catalyst phase times), a
  * StreamingQueryListener (micro-batch progress), the static Codegen and
  * HiveCatalog metric sources, and the JVM's compilation and GC MXBeans.
  *
  * Listener events arrive asynchronously on Spark's listener bus, so
  * [[detach]] runs a tagged fence query and waits until every listener
  * has seen it: by then every event of the pass has been delivered.
  */
final class PassTrace(spark: SparkSession, cores: Int, val passId: Long) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val fenceGroup = s"trace-fence-$passId"
  private val fenceColumn = s"trace_fence_$passId"

  // epoch-ms listener timestamps are mapped onto the nanoTime axis
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  private final class Job(val id: Int, val group: String, val startMs: Long,
                          val stageIds: Seq[Int]) { var endMs = -1L }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val fenceJobs = mutable.Set.empty[Int]
  private val fenceStages = mutable.Set.empty[Int]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
  private val runs = mutable.Map.empty[String, Long] // stream runId -> span of its batches
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val lastState = mutable.Map.empty[String, (Double, Double)]
  private var startedQueries = 0
  private var endedQueries = 0
  @volatile private var fenceJobDone = false
  @volatile private var fenceQeDone = false

  private def add(k: String, v: Double): Unit = counters(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = PassTrace.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == fenceGroup) { fenceJobs += e.jobId; fenceStages ++= e.stageIds }
      else jobs(e.jobId) = new Job(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = PassTrace.this.synchronized {
      if (fenceJobs.contains(e.jobId)) fenceJobDone = true
      else jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = PassTrace.this.synchronized {
      val s = e.stageInfo
      if (!fenceStages.contains(s.stageId))
        stageSpans += ((s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L), s.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = PassTrace.this.synchronized {
      val m = e.taskMetrics
      if (!fenceStages.contains(e.stageId) && m != null) {
        add("tasks", 1)
        add("task_ms", m.executorRunTime.toDouble)
        add("task_cpu_ns", m.executorCpuTime.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = PassTrace.this.synchronized {
      // a write's analyzed plan is a command; the fence column sits below it
      if (qe.analyzed.exists(_.output.exists(_.name == fenceColumn))) fenceQeDone = true
      else {
        add("executions", 1)
        qe.tracker.phases.foreach { case (phase, s) => add(s"phase.$phase", s.durationMs.toDouble) }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      PassTrace.this.synchronized { startedQueries += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      PassTrace.this.synchronized { endedQueries += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      PassTrace.this.synchronized {
        val p = e.progress
        // every executed micro-batch, including the no-data batches that
        // advance the watermark; idle progress reports carry no addBatch
        if (p.durationMs.containsKey("addBatch")) {
          add("micro_batches", 1)
          p.durationMs.asScala.foreach { case (k, v) => add(s"duration.$k", v.doubleValue) }
          p.stateOperators.foreach { s =>
            add("state_commit_ms", s.commitTimeMs.toDouble)
            add("state_dropped_late", s.numRowsDroppedByWatermark.toDouble)
          }
          // levels, not sums: keep each query's latest reading
          lastState(p.runId.toString) = (p.stateOperators.map(_.numRowsTotal).sum.toDouble,
            p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
        }
      }
  }

  private def jit(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  private def gc(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
  private def snapshot(): Map[String, Double] = Map(
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "compile_ns" -> CodeGenerator.compileTime.toDouble,
    "files" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "jit_ms" -> jit(),
    "jvm_gc_ms" -> gc())
  private var before: Map[String, Double] = Map.empty
  private var after: Map[String, Double] = Map.empty

  def attach(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    before = snapshot()
    this
  }

  def detach(): Unit = {
    after = snapshot()
    sc.setJobGroup(fenceGroup, "trace fence", interruptOnCancel = false)
    try spark.range(0, 1, 1, 1).selectExpr(s"1 AS $fenceColumn")
      .write.format("noop").mode("overwrite").save()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def drained = synchronized(fenceJobDone && fenceQeDone && endedQueries >= startedQueries)
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    require(drained, s"listener bus did not drain within 60 s (job=$fenceJobDone " +
      s"execution=$fenceQeDone streams=$endedQueries/$startedQueries)")
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def add(s: Span): Unit = synchronized { spans += s }
  def registerRun(runId: String, parent: Long): Unit = synchronized { runs(runId) = parent }

  /** Every span of the pass: the workload's own plus one per Spark job and
    * stage. A job belongs to the batch query whose span id is its job group,
    * or for a streaming run to the micro-batch running when it started; its
    * parent is that operation's child span (ops.build, add_data or action)
    * covering the job's start.
    */
  def allSpans: Seq[Span] = synchronized {
    val own = spans.toSeq
    val byId = own.map(s => s.id -> s).toMap
    val children = own.groupBy(_.parent)
    val slack = 2000000L // listener times are whole milliseconds
    def covering(cands: Seq[Span], t: Long) =
      cands.find(c => t >= c.startNs - slack && t <= c.endNs + slack)
    def parentOf(j: Job): Long = {
      val t = msToNs(j.startMs)
      val op = Option(j.group).flatMap(_.toLongOption).flatMap(byId.get)
        .orElse(Option(j.group).flatMap(runs.get)
          .flatMap(run => covering(children.getOrElse(run, Nil).filter(_.name == "micro_batch"), t)))
      op.map(o => covering(children.getOrElse(o.id, Nil), t).getOrElse(o).id).getOrElse(passId)
    }
    val jobSpans = jobs.values.filter(_.endMs >= 0).map { j =>
      j -> Span(Ids.next(), parentOf(j), "job", msToNs(j.startMs), msToNs(j.endMs),
        Map("job_id" -> j.id))
    }.toSeq
    val jobOfStage = jobSpans.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }.toMap
    val stages = stageSpans.toSeq.map { case (sid, attempt, sub, done, nTasks) =>
      Span(Ids.next(), jobOfStage.getOrElse(sid, passId), "stage", msToNs(sub), msToNs(done),
        Map("stage_id" -> sid, "attempt" -> attempt, "tasks" -> nTasks))
    }
    own ++ jobSpans.map(_._2) ++ stages
  }

  /** Per-layer metrics of this pass, over the pass window [startNs, endNs]. */
  def layers(startNs: Long, endNs: Long): Map[String, Double] = synchronized {
    val wall = (endNs - startNs) / 1e9
    val intervals = jobs.values.filter(_.endMs >= 0).toSeq
      .map(j => (math.max(msToNs(j.startMs), startNs), math.min(msToNs(j.endMs), endNs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val jobWall = covered / 1e9
    def d(k: String) = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    val mb = 1024.0 * 1024.0
    val taskS = counters("task_ms") / 1e3
    Map(
      "ops.build_s" -> spans.filter(_.name == "ops.build").map(_.seconds).sum,
      "catalyst.analysis_ms" -> counters("phase.analysis"),
      "catalyst.optimization_ms" -> counters("phase.optimization"),
      "catalyst.planning_ms" -> counters("phase.planning"),
      "catalyst.executions" -> counters("executions"),
      "codegen.compiles" -> d("compiles"),
      "codegen.compile_ms" -> d("compile_ns") / 1e6,
      "sources.files_discovered" -> d("files"),
      "spark.input_mb" -> counters("input_bytes") / mb,
      "spark.jobs" -> jobs.values.count(_.endMs >= 0).toDouble,
      "spark.stages" -> stageSpans.size.toDouble,
      "spark.tasks" -> counters("tasks"),
      "spark.job_wall_s" -> jobWall,
      "driver.off_job_s" -> (wall - jobWall),
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> counters("task_cpu_ns") / 1e9,
      "spark.gc_s" -> counters("gc_ms") / 1e3,
      "spark.core_util" -> (if (jobWall > 0) taskS / (cores * jobWall) else 0.0),
      "spark.shuffle_read_mb" -> counters("shuffle_read_bytes") / mb,
      "spark.shuffle_write_mb" -> counters("shuffle_write_bytes") / mb,
      "spark.spill_mb" -> counters("spill_bytes") / mb,
      "stream.micro_batches" -> counters("micro_batches"),
      "stream.planning_ms" -> counters("duration.queryPlanning"),
      "stream.add_batch_ms" -> counters("duration.addBatch"),
      "stream.wal_commit_ms" -> counters("duration.walCommit"),
      "stream.commit_offsets_ms" -> counters("duration.commitOffsets"),
      "state.commit_ms" -> counters("state_commit_ms"),
      "state.rows_total" -> lastState.values.map(_._1).sum,
      "state.memory_mb" -> lastState.values.map(_._2).sum / mb,
      "state.rows_dropped_late" -> counters("state_dropped_late"),
      "jvm.jit_s" -> d("jit_ms") / 1e3,
      "jvm.gc_s" -> d("jvm_gc_ms") / 1e3)
  }
}
