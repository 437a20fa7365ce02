package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `trace` is the unit of work it belongs to (a store
  * request, a micro-batch, a pipeline stage); `parent` is the span that
  * caused it (0 for a root). Times are epoch microseconds. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing beyond one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1L)
  private val ctx = new ThreadLocal[(String, Long)]()

  def nextId(): Long = ids.getAndIncrement()

  /** Open a root span for `trace` on this thread. */
  def root[T](trace: String, name: String)(body: => T): T =
    if (!enabled) body else within(trace, 0L, name)(body)

  /** Open a child of the current span on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (trace, parent) = Option(ctx.get).getOrElse(("-", 0L))
      within(trace, parent, name)(body)
    }

  private def within[T](trace: String, parent: Long, name: String)(body: => T): T = {
    val id = nextId()
    val prev = ctx.get
    ctx.set((trace, id))
    val s = nowUs
    try body
    finally {
      spans.add(Span(trace, id, parent, name, s, nowUs))
      ctx.set(prev)
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Durations (µs) of every span with this name in the selected traces. */
  def durations(name: String, traces: String => Boolean): Seq[Double] =
    spans.asScala.iterator.filter(s => s.name == name && traces(s.trace)).map(_.durUs.toDouble).toSeq

  /** Self time of every span: its duration minus the union of the
    * intervals its children cover. */
  def selfTimes(): Map[Long, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Write every span as one JSON object per line, plus a per-name summary
    * (count, total and self time). */
  def write(path: java.nio.file.Path): Unit = {
    import Stats.Json._
    val self = selfTimes()
    val lines = spans.asScala.toSeq.sortBy(_.startUs).map { s =>
      obj(Seq("trace" -> str(s.trace), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "self_us" -> self.getOrElse(s.id, 0L).toString))
    }
    java.nio.file.Files.write(path, lines.asJava)
    val summary = spans.asScala.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => n -> obj(Seq("count" -> ss.size.toString,
        "total_ms" -> num(ss.map(_.durUs).sum / 1000.0),
        "self_ms" -> num(ss.map(s => self.getOrElse(s.id, 0L)).sum / 1000.0)))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path.toString.replace(".spans.jsonl", ".summary.json")),
      java.util.List.of(obj(summary)))
  }
}

/** Scheduler-side evidence from Spark's public `SparkListener`: jobs (with
  * the job group and streaming batch id they ran under), stages (final
  * `StageInfo` with aggregated task metrics) and per-task launch times and
  * durations. Read only after [[org.apache.spark.GraftBenchBridge]] drains
  * the bus. */
final class SparkProbe extends SparkListener {
  import SparkProbe._
  val jobs = new ConcurrentHashMap[Int, Job]()
  val jobEndMs = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new ConcurrentHashMap[Int, Stage]()

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEndMs.put(e.jobId, e.time); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.taskLaunchMs += e.taskInfo.launchTime
    s.taskDurMs += e.taskInfo.duration
    if (e.taskInfo.failed) s.failedTasks += 1
    if (e.taskMetrics != null)
      s.peakExecMem = math.max(s.peakExecMem, e.taskMetrics.peakExecutionMemory)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId).info = e.stageInfo
}

object SparkProbe {
  final case class Job(id: Int, group: String, batch: String, startMs: Long,
      stageIds: Seq[Int])
  final class Stage {
    @volatile var info: StageInfo = _
    val taskLaunchMs = ArrayBuffer[Long]()
    val taskDurMs = ArrayBuffer[Long]()
    var failedTasks = 0
    var peakExecMem = 0L
  }
}

/** Driver-side Catalyst phase times per query execution, from Spark's
  * public `QueryExecutionListener` (`QueryExecution.tracker`), keyed by
  * `QueryExecution.id` so the caller can attribute them to a request. */
final class PlanProbe extends QueryExecutionListener {
  import PlanProbe.Phases
  val byId = new ConcurrentHashMap[Long, Phases]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    byId.put(qe.id, Phases(ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
      ms("analysis"), ms("optimization"), ms("planning")))
    ()
  }
  /** Phases of the queries that started planning inside [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[Phases] =
    byId.values.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanProbe {
  final case class Phases(startMs: Long, analysisMs: Double, optimizerMs: Double, planningMs: Double)
}

/** Micro-batch progress from Spark's public `StreamingQueryListener`. */
final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** The per-layer view of one run: what the probes saw, reduced to the
  * per-layer metric names of the benchmark. */
object Layers {
  /** Every per-layer metric the traced run prints, in order, with its
    * unit; a layer the workload does not use reads 0. Per-op metrics are
    * divided by the workload's operations: store requests, micro-batches
    * with data, or pipeline passes. */
  val names: Seq[(String, String)] = Seq(
    "mql.parse_us.p50" -> "us",
    "channel.build_ms.p50" -> "ms",
    "connector.load_ms.p50" -> "ms",
    "plan.analysis_ms.p50" -> "ms",
    "plan.optimizer_ms.p50" -> "ms",
    "plan.planning_ms.p50" -> "ms",
    "exec.jobs_per_op" -> "count",
    "exec.tasks_per_op" -> "count",
    "exec.sched_wait_ms.p50" -> "ms",
    "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.failed_tasks" -> "count",
    "wire.rows_shipped" -> "count",
    "wire.bytes_shipped" -> "bytes",
    "wire.bytes_per_row" -> "bytes/row",
    "wire.ship_ratio" -> "ratio",
    "mem.rows_served" -> "count",
    "scan.run_ms.p50" -> "ms",
    "store.mql_page.p50_ms" -> "ms",
    "store.wire_scan.p50_ms" -> "ms",
    "store.wire_agg.p50_ms" -> "ms",
    "store.join.p50_ms" -> "ms",
    "join.output_rows" -> "count",
    "join.shuffle_write_bytes" -> "bytes",
    "mem.append_ms.p50" -> "ms",
    "mem.append_ms.p99" -> "ms",
    "mem.append_growth" -> "ratio",
    "gen.late_ms.p99" -> "ms",
    "stream.batches" -> "count",
    "stream.rows_per_batch.p50" -> "count",
    "stream.backlog_rows.max" -> "count",
    "stream.trigger_ms.p50" -> "ms",
    "stream.latest_offset_ms.p50" -> "ms",
    "stream.get_batch_ms.p50" -> "ms",
    "stream.query_planning_ms.p50" -> "ms",
    "stream.add_batch_ms.p50" -> "ms",
    "stream.wal_commit_ms.p50" -> "ms",
    "stream.commit_offsets_ms.p50" -> "ms",
    "stream.fixed_ms_per_batch" -> "ms",
    "stream.us_per_row" -> "us",
    "state.rows_total" -> "count",
    "state.memory_bytes" -> "bytes",
    "state.commit_ms.p50" -> "ms",
    "dedup.exact_s" -> "s",
    "dedup.minhash_pairs_s" -> "s",
    "dedup.prefix_pairs_s" -> "s",
    "dedup.components_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count",
    "spill.memory_bytes" -> "bytes",
    "spill.disk_bytes" -> "bytes",
    "task.skew.max" -> "ratio",
    "exec.peak_exec_mem_mb" -> "MB")

  private def hasScan(i: StageInfo): Boolean = i.rddInfos.exists(_.name.contains("DataSourceRDD"))

  /** Scheduler and exchange metrics over the jobs `op` maps to an operation
    * key (None = not part of the measured phase), normalized per
    * operation. Also returns per-operation stage lists for callers that
    * need them (scan time per request, join shuffle bytes). */
  def executor(probe: SparkProbe, ops: Int, op: SparkProbe.Job => Option[String])
      : (Map[String, Double], Map[String, Seq[StageInfo]]) = {
    val jobs = probe.jobs.values.asScala.toSeq.flatMap(j => op(j).map(_ -> j))
    val perOp = jobs.groupBy(_._1).map { case (k, js) =>
      k -> js.flatMap(_._2.stageIds).distinct.flatMap(id => Option(probe.stages.get(id)))
    }
    val sts = perOp.values.flatten.toSeq
    val infos = sts.flatMap(s => Option(s.info))
    val tm = infos.flatMap(i => Option(i.taskMetrics))
    val n = math.max(1, ops).toDouble
    val waits = sts.flatMap { s =>
      Option(s.info).flatMap(_.submissionTime).toSeq
        .flatMap(sub => s.taskLaunchMs.map(l => (l - sub).toDouble))
    }
    val skews = sts.filter(_.taskDurMs.size >= 2).map { s =>
      val d = s.taskDurMs.map(_.toDouble)
      d.max / math.max(1.0, Stats.p50(d))
    }
    val m = Map(
      "exec.jobs_per_op" -> jobs.size / n,
      "exec.tasks_per_op" -> sts.map(_.taskDurMs.size).sum / n,
      "exec.sched_wait_ms.p50" -> Stats.p50(waits),
      "exec.run_ms" -> tm.map(_.executorRunTime).sum / n,
      "exec.cpu_ms" -> tm.map(_.executorCpuTime).sum / 1e6 / n,
      "exec.gc_ms" -> tm.map(_.jvmGCTime).sum / n,
      "exec.failed_tasks" -> sts.map(_.failedTasks).sum.toDouble,
      "shuffle.write_bytes" -> tm.map(_.shuffleWriteMetrics.bytesWritten).sum / n,
      "shuffle.read_bytes" -> tm.map(_.shuffleReadMetrics.totalBytesRead).sum / n,
      "shuffle.records" -> tm.map(_.shuffleWriteMetrics.recordsWritten).sum / n,
      "spill.memory_bytes" -> tm.map(_.memoryBytesSpilled).sum / n,
      "spill.disk_bytes" -> tm.map(_.diskBytesSpilled).sum / n,
      "task.skew.max" -> (if (skews.isEmpty) 0.0 else skews.max),
      "exec.peak_exec_mem_mb" ->
        (if (sts.isEmpty) 0.0 else sts.map(_.peakExecMem).max / 1048576.0),
      "scan.run_ms.p50" -> Stats.p50(perOp.values.map(ss =>
        ss.flatMap(s => Option(s.info)).filter(hasScan)
          .flatMap(i => Option(i.taskMetrics)).map(_.executorRunTime.toDouble).sum)))
    (m, perOp.map { case (k, ss) => k -> ss.flatMap(s => Option(s.info)) })
  }

  /** Catalyst phase medians over the given query executions. */
  def planning(phases: Seq[PlanProbe.Phases]): Map[String, Double] = Map(
    "plan.analysis_ms.p50" -> Stats.p50(phases.map(_.analysisMs)),
    "plan.optimizer_ms.p50" -> Stats.p50(phases.map(_.optimizerMs)),
    "plan.planning_ms.p50" -> Stats.p50(phases.map(_.planningMs)))

  /** Micro-batch phase, fit and state metrics from progress reports. */
  def stream(progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = progress.filter(_.numInputRows > 0)
    def phase(k: String) = Stats.p50(data.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val (fixed, perRow) = Stats.fitLine(data.map(p =>
      (p.numInputRows.toDouble, p.durationMs.get("triggerExecution").toDouble)))
    val state = data.flatMap(_.stateOperators.headOption)
    Map(
      "stream.batches" -> data.size.toDouble,
      "stream.rows_per_batch.p50" -> Stats.p50(data.map(_.numInputRows.toDouble)),
      "stream.trigger_ms.p50" -> phase("triggerExecution"),
      "stream.latest_offset_ms.p50" -> phase("latestOffset"),
      "stream.get_batch_ms.p50" -> phase("getBatch"),
      "stream.query_planning_ms.p50" -> phase("queryPlanning"),
      "stream.add_batch_ms.p50" -> phase("addBatch"),
      "stream.wal_commit_ms.p50" -> phase("walCommit"),
      "stream.commit_offsets_ms.p50" -> phase("commitOffsets"),
      "stream.fixed_ms_per_batch" -> fixed,
      "stream.us_per_row" -> perRow * 1000.0,
      "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms.p50" -> Stats.p50(state.map(_.commitTimeMs.toDouble)))
  }

  /** Spans for every job and stage the probe saw, attributed to the trace
    * named by the job's group (`op`) and parented under the innermost span
    * of that trace that contains the job's start. */
  def listenerSpans(tr: Tracer, probe: SparkProbe, op: SparkProbe.Job => Option[String]): Unit = {
    val byTrace = tr.spans.asScala.toSeq.groupBy(_.trace)
    probe.jobs.values.asScala.foreach { j =>
      op(j).foreach { trace =>
        val startUs = j.startMs * 1000L
        val endUs = Option(probe.jobEndMs.get(j.id)).map(_.longValue * 1000L).getOrElse(startUs)
        val parent = byTrace.getOrElse(trace, Nil)
          .filter(s => s.startUs <= startUs + 1000L && s.endUs >= startUs)
          .sortBy(_.durUs).headOption.map(_.id).getOrElse(0L)
        val jid = tr.nextId()
        tr.add(Span(trace, jid, parent, "spark.job", startUs, endUs))
        j.stageIds.flatMap(id => Option(probe.stages.get(id))).flatMap(s => Option(s.info))
          .foreach { i =>
            val s = i.submissionTime.getOrElse(j.startMs) * 1000L
            val e = i.completionTime.getOrElse(j.startMs) * 1000L
            tr.add(Span(trace, tr.nextId(), jid,
              if (hasScan(i)) "spark.stage.scan" else "spark.stage", s, e))
          }
      }
    }
  }

  /** Register the three probes on a session. */
  def attach(spark: SparkSession): (SparkProbe, PlanProbe, StreamProbe) = {
    val sp = new SparkProbe
    val pp = new PlanProbe
    val st = new StreamProbe
    spark.sparkContext.addSparkListener(sp)
    spark.listenerManager.register(pp)
    spark.streams.addListener(st)
    (sp, pp, st)
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)
}
