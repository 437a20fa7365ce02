package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.mql.MqlParser
import graft.sources.mem.MemStore
import graft.streaming.Stateful
import graft.streaming.Stateful.KeyedCount

/** `eventlog_tail`: a keyed event log consumed as a partitioned stream
  * (per-key offsets from a seeded start offset, bounded micro-batches)
  * into `Stateful.runningTotals` per user and a `foreachBatch` sink. The
  * replay phase drains the backlog; the tail phase then appends seeded
  * events from one producer thread at a fixed rate (open loop), each
  * stamped with the time it was due. */
object EventlogTail {
  val keys = 8
  val users = 1500
  val logRows = 100000
  val maxRowsPerTrigger = 10000
  val appendsPerSecond = 40
  val eventsPerAppend = 50
  val replayDeadlineS = 60
  val drainDeadlineS = 30
  val warmAppends = 40
  val warmRows = 10000
  val predicate = """{"amount_cents": {"$gte": 1}}"""
  /** The tail runs as a restart of the replay query from its checkpoint
    * (offset resume) with this trigger interval, as a tailing consumer
    * would; the replay runs batches back to back. With back-to-back
    * batches the lag was ~1.5 batch times and bimodal from run to run. */
  val tailTriggerMs = 1000L

  /** One micro-batch as the sink saw it: when its output was written, and
    * each emitted user's running (events, sum). */
  final case class SinkBatch(id: Long, endNs: Long, totals: Array[(Long, Long, Double)])

  /** Sink-side state: batches in commit order and the running count of
    * events delivered. */
  final class Sink(ctx: Ctx) {
    val batches = new ConcurrentLinkedQueue[SinkBatch]()
    private val latest = mutable.Map[Long, Long]()
    @volatile var delivered = 0L
    /** Events in the log the query should deliver (replay backlog plus
      * tail appends so far); minus `delivered` at each batch end is the
      * backlog the batch left behind. */
    val available = new java.util.concurrent.atomic.AtomicLong(0L)
    val backlog = new ConcurrentLinkedQueue[java.lang.Long]()
    val fn: (Dataset[KeyedCount], Long) => Unit = (ds, id) =>
      ctx.tracer.root(s"batch-$id", "sink.foreachBatch") {
        val rows = ds.collect().map(k => (k.key, k.events, k.sum))
        val t = System.nanoTime()
        rows.foreach { case (u, n, _) =>
          delivered += n - latest.getOrElse(u, 0L)
          latest(u) = n
        }
        batches.add(SinkBatch(id, t, rows))
        backlog.add(math.max(0L, available.get - delivered))
        ()
      }
  }

  /** The streaming query: the same reader `Channel.stream(keyBy =
    * Some("pkey"))` builds (connector, startOffset, keyColumn, MQL
    * predicate), plus the bounded `maxRowsPerTrigger` read limit that
    * `Channel.stream` does not expose. Per-key (count, Σseq, Σseq²) are
    * observed on the way in for the exactly-once check. */
  def start(ctx: Ctx, coll: String, startOffset: Long, sink: Sink, name: String,
      triggerMs: Long = 0L): StreamingQuery = {
    val spark = ctx.spark
    import spark.implicits._
    val src = spark.readStream.format("graft.sources.mem.GraftMemSource")
      .option("collection", coll)
      .option("startOffset", startOffset.toString)
      .option("keyColumn", "pkey")
      .option("maxRowsPerTrigger", maxRowsPerTrigger.toString)
      .load()
      .where(MqlParser.parse(predicate).column)
    val observed = (0 until keys).flatMap { k =>
      val on = col("pkey") === s"p$k"
      Seq(count(when(on, 1)).as(s"n$k"), sum(when(on, col("seq"))).as(s"s$k"),
        sum(when(on, col("seq") * col("seq"))).as(s"q$k"))
    }
    val ds = src.observe(name, observed.head, observed.tail: _*)
      .select(col("user_id"), col("amount_cents")).as[(Long, Long)]
    Stateful.runningTotals[(Long, Long)](ds, _._1, _._2.toDouble)
      .writeStream.queryName(name)
      .option("checkpointLocation", ctx.opts.work.resolve(s"ckpt-$name").toString)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch(sink.fn)
      .start()
  }

  /** Wait until `done` holds and the query has committed every batch the
    * sink has seen (so stopping it loses no committed work), or until the
    * deadline passes or the query fails. */
  private def await(deadlineNs: Long, q: StreamingQuery, sink: Sink)(done: => Boolean): Boolean = {
    def committed = sink.batches.isEmpty ||
      Option(q.lastProgress).exists(_.batchId >= sink.batches.asScala.last.id)
    while (!(done && committed) && System.nanoTime() < deadlineNs && q.exception.isEmpty) Thread.sleep(2)
    done && committed
  }

  def register(coll: String, rows: Array[Row], ctx: Ctx): Unit =
    MemStore.register(coll, ctx.spark.createDataFrame(rows.toSeq.asJava, Inputs.eventSchema))

  def append(coll: String, rows: Array[Row], ctx: Ctx): Unit =
    MemStore.append(coll, ctx.spark.createDataFrame(rows.toSeq.asJava, Inputs.eventSchema))

  def run(ctx: Ctx): Outcome = {
    val opts = ctx.opts
    val coll = "events_log"
    val tSetup = System.nanoTime()
    val streamProbe = ctx.probes.map(_._3).getOrElse {
      val p = new StreamProbe; ctx.spark.streams.addListener(p); p
    }
    var gen: Inputs.EventGen = null
    var log: Array[Row] = null
    val reps = (1 to 3).map { _ =>
      val t = System.nanoTime()
      gen = new Inputs.EventGen(opts.seed, users, keys)
      log = gen.take(logRows)
      register(coll, log, ctx)
      (System.nanoTime() - t) / 1e9
    }
    val startOffset = new java.util.SplittableRandom(opts.seed).nextInt(501).toLong
    val nTail = appendsPerSecond * opts.seconds
    val tail = Array.fill(nTail)(gen.take(eventsPerAppend))
    ctx.digest.add(s"startOffset=$startOffset rate=${appendsPerSecond * eventsPerAppend}/s")
    (log.iterator ++ tail.iterator.flatten).foreach(r => ctx.digest.add(Stats.canon(r.toSeq)))

    // warm-up: the same pipeline over a small log of its own
    val tWarm = System.nanoTime()
    val wgen = new Inputs.EventGen(opts.seed + 1, users, keys)
    register("events_warm", wgen.take(warmRows), ctx)
    val wsink = new Sink(ctx)
    val wq = start(ctx, "events_warm", 0L, wsink, "warm")
    await(System.nanoTime() + replayDeadlineS * 1000000000L, wq, wsink)(wsink.delivered >= warmRows)
    (0 until warmAppends).foreach { _ => append("events_warm", wgen.take(eventsPerAppend), ctx) }
    await(System.nanoTime() + drainDeadlineS * 1000000000L, wq, wsink)(
      wsink.delivered >= warmRows + warmAppends * eventsPerAppend)
    wq.stop()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = ctx.setupSeconds(reps, warmS)
    val setupWall = (System.nanoTime() - tSetup) / 1e9

    // replay: drain the backlog from the seeded start offset
    val replayRows = log.count(_.getLong(1) >= startOffset).toLong
    val sink = new Sink(ctx)
    val t0 = System.nanoTime()
    val tStartMs = System.currentTimeMillis()
    sink.available.set(replayRows)
    val q = start(ctx, coll, startOffset, sink, "replay")
    val replayOk = await(t0 + replayDeadlineS * 1000000000L, q, sink)(sink.delivered >= replayRows)
    // drain rate after the first batch: the first one also pays query
    // start-up (planning, codegen, state-store creation), reported in the
    // notes and as stream metrics
    val replayBatches = sink.batches.asScala.toSeq
    val firstS = replayBatches.headOption.map(b => (b.endNs - t0) / 1e9).getOrElse(0.0)
    val firstRows = replayBatches.headOption.map(_.totals.map(_._2).sum).getOrElse(0L)
    val replayS = replayBatches.lastOption.map(b => (b.endNs - t0) / 1e9).getOrElse(0.0)

    // tail: open-loop appends at a fixed rate, timed from when each was due
    val intervalNs = 1000000000L / appendsPerSecond
    val due = new Array[Long](nTail)
    val appendMs = new Array[Double](nTail)
    val lateMs = new Array[Double](nTail)
    var appendFailures = 0
    q.stop()
    val qt = start(ctx, coll, startOffset, sink, "replay", tailTriggerMs)
    val resumeOk = replayOk && {
      val deadline = System.nanoTime() + drainDeadlineS * 1000000000L
      while (!Option(qt.status.message).exists(_.startsWith("Waiting")) && System.nanoTime() < deadline &&
        qt.exception.isEmpty) Thread.sleep(2)
      Option(qt.status.message).exists(_.startsWith("Waiting"))
    }
    val tTail = System.nanoTime() + 20000000L
    if (resumeOk) {
      val producer = new Thread(() => {
        var i = 0
        while (i < nTail) {
          due(i) = tTail + i * intervalNs
          var now = System.nanoTime()
          while (now < due(i)) { java.util.concurrent.locks.LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
          lateMs(i) = (now - due(i)) / 1e6
          try {
            ctx.tracer.root(s"append-$i", "mem.append")(append(coll, tail(i), ctx))
            sink.available.addAndGet(eventsPerAppend)
          }
          catch { case _: Throwable => appendFailures += 1 }
          appendMs(i) = (System.nanoTime() - now) / 1e6
          i += 1
        }
      }, "eventlog-producer")
      producer.start()
      producer.join()
    }
    val tailTotal = replayRows + nTail.toLong * eventsPerAppend
    val drainOk = resumeOk && await(System.nanoTime() + drainDeadlineS * 1000000000L, qt, sink)(sink.delivered >= tailTotal)
    val tEndMs = System.currentTimeMillis()
    ctx.heap.checkpoint()
    qt.stop()
    val runIds = Set(q.runId, qt.runId)
    val queryError = (q.exception ++ qt.exception).headOption.map(_.toString)

    val tChecks = System.nanoTime()
    // lag: the k-th event of a user is emitted by the first batch whose
    // running count for that user reaches k
    val batches = sink.batches.asScala.toSeq
    val perUser = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
    batches.foreach(b => b.totals.foreach { case (u, n, _) =>
      perUser.getOrElseUpdate(u, mutable.ArrayBuffer()) += (n -> b.endNs) })
    val seen = mutable.Map[Long, Long]()
    log.foreach(r => if (r.getLong(1) >= startOffset) seen(r.getLong(2)) = seen.getOrElse(r.getLong(2), 0L) + 1)
    val lags = mutable.ArrayBuffer[Double]()
    var missing = 0L
    if (resumeOk) tail.indices.foreach { i =>
      tail(i).foreach { r =>
        val u = r.getLong(2)
        val k = seen.getOrElse(u, 0L) + 1
        seen(u) = k
        perUser.get(u).flatMap(_.find(_._1 >= k)) match {
          case Some((_, t)) => lags += (t - due(i)) / 1e6
          case None => missing += 1
        }
      }
    }

    // exactly-once per key: observed (count, Σseq, Σseq²) over every batch
    // against the ranks [startOffset, n_k) the key holds at the end
    Layers.drain(ctx.sc)
    val progress = streamProbe.progress.asScala.toSeq.filter(p => runIds.contains(p.runId))
    def observedSum(name: String): Long = progress.flatMap(p => Option(p.observedMetrics.get("replay")))
      .map(r => Option(r.getAs[Any](name)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)).sum
    val finalLog = MemStore.rowsOf(coll)
    val keyChecks = (0 until keys).map { k =>
      val n = finalLog.count(_.getString(0) == s"p$k").toLong
      val ranks = startOffset until n
      val exp = (ranks.size.toLong, ranks.sum, ranks.map(x => x * x).sum)
      val got = (observedSum(s"n$k"), observedSum(s"s$k"), observedSum(s"q$k"))
      if (exp != got) System.err.println(s"key p$k expected $exp observed $got over ${progress.size} progress reports")
      exp == got
    }
    // final running totals against a batch groupBy over the appended events
    val finalTotals = mutable.Map[Long, (Long, Double)]()
    batches.foreach(_.totals.foreach { case (u, n, s) => finalTotals(u) = (n, s) })
    val truth = ctx.spark.read.format("graft.sources.mem.GraftMemSource").option("collection", coll).load()
      .where(col("seq") >= startOffset).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("s")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2).toDouble)).toMap
    val userChecks = (truth.keySet ++ finalTotals.keySet).toSeq.map(u => truth.get(u) == finalTotals.get(u))

    val attempted = 3L + nTail + keys + userChecks.size
    val failed = Seq(!replayOk, !resumeOk, !drainOk).count(identity) + appendFailures +
      keyChecks.count(!_) + userChecks.count(!_)
    val lagAll = lags.toSeq ++ Seq.fill(missing.toInt)(drainDeadlineS * 1000.0)
    val notes = Seq(ctx.workingSet(finalLog.length.toLong, finalLog),
      f"eventlog_tail: replay $replayRows rows in $replayS%.2f s (first batch $firstRows rows in $firstS%.2f s); tail ${nTail * eventsPerAppend} events; " +
      s"${batches.size} batches; $missing events never emitted; set-up wall ${"%.2f".format(setupWall)} s, " +
      s"generate+register ${reps.map(x => "%.2f".format(x)).mkString("/")} s, warm-up ${"%.2f".format(warmS)} s, " +
      s"checks ${"%.2f".format((System.nanoTime() - tChecks) / 1e9)} s") ++
      queryError.map(e => s"stream failed: $e") ++
      (if (keyChecks.exists(!_)) Seq(s"exactly-once check failed on ${keyChecks.count(!_)} keys") else Nil) ++
      (if (userChecks.exists(!_)) Seq(s"running totals differ from groupBy on ${userChecks.count(!_)} users") else Nil)
    val e2e = Map(
      "throughput_per_s" -> (replayRows - firstRows) / (replayS - firstS),
      "latency_p50_ms" -> Stats.p50(lagAll),
      "latency_p90_ms" -> Stats.pct(lagAll, 0.9),
      "setup_s" -> setupS)

    val layers = ctx.probes match {
      case None => Map.empty[String, Double]
      case Some((sp, pp, _)) =>
        val data = progress.filter(_.numInputRows > 0)
        val groups = runIds.map(_.toString)
        ctx.jobTrace = j => if (groups.contains(j.group) && j.batch.nonEmpty) Some(s"batch-${j.batch}") else None
        // micro-batch root spans from progress, with the sink span as child
        val tr = ctx.tracer
        val micro = progress.map { p =>
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
          val sp = Span(s"batch-${p.batchId}", tr.nextId(), 0L, "stream.microbatch", s,
            s + p.durationMs.get("triggerExecution").longValue * 1000L)
          tr.add(sp); sp
        }.map(s => s.trace -> s.id).toMap
        val sinks = tr.spans.asScala.filter(s => s.name == "sink.foreachBatch" && micro.contains(s.trace)).toSeq
        sinks.foreach { s => tr.spans.remove(s); tr.add(s.copy(parent = micro(s.trace))) }
        val (exec, _) = Layers.executor(sp, data.size, ctx.jobTrace)
        val tenth = math.max(1, nTail / 10)
        val phases = pp.within(tStartMs, tEndMs)
        exec ++ Layers.stream(progress) ++ Layers.planning(phases) ++ Map(
          "stream.backlog_rows.max" -> sink.backlog.asScala.map(_.toDouble).maxOption.getOrElse(0.0),
          "mem.append_ms.p50" -> Stats.p50(appendMs),
          "mem.append_ms.p99" -> Stats.pct(appendMs, 0.99),
          "mem.append_growth" -> Stats.p50(appendMs.takeRight(tenth)) / Stats.p50(appendMs.take(tenth)),
          "gen.late_ms.p99" -> Stats.pct(lateMs, 0.99))
    }
    Outcome(attempted, failed, e2e, layers, notes)
  }
}
