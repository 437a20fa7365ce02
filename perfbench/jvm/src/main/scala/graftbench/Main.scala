package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. `work` is a fresh scratch directory
  * inside the checkout (Spark local dirs, checkpoints); `out` keeps the
  * per-run report and, for traced runs, the span file. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    out: Path, work: Path) {
  def cores: Int = Runtime.getRuntime.availableProcessors()
}

/** What a workload hands back: operations attempted and failed, the
  * end-to-end metrics (by name) and, in a traced run, the per-layer ones. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, Double],
    layers: Map[String, Double], notes: Seq[String] = Nil)

/** Shared run context: the session, the tracer and the probes (present in
  * the traced run only), the input digest and the set-up clock. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val sessionStartS: Double) {
  val probes: Option[(SparkProbe, PlanProbe, StreamProbe)] =
    if (opts.trace) Some(Layers.attach(spark)) else None
  val digest = new Stats.Digest
  val heap = new HeapWatch
  def sc: SparkContext = spark.sparkContext

  /** Maps a Spark job to the trace (operation) it belongs to; None for jobs
    * outside the measured phase. Set by the workload. */
  @volatile var jobTrace: SparkProbe.Job => Option[String] = _ => None

  /** One-line size of a workload's working set: rows, estimated bytes,
    * and bytes as a share of the driver heap. */
  def workingSet(rows: Long, data: AnyRef): String = {
    val bytes = org.apache.spark.util.SizeEstimator.estimate(data)
    f"working set $rows rows, ${bytes / 1048576.0}%.1f MB (${100.0 * bytes / Runtime.getRuntime.maxMemory}%.1f%% of heap)"
  }

  /** `setup_s`: session start plus the median of `reps` repetitions of
    * input generation and registration, plus warm-up. */
  def setupSeconds(reps: Seq[Double], warmupS: Double): Double =
    sessionStartS + Stats.p50(reps) + warmupS
}

/** Runs `body` on a worker thread under a deadline and a job group, so a
  * request whose Spark jobs or store connections stall is cancelled and
  * counted as failed instead of hanging the run. */
final class Deadlines(sc: SparkContext, name: String) {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, name)
      t.setDaemon(true)
      t
    }
  })

  def run[T](group: String, ms: Long)(body: => T): Either[Throwable, T] = {
    val f = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try Right(f.get(ms, TimeUnit.MILLISECONDS))
    catch {
      case e: TimeoutException =>
        sc.cancelJobGroup(group)
        f.cancel(true)
        Left(e)
      case e: ExecutionException => Left(e.getCause)
    }
  }

  def shutdown(): Unit = pool.shutdownNow()
}

/** `peak_heap_mb`: heap still in use after a full collection, summed
  * over the heap memory pools' collection usage, at the checkpoints a
  * workload marks (the end of its measured phase, while its working set is
  * live). Young-collection samples are not used: how much garbage they
  * leave behind depends on GC timing, not on the program. */
final class HeapWatch {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
  @volatile private var peak = 0L
  def checkpoint(): Unit = {
    System.gc()
    val used = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    if (used > peak) peak = used
  }
  def peakMb: Double = peak / 1048576.0
}

object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "store_pushdown" -> StorePushdown.run,
    "eventlog_tail" -> EventlogTail.run,
    "corpus_dedup" -> CorpusDedup.run)

  /** Every end-to-end metric every run prints, with its unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "setup_s" -> "s", "peak_heap_mb" -> "MB")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${workloads.keys.toSeq.sorted.mkString("|")}> " +
      "--seed <n> --seconds <n> --trace <0|1> --out <dir> --work <dir>")
    sys.exit(2)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    val w = get("workload")
    if (!workloads.contains(w)) usage(s"unknown workload '$w'")
    Opts(w, get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("out")), Paths.get(get("work")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    Files.createDirectories(opts.out)
    Files.createDirectories(opts.work)
    val t0 = System.nanoTime()
    val spark = graft.SparkEntry.sessionBuilder(SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.local.dir", opts.work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", opts.work.resolve("ckpt").toString)
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opts, new Tracer(opts.trace), (System.nanoTime() - t0) / 1e9)
    val code =
      try {
        val o = workloads(opts.workload)(ctx)
        report(ctx, o.copy(endToEnd = o.endToEnd + ("peak_heap_mb" -> ctx.heap.peakMb)))
      } finally {
        spark.stop()
      }
    sys.exit(code)
  }

  /** Print the input hash and the result line (last line of stdout), and
    * keep the full report, spans and tracing overhead under `out`. */
  private def report(ctx: Ctx, o: Outcome): Int = {
    import Stats.Json._
    val opts = ctx.opts
    val inputs = ctx.digest.hex
    val printed =
      if (opts.trace) Layers.names.map { case (n, u) => (n, o.layers.getOrElse(n, 0.0), u) }
      else endToEnd.map { case (n, u) => (n, o.endToEnd(n), u) }
    val stem = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    val reportPath = opts.out.resolve(s"$stem.json")
    val untraced = opts.out.resolve(s"${opts.workload}-seed${opts.seed}-trace0.json")
    // tracing overhead: this traced run's end-to-end values minus the most
    // recent untraced run's on the same workload and seed
    val overhead =
      if (!opts.trace || !Files.exists(untraced)) Nil
      else {
        val prev = new String(Files.readAllBytes(untraced))
        endToEnd.map(_._1).flatMap { n =>
          ("\"" + java.util.regex.Pattern.quote(n) + "\": ([-0-9.eE]+)").r.findFirstMatchIn(
            prev.substring(prev.indexOf("\"end_to_end\""))).map(m => n -> (o.endToEnd.getOrElse(n, 0.0) - m.group(1).toDouble))
        }
      }
    if (opts.trace) {
      ctx.probes.foreach(p => Layers.listenerSpans(ctx.tracer, p._1, ctx.jobTrace))
      ctx.tracer.write(opts.out.resolve(s"$stem.spans.jsonl"))
    }
    Files.write(reportPath, java.util.List.of(obj(Seq(
      "workload" -> str(opts.workload), "seed" -> opts.seed.toString,
      "seconds" -> opts.seconds.toString, "trace" -> opts.trace.toString,
      "input_sha256" -> str(inputs),
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "end_to_end" -> obj(o.endToEnd.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(o.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "tracing_overhead" -> obj(overhead.map { case (k, v) => k -> num(v) }),
      "notes" -> o.notes.map(str).mkString("[", ", ", "]")))))
    o.notes.foreach(n => System.err.println(s"perfbench: $n"))
    println(s"# inputs ${opts.workload} seed=${opts.seed} sha256=$inputs")
    overhead.foreach { case (k, v) => println(s"# tracing overhead $k ${num(v)}") }
    println(obj(Seq(
      "correct" -> (o.failed == 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> obj(printed.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }))))
    System.out.flush()
    0
  }
}
