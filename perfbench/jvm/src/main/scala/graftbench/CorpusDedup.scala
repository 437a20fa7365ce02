package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Dedup, TextAnalysis}

/** `corpus_dedup`: one driver thread runs the near-duplicate pipeline over
  * a seeded corpus with planted near-duplicate clusters — `Dedup.exact`,
  * then `Dedup.nearDupPairs`, then `Dedup.jaccardPrefixPairs` at 0.8,
  * then `Dedup.connectedComponents`, then the best document per cluster —
  * whole passes until the run's seconds are used, and at least two. */
object CorpusDedup {
  val docs = 10000
  val warmDocs = 1000
  val threshold = 0.8
  /** Whole passes per run at least, so the median is not one sample. */
  val minPasses = 2

  private object Plans extends AdaptiveSparkPlanHelper

  final case class Pass(wallS: Double, pairs: Seq[(Long, Long)], candidates: Long,
      verified: Long, kept: Long)

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false)))

  /** One whole pipeline pass; each public call's result is forced by its
    * own action so stage times are separable in the trace. */
  def pass(ctx: Ctx, corpus: DataFrame, tag: String): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def stage[T](name: String)(body: => T): T = {
      ctx.sc.setJobGroup(s"$tag.$name", name)
      try tr.root(s"$tag.$name", s"dedup.$name")(body) finally ctx.sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    val kept = stage("exact") {
      val groups = Dedup.exact(corpus, "doc_id", "text")
      val k = corpus.join(groups.select(col("keep_id").as("doc_id")), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      k.count()
      k
    }
    val near = stage("minhash_pairs") {
      Dedup.nearDupPairs(kept, "doc_id", "text", threshold).select("doc_a", "doc_b").collect()
    }
    val (prefix, candidates) = stage("prefix_pairs") {
      val pp = Dedup.jaccardPrefixPairs(kept, "doc_id", "text", threshold = threshold)
        .select("doc_a", "doc_b")
      val rows = pp.collect()
      val cand = Plans.collect(pp.queryExecution.executedPlan) {
        case j: BaseJoinExec if j.condition.isDefined => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      (rows, cand)
    }
    val pairs = (near ++ prefix).map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val cc = stage("components") {
      val edges = spark.createDataFrame(pairs.map { case (a, b) => Row(a, b) }.asJava,
        StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))
      Dedup.connectedComponents(edges, "doc_a", "doc_b")
    }
    val best = stage("keep_best") {
      val member = kept.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("canon_id"), col("doc_id")).as("canon_id"))
      val q = kept.select(col("doc_id"),
        TextAnalysis.qualityScoreFromSignals(TextAnalysis.signals(col("text"))).as("quality"))
      member.join(q, "doc_id").groupBy(col("canon_id"))
        .agg(max(struct(col("quality"), col("doc_id"))).as("m"))
        .select(col("canon_id"), col("m.doc_id").as("keep_id")).collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.heap.checkpoint()
    spark.catalog.clearCache()
    Pass(wall, pairs, candidates, prefix.length.toLong, best.length.toLong)
  }

  def corpusFrame(ctx: Ctx, rows: Array[(Long, String)]): DataFrame = {
    val rdd = ctx.sc.parallelize(rows.toSeq.map { case (i, t) => Row(i, t) }, ctx.opts.cores)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    rdd.count()
    ctx.spark.createDataFrame(rdd, schema)
  }

  def run(ctx: Ctx): Outcome = {
    val opts = ctx.opts
    val tSetup = System.nanoTime()
    var corpus: Inputs.Corpus = null
    var frame: DataFrame = null
    val reps = (1 to 3).map { _ =>
      val t = System.nanoTime()
      if (frame != null) frame.rdd.unpersist()
      corpus = Inputs.corpus(opts.seed, docs)
      frame = corpusFrame(ctx, corpus.docs)
      (System.nanoTime() - t) / 1e9
    }
    corpus.docs.foreach { case (i, t) => ctx.digest.add(s"$i\u0001$t") }

    val tWarm = System.nanoTime()
    // warm-up: one whole pass over a small corpus of its own. It compiles
    // every stage's generated code; the first measured pass still runs
    // ~1.3x slower than later ones, the same way in every run
    pass(ctx, corpusFrame(ctx, Inputs.corpus(opts.seed + 1, warmDocs).docs), "warm")
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = ctx.setupSeconds(reps, warmS)
    val setupWall = (System.nanoTime() - tSetup) / 1e9

    // measured: whole passes until the run's seconds are used
    val t0 = System.nanoTime()
    val tStartMs = System.currentTimeMillis()
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    do passes += pass(ctx, frame, s"pass${passes.size}")
    while (passes.size < minPasses || System.nanoTime() - t0 < opts.seconds * 1000000000L)
    val tEndMs = System.currentTimeMillis()
    val last = passes.last

    // checks: every reported pair's exact Jaccard ≥ threshold; every
    // planted pair at or above it (both copies surviving exact dedup) found
    val text = corpus.docs.toMap
    val sh = scala.collection.mutable.Map[Long, Set[String]]()
    def shingles(id: Long) = sh.getOrElseUpdate(id, Inputs.shingles(text(id)))
    val reported = last.pairs.toSet
    val badPairs = last.pairs.count { case (a, b) => Inputs.jaccard(shingles(a), shingles(b)) < threshold }
    val keptIds = passKeptIds(corpus)
    val mustFind = corpus.planted.filter { case (a, b) =>
      keptIds(a) && keptIds(b) && Inputs.jaccard(shingles(a), shingles(b)) >= threshold
    }
    val missed = mustFind.count(p => !reported.contains(p))

    val walls = passes.map(_.wallS * 1000.0)
    val notes = Seq(ctx.workingSet(docs.toLong, corpus.docs),
      f"corpus_dedup: $docs docs, ${passes.size} passes, ${last.pairs.size} pairs, " +
      s"${mustFind.size} planted pairs >= $threshold, ${last.kept} kept; set-up wall ${"%.2f".format(setupWall)} s, " +
      s"generate+register ${reps.map(x => "%.2f".format(x)).mkString("/")} s, warm-up ${"%.2f".format(warmS)} s") ++
      (if (badPairs > 0) Seq(s"$badPairs reported pairs below the threshold") else Nil) ++
      (if (missed > 0) Seq(s"$missed planted pairs not found") else Nil)
    val e2e = Map(
      "throughput_per_s" -> docs / (Stats.p50(walls) / 1000.0),
      "latency_p50_ms" -> Stats.p50(walls),
      "latency_p90_ms" -> Stats.pct(walls, 0.9),
      "setup_s" -> setupS)

    val layers = ctx.probes match {
      case None => Map.empty[String, Double]
      case Some((sp, pp, _)) =>
        Layers.drain(ctx.sc)
        ctx.jobTrace = j => Some(j.group).filter(_.startsWith("pass"))
        val (exec, _) = Layers.executor(sp, passes.size, ctx.jobTrace)
        val phases = pp.within(tStartMs, tEndMs)
        def stageS(n: String) = Stats.p50(ctx.tracer.durations(s"dedup.$n", _.startsWith("pass"))) / 1e6
        exec ++ Layers.planning(phases) ++ Map(
          "dedup.exact_s" -> stageS("exact"),
          "dedup.minhash_pairs_s" -> stageS("minhash_pairs"),
          "dedup.prefix_pairs_s" -> stageS("prefix_pairs"),
          "dedup.components_s" -> stageS("components"),
          "dedup.candidate_pairs" -> last.candidates.toDouble,
          "dedup.verified_pairs" -> last.verified.toDouble,
          "dedup.verify_yield" -> last.verified.toDouble / last.candidates)
    }
    Outcome(passes.size.toLong + last.pairs.size + mustFind.size, badPairs.toLong + missed, e2e, layers, notes)
  }

  /** Documents that survive exact dedup: the minimum id of each identical
    * text, as `Dedup.exact` keeps them. */
  def passKeptIds(c: Inputs.Corpus): Set[Long] =
    c.docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
}
