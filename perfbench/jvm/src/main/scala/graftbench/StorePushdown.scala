package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.channel.Channel
import graft.dsl.{Order, Q}
import graft.dsl.Dsl._
import graft.operators.Joins
import graft.sources.mem.{MemStore, MemWireServer}

/** `store_pushdown`: a closed loop of 2 client threads issuing a seeded mix
  * of small, selective pushdown queries against sf0.1-sized collections —
  * MQL pages through `Channel.create` (cursor TopN + offset pushdown),
  * DSL range scans and grouped partial aggregates over the loopback wire
  * client, and `Joins.inner` of a DSL-filtered orders range against
  * lineitem. */
object StorePushdown {
  val clients = 2
  val deadlineMs = 10000L
  /** Every 16th request of each client is re-computed in plain Scala. */
  val checkEvery = 16
  /** Request kinds per block of 20: every block holds exactly this mix, in
    * a seeded order, so each run's mix matches the nominal one. */
  val block: Seq[(String, Int)] = Seq("mql_page" -> 7, "wire_scan" -> 6, "wire_agg" -> 4, "join" -> 3)

  sealed trait Req { def id: String; def kind: String }
  final case class MqlPage(id: String, onOrders: Boolean, eq: String, lo: Double, hi: Double,
      skip: Int, limit: Int) extends Req {
    def kind = "mql_page"
    def collection: String = if (onOrders) "orders" else "customer"
    private def num(x: Double) = java.math.BigDecimal.valueOf(x).toPlainString
    def mql: String =
      if (onOrders)
        s"""{"o_orderstatus": "$eq", "o_totalprice": {"$$gte": ${num(lo)}, "$$lt": ${num(hi)}}}"""
      else
        s"""{"c_mktsegment": "$eq", "c_acctbal": {"$$gte": ${num(lo)}, "$$lt": ${num(hi)}}}"""
  }
  final case class WireScan(id: String, lo: Long, hi: Long) extends Req { def kind = "wire_scan" }
  final case class WireAgg(id: String, lo: Long, hi: Long) extends Req { def kind = "wire_agg" }
  final case class JoinReq(id: String, lo: Long, hi: Long) extends Req { def kind = "join" }

  /** A request of the given kind with seeded parameters. Key ranges start at a
    * skewed (hot-low) position; scan selectivity is log-uniform in
    * 0.1%–5% of lineitem, aggregate ranges 1%–20%, join ranges 0.05%–0.5%
    * of orders. */
  /** A client's seeded request stream. Within a block each kind's size
    * parameter is stratified — its n requests draw from the n equal
    * quantile bands of the size distribution — so the work in a block,
    * not just its mix, is the same from seed to seed. */
  final class Stream(seed: Long, client: String, maxKey: Long) {
    private val r = new SplittableRandom(seed)
    private var todo: List[(String, Double)] = Nil
    private var i = 0
    private def shuffle[T](a: Array[T]): Array[T] = {
      for (j <- a.indices.reverse) { val x = r.nextInt(j + 1); val t = a(j); a(j) = a(x); a(x) = t }
      a
    }
    def next(): Req = {
      if (todo.isEmpty)
        todo = shuffle(block.flatMap { case (k, n) =>
          shuffle(Array.range(0, n)).map(band => k -> (band + r.nextDouble()) / n)
        }.toArray).toList
      val (k, u) = todo.head
      todo = todo.tail
      i += 1
      request(r, k, u, s"$client-${i - 1}", maxKey)
    }
  }

  /** A request of the given kind; `u` in [0, 1) picks its size (range
    * width or page window) from the kind's size distribution. */
  def request(r: SplittableRandom, kind: String, u: Double, id: String, maxKey: Long): Req = {
    def range(lo: Double, hi: Double): (Long, Long) = {
      val width = math.max(1L, (maxKey * math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))).toLong)
      val start = 1L + Inputs.skewed(r, math.max(1L, maxKey - width))
      (start, start + width)
    }
    kind match {
      case "mql_page" =>
        val onOrders = r.nextBoolean()
        if (onOrders) {
          val lo = 1000.0 + r.nextInt(300000)
          MqlPage(id, onOrders = true, Inputs.statuses(r.nextInt(3)), lo, lo + 20000.0 + math.floor(u * 200000),
            r.nextInt(50), 10 + (u * 91).toInt)
        } else {
          val lo = -999.0 + r.nextInt(9000)
          MqlPage(id, onOrders = false, Inputs.segments(r.nextInt(5)), lo, lo + 500.0 + math.floor(u * 4000),
            r.nextInt(50), 10 + (u * 91).toInt)
        }
      case "wire_scan" => val (a, b) = range(0.001, 0.05); WireScan(id, a, b)
      case "wire_agg" => val (a, b) = range(0.01, 0.2); WireAgg(id, a, b)
      case _ => val (a, b) = range(0.0005, 0.005); JoinReq(id, a, b)
    }
  }

  /** Build, plan and run one request; returns its rows. */
  def execute(ctx: Ctx, port: Int, req: Req, qeIds: ConcurrentLinkedQueue[(String, Long)]): Array[Row] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def load(coll: String, wire: Boolean): DataFrame = tr.span("connector.load") {
      val r = spark.read.format("graft.sources.mem.GraftMemSource").option("collection", coll)
      (if (wire) r.option("client", "wire").option("port", port.toString) else r).load()
    }
    def action(df: DataFrame): Array[Row] = tr.span("action") {
      val rows = df.collect()
      qeIds.add(req.id -> df.queryExecution.id)
      rows
    }
    req match {
      case m: MqlPage =>
        val (sortCol, keyCol) = if (m.onOrders) ("o_totalprice", "o_orderkey") else ("c_acctbal", "c_custkey")
        action(tr.span("channel.build") {
          Channel.create(spark, "") { b =>
            b.memCollection(m.collection)
            tr.span("mql.parse")(b.q(m.mql))
            b.sort(sortCol -> Order.Descending, keyCol -> Order.Ascending)
            b.skip(m.skip)
            b.limit(m.limit)
          }
        })
      case w: WireScan =>
        val src = load("lineitem", wire = true)
        action(tr.span("channel.build") {
          Q(pred = Some("l_orderkey" $gte w.lo $lt w.hi),
            cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))(src)
        })
      case a: WireAgg =>
        val src = load("lineitem", wire = true)
        action(tr.span("channel.build") {
          Q(pred = Some("l_orderkey" $gte a.lo $lt a.hi))(src)
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n"), sum(col("l_linenumber")).as("sum_ln"),
              min(col("l_orderkey")).as("min_ok"), max(col("l_quantity")).as("max_qty"))
        })
      case j: JoinReq =>
        val o = load("orders", wire = false)
        val l = load("lineitem", wire = false)
        action(tr.span("channel.build") {
          Joins.inner(Q(pred = Some("o_orderkey" $gte j.lo $lt j.hi))(o), "o_orderkey", l, "l_orderkey")
            .select("o_orderkey", "o_custkey", "o_totalprice", "l_linenumber", "l_quantity")
        })
    }
  }

  /** The same answer in plain Scala over the registered rows: canonical
    * row texts, in result order for pages, sorted otherwise. */
  def expected(s: Inputs.Store, req: Req): Seq[String] = {
    def inRange(k: Long, lo: Long, hi: Long) = k >= lo && k < hi
    req match {
      case m: MqlPage =>
        val (rows, eqI, valI, keyI) = if (m.onOrders) (s.orders, 2, 3, 0) else (s.customer, 3, 2, 0)
        rows.filter(r => r.getString(eqI) == m.eq && r.getDouble(valI) >= m.lo && r.getDouble(valI) < m.hi)
          .sortBy(r => (-r.getDouble(valI), r.getLong(keyI)))
          .slice(m.skip, m.skip + m.limit).map(r => Stats.canon(r.toSeq)).toSeq
      case w: WireScan =>
        s.lineitem.filter(r => inRange(r.getLong(0), w.lo, w.hi))
          .map(r => Stats.canon(Seq[Any](r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(4)))).sorted.toSeq
      case a: WireAgg =>
        s.lineitem.filter(r => inRange(r.getLong(0), a.lo, a.hi)).groupBy(_.getString(4)).toSeq.map {
          case (f, rs) => Stats.canon(Seq[Any](f, rs.length.toLong, rs.map(_.getInt(1).toLong).sum,
            rs.map(_.getLong(0)).min, rs.map(_.getDouble(2)).max))
        }.sorted
      case j: JoinReq =>
        val os = s.orders.filter(r => inRange(r.getLong(0), j.lo, j.hi)).map(r => r.getLong(0) -> r).toMap
        s.lineitem.filter(r => os.contains(r.getLong(0))).map { l =>
          val o = os(l.getLong(0))
          Stats.canon(Seq[Any](o.getLong(0), o.getLong(1), o.getDouble(3), l.getInt(1), l.getDouble(2)))
        }.sorted.toSeq
    }
  }

  def actual(req: Req, rows: Array[Row]): Seq[String] = {
    val c = rows.map(r => Stats.canon(r.toSeq)).toSeq
    if (req.isInstanceOf[MqlPage]) c else c.sorted
  }

  final case class Done(req: Req, startNs: Long, endNs: Long, ok: Boolean, rows: Long,
      result: Option[Array[Row]], error: Option[Throwable])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val tSetup = System.nanoTime()
    // input generation and registration, repeated for a steady set-up time
    var store: Inputs.Store = null
    val reps = (1 to 3).map { _ =>
      val t = System.nanoTime()
      store = Inputs.store(opts.seed)
      MemStore.register("lineitem", spark.createDataFrame(store.lineitem.toSeq.asJava, Inputs.lineitemSchema))
      MemStore.register("orders", spark.createDataFrame(store.orders.toSeq.asJava, Inputs.ordersSchema))
      MemStore.register("customer", spark.createDataFrame(store.customer.toSeq.asJava, Inputs.customerSchema))
      (System.nanoTime() - t) / 1e9
    }
    Seq(store.lineitem, store.orders, store.customer).foreach(_.foreach(r => ctx.digest.add(Stats.canon(r.toSeq))))
    val server = MemWireServer.start()
    val port = server.port
    val maxKey = store.maxOrderKey
    val qeIds = new ConcurrentLinkedQueue[(String, Long)]()
    val dl = new Deadlines(ctx.sc, "store-client")

    // warm-up: every request kind, on both client threads
    val tWarm = System.nanoTime()
    (0 until clients).map { c =>
      val t = new Thread(() => {
        val reqs = new Stream(opts.seed * 1000L + 500L + c, s"w$c", maxKey)
        (0 until 8).foreach { _ =>
          val q = reqs.next()
          dl.run(q.id, deadlineMs)(ctx.tracer.root(q.id, s"warmup.${q.kind}")(execute(ctx, port, q, qeIds)))
        }
      })
      t.start(); t
    }.foreach(_.join())
    qeIds.clear()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = ctx.setupSeconds(reps, warmS)
    val setupWall = (System.nanoTime() - tSetup) / 1e9

    // measured phase: closed loop per client until the run's seconds are up
    def shipped(m: scala.collection.concurrent.TrieMap[String, AtomicLong]) = m.values.map(_.get).sum
    val rows0 = shipped(MemWireServer.rowsShipped)
    val bytes0 = shipped(MemWireServer.bytesShipped)
    val served = new ConcurrentLinkedQueue[java.lang.Long]()
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val end = t0 + opts.seconds * 1000000000L
    (0 until clients).map { c =>
      val t = new Thread(() => {
        val reqs = new Stream(opts.seed * 1000L + c, s"r$c", maxKey)
        var i = 0
        while (System.nanoTime() < end) {
          val req = reqs.next()
          val s = System.nanoTime()
          val res = dl.run(req.id, deadlineMs) {
            ctx.tracer.root(req.id, s"request.${req.kind}")(execute(ctx, port, req, qeIds))
          }
          val e = System.nanoTime()
          if (ctx.opts.trace) {
            val coll = req match { case m: MqlPage => m.collection; case _ => "lineitem" }
            MemStore.served.get(coll).foreach(a => served.add(a.get))
          }
          done.add(Done(req, s, e, res.isRight, res.map(_.length.toLong).getOrElse(0L),
            if (i % checkEvery == 0) res.toOption else None, res.left.toOption))
          i += 1
        }
      }, s"store-client-$c")
      t.start(); t
    }.foreach(_.join())
    val all = done.asScala.toSeq
    val measuredS = (all.map(_.endNs).max - t0) / 1e9
    ctx.heap.checkpoint()
    dl.shutdown()
    server.close()

    // output checks on the sampled requests
    val checks = all.filter(d => d.ok && d.result.isDefined)
    val mismatched = checks.filter(d => expected(store, d.req) != actual(d.req, d.result.get))
    val errors = all.filterNot(_.ok)
    val lat = all.map(d => if (d.ok) (d.endNs - d.startNs) / 1e6 else deadlineMs.toDouble)
    val okCount = all.count(_.ok)
    val notes = Seq(ctx.workingSet(store.lineitem.length + store.orders.length + store.customer.length, store),
      f"store_pushdown: ${all.size} requests (${okCount} ok) in $measuredS%.2f s, " +
      s"${checks.size} checked; set-up wall ${"%.2f".format(setupWall)} s, " +
      s"generate+register ${reps.map(x => "%.2f".format(x)).mkString("/")} s, warm-up ${"%.2f".format(warmS)} s") ++
      errors.take(3).map(d => s"request ${d.req} failed: ${d.error.map(_.toString).getOrElse("?")}") ++
      mismatched.take(3).map(d => s"request ${d.req} returned a wrong answer")
    val e2e = Map(
      "throughput_per_s" -> okCount / measuredS,
      "latency_p50_ms" -> Stats.p50(lat),
      "latency_p90_ms" -> Stats.pct(lat, 0.9),
      "setup_s" -> setupS)

    val layers = ctx.probes match {
      case None => Map.empty[String, Double]
      case Some((sp, pp, _)) =>
        Layers.drain(ctx.sc)
        val measured = all.map(_.req.id).toSet
        ctx.jobTrace = j => Some(j.group).filter(measured.contains)
        val (exec, perOp) = Layers.executor(sp, all.size, ctx.jobTrace)
        val phases = qeIds.asScala.toSeq.filter(p => measured.contains(p._1)).flatMap(p => Option(pp.byId.get(p._2)))
        val wire = all.filter(d => d.req.isInstanceOf[WireScan] || d.req.isInstanceOf[WireAgg])
        val wireRows = (shipped(MemWireServer.rowsShipped) - rows0).toDouble
        val wireBytes = (shipped(MemWireServer.bytesShipped) - bytes0).toDouble
        val joins = all.filter(_.req.isInstanceOf[JoinReq])
        def kindP50(k: String) = Stats.p50(all.filter(d => d.req.kind == k && d.ok).map(d => (d.endNs - d.startNs) / 1e6))
        exec ++ Layers.planning(phases) ++ Map(
          "mql.parse_us.p50" -> Stats.p50(ctx.tracer.durations("mql.parse", measured)),
          "channel.build_ms.p50" -> Stats.p50(ctx.tracer.durations("channel.build", measured)) / 1000.0,
          "connector.load_ms.p50" -> Stats.p50(ctx.tracer.durations("connector.load", measured)) / 1000.0,
          "wire.rows_shipped" -> wireRows / math.max(1, wire.size),
          "wire.bytes_shipped" -> wireBytes / math.max(1, wire.size),
          "wire.bytes_per_row" -> wireBytes / wireRows,
          "wire.ship_ratio" -> wireRows / math.max(1L, wire.map(_.rows).sum),
          "mem.rows_served" -> Stats.p50(served.asScala.map(_.toDouble)),
          "store.mql_page.p50_ms" -> kindP50("mql_page"),
          "store.wire_scan.p50_ms" -> kindP50("wire_scan"),
          "store.wire_agg.p50_ms" -> kindP50("wire_agg"),
          "store.join.p50_ms" -> kindP50("join"),
          "join.output_rows" -> joins.map(_.rows).sum.toDouble / math.max(1, joins.size),
          "join.shuffle_write_bytes" -> joins.flatMap(d => perOp.getOrElse(d.req.id, Nil))
            .flatMap(i => Option(i.taskMetrics)).map(_.shuffleWriteMetrics.bytesWritten).sum.toDouble /
            math.max(1, joins.size))
    }
    Outcome(all.size + checks.size, errors.size + mismatched.size, e2e, layers, notes)
  }
}
