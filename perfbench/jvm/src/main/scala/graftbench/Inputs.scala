package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is a pure function of the seed, so
  * the same seed gives byte-identical inputs (and the same input hash). */
object Inputs {

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  /** Skewed draw in [0, n): the square of a uniform puts about 30% of the
    * mass on the lowest tenth of the range (hot keys). */
  def skewed(r: SplittableRandom, n: Long): Long =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 2.0)).toLong)

  // ---- store_pushdown: TPC-H-shaped orders / lineitem / customer ----

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))

  val statuses: Array[String] = Array("F", "O", "P")
  val priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val flags: Array[String] = Array("A", "N", "R")

  /** TPC-H order keys are sparse: 8 used keys in every 32. */
  def orderKey(i: Int): Long = (i / 8).toLong * 32L + (i % 8) + 1L

  final case class Store(lineitem: Array[Row], orders: Array[Row], customer: Array[Row]) {
    def maxOrderKey: Long = orderKey(orders.length - 1)
  }

  /** sf0.1-sized tables: 150,000 orders of 1–7 lines (~600,000 lineitem
    * rows) over 15,000 customers; order → customer is skewed. */
  def store(seed: Long, nOrders: Int = 150000, nCustomers: Int = 15000): Store = {
    val r = new SplittableRandom(seed * 7919L + 1L)
    val customer = Array.tabulate(nCustomers) { i =>
      Row(i + 1L, f"Customer#${i + 1}%09d", money(r, -999.99, 9999.99),
        segments(r.nextInt(segments.length)))
    }
    val li = Array.newBuilder[Row]
    val orders = Array.tabulate(nOrders) { i =>
      val ok = orderKey(i)
      val lines = 1 + r.nextInt(7)
      var total = 0.0
      var ln = 1
      while (ln <= lines) {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * money(r, 900.0, 2100.0) * 100.0) / 100.0
        total += price
        li += Row(ok, ln, qty, price, flags(r.nextInt(flags.length)))
        ln += 1
      }
      Row(ok, 1L + skewed(r, nCustomers), statuses(r.nextInt(statuses.length)),
        math.round(total * 100.0) / 100.0, priorities(r.nextInt(priorities.length)))
    }
    Store(li.result(), orders, customer)
  }

  // ---- eventlog_tail: a keyed event log ----

  val eventSchema: StructType = StructType(Seq(
    StructField("pkey", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("amount_cents", LongType, nullable = false)))

  val eventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")

  /** Event source: users are skewed; each user's events live in one
    * partition key (`pkey`, like a persistence id), and `seq` is the
    * event's rank within its key, continuing across calls. */
  final class EventGen(seed: Long, val users: Int, val keys: Int) {
    private val r = new SplittableRandom(seed * 31L + 17L)
    private val nextSeq = Array.fill(keys)(0L)
    def next(): Row = {
      val u = skewed(r, users)
      val k = (u % keys).toInt
      val s = nextSeq(k)
      nextSeq(k) += 1
      Row(s"p$k", s, u, eventTypes(r.nextInt(eventTypes.length)), 1L + r.nextInt(100000))
    }
    def take(n: Int): Array[Row] = Array.fill(n)(next())
  }

  // ---- corpus_dedup: documents with planted near-duplicates ----

  /** The sf0.1 `documents` vocabulary and its word counts (30 near-uniform
    * head words and one rare one); lengths are uniform in 10–100 words. */
  val vocab: Array[(String, Int)] = Array(
    "a" -> 8877, "agg" -> 8912, "batch" -> 8829, "big" -> 9057, "column" -> 9127,
    "customer" -> 9017, "data" -> 9104, "dup" -> 255, "fast" -> 8926, "filter" -> 9063,
    "group" -> 9040, "hash" -> 9024, "join" -> 9080, "key" -> 8893, "line" -> 8951,
    "merge" -> 9157, "order" -> 8971, "part" -> 8929, "query" -> 8881, "row" -> 8925,
    "scan" -> 8863, "slow" -> 8960, "small" -> 9100, "sort" -> 9005, "spark" -> 9182,
    "stream" -> 9117, "table" -> 9144, "the" -> 8925, "value" -> 9112, "vector" -> 9119,
    "window" -> 9159)
  val sourceDocs = 5000
  val minWords = 10
  val maxWords = 100

  final case class Corpus(docs: Array[(Long, String)], planted: Seq[(Long, Long)])

  /** `n` documents drawn like GenScale draws them at factor n/5000: head
    * words at their measured frequencies plus Heaps-law tail types
    * (V0·(√factor − 1) of them, each near the mean head-word frequency).
    * Then about 4% of documents get 1–2 near-duplicates, each word replaced
    * with a per-copy edit rate drawn from 0–6%, and about 1% get an exact
    * copy. `planted` lists every (original, copy) and (copy, copy) pair. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed * 104729L + 3L)
    val total = vocab.map(_._2).sum.toDouble
    val cum = vocab.scanLeft(0.0)(_ + _._2 / total).tail
    val factor = n.toDouble / sourceDocs
    val tailTypes = math.max(0, math.round(vocab.length * (math.sqrt(factor) - 1.0)).toInt)
    val tailMass = if (tailTypes == 0) 0.0 else tailTypes / (vocab.length * factor)
    def word(): String = {
      val u = r.nextDouble()
      if (u < tailMass) s"heaps${r.nextInt(tailTypes)}"
      else {
        val v = (u - tailMass) / (1.0 - tailMass)
        var i = 0
        while (i < cum.length - 1 && v >= cum(i)) i += 1
        vocab(i)._1
      }
    }
    def fresh(): Array[String] = Array.fill(minWords + r.nextInt(maxWords - minWords + 1))(word())
    val texts = new scala.collection.mutable.ArrayBuffer[Array[String]](n)
    val planted = Seq.newBuilder[(Long, Long)]
    while (texts.size < n) {
      val base = fresh()
      val id0 = texts.size.toLong
      texts += base
      val u = r.nextDouble()
      if (u < 0.04) {
        val copies = (0 until 1 + r.nextInt(2)).map { _ =>
          val rate = r.nextDouble() * 0.06
          texts += base.map(w => if (r.nextDouble() < rate) word() else w)
          texts.size - 1L
        }
        val ids = id0 +: copies
        for (a <- ids; b <- ids if a < b) planted += a -> b
      } else if (u < 0.05) {
        texts += base.clone()
        planted += id0 -> (texts.size - 1L)
      }
    }
    Corpus(texts.iterator.take(n).zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toArray,
      planted.result().filter { case (a, b) => a < n && b < n })
  }

  /** Distinct word 3-shingles of a text, as `TextOps.shingles` defines
    * them (single-space split, trailing empties kept). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < k) Set.empty else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size.toDouble
}
