package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{LoginEvent, LoginFailWarning, OrderEvent, OrderResult, ReceiptEvent}
import graft.streaming.{Cep, StreamDetectors}

/**
 * stream_detect: an open loop. One generator thread feeds login, order and
 * receipt events into `MemoryStream`s on a fixed schedule, whatever the
 * engine does; the login-fail CEP, order-timeout CEP and pay/receipt
 * reconcile detectors run as three concurrent queries on `local[3]`, so
 * the generator keeps a core. A result's latency runs from the time the
 * event that completed it was due to be sent to the time the sink holds
 * it. Every result is checked against the batch twins over the same events.
 */
final class StreamDetect(seed: Long, work: String) extends Workload {
  import StreamDetect._
  val cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
  /** One state partition per query: the three queries run side by side,
    * a task each, instead of queueing three tasks per stage behind each
    * other. A query then gets about 40 rather than 24 micro-batches with
    * results in a 15 s run, so the p99, which the slowest few set, rests
    * on more of them. */
  override val shufflePartitions: Int = 1

  def prepare(o: Opts): Unit = ()

  def warm(spark: SparkSession): Unit = {
    val p = new Pipeline(spark, work)
    try { p.send(generate(seed, 400).events); p.awaitProcessed() } finally p.stop()
  }

  def unitOfWork(spark: SparkSession): Double = {
    val p = new Pipeline(spark, work)
    try {
      val events = generate(seed + 1, CatchUpEvents).events
      val t0 = System.nanoTime()
      p.send(events)
      p.awaitProcessed()
      Stats.secondsSince(t0)
    } finally p.stop()
  }

  def measure(spark: SparkSession, budgetS: Double, tracer: Option[Tracer]): Phase = {
    val tg = System.nanoTime()
    val traffic = generate(seed, math.max(1000, (Rate * (budgetS + WarmInS)).toInt))
    val genS = Stats.secondsSince(tg)
    val ev = traffic.events
    val p = new Pipeline(spark, work)
    val sendNs = new Array[Long](ev.length)
    val t0 = System.nanoTime() + 200000000L
    val dueNs = ev.map(e => t0 + ((e.ts - traffic.t0Sec) * 1e9 / Compress).toLong)
    val expected = try {
      // the open loop: every tick, send everything that has fallen due
      var i = 0
      var tick = t0
      while (i < ev.length) {
        val now = System.nanoTime()
        if (tick > now || dueNs(i) > now) {
          tick = math.max(tick, dueNs(i))
          LockSupport.parkNanos(tick - now)
        } else {
          tick += TickNs
          val start = tracer.map(_.nowMs)
          val sent = System.nanoTime()
          var j = i
          while (j < ev.length && dueNs(j) <= sent) j += 1
          p.send(ev.slice(i, j))
          (i until j).foreach(k => sendNs(k) = sent)
          tracer.foreach(t => t.addSpan("generator.send", -1, start.get, t.nowMs))
          i = j
        }
      }
      p.awaitProcessed()
      val drainedS = (System.nanoTime() - t0) / 1e9
      p.finish()
      (batchTwins(spark, ev), drainedS)
    } finally p.stop()
    val (want, drainedS) = expected

    // latency of every stream result, from the due time of its ready event;
    // results due in the warm-in are checked but not timed
    val got = p.results.asScala.toSeq
    val latencies = got.map { case (key, sinkNs) =>
      val idx = traffic.readyIndex(key)
      val due = if (idx < ev.length) dueNs(idx) else p.finishNs
      (due, (sinkNs - due) / 1e6)
    }
    val timedFrom = t0 + (WarmInS * 1e9).toLong
    val lat = latencies.collect { case (due, ms) if due >= timedFrom => ms }
    val gotCounts = got.groupBy(_._1).map { case (k, v) => k -> v.size }
    val missing = want.map { case (k, n) => math.max(0, n - gotCounts.getOrElse(k, 0)) }.sum
    val extra = gotCounts.map { case (k, n) => math.max(0, n - want.getOrElse(k, 0)) }.sum
    val late = latencies.count(_._2 > LatencyLimitMs)
    val attempted = want.values.sum.toLong
    val lag = ev.indices.map(k => (sendNs(k) - dueNs(k)) / 1e6)
    val notes = Seq(
      f"results: ${got.length} (expected $attempted; missing $missing, extra $extra, " +
        f"over the $LatencyLimitMs ms limit $late)",
      f"result latency ms: p50 ${Stats.median(lat)}%.1f p90 ${Stats.quantile(lat, 0.9)}%.1f " +
        f"p99 ${Stats.quantile(lat, 0.99)}%.1f max ${lat.max}%.1f over n=${lat.length} timed",
      f"generator: ${ev.length} events at $Rate%.0f/s offered, lag p99 " +
        f"${Stats.quantile(lag, 0.99)}%.2f ms, drained after $drainedS%.2f s")
    val layer = tracer.toSeq.flatMap { t =>
      Seq(Metric("generator.events", ev.length.toDouble, "count"),
        Metric("generator.gen_s", genS, "s"),
        Metric("generator.lag_ms_p99", Stats.quantile(lag, 0.99), "ms"),
        Metric("generator.backlog_max_events", backlogMax(t, traffic, sendNs), "count"))
    }
    Phase(attempted, missing + extra + late, Seq(
      Metric("result_latency_p50_ms", Stats.median(lat), "ms"),
      Metric("result_latency_p99_ms", Stats.quantile(lat, 0.99), "ms"),
      Metric("events_per_s", ev.length / drainedS, "events/s")) ++ layer,
      Stats.median(lat) / 1000, notes)
  }

  /** Largest count of events sent to a query but not yet taken by one of
    * its micro-batches, at the start of each micro-batch. */
  private def backlogMax(t: Tracer, traffic: Traffic, sendNs: Array[Long]): Double = {
    val nsToMs = (ns: Long) => t.nowMs - (System.nanoTime() - ns) / 1e6
    Queries.map { q =>
      val sentMs = traffic.events.indices.filter(i => traffic.events(i).feeds(q))
        .map(i => nsToMs(sendNs(i))).sorted.toArray
      var taken = 0L
      t.batches.filter(_.query == q).sortBy(_.startMs).map { b =>
        val sent = java.util.Arrays.binarySearch(sentMs, b.startMs) match {
          case k if k >= 0 => k + 1
          case k => -k - 1
        }
        val backlog = sent - taken
        taken += b.rows
        backlog.toDouble
      }.maxOption.getOrElse(0.0)
    }.max
  }

  /** Expected results: the batch forms of the three detectors over the same
    * events (the CEP patterns `StreamDetectors` builds, folded per key by
    * `Cep.detectBatch`; the interval join `Joins.reconcile`). */
  private def batchTwins(spark: SparkSession, ev: Seq[Ev]): Map[Key, Int] = {
    import spark.implicits._
    val logins = spark.createDataset(ev.flatMap(_.login))
    val orders = spark.createDataset(ev.flatMap(_.order))
    val receipts = spark.createDataset(ev.flatMap(_.receipt))
    val fail = Cep.Pattern.begin[LoginEvent]("fail")(_.eventType == "fail")
      .times(2).consecutive().within(MaxGapSec)
    val loginKeys = Cep.detectBatch[LoginEvent, Long](logins, _.userId, _.timestamp, fail,
        tieBreak = e => if (e.eventType == "fail") 0L else 1L)
      .filter(_.status == "matched").collect()
      .map(m => Key("login", m.key.toString, s"${m.stageTs.head}/${m.stageTs.last}"))
    val pay = Cep.Pattern.begin[OrderEvent]("create")(_.eventType == "create")
      .followedBy("pay")(_.eventType == "pay").within(TimeoutSec)
      .emitUnmatched(_.eventType == "pay")
    val orderKeys = Cep.detectBatch[OrderEvent, Long](orders, _.orderId, _.eventTime, pay,
        tieBreak = e => if (e.eventType == "create") 0L else 1L).collect()
      .map(m => Key("order", m.key.toString, m.status match {
        case "matched" => "payed"; case "timeout" => "pay timeout"; case _ => "payed timeout"
      }))
    val pays = orders.filter(col("eventType") === "pay" && col("txId") =!= "")
    val recKeys = graft.operators.Joins.reconcile(
        pays.select(col("txId"), (col("eventTime") * 1000000L).as("pay_usec")),
        receipts.select(col("txId"), (col("timestamp") * 1000000L).as("receipt_usec")),
        "txId", "pay_usec", "receipt_usec", LowerSec, UpperSec,
        leftName = "pay_no_receipt", rightName = "receipt_no_pay")
      .select(coalesce(col("l.txId"), col("r.txId")), col("status"))
      .as[(String, String)].collect().map { case (tx, st) => Key("reconcile", tx, st) }
    (loginKeys ++ orderKeys ++ recKeys).groupBy(identity).map { case (k, v) => k -> v.length }
  }
}

object StreamDetect {
  /** Offered load, events per second over all three streams: under a
    * tenth of the 17–20k events/s the three detectors absorb on 3 cores
    * when a 20k-event backlog arrives at once (9–11k with three shuffle
    * partitions). Latency is set by the fixed cost per trigger, not by the
    * cost per event; at 3000 and 5000 events/s (three shuffle partitions)
    * its run-to-run spread grew past 25 %. */
  val Rate = 1500.0
  /** The first seconds of the open loop warm the detectors' code paths:
    * their results are checked but not timed. */
  val WarmInS = 4.0
  /** The generator sends what has fallen due every 50 ms: each send is one
    * more `MemoryStream` batch that the next trigger must plan. */
  val TickNs = 50000000L
  /** Event-time seconds per wall second: the 15-minute order timeout
    * fires 3 s after its order, well inside a run. */
  val Compress = 300.0
  val LatencyLimitMs = 10000.0
  val CatchUpEvents = 20000
  val MaxGapSec = 2L
  val TimeoutSec = 900L
  val LowerSec = 3L
  val UpperSec = 5L
  val Queries = Seq("login_fail", "order_timeout", "reconcile")
  private val SentinelSec = 10000000L

  /** A result, as (query, key, value) strings, for multiset comparison. */
  final case class Key(query: String, key: String, value: String)

  /** One generated event; exactly one of the three payloads is set. */
  final case class Ev(ts: Long, login: Option[LoginEvent], order: Option[OrderEvent],
                      receipt: Option[ReceiptEvent]) {
    def feeds(q: String): Boolean = q match {
      case "login_fail" => login.isDefined
      case "order_timeout" => order.isDefined
      case _ => receipt.isDefined || order.exists(o => o.eventType == "pay")
    }
  }

  /** Generated traffic plus what the latency bookkeeping needs: per query,
    * the event-time stamps of its inputs in send order, and per order and
    * transaction the stamps of its pay and receipt. */
  final class Traffic(val events: IndexedSeq[Ev], val t0Sec: Long,
                      createTs: Map[Long, Long], payTs: Map[Long, Long], txPay: Map[String, Long],
                      txReceipt: Map[String, Long]) {
    private val idxOf: Map[String, (Array[Long], Array[Int])] = Queries.map { q =>
      val idx = events.indices.filter(i => events(i).feeds(q)).toArray
      q -> (idx.map(i => events(i).ts), idx)
    }.toMap

    /** Index of the first event of query `q` with event time ≥ `ts`
      * (events.length when only the closing sentinels reach it). */
    private def firstAtOrAfter(q: String, ts: Long): Int = {
      val (tss, idx) = idxOf(q)
      val k = java.util.Arrays.binarySearch(tss, ts) match {
        case k if k >= 0 => var j = k; while (j > 0 && tss(j - 1) == ts) j -= 1; j
        case k => -k - 1
      }
      if (k < idx.length) idx(k) else events.length
    }

    /** The event whose arrival makes a result determinable: the event that
      * completes a match, or for a timer the first event that moves the
      * watermark (max event time − 2 s) past the deadline. */
    def readyIndex(k: Key): Int = k.query match {
      case "login" => firstAtOrAfter("login_fail", k.value.split('/')(1).toLong)
      case "order" =>
        val id = k.key.toLong
        firstAtOrAfter("order_timeout",
          if (k.value == "payed") payTs(id) else createTs(id) + TimeoutSec + 4)
      case _ =>
        val p = txPay.get(k.key)
        val r = txReceipt.get(k.key)
        val ts = k.value match {
          case "matched" => math.max(p.get, r.get)
          case "pay_no_receipt" => math.max(p.get, math.min(p.get + UpperSec + 3, r.getOrElse(Long.MaxValue)))
          case _ => math.max(r.get, math.min(r.get + LowerSec + 3, p.getOrElse(Long.MaxValue)))
        }
        firstAtOrAfter("reconcile", ts)
    }
  }

  /** Seeded traffic of about `n` events. Login attempts come in bursts
    * per Zipf-skewed user, 45 % failing; orders are paid within 850 s or
    * (15 %) never; 90 % of pays get a receipt 4 s before to 8 s after
    * them, so some fall outside the [-3 s, +5 s] match interval, and a few
    * receipts have no pay. All events are sent in event-time order: no
    * disorder, so results do not depend on micro-batch boundaries. */
  def generate(seed: Long, n: Int): Traffic = {
    val r = new Random(seed)
    val t0 = 1700000000L
    val spanSec = (n / Rate * Compress).toLong.max(1L)
    val users = 2000
    val zipfCdf = {
      val w = (1 to users).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def user(): Long = {
      val k = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
      (if (k >= 0) k else -k - 1).toLong
    }
    val out = ArrayBuffer.empty[Ev]
    val createTs = scala.collection.mutable.Map.empty[Long, Long]
    val payTs = scala.collection.mutable.Map.empty[Long, Long]
    val txPay = scala.collection.mutable.Map.empty[String, Long]
    val txReceipt = scala.collection.mutable.Map.empty[String, Long]
    var orderId = 0L
    var stray = 0
    while (out.length < n) {
      val start = t0 + (r.nextDouble() * spanSec).toLong
      r.nextInt(10) match {
        case k if k < 5 => // a burst of 1-3 login attempts, 1-3 s apart
          val u = user()
          var ts = start
          (0 until 1 + r.nextInt(3)).foreach { _ =>
            val kind = if (r.nextDouble() < 0.45) "fail" else "success"
            out += Ev(ts, Some(LoginEvent(u, s"10.0.${u % 256}.${r.nextInt(256)}", kind, ts)), None, None)
            ts += 1 + r.nextInt(3)
          }
        case k if k < 9 => // an order, its pay and its receipt
          orderId += 1
          out += Ev(start, None, Some(OrderEvent(orderId, "create", "", start)), None)
          createTs(orderId) = start
          if (r.nextDouble() >= 0.15) {
            val p = start + 1 + r.nextInt(850)
            val tx = s"tx$orderId"
            out += Ev(p, None, Some(OrderEvent(orderId, "pay", tx, p)), None)
            payTs(orderId) = p
            txPay(tx) = p
            if (r.nextDouble() < 0.9) {
              val rt = p - 4 + r.nextInt(13)
              out += Ev(rt, None, None, Some(ReceiptEvent(tx, if (r.nextBoolean()) "wechat" else "alipay", rt)))
              txReceipt(tx) = rt
            }
          }
        case _ => // a receipt with no pay
          stray += 1
          val tx = s"rx$stray"
          out += Ev(start, None, None, Some(ReceiptEvent(tx, "alipay", start)))
          txReceipt(tx) = start
      }
    }
    val kindRank = (e: Ev) => if (e.login.isDefined) 0 else if (e.order.isDefined) 1 else 2
    val sorted = out.sortBy(e => (e.ts, kindRank(e), e.login.map(_.eventType).orElse(
      e.order.map(_.eventType)).getOrElse(""), e.login.map(_.userId).orElse(e.order.map(_.orderId))
      .getOrElse(0L), e.receipt.map(_.txId).getOrElse(""))).toIndexedSeq
    new Traffic(sorted, t0, createTs.toMap, payTs.toMap, txPay.toMap, txReceipt.toMap)
  }

  /** The three detector queries over their own `MemoryStream`s, with sinks
    * that stamp each result when its micro-batch reaches the driver. */
  final class Pipeline(spark: SparkSession, work: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val logins = MemoryStream[LoginEvent]
    private val orders = MemoryStream[OrderEvent]
    private val pays = MemoryStream[OrderEvent]
    private val receipts = MemoryStream[ReceiptEvent]
    val results = new ConcurrentLinkedQueue[(Key, Long)]()
    @volatile var finishNs = 0L
    private val ckpt = s"$work/ckpt/${java.util.UUID.randomUUID()}"

    private def start[T: Encoder](name: String, ds: Dataset[T])(key: T => Key): StreamingQuery =
      ds.writeStream.queryName(name).option("checkpointLocation", s"$ckpt/$name")
        .foreachBatch { (b: Dataset[T], _: Long) =>
          val rows = b.collect()
          val now = System.nanoTime()
          rows.foreach(x => results.add((key(x), now)))
        }.start()

    private val queries = Seq(
      start[LoginFailWarning]("login_fail",
        StreamDetectors.loginFailStream(logins.toDS(), MaxGapSec)) { w =>
        Key("login", w.userId.toString, s"${w.firstFailTs}/${w.secondFailTs}")
      },
      start[OrderResult]("order_timeout",
        StreamDetectors.orderTimeoutStream(orders.toDS(), TimeoutSec)) { o =>
        Key("order", o.orderId.toString, o.resultType)
      },
      start[StreamDetectors.ReconcileResult]("reconcile",
        StreamDetectors.reconcileStream(pays.toDS(), receipts.toDS(), LowerSec, UpperSec)) { x =>
        Key("reconcile", x.txId, x.status)
      })

    def send(batch: Seq[Ev]): Unit = {
      val l = batch.flatMap(_.login)
      val o = batch.flatMap(_.order)
      val p = o.filter(_.eventType == "pay")
      val rc = batch.flatMap(_.receipt)
      if (l.nonEmpty) logins.addData(l)
      if (o.nonEmpty) orders.addData(o)
      if (p.nonEmpty) pays.addData(p)
      if (rc.nonEmpty) receipts.addData(rc)
    }

    def awaitProcessed(): Unit = queries.foreach(_.processAllAvailable())

    /** Two closing events far in event time move every watermark past
      * every deadline; results about the sentinels' own keys are dropped. */
    def finish(): Unit = {
      finishNs = System.nanoTime()
      Seq(SentinelSec, 2 * SentinelSec).foreach { dt =>
        val ts = 1700000000L + dt
        logins.addData(LoginEvent(-1L, "0.0.0.0", "success", ts))
        orders.addData(OrderEvent(-1L, "create", "", ts))
        pays.addData(OrderEvent(-1L, "pay", s"sentinel$dt", ts))
        awaitProcessed()
      }
      results.removeIf(r => r._1.key == "-1" || r._1.key.startsWith("sentinel"))
    }

    def stop(): Unit = queries.foreach(_.stop())
  }
}
