package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.UserBehavior
import graft.operators.Windows
import graft.sources.CsvSources
import graft.streaming.{StreamSources, StreamWindows}

/**
 * stream_hot_items: HotItemApp end to end as a closed loop that drains a
 * fixed backlog. Seeded UserBehavior CSV files (one micro-batch each) are
 * replayed with `StreamSources.csvStream` under `Trigger.AvailableNow`,
 * filtered to page views, counted in 1 h windows sliding by 5 min
 * (`StreamWindows.slidingCountRollupStream`) and ranked top-5 per window by
 * `topNPerWindowStream`, whose parquet state upsert writes on every batch.
 * Each drain starts from empty state; the final top-5 of every window is
 * checked against `Windows.topNPerWindow` over the on-time events, and the
 * rows Spark drops by watermark against the late rows the generator planted.
 */
final class StreamHotItems(seed: Long, work: String) extends Workload {
  import StreamHotItems._
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  private val inputDir = s"$work/hot_items/input"
  private val warmDir = s"$work/hot_items/warm"
  private var traffic: Traffic = _

  def prepare(o: Opts): Unit = {
    traffic = generate(seed, Files_, EventsPerFile)
    traffic.write(inputDir)
    generate(seed + 1, 1, 500).write(warmDir, sentinels = false)
  }

  def warm(spark: SparkSession): Unit = { drain(spark, warmDir); () }

  def unitOfWork(spark: SparkSession): Double = drain(spark, inputDir).seconds

  final case class Drain(seconds: Double, rows: Set[(Long, Long, Long, Int)], dropped: Long,
                         triggerMs: Seq[Double], error: Option[String], stateBytes: Long)

  /** One replay of every file in `dir` into fresh checkpoint and state. */
  private def drain(spark: SparkSession, dir: String): Drain = {
    import spark.implicits._
    val run = s"$work/hot_items/runs/${java.util.UUID.randomUUID()}"
    val src = StreamSources.csvStream(spark, dir, CsvSources.userBehaviorSchema)
    val pv = CsvSources.withEventTime(src, "timestamp")
      .filter(col("behavior") === "pv").select(col("ts"), col("itemId"))
    val counts = StreamWindows.slidingCountRollupStream(pv, "ts", Seq("itemId"),
      WindowSec, SlideSec, WatermarkDelay)
    val out = new ConcurrentLinkedQueue[(Long, Long, Long, Int)]()
    val t0 = System.nanoTime()
    val q = StreamWindows.topNPerWindowStream(counts, Seq("window_end"), "cnt", "itemId", TopN,
        s"$run/topn", outputMode = "append") { (ranked: DataFrame, _: Long) =>
        ranked.select("itemId", "window_end", "cnt", "rn").as[(Long, Long, Long, Int)]
          .collect().foreach(out.add)
      }.option("checkpointLocation", s"$run/ckpt").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val seconds = Stats.secondsSince(t0)
    val progress = q.recentProgress.toSeq
    Drain(seconds, out.asScala.toSet,
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
      progress.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble),
      q.exception.map(_.getMessage), dirBytes(Paths.get(s"$run/topn")))
  }

  def measure(spark: SparkSession, budgetS: Double, tracer: Option[Tracer]): Phase = {
    val expected = expectedTopN(spark)
    val drains = ArrayBuffer.empty[Drain]
    val notes = ArrayBuffer.empty[String]
    var failed = 0L
    val t0 = System.nanoTime()
    while (drains.isEmpty || Stats.secondsSince(t0) < budgetS) {
      val d = drain(spark, inputDir)
      drains += d
      val got = d.rows.filter(_._2 < traffic.sentinelSec)
      val missing = (expected -- got).size
      val extra = (got -- expected).size
      val bad = missing + extra + (if (d.dropped != traffic.latePv) 1 else 0) + d.error.size
      if (bad > 0) notes += s"FAILED drain ${drains.length}: missing $missing, extra $extra top-N rows, " +
        s"dropped ${d.dropped} (planted ${traffic.latePv}), error ${d.error.getOrElse("none")}"
      failed += bad
    }
    val rates = drains.map(traffic.events / _.seconds).toSeq
    val trig = drains.flatMap(_.triggerMs).toSeq
    notes += f"drains: ${drains.map(d => f"${d.seconds}%.3f").mkString(" ")} s for ${traffic.events} " +
      f"events in ${traffic.files} files; top-N rows ${expected.size}; dropped by watermark " +
      f"${drains.head.dropped} (planted ${traffic.latePv})"
    notes += f"micro-batch ms: p50 ${Stats.median(trig)}%.1f p90 ${Stats.quantile(trig, 0.9)}%.1f " +
      f"max ${trig.max}%.1f over n=${trig.length}"
    val layer = tracer.toSeq.flatMap(_ => Seq(
      Metric("generator.events", traffic.events.toDouble, "count"),
      Metric("generator.gen_s", traffic.genS, "s"),
      Metric("streaming.topn_state_bytes", drains.map(_.stateBytes.toDouble).max, "bytes")))
    Phase(drains.length * (expected.size + 1L), failed, Seq(
      Metric("result_latency_p50_ms", Stats.median(trig), "ms"),
      Metric("result_latency_p99_ms", Stats.quantile(trig, 0.99), "ms"),
      Metric("events_per_s", Stats.median(rates), "events/s")) ++ layer,
      Stats.median(drains.map(_.seconds).toSeq), notes.toSeq)
  }

  /** Batch top-5 per window over the on-time page views. */
  private def expectedTopN(spark: SparkSession): Set[(Long, Long, Long, Int)] = {
    import spark.implicits._
    val onTime = spark.createDataset(traffic.onTime).toDF()
    val pv = CsvSources.withEventTime(onTime, "timestamp")
      .filter(col("behavior") === "pv").select(col("ts"), col("itemId"))
    val counts = Windows.slidingCount(pv, "ts", Seq("itemId"), s"$WindowSec seconds", s"$SlideSec seconds")
    Windows.topNPerWindow(counts, Seq("window_end"), "cnt", "itemId", TopN)
      .select(col("itemId"), col("window_end"), col("cnt"), col("rn"))
      .as[(Long, Long, Long, Int)].collect().toSet
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

object StreamHotItems {
  val Files_ = 4
  val EventsPerFile = 10000
  /** Event time one file spans: 4 files cover 2 h, so windows close and
    * state grows through the drain. */
  val FileSpanSec = 1800L
  val WindowSec = 3600L
  val SlideSec = 300L
  val TopN = 5
  val WatermarkDelay = "1 second"
  val LateShare = 0.005
  val Items = 20000
  val Users = 5000

  /** Generated files: per file the events in replay order. `onTime` are
    * the events a batch computation should see; `latePv` is how many rows
    * the watermark must drop. Spark drops late rows after the partial
    * aggregate of each file's task, so that is one row per distinct
    * (item, 5-minute slice) among a file's late page views. */
  final class Traffic(perFile: Seq[Seq[UserBehavior]], val onTime: Seq[UserBehavior],
                      val latePv: Long, val sentinelSec: Long, val genS: Double) {
    def files: Int = perFile.length
    def events: Long = perFile.map(_.length.toLong).sum

    /** Writes one CSV per file, plus two sentinel files far ahead in event
      * time that close every window; modification times fix replay order. */
    def write(dir: String, sentinels: Boolean = true): Unit = {
      Files.createDirectories(Paths.get(dir))
      val closing = if (!sentinels) Nil else Seq(Seq(UserBehavior(0L, 0L, 0, "pv", sentinelSec)),
        Seq(UserBehavior(0L, 0L, 0, "pv", sentinelSec + 100000L)))
      val base = System.currentTimeMillis() - 1000L * (files + 3)
      (perFile ++ closing).zipWithIndex.foreach { case (evs, i) =>
        val p = Paths.get(dir, f"part-$i%05d.csv")
        Files.writeString(p, evs.map(e =>
          s"${e.userId},${e.itemId},${e.categoryId},${e.behavior},${e.timestamp}\n").mkString)
        p.toFile.setLastModified(base + 1000L * i)
      }
    }
  }

  /** `files` files of `perFile` events. Items are log-uniform over 20k ids
    * (a few very hot, a long tail); 85 % of events are page views. File f
    * holds events of its own 30-minute span in random order, plus a 0.5 %
    * share (from file 2 on) stamped a slice and more before the span of
    * the file two back, which Spark must drop whichever earlier batch its
    * watermark came from. */
  def generate(seed: Long, files: Int, perFile: Int): Traffic = {
    val t0 = System.nanoTime()
    val r = new Random(seed)
    val start = 1511658000L
    val behaviors = Seq.fill(17)("pv") ++ Seq("cart", "fav", "buy")
    def ev(ts: Long) = UserBehavior(1L + r.nextInt(Users), math.exp(r.nextDouble() * math.log(Items)).toLong,
      r.nextInt(100), behaviors(r.nextInt(behaviors.length)), ts)
    val onTime = ArrayBuffer.empty[UserBehavior]
    var latePv = 0L
    val perFileEvents = (0 until files).map { f =>
      val lo = start + f * FileSpanSec
      val lateGroups = scala.collection.mutable.Set.empty[(Long, Long)]
      val evs = (0 until perFile).map { _ =>
        if (f >= 2 && r.nextDouble() < LateShare) {
          val e = ev(start + (f - 2) * FileSpanSec - SlideSec - 2 - r.nextInt(600))
          if (e.behavior == "pv") lateGroups += ((e.itemId, e.timestamp / SlideSec))
          e
        } else {
          val e = ev(lo + r.nextInt(FileSpanSec.toInt))
          onTime += e
          e
        }
      }
      latePv += lateGroups.size
      evs
    }
    new Traffic(perFileEvents, onTime.toSeq, latePv, start + files * FileSpanSec + 100000L,
      Stats.secondsSince(t0))
  }
}
