package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** Options passed by `run.py`: the four benchmark arguments plus the
  * directories the run may write (all inside the checkout's `.bench_build`). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, home: String, work: String, data: String,
                      traces: String)

final case class Metric(name: String, value: Double, unit: String)

/** What one measurement phase returns: operations attempted and failed,
  * the end-to-end metrics it owns, the time of its unit of work (one
  * pass, one backlog drain, or the median result latency — compared
  * between the traced and untraced phases), and report lines. */
final case class Phase(attempted: Long, failed: Long, metrics: Seq[Metric],
                       unitS: Double, notes: Seq[String])

/** One benchmark workload. `prepare` writes the inputs (untimed), `warm`
  * is the workload's share of set-up, `measure` runs the timed loop for
  * about `budgetS` seconds (at least one unit of work) and checks every
  * output, and `unitOfWork` times one fixed unit of work for the
  * single-core scaling probe of the traced run. */
trait Workload {
  def cores: Int
  def shufflePartitions: Int = cores
  def prepare(o: Opts): Unit
  def warm(spark: SparkSession): Unit
  def measure(spark: SparkSession, budgetS: Double, tracer: Option[Tracer]): Phase
  def unitOfWork(spark: SparkSession): Double
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN on an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell–Davis median: the mean of all order statistics, weighted by
    * a Beta((n+1)/2, (n+1)/2) density. Where the sample falls into clusters
    * with a gap in the middle, it moves smoothly as values cross the
    * middle instead of jumping across the gap like the interpolated median. */
  def hdMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      val a = (n + 1) / 2.0
      val cdf = (0 to n).map { i =>
        if (i == 0) 0.0 else if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, a)
      }
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Session {
  /** The engine's production session shape (as in `graft.Bench`): local
    * mode, shuffle width = cores (unless given), UTC, int64-nanos
    * timestamps, no UI.
    * Spark's scratch space and warehouse stay in the run's work dir. */
  def build(cores: Int, work: String): SparkSession = build(cores, work, cores)

  def build(cores: Int, work: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}

object Main {
  /** Set-up runs this many times; `setup_s` is the median. */
  private val SetupCycles = 3

  /** Per-layer metrics that only some workloads measure; the traced run
    * of every workload reports all of them, 0 where it has none. */
  private val WorkloadLayers: Seq[(String, String)] = Seq(
    "generator.events" -> "count", "generator.gen_s" -> "s",
    "generator.lag_ms_p99" -> "ms", "generator.backlog_max_events" -> "count",
    "streaming.topn_state_bytes" -> "bytes") ++
    BatchBoard.Gates.flatMap(g => Seq(s"gate.${g}_s" -> "s", s"gate.${g}_stages" -> "count"))

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("home"), kv("work"), kv("data"), kv("traces"))
    val w: Workload = o.workload match {
      case "stream_detect" => new StreamDetect(o.seed, o.work)
      case "stream_hot_items" => new StreamHotItems(o.seed, o.work)
      case "batch_board" => new BatchBoard(o.seed, o.data, o.home)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare(o)

    // Set-up: session start, function registration and the workload's
    // warm-up, repeated; every cycle but the last stops its session.
    val setupTimes = ArrayBuffer.empty[Double]
    val setupSpansMs = ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    (1 to SetupCycles).foreach { i =>
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis().toDouble
      spark = Session.build(w.cores, o.work, w.shufflePartitions)
      w.warm(spark)
      setupTimes += Stats.secondsSince(t0)
      setupSpansMs += ((t0Ms, t0Ms + setupTimes.last * 1000))
      if (i < SetupCycles) spark.stop()
    }
    val setupS = Stats.median(setupTimes.toSeq)
    val notes = ArrayBuffer(f"setup cycles: ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s")

    val (phase, metrics) =
      if (!o.trace) {
        val ph = w.measure(spark, o.seconds, None)
        spark.stop()
        (ph, Metric("setup_s", setupS, "s") +: ph.metrics :+
          Metric("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        // untraced phases on both sides of the traced one, so JVM warm-up
        // does not read as tracing overhead
        val plain = w.measure(spark, o.seconds / 2, None)
        val tracer = new Tracer(spark)
        setupSpansMs.foreach { case (a, b) => tracer.addSpan("setup.cycle", -1, a, b) }
        val traced = try w.measure(spark, o.seconds / 2, Some(tracer))
                     finally tracer.detach()
        val plainAfter = w.measure(spark, o.seconds / 2, None)
        val unitN = w.unitOfWork(spark)
        spark.stop()
        val single = Session.build(1, o.work)
        val unit1 = try w.unitOfWork(single) finally single.stop()
        tracer.write(s"${o.traces}/${o.workload}-${o.seed}.jsonl")
        notes ++= (plain.notes ++ plainAfter.notes).map("untraced: " + _)
        val layers = tracer.layerMetrics() ++ WorkloadLayers.map { case (n, u) =>
          traced.metrics.find(_.name == n).getOrElse(Metric(n, 0.0, u))
        } ++ Seq(
          Metric("trace.overhead_frac",
            traced.unitS / ((plain.unitS + plainAfter.unitS) / 2) - 1.0, "ratio"),
          Metric("operators.scaling_1v4", unit1 / unitN, "ratio"))
        notes += f"scaling probe: ${w.cores} cores $unitN%.3f s, 1 core $unit1%.3f s"
        val untraced = Seq(plain, plainAfter)
        (traced.copy(attempted = traced.attempted + untraced.map(_.attempted).sum,
          failed = traced.failed + untraced.map(_.failed).sum), layers)
      }
    notes ++= phase.notes
    notes += f"failed_frac = ${phase.failed.toDouble / phase.attempted}%.4f ratio " +
      s"(${phase.failed} failed of ${phase.attempted} attempted)"
    notes.foreach(println)
    metrics.foreach(m => println(f"metric ${m.name} = ${m.value}%.6g ${m.unit}"))
    println(resultJson(phase.failed == 0, phase.attempted, phase.failed, metrics))
  }

  /** High-water resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
