package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval at a layer boundary, in epoch milliseconds. The
  * layer is the name's prefix before the first '.'. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double, tag: String) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/**
 * In-memory tracer for the traced run. The harness opens spans around its
 * calls into each layer (`span`); Spark's public listener APIs supply the
 * rest: stages and tasks (`SparkListener`), executed plans of actions
 * (`QueryExecutionListener`) and micro-batches (`StreamingQueryListener`,
 * rebuilt into spans from their progress). Everything is written out once,
 * at the end of the run, and reduced to the per-layer metrics of
 * BENCHMARK.json by [[layerMetrics]].
 */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  /** Attribution tag for listener events (the gate or query running). */
  @volatile var tag: String = ""

  final case class StageRec(tag: String, startMs: Double, endMs: Double, tasks: Int,
                            cpuMs: Double, runMs: Double, gcMs: Double,
                            shuffleWrite: Long, shuffleRead: Long, spill: Long,
                            inBytes: Long, inRecords: Long, taskMs: Seq[Long])
  final case class PlanRec(tag: String, exchanges: Int, broadcasts: Int,
                           graftExprs: Int, files: Long, metadataMs: Double, scanMs: Double)
  final case class BatchRec(query: String, startMs: Double, triggerMs: Double, rows: Long,
                            durations: Map[String, Long], stateRows: Long, stateMem: Long,
                            stateCommitMs: Long, dropped: Long)

  val stages = ArrayBuffer.empty[StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private var jobs = Map.empty[String, Int]
  private val taskTimes = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  /** Records `name` around `f`, under `parent` (-1 for a root). */
  def span[T](name: String, parent: Int = -1)(f: Int => T): T = {
    val id = spans.synchronized { spans += null; spans.length - 1 }
    val t0 = nowMs
    try f(id)
    finally spans.synchronized(spans(id) = Span(id, parent, name, t0, nowMs, tag))
  }

  def addSpan(name: String, parent: Int, startMs: Double, endMs: Double): Int =
    spans.synchronized {
      spans += Span(spans.length, parent, name, startMs, endMs, tag); spans.length - 1
    }

  /** Jobs started so far under tags that pass `p`. */
  def jobsWhere(p: String => Boolean): Int = synchronized(jobs.filter(kv => p(kv._1)).values.sum)

  def drain(): Unit = Bus.drain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs = jobs.updated(tag, jobs.getOrElse(tag, 0) + 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskInfo != null)
      taskTimes.synchronized {
        taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val times = taskTimes.synchronized(taskTimes.remove(i.stageId)).getOrElse(ArrayBuffer.empty)
      if (m != null) stages.synchronized {
        stages += StageRec(tag, i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks,
          m.executorCpuTime / 1e6, m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, times.toSeq)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val nodes = Tracer.walk(qe.executedPlan)
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      val graftExprs = nodes.map(_.expressions.map(_.collect {
        case e if e.getClass.getName.startsWith("graft.functions.") => e
      }.size).sum).sum
      plans.synchronized {
        plans += PlanRec(tag, nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
          nodes.count(_.isInstanceOf[BroadcastExchangeLike]), graftExprs,
          sum("numFiles"), sum("metadataTime").toDouble, sum("scanTime").toDouble)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators
      batches.synchronized {
        batches += BatchRec(Option(p.name).getOrElse(p.id.toString),
          Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d.getOrElse("triggerExecution", 0L).toDouble, p.numInputRows, d,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    // micro-batches become spans under the streaming layer
    batches.foreach(b => addSpan(s"streaming.batch", -1, b.startMs, b.startMs + b.triggerMs))
  }

  /** Self time of a span: its duration minus the union of the parts its
    * children (and, for actions and micro-batches, stages) cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    val covered = if (s.name == "operators.exec" || s.name == "streaming.batch")
      kids ++ stages.map(st => (st.startMs, st.endMs)) else kids
    s.durMs - Tracer.unionWithin(covered.toSeq, s.startMs, s.endMs)
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      w.println(f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "tag": "${s.tag}"}""")
    } finally w.close()
  }

  /** Every per-layer metric of BENCHMARK.json that the listeners and
    * spans supply; zero where the layer did no work in this run. */
  def layerMetrics(): Seq[Metric] = {
    def total(name: String) = spans.filter(_.name == name).map(_.durMs).sum
    def layerSelf(layer: String) = spans.filter(_.layer == layer).map(selfMs).sum
    val execs = spans.filter(s => s.name == "operators.exec" || s.name == "streaming.batch")
    val driverGap = execs.map(selfMs).sum
    val longest = if (stages.isEmpty) None else Some(stages.maxBy(s => s.endMs - s.startMs))
    val skew = longest.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble)))
    }.getOrElse(0.0)
    val fnTags = plans.filter(_.graftExprs > 0).map(_.tag).toSet
    val data = batches.filter(_.rows > 0)
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val trig = data.map(_.triggerMs)
    Seq(
      Metric("sources.metadata_ms", plans.map(_.metadataMs).sum, "ms"),
      Metric("sources.scan_ms", plans.map(_.scanMs).sum, "ms"),
      Metric("sources.files_read", plans.map(_.files).sum.toDouble, "count"),
      Metric("sources.input_bytes", stages.map(_.inBytes).sum.toDouble, "bytes"),
      Metric("sources.input_records", stages.map(_.inRecords).sum.toDouble, "count"),
      Metric("sources.stream_list_ms", dur("latestOffset") + dur("getBatch"), "ms"),
      Metric("queries.build_ms", total("queries.build"), "ms"),
      Metric("queries.build_jobs", jobsWhere(_.startsWith("build:")).toDouble, "count"),
      Metric("queries.self_ms", layerSelf("queries"), "ms"),
      Metric("plans.optimize_ms", total("plans.optimize"), "ms"),
      Metric("plans.physical_ms", total("plans.physical"), "ms"),
      Metric("plans.exchanges", plans.map(_.exchanges).sum.toDouble, "count"),
      Metric("plans.broadcasts", plans.map(_.broadcasts).sum.toDouble, "count"),
      Metric("plans.self_ms", layerSelf("plans"), "ms"),
      Metric("operators.exec_ms", total("operators.exec"), "ms"),
      Metric("operators.jobs", jobsWhere(_ => true).toDouble, "count"),
      Metric("operators.stages", stages.length.toDouble, "count"),
      Metric("operators.tasks", stages.map(_.tasks).sum.toDouble, "count"),
      Metric("operators.task_cpu_ms", stages.map(_.cpuMs).sum, "ms"),
      Metric("operators.task_run_ms", stages.map(_.runMs).sum, "ms"),
      Metric("operators.gc_ms", stages.map(_.gcMs).sum, "ms"),
      Metric("operators.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("operators.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric("operators.spill_bytes", stages.map(_.spill).sum.toDouble, "bytes"),
      Metric("operators.driver_gap_ms", driverGap, "ms"),
      Metric("operators.task_skew", skew, "ratio"),
      Metric("functions.plan_exprs", plans.map(_.graftExprs).sum.toDouble, "count"),
      Metric("functions.gate_cpu_ms",
        stages.filter(s => fnTags.contains(s.tag)).map(_.cpuMs).sum, "ms"),
      Metric("streaming.batches", batches.length.toDouble, "count"),
      Metric("streaming.nodata_batches", (batches.length - data.length).toDouble, "count"),
      Metric("streaming.trigger_ms_p50", if (trig.isEmpty) 0.0 else Stats.median(trig.toSeq), "ms"),
      Metric("streaming.trigger_ms_p90",
        if (trig.isEmpty) 0.0 else Stats.quantile(trig.toSeq, 0.9), "ms"),
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      Metric("streaming.state_rows", batches.groupBy(_.query)
        .values.map(_.last.stateRows).sum.toDouble, "count"),
      Metric("streaming.state_memory_bytes", batches.groupBy(_.query)
        .values.map(_.last.stateMem).sum.toDouble, "bytes"),
      Metric("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum.toDouble, "ms"),
      Metric("streaming.rows_dropped_by_watermark", batches.map(_.dropped).sum.toDouble, "count"),
      Metric("streaming.self_ms", layerSelf("streaming"), "ms"),
      Metric("generator.self_ms", layerSelf("generator"), "ms"))
  }
}

object Tracer {
  /** Every node of an executed plan, descending into AQE's final plan and
    * its query stages (their subtrees hang off `plan`, not `children`). */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionWithin(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }
}
