package perfbench

import scala.collection.mutable

import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for the six Spark-side layers, fed by one SparkListener
  * and one QueryExecutionListener. Counters only grow; a caller takes
  * [[snapshot]]s and subtracts. Installed only in traced runs.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  def snapshot(spark: SparkSession): Map[String, Double] = {
    BenchListenerBus.drain(spark.sparkContext)
    c.synchronized(c.toMap)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add("scheduling.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("scheduling.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    add("scheduling.tasks", 1)
    // what the task spent outside its own run: launch, deserialization
    // and result shipping (the UI's scheduler delay)
    val delayMs = info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
    add("scheduling.delay_s", math.max(0L, delayMs) / 1e3)
    add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
    add("scan.records", m.inputMetrics.recordsRead.toDouble)
    add("exchange.shuffle_write_bytes",
      m.shuffleWriteMetrics.bytesWritten.toDouble)
    add("exchange.shuffle_read_bytes",
      m.shuffleReadMetrics.totalBytesRead.toDouble)
    add("exchange.spill_bytes",
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add("compute.task_run_s", m.executorRunTime / 1e3)
    add("compute.task_cpu_s", m.executorCpuTime / 1e9)
    add("compute.gc_s", m.jvmGCTime / 1e3)
    add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
    add("sink.records", m.outputMetrics.recordsWritten.toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    add("planning.queries", 1)
    val phases = qe.tracker.phases
    def phase(name: String): Double =
      phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    add("planning.analysis_s", phase("analysis"))
    add("planning.optimization_s", phase("optimization"))
    add("planning.physical_s", phase("planning"))
    add("scan.files", filesRead(qe.executedPlan))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add("planning.queries", 1)

  private def filesRead(plan: SparkPlan): Double = {
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val nested = plan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        filesRead(a.executedPlan)
    }.sum
    scans.flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum + nested
  }
}

object EngineListener {
  /** The per-layer engine metrics, in report order. */
  val names: Seq[String] = Seq(
    "planning.analysis_s", "planning.optimization_s", "planning.physical_s",
    "planning.queries", "scheduling.jobs", "scheduling.stages",
    "scheduling.tasks", "scheduling.delay_s", "scan.bytes", "scan.records",
    "scan.files", "exchange.shuffle_write_bytes",
    "exchange.shuffle_read_bytes", "exchange.spill_bytes",
    "exchange.fetch_wait_s", "compute.task_run_s", "compute.task_cpu_s",
    "compute.gc_s", "sink.bytes", "sink.records")

  def install(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def uninstall(spark: SparkSession, l: EngineListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}

/** In-memory spans and counters for one run. Spans nest: a span's self
  * time is its duration minus what its child spans cover. When tracing is
  * off every call is a plain pass-through, so the untraced run measures
  * the library alone.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) += v

  def counter(name: String): Double = counters(name)

  /** Self seconds per span name, summed over all spans of that name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** For root spans named `opPrefix*`: the share of their wall that no
    * child layer span covers, summed over those ops. */
  def unattributedShare(opPrefix: String): Option[Double] = {
    val roots = done.filter(s => s.parent == -1 && s.name.startsWith(opPrefix))
    if (roots.isEmpty) None
    else {
      val childNs = done.groupBy(_.parent)
        .map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
      val wall = roots.map(s => s.endNs - s.startNs).sum.toDouble
      Some(roots.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))
        .sum / wall)
    }
  }
}

/** The per-layer metrics of one traced round: the engine layers from
  * [[EngineListener]], the graft layers from the spans and counters the
  * workloads record around public library calls. Every name is reported
  * for every workload; a layer a workload does not call reads 0. */
object Layers {
  /** Span names; each reports its summed self time as `<name>_s`. */
  val spanNames: Seq[String] = Seq(
    "finance.IngCsv.self", "finance.Categorizer.self",
    "finance.Store.import_batch", "finance.Store.upsert",
    "finance.Store.save", "finance.Report.self",
    "sources.SnapshotStore.commit_append",
    "sources.SnapshotStore.commit_merge",
    "sources.SnapshotStore.commit_delete", "sources.SnapshotStore.prune",
    "sources.SnapshotStore.optimize", "sources.SnapshotStore.vacuum",
    "textops.Dedup.self", "textops.Similarity.topk")

  /** Plain counters, reported as counted. */
  val counterNames: Seq[String] = Seq(
    "finance.IngCsv.rows", "finance.Categorizer.rows", "finance.Report.queries",
    "sources.SnapshotStore.files_listed", "sources.SnapshotStore.files_opened",
    "sources.SnapshotStore.segments_parsed",
    "sources.SnapshotStore.bloom_skipped", "sources.SnapshotStore.feed_rows",
    "textops.Dedup.candidate_pairs",
    // built in set-up; the traced round reports the set-up build time
    "textops.Similarity.index_build_s")

  /** Ratios: name -> (numerator counter, denominator counter). */
  val ratioNames: Seq[(String, (String, String))] = Seq(
    "finance.Categorizer.matched_share" ->
      ("finance.Categorizer.matched", "finance.Categorizer.rows"),
    "finance.Store.dup_share" -> ("finance.Store.dups", "finance.Store.batch_rows"),
    "textops.Dedup.kept_share" -> ("textops.Dedup.kept", "textops.Dedup.docs"),
    "textops.Similarity.rows_scored_per_query" ->
      ("textops.Similarity.rows_scored", "textops.Similarity.queries"))

  /** The bound within which the finance layers' self times must cover the
    * import op's wall (see `trace.unattributed_share`). */
  val UnattributedBound = 0.25

  val names: Seq[String] = EngineListener.names ++ spanNames.map(_ + "_s") ++
    counterNames ++ ratioNames.map(_._1) ++
    Seq("sink.write_amp", "trace.overhead_share", "trace.unattributed_share")

  def unit(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("bytes")) "bytes"
    else if (n.endsWith("_share")) "share"
    else if (n == "sink.write_amp") "ratio"
    else if (n.endsWith("_per_query")) "rows"
    else "count"

  def report(w: Workload, t: Tracer, engine: Map[String, Double],
      overhead: Double): Map[String, Double] = {
    val self = t.selfSeconds
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    engine ++
      spanNames.map(n => (n + "_s") -> self.getOrElse(n, 0.0)) ++
      counterNames.map(n => n -> t.counter(n)) ++
      ratioNames.map { case (n, (a, b)) => n -> ratio(t.counter(a), t.counter(b)) } ++
      Seq(
        "sink.write_amp" ->
          ratio(engine.getOrElse("sink.bytes", 0.0), t.counter("sink.new_row_bytes")),
        "trace.overhead_share" -> overhead,
        "trace.unattributed_share" ->
          t.unattributedShare("op." + w.ingestKind).getOrElse(0.0))
  }
}
