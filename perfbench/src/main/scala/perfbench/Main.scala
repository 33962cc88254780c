package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one JVM, one SparkSession, one closed-loop client that
  * issues one operation at a time.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--smoke]
  *
  * A run sets up (session start; the inputs generated from the seed; the
  * fixtures the library builds from them; one warm-up round on a small
  * copy of the inputs), then repeats
  * ROUNDS of the workload's fixed operation stream, each from a fresh
  * state, until `seconds` are used. Every round checks its outputs. With
  * `--trace 1` the same untraced rounds run first, then one traced round
  * and one more untraced round; the traced round gives the per-layer
  * numbers, and its operation time against the mean of the untraced rounds
  * on either side of it is the tracing overhead.
  *
  * The result object goes to `--out`; human-readable lines (every named
  * metric with unit and sample count, the checks and the run context) go to
  * stdout.
  */
object Main {
  /** End-to-end metrics that are the median of one op kind's samples;
    * every workload names the op kind behind each of them
    * ([[Workload.gated]]). */
  val KindMetrics: Seq[String] =
    Seq("ingest_p50_s", "query_p50_s", "search_p50_s", "full_pass_s")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    def opt(k: String): Option[String] =
      argv.sliding(2).collectFirst { case Array(`k`, v) => v }
    def need(k: String): String =
      opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace $t")
      },
      Paths.get(need("--work")), Paths.get(need("--out")),
      argv.contains("--smoke"))
  }

  /** Bench's session profile (graft.Bench): AQE off, 8 shuffle partitions,
    * 64 MB broadcast threshold, 256 KB openCost, a 5000-entry codegen
    * cache and the graft SQL extensions, on all local cores. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 256L * 1024)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("perfbench.warehouse", "spark-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val profileText =
    "shuffle.partitions=8 aqe=off broadcast=64MB openCost=256KB " +
      "codegen.cache=5000 extensions=GraftSparkExtensions"

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "ledger_personal" => new Ledger
      case "table_curation"  => new Both(new Lifecycle, new Curation)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(a.work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, workload, a, cpus, sessionS)
    finally spark.stop()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(spark: SparkSession, w: Workload, a: Args, cpus: Int,
      sessionS: Double): Unit = {
    val size = if (a.smoke) Size.Small else Size.Full
    val untraced = new Tracer(false)

    // set-up: the inputs; the fixtures the library builds from them; one
    // warm-up round on a small copy (JIT and codegen). A full-size warm-up
    // made the first timed round faster but not steadier from run to run,
    // and its ~10 s per run did not fit the run budget.
    val tp = System.nanoTime()
    val prepared = w.prepare(spark, a.work.resolve("input"), a.seed, size)
    val prepS = secondsSince(tp)
    val tb = System.nanoTime()
    val input = w.build(spark, prepared)
    val buildS = secondsSince(tb)
    val tw = System.nanoTime()
    val warmDir = a.work.resolve("warmup")
    w.round(spark, w.warmup(spark, input, warmDir, a.seed), new Recorder(untraced), 0)
    releaseCaches(spark)
    Dirs.delete(warmDir)
    val warmS = secondsSince(tw)
    val setupS = sessionS + prepS + buildS + warmS

    // the timed phase: whole rounds, each from a fresh state; a round's
    // wall is the time its operations took, without the checks between them
    val rec = new Recorder(untraced)
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val roundElapsed = mutable.ArrayBuffer.empty[Double]
    val timing = System.nanoTime()
    var r = 0
    while (r == 0 || (!a.smoke &&
        secondsSince(timing) + median(roundElapsed.toSeq) <= a.seconds)) {
      r += 1
      val (tr, ops) = (System.nanoTime(), rec.opSeconds)
      w.round(spark, input, rec, r)
      roundWalls += rec.opSeconds - ops
      roundElapsed += secondsSince(tr)
      releaseCaches(spark)
    }
    val jitMs = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime

    // traced round: per-layer numbers and the tracing overhead. One more
    // untraced round follows it, so the traced round is compared with the
    // mean of the untraced rounds on either side of it, and JIT drift
    // between consecutive rounds cancels to first order.
    // (per-layer metrics, traced round's op seconds, the next round's)
    val traced: Option[(Map[String, Double], Double, Double)] =
      if (!a.trace) None
      else {
        val tracer = new Tracer(true)
        val eng = EngineListener.install(spark)
        val before = eng.snapshot(spark)
        val trec = new Recorder(tracer, Some(eng), Some(spark))
        w.round(spark, input, trec, r + 1)
        val after = eng.snapshot(spark)
        EngineListener.uninstall(spark, eng)
        releaseCaches(spark)
        val post = new Recorder(untraced)
        w.round(spark, input, post, r + 2)
        releaseCaches(spark)
        w.traceCheck(rec, trec).foreach(rec.check(false, _))
        rec.absorb(trec)
        rec.absorb(post)
        val engine = EngineListener.names
          .map(n => n -> (after.getOrElse(n, 0.0) - before.getOrElse(n, 0.0)))
          .toMap
        Some((Layers.report(w, tracer, engine,
          trec.opSeconds / ((roundWalls.last + post.opSeconds) / 2) - 1.0),
          trec.opSeconds, post.opSeconds))
      }
    val layer = traced.map(_._1)

    val (calSt, calMt) = graft.Calib.calibrate(cpus)

    // end-to-end metrics, every one of them for every workload; the
    // per-kind ones cover the untraced timed rounds only
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("wall_s", median(roundWalls.toSeq), "s", roundWalls.size)) ++
      KindMetrics.map { n =>
        val s = rec.samples(w.gated(n))
        (n, median(s), "s", s.size)
      }

    def line(s: String): Unit = println(s)
    line(s"== perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}" +
      s" rounds=${roundWalls.size} size=${if (a.smoke) "smoke" else "full"}")
    line(s"context: cores=$cpus profile=[$profileText] calib_st_ms=$calSt" +
      s" calib_mt_ms=$calMt jit_ms_at_timing_end=$jitMs" +
      f" session_start_s=$sessionS%.3f warmup_s=$warmS%.3f" +
      f" prepare_s=$prepS%.3f build_s=$buildS%.3f")
    line(s"round walls s: ${roundWalls.map(v => f"$v%.3f").mkString(" ")}")
    traced.foreach { case (_, tr, post) =>
      line(f"traced round s: $tr%.3f between untraced ${roundWalls.last}%.3f" +
        f" and $post%.3f")
    }
    rec.kinds.foreach(k => line(s"samples $k s: " +
      rec.samples(k).map(v => f"$v%.3f").mkString(" ")))
    e2e.foreach { case (n, v, u, k) => line(f"metric $n%-22s $v%12.4f $u%-6s n=$k") }
    w.namedMetrics(rec, roundWalls.toSeq, input).foreach { case (n, v, u, k) =>
      line(f"named  $n%-22s $v%12.4f $u%-6s n=$k")
    }
    layer.foreach(_.toSeq.sortBy(_._1).foreach { case (n, v) =>
      line(f"layer  $n%-44s $v%16.4f ${Layers.unit(n)}")
    })
    rec.failures.foreach(f => line(s"failed op: $f"))
    rec.checks.foreach(c => line(s"check FAILED: $c"))
    line(s"checks: ${rec.passed} passed, ${rec.checks.size} failed")

    val metrics = layer match {
      case Some(l) => l.map { case (n, v) => n -> (v, Layers.unit(n)) }
      case None    => e2e.map { case (n, v, u, _) => n -> (v, u) }.toMap
    }
    val json = Json.obj(Seq(
      "correct" -> Json.bool(rec.checks.isEmpty && rec.passed > 0),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.write(a.out, json.getBytes(StandardCharsets.UTF_8))
  }

  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.CacheHandles.releaseAll()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Input scale of one prepared copy: `Small` is the warm-up's copy and
  * the smoke test's inputs. */
sealed trait Size
object Size {
  case object Small extends Size
  case object Full extends Size
}

/** One workload: inputs from a seed, and a fixed operation stream. */
trait Workload {
  type Input
  /** The op kind behind each of [[Main.KindMetrics]]. */
  def gated: Map[String, String]
  def ingestKind: String = gated("ingest_p50_s")
  /** Generate the inputs from the seed. */
  def prepare(spark: SparkSession, dir: Path, seed: Long, size: Size): Input
  /** Build the fixtures the library makes from the inputs. */
  def build(spark: SparkSession, in: Input): Input = in
  /** A small copy of the inputs for the warm-up round. */
  def warmup(spark: SparkSession, full: Input, dir: Path, seed: Long): Input =
    build(spark, prepare(spark, dir, seed, Size.Small))
  /** One round from a fresh state; records ops and checks into `rec`. */
  def round(spark: SparkSession, in: Input, rec: Recorder, round: Int): Unit
  /** The workload's own metrics: (name, value, unit, samples). */
  def namedMetrics(rec: Recorder, roundWalls: Seq[Double],
      in: Input): Seq[(String, Double, String, Int)]
  /** Checks comparing the traced round's outputs with the untraced ones. */
  def traceCheck(untraced: Recorder, traced: Recorder): Seq[String] = Nil
}

/** Two workloads run as one: each round runs `a`'s round, then `b`'s; each
  * gated op kind comes from the part that has it. */
final class Both(val a: Workload, val b: Workload) extends Workload {
  type Input = (a.Input, b.Input)
  def gated: Map[String, String] = a.gated ++ b.gated
  def prepare(spark: SparkSession, dir: Path, seed: Long, size: Size): Input =
    (a.prepare(spark, dir.resolve("a"), seed, size),
      b.prepare(spark, dir.resolve("b"), seed, size))
  override def build(spark: SparkSession, in: Input): Input =
    (a.build(spark, in._1), b.build(spark, in._2))
  override def warmup(spark: SparkSession, full: Input, dir: Path,
      seed: Long): Input =
    (a.warmup(spark, full._1, dir.resolve("a"), seed),
      b.warmup(spark, full._2, dir.resolve("b"), seed))
  def round(spark: SparkSession, in: Input, rec: Recorder, round: Int): Unit = {
    a.round(spark, in._1, rec, round)
    b.round(spark, in._2, rec, round)
  }
  def namedMetrics(rec: Recorder, walls: Seq[Double],
      in: Input): Seq[(String, Double, String, Int)] =
    a.namedMetrics(rec, walls, in._1) ++ b.namedMetrics(rec, walls, in._2)
  override def traceCheck(untraced: Recorder, traced: Recorder): Seq[String] =
    a.traceCheck(untraced, traced) ++ b.traceCheck(untraced, traced)
}

/** Op timing, failure counting and check bookkeeping for the rounds. */
final class Recorder(val tracer: Tracer,
    val engine: Option[EngineListener] = None,
    val spark: Option[SparkSession] = None) {
  private val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Values the workload keeps between rounds (outputs to compare). */
  val notes = mutable.Map.empty[String, Any]
  var attempted = 0
  var failed = 0
  var passed = 0
  /** Seconds spent inside operations, failed ones included. */
  var opSeconds = 0.0

  def kinds: Seq[String] = byKind.keys.toSeq.sorted

  def samples(kind: String): Seq[Double] =
    byKind.get(kind).map(_.toSeq).getOrElse(Nil)

  def sample(kind: String, v: Double): Unit =
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v

  /** Time one operation. A failed op is counted and reported, never
    * retried and never fatal; it fails a check too unless `expected`
    * accepts its exception as a recorded defect. The exception is returned
    * for the workload's own checks. */
  def op[T](kind: String, expected: Throwable => Boolean = _ => false)(
      body: => T): Either[Throwable, T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span("op." + kind)(body))
      catch { case e: Exception => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    opSeconds += s
    res match {
      case Right(_) => sample(kind, s)
      case Left(e) =>
        failed += 1
        val what = s"$kind: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        failures += what
        check(expected(e), s"op failed unexpectedly: $what")
    }
    res
  }

  def check(ok: Boolean, what: => String): Unit =
    if (ok) passed += 1 else checks += what

  /** Count another round's ops and checks (not its samples) in this one. */
  def absorb(o: Recorder): Unit = {
    checks ++= o.checks
    failures ++= o.failures
    passed += o.passed
    attempted += o.attempted
    failed += o.failed
  }

  /** Engine counter deltas over `body`, for counts taken at a span
    * (traced runs only; untraced runs get an empty map). */
  def engineDelta[T](body: => T): (T, Map[String, Double]) =
    (engine, spark) match {
      case (Some(e), Some(s)) =>
        val b = e.snapshot(s)
        val v = body
        val a = e.snapshot(s)
        (v, a.map { case (k, x) => k -> (x - b.getOrElse(k, 0.0)) })
      case _ => (body, Map.empty)
    }
}

/** Directory trees the runs create and remove. */
object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def bytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** Just enough JSON for the result object. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
