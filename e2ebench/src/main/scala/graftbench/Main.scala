package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cache <dir> --cache-key <hash> [--trace-out <file>]
  *      [--scale full|tiny] [--damage] [--generate-only | --prepare-only]
  * }}}
  *
  * `setup_s` runs from JVM start until the session is up and the
  * workload's warm-up (round 0, or its first operation) has finished; input generation and
  * the untimed preparation are excluded. The measured phase is a closed
  * loop of whole rounds until `--seconds` have passed. With `--trace 1`
  * measured rounds alternate untraced / traced, the workload's extra
  * layer replays run once, and only the per-layer metrics are printed.
  * The last stdout line is the JSON result; the exit code is 1 when any
  * operation failed or failed its output check. `--generate-only` writes
  * the inputs and exits; `--prepare-only` builds the cached starting
  * states of all workloads and exits. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: Path = Paths.get("work"),
                        cache: Path = Paths.get("cache"), cacheKey: String = "dev",
                        traceOut: Option[Path] = None, scale: Scale = Scale.full,
                        damage: Boolean = false,
                        generateOnly: Boolean = false, prepareOnly: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--cache" :: v :: t => parse(t, a.copy(cache = Paths.get(v)))
    case "--cache-key" :: v :: t => parse(t, a.copy(cacheKey = v))
    case "--trace-out" :: v :: t => parse(t, a.copy(traceOut = Some(Paths.get(v))))
    case "--scale" :: v :: t => parse(t, a.copy(scale = if (v == "tiny") Scale.tiny else Scale.full))
    case "--damage" :: t => parse(t, a.copy(damage = true))
    case "--generate-only" :: t => parse(t, a.copy(generateOnly = true))
    case "--prepare-only" :: t => parse(t, a.copy(prepareOnly = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session `GraftCli.main` / `CurateCli.main` build, on all cores. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-e2ebench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.mergeSchema", "true")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Collector and JIT time of the JVM so far, in seconds (a per-op
    * diagnostic that needs no listener). */
  def gcSeconds(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean]).map(_.getCollectionTime).sum / 1e3
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Waits (untimed, at most `capS`) until the JIT compiler threads are
    * idle, so that compilations queued by the previous operation do not
    * run inside the next one's timed window. Returns the seconds waited. */
  def settle(capS: Double = 30): Double = {
    val t0 = System.nanoTime()
    var last = jitSeconds()
    var quiet = false
    while (!quiet && seconds(t0) < capS) {
      Thread.sleep(500)
      val now = jitSeconds()
      quiet = now - last < 0.05
      last = now
    }
    seconds(t0)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    // JVM start on the monotonic clock
    val jvmStart = System.nanoTime() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime * 1000000L
    val a = parse(argv.toList)
    Files.createDirectories(a.work)
    if (a.prepareOnly) {
      val spark = session(a.work)
      try Workloads.names.foreach(n =>
        Workloads(n, a.work, a.cache, a.cacheKey, a.seed, a.scale).prepare(spark))
      finally spark.stop()
      return
    }
    val wl = Workloads(a.workload, a.work, a.cache, a.cacheKey, a.seed, a.scale)
    val gen0 = System.nanoTime()
    wl.generateFiles()
    val genS = seconds(gen0)
    if (a.generateOnly) return
    val code = try run(a, wl, seconds(jvmStart) - genS) finally {
      val t0 = System.nanoTime()
      SparkSession.getActiveSession.foreach(_.stop())
      System.err.println(f"e2ebench: session stop ${seconds(t0)}%.3f s")
    }
    System.out.flush()
    if (code != 0) sys.exit(code)
  }

  /** `sinceStartS`: JVM start until now, input generation excluded. */
  def run(a: Args, wl: Workload, sinceStartS: Double): Int = {
    var attempted = 0
    var failed = 0
    var opId = 0
    var tracer: Tracer = null
    var damaged = false

    /** Stage, run (timed), check and — traced — diff and replay one op. */
    def exec(spark: SparkSession, op: Op, traced: Boolean): Double = {
      opId += 1
      attempted += 1
      op.stage()
      val settleS = if (opId > 1) settle() else 0.0
      val before = if (traced) Io.snapshot(op.state) else Map.empty[String, (Long, Long)]
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (gc0, jit0) = (gcSeconds(), jitSeconds())
      if (traced) tracer.op = opId
      val t0 = System.nanoTime()
      val err =
        try { if (traced) tracer.span("cli.op_s", "")(op.run()) else op.run(); None }
        catch { case e: Exception => Some(s"${op.kind} failed: ${e.getMessage}") }
      val secs = seconds(t0)
      // the program's own compiles: read before the output check compiles more
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val diag = f" (gc ${gcSeconds() - gc0}%.2f s, jit ${jitSeconds() - jit0}%.2f s, " +
        f"$compiles%d code-generation compiles, after $settleS%.1f s JIT settle)"
      spark.catalog.clearCache()
      if (a.damage && !damaged) op.damage.foreach { d => d(); damaged = true }
      val problems = ArrayBuffer.empty[String]
      problems ++= err
      if (err.isEmpty)
        try problems ++= op.check()
        catch { case e: Exception => problems += s"${op.kind} check failed: ${e.getMessage}" }
      if (traced) {
        val (files, bytes, tables) = Io.diff(before, Io.snapshot(op.state))
        tracer.value("spark.codegen_compiles", compiles.toDouble)
        tracer.value("core.files_written", files.toDouble)
        tracer.value("core.bytes_written_mb", bytes / 1e6)
        tracer.value("core.tables_rewritten", tables.toDouble)
        if (op.inputBytes > 0) tracer.value("core.write_amp", bytes.toDouble / op.inputBytes)
        try op.replay(tracer)
        catch { case e: Exception => problems += s"${op.kind} replay failed: ${e.getMessage}" }
        spark.catalog.clearCache()
      }
      System.err.println(f"e2ebench: op $opId%d ${op.kind}%s ${secs}%.3f s" + diag +
        (if (traced) " traced" else ""))
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => System.err.println(s"!!! op $opId (${op.kind}): $p"))
      }
      secs
    }

    // ------------------------------------------------------------ set-up
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = seconds(t0)
    val p0 = System.nanoTime()
    wl.prepare(spark)
    val prepareS = seconds(p0)
    if (a.trace) tracer = new Tracer(spark.sparkContext)
    val warmS = wl.warmUp(spark).map(exec(spark, _, traced = false)).sum
    wl.cleanup(0)
    val setupS = sinceStartS + sessionS + warmS
    System.err.println(f"e2ebench: set-up $setupS%.3f s (session $sessionS%.3f s, " +
      f"warm-up $warmS%.3f s); untimed preparation $prepareS%.3f s")
    wl.recalls.clear()
    if (a.trace) {
      tracer.op = 0
      try wl.replayExtra(spark, tracer)
      catch { case e: Exception => failed += 1; System.err.println(s"!!! extra replay: $e") }
      spark.catalog.clearCache()
    }

    // --------------------------------------------------- measured phase
    val untracedTimes = ArrayBuffer.empty[Double]
    val tracedTimes = ArrayBuffer.empty[Double]
    val inputBytes = ArrayBuffer.empty[Long]
    val ratios = ArrayBuffer.empty[Double]
    val phase0 = System.nanoTime()
    var r = 1
    def more = r == 1 || seconds(phase0) < a.seconds ||
      (a.trace && (untracedTimes.isEmpty || tracedTimes.isEmpty))
    while (more) {
      val traced = a.trace && r % 2 == 0
      if (traced) tracer.attach()
      wl.round(spark, r, traced).foreach { op =>
        val t = exec(spark, op, traced)
        (if (traced) tracedTimes else untracedTimes) += t
        inputBytes += op.inputBytes
      }
      if (traced) tracer.detach()
      ratios += wl.storedRatio(r)
      wl.cleanup(r)
      r += 1
    }
    val opTimes = (untracedTimes ++ tracedTimes).toSeq
    System.err.println(f"e2ebench: ${r - 1}%d rounds of measured ops in ${seconds(phase0)}%.3f s")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", median(opTimes), "s"),
        ("input_mb_per_s", inputBytes.sum / 1e6 / opTimes.sum, "MB/s"),
        ("ok_ratio", 1.0 - failed.toDouble / attempted, "ratio"),
        ("stored_bytes_per_input_byte", median(ratios.toSeq), "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        a.traceOut.foreach(tracer.writeJsonl)
        layerMetrics(tracer, wl, untracedTimes.toSeq, tracedTimes.toSeq, opTimes)
      }
    println(Result.json(failed == 0, attempted, failed, metrics))
    if (failed == 0) 0 else 1
  }

  /** Per-layer metrics from the traced rounds, each averaged per
    * operation over the operations that have it (0 when none does). */
  def layerMetrics(tr: Tracer, wl: Workload, untraced: Seq[Double], traced: Seq[Double],
                   all: Seq[Double]): Seq[(String, Double, String)] = {
    val opSpans = tr.spans.filter(_.name == "cli.op_s").toSeq
    def perOp(op: Int, n: String) = tr.spans.filter(s => s.op == op && s.name == n).map(_.seconds).sum
    def spanMean(n: String) =
      mean(tr.spans.filter(_.name == n).map(_.op).distinct.map(perOp(_, n)).toSeq)
    def valueMean(n: String) = mean(tr.values.filter(_._2 == n).map(_._3).toSeq)
    val sourcesS = tr.spans.filter(_.name == "sources.read_s").map(_.seconds).sum
    val sourcesMb = tr.values.filter(_._2 == "sources.input_mb").map(_._3).sum
    val publishEst = opSpans.map(s => s.seconds - perOp(s.op, "sources.read_s") -
      perOp(s.op, "pipeline.clinical_s") - perOp(s.op, "pipeline.omics_s"))
    val engine = opSpans.map(s => tr.events.window(s.startMs, s.endMs, cores))
    def engineMean(k: String) = mean(engine.map(_.getOrElse(k, 0.0)))
    val sorted = all.sorted
    val tailP = math.max(0.5, 1.0 - 10.0 / sorted.size)
    val tail = sorted(math.min(sorted.size - 1, math.ceil(tailP * sorted.size).toInt - 1))
    Seq(
      ("sources.read_s", spanMean("sources.read_s"), "s"),
      ("sources.mb_per_s", if (sourcesS > 0) sourcesMb / sourcesS else 0.0, "MB/s"),
      ("pipeline.clinical_s", spanMean("pipeline.clinical_s"), "s"),
      ("pipeline.facts", valueMean("pipeline.facts"), "count"),
      ("pipeline.omics_s", spanMean("pipeline.omics_s"), "s"),
      ("core.load_star_s", spanMean("core.load_star_s"), "s"),
      ("operators.study_ops_s", spanMean("operators.study_ops_s"), "s"),
      ("core.write_star_s", spanMean("core.write_star_s"), "s"),
      ("core.publish_est_s", mean(publishEst), "s"),
      ("core.bytes_written_mb", valueMean("core.bytes_written_mb"), "MB"),
      ("core.files_written", valueMean("core.files_written"), "count"),
      ("core.tables_rewritten", valueMean("core.tables_rewritten"), "count"),
      ("core.write_amp", valueMean("core.write_amp"), "ratio"),
      ("cli.op_s", mean(opSpans.map(_.seconds)), "s"),
      ("cli.driver_s", engineMean("cli.driver_s"), "s"),
      ("spark.jobs", engineMean("spark.jobs"), "count"),
      ("spark.stages", engineMean("spark.stages"), "count"),
      ("spark.tasks", engineMean("spark.tasks"), "count"),
      ("spark.task_s", engineMean("spark.task_s"), "s"),
      ("spark.cpu_s", engineMean("spark.cpu_s"), "s"),
      ("spark.sched_wait_s", engineMean("spark.sched_wait_s"), "s"),
      ("spark.core_util", engineMean("spark.core_util"), "ratio"),
      ("spark.shuffle_write_mb", engineMean("spark.shuffle_write_mb"), "MB"),
      ("spark.shuffle_read_mb", engineMean("spark.shuffle_read_mb"), "MB"),
      ("spark.spill_mb", engineMean("spark.spill_mb"), "MB"),
      ("spark.gc_s", engineMean("spark.gc_s"), "s"),
      ("spark.failed_tasks", engineMean("spark.failed_tasks"), "count"),
      ("spark.codegen_compiles", valueMean("spark.codegen_compiles"), "count"),
      ("spark.codegen_compile_ms_mean",
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean, "ms"),
      ("core.corpus_read_s", spanMean("core.corpus_read_s"), "s"),
      ("operators.ledger_read_s", spanMean("operators.ledger_read_s"), "s"),
      ("operators.ledger_partitions", valueMean("operators.ledger_partitions"), "count"),
      ("operators.dedup_screen_s", spanMean("operators.dedup_screen_s"), "s"),
      ("operators.dedup_recall_exact", mean(wl.recalls.map(_._1).toSeq), "ratio"),
      ("operators.dedup_recall_near", mean(wl.recalls.map(_._2).toSeq), "ratio"),
      ("ops.tail_s", tail, "s"),
      ("ops.n", sorted.size.toDouble, "count"),
      ("trace.overhead_ratio", median(traced) / median(untraced), "ratio"))
  }
}

object Result {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
