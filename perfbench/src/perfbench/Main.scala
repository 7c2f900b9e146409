package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options of one benchmark run (see perfbench/README.md). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    tiny: Boolean, corruptReference: Boolean, dataDir: String, outDir: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f @ ("--tiny" | "--corrupt-reference") => flags += f
        case k if k.startsWith("--") && i + 1 < args.length => m(k) = args(i + 1); i += 1
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
      i += 1
    }
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = req("--trace") match {
      case "0" => false
      case "1" => true
      case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = req("--seconds").toInt
    require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
    Opts(req("--workload"), req("--seed").toLong, seconds, trace,
      flags("--tiny"), flags("--corrupt-reference"), req("--data-dir"), req("--out-dir"))
  }
}

/** One metric of the final result line; a figure with no successful
  * sample (only in a failed run) reads 0.
  */
final case class Metric(name: String, raw: Double, unit: String) {
  val value: Double = if (raw.isNaN || raw.isInfinite) 0.0 else raw
}

/** A closed-loop workload: one client thread, each call starting only
  * after the previous one returned.
  */
abstract class Workload(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val calls = new Calls
  /** The generator of input stream `stream`, item `index`, for this seed. */
  protected def g(stream: Int, index: Long = 0L): Gen =
    new Gen(Gen.mix(Gen.mix(Gen.mix(opts.seed) + stream) + index))

  /** Generates the inputs under `dir` and builds the stores from them,
    * replacing the state of any earlier set-up.
    */
  def setup(dir: Path): Unit
  /** The untimed first call of each kind, after the last set-up. */
  def warmUp(): Unit
  /** Rounds timed per 10 s of `--seconds`. Every run of the same
    * arguments times the same rounds over the same store sizes, however
    * fast the host or the code under test.
    */
  def roundsPer10s: Int
  /** Parts of one closed-loop round; the wall guard may end a run between parts. */
  def parts: Int
  /** Part `part` of round `round`; `round` is the request id of its spans. */
  def step(round: Long, part: Int): Unit
  /** Checks every recorded result against its reference (untimed). */
  def check(): Unit
  def endToEnd(): Seq[Metric]
  def layerMetrics(): Seq[Metric]
  /** Input sizes and sample counts, echoed in the output. */
  def info(): Seq[(String, Any)]
  def close(): Unit = ()
}

object Main {
  /** Set-ups per run: `setup_s` is their median plus the warm-up. */
  val SetupReps = 3
  /** A run stops timing at the first part boundary after this many
    * times `--seconds`, even with rounds left: a guard against the run's
    * time limit on a slow host, not the measure of a run.
    */
  val GuardFactor = 6

  /** Rounds a run times: `roundsPer10s` scaled to `--seconds`, at least
    * two; a traced run rounds up to whole T,U,U,T blocks (see `tracedRound`).
    */
  def rounds(w: Workload, opts: Opts): Long = {
    val n = math.max(2L, math.round(opts.seconds * w.roundsPer10s / 10.0))
    if (opts.trace) (n + 3) / 4 * 4 else n
  }

  /** Traced runs trace rounds 0, 3, 4, 7, 8, ...: each pair of rounds
    * (2i, 2i+1) holds one traced and one untraced round, the traced one
    * first in every other pair, so a trend across rounds (a growing
    * store) cancels out of `trace.overhead_ratio`.
    */
  def tracedRound(r: Long): Boolean = r % 4 == 0 || r % 4 == 3

  val Spans: Seq[String] = Seq("batch.run_incremental", "client.get", "client.get_batch",
    "streaming.microbatch", "operators.bm25_append", "operators.ivf_append",
    "operators.compact", "operators.bm25_topk", "operators.ivf_topk")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val workRoot = Paths.get(opts.outDir, "work")
    deleteStaleWork(workRoot)
    val work = workRoot.resolve(s"${opts.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val w: Workload = opts.workload match {
      case "batch_lambda" => new BatchLambda(spark, opts, tracer)
      case "stream_index" => new StreamIndex(spark, opts, tracer)
      case other =>
        System.err.println(s"[perfbench] unknown workload: $other")
        sys.exit(2)
    }
    val code =
      try run(w, opts, work)
      finally {
        w.close()
        spark.stop()
        deleteRecursive(work)
      }
    sys.exit(code)
  }

  private def run(w: Workload, opts: Opts, work: Path): Int = {
    System.err.println(f"[perfbench] session up after ${
      (System.currentTimeMillis() - ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1e3}%.1f s")
    val tracer = w.tracer
    val setupS = (1 to SetupReps).map { rep =>
      val dir = work.resolve(s"setup-$rep")
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 1) deleteRecursive(work.resolve(s"setup-${rep - 1}"))
      System.err.println(f"[perfbench] set-up $rep: $s%.3f s")
      s
    }
    val warmUpS = {
      val t0 = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] warm-up: $warmUpS%.3f s")
    // traced runs alternate traced and untraced rounds, so the tracing
    // overhead is measured on the same inputs in the same process
    val nRounds = rounds(w, opts)
    val guard = System.nanoTime() + GuardFactor * opts.seconds * 1000000000L
    val roundMs = mutable.ArrayBuffer.empty[Double]
    var round = 0L
    var part = 0
    var roundStart = 0L
    while (round < nRounds && (round == 0 || System.nanoTime() < guard)) {
      if (part == 0) {
        tracer.setActive(opts.trace && tracedRound(round))
        roundStart = System.nanoTime()
      }
      w.step(round, part)
      part += 1
      if (part == w.parts) {
        roundMs += (System.nanoTime() - roundStart) / 1e6
        part = 0
        round += 1
      }
    }
    val guardHit = round < nRounds
    w.calls.kinds.foreach(k =>
      System.err.println(s"[perfbench] $k ms: ${w.calls.ms(k).map(x => f"$x%.0f").mkString(" ")}"))
    tracer.setActive(false)
    val spanWork = if (opts.trace) tracer.work() else Map.empty[Long, Work]
    val checkStart = System.nanoTime()
    w.check()
    System.err.println(f"[perfbench] timed rounds: ${roundMs.sum / 1e3}%.3f s, check: ${(System.nanoTime() - checkStart) / 1e9}%.3f s")

    val metrics =
      if (!opts.trace)
        Metric("setup_s", Calls.median(setupS) + warmUpS, "s") +: w.endToEnd() :+
          Metric("peak_rss_mb", peakRssMb(), "MB")
      else
        spanMetrics(tracer.recorded, spanWork) ++ layerMetrics(w.layerMetrics()) :+
          Metric("trace.overhead_ratio", overheadRatio(roundMs.toSeq), "ratio")
    val info = Seq("workload" -> opts.workload, "seed" -> opts.seed,
      "seconds" -> opts.seconds, "trace" -> opts.trace, "rounds" -> nRounds,
      "rounds_timed" -> (round + (if (part > 0) 1 else 0)), "guard_hit" -> guardHit,
      "setup_s_reps" -> setupS.map(s => f"$s%.3f").mkString("[", ",", "]"),
      "warm_up_s" -> f"$warmUpS%.3f") ++
      w.calls.kinds.map(k => s"samples.$k" -> w.calls.ms(k).size) ++ w.info() ++
      w.calls.error.map("first_error" -> _).toSeq
    if (opts.trace) writeTrace(opts, tracer.recorded, spanWork, metrics)
    println(Json.obj(Seq("info" -> Json.obj(info))).json)
    val correct = w.calls.failed == 0
    println(Json.obj(Seq("correct" -> correct, "attempted" -> w.calls.attempted,
      "failed" -> w.calls.failed,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))))).json)
    if (correct) 0 else 1
  }

  /** Layer counters beyond the span counters, with their units. Every
    * traced run reports all of them; a workload that bypasses a layer
    * reports 0 for it.
    */
  val LayerCounters: Seq[(String, String)] = Seq(
    "streaming.microbatch.addBatch_ms" -> "ms",
    "streaming.microbatch.queryPlanning_ms" -> "ms",
    "streaming.microbatch.walCommit_ms" -> "ms",
    "streaming.microbatch.state_rows" -> "count",
    "streaming.microbatch.state_memory_bytes" -> "B",
    "streaming.microbatch.output_rows_per_input_row" -> "ratio",
    "batch.store.bytes_per_key" -> "B",
    "batch.store.files_per_snapshot" -> "count",
    "client.get.hit_ratio" -> "ratio",
    "operators.index.segments_live" -> "count",
    "operators.ivf_topk.recall_at_10" -> "ratio")

  private def layerMetrics(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(LayerCounters.map(_._1).toSet),
      s"undeclared layer counters: ${byName.keySet -- LayerCounters.map(_._1)}")
    LayerCounters.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }
  }

  /** Per span name: calls, and per call the wall time and Spark work. */
  private def spanMetrics(spans: Seq[Span], work: Map[Long, Work]): Seq[Metric] =
    Spans.flatMap { name =>
      val ss = spans.filter(_.name == name)
      val n = ss.size
      val w = ss.flatMap(s => work.get(s.id)).foldLeft(Work())(_ + _)
      def per(x: Double) = if (n == 0) 0.0 else x / n
      Seq(Metric(s"$name.calls", n, "count"),
        Metric(s"$name.wall_ms", per(ss.map(_.wallMs).sum), "ms"),
        Metric(s"$name.jobs", per(w.jobs), "count"),
        Metric(s"$name.stages", per(w.stages), "count"),
        Metric(s"$name.tasks", per(w.tasks), "count"),
        Metric(s"$name.planning_ms", per(w.planningMs), "ms"),
        Metric(s"$name.exec_cpu_ms", per(w.cpuMs), "ms"),
        Metric(s"$name.input_bytes", per(w.inputBytes), "B"),
        Metric(s"$name.shuffle_write_bytes", per(w.shuffleWriteBytes), "B"),
        Metric(s"$name.output_bytes", per(w.outputBytes), "B"),
        Metric(s"$name.spill_bytes", per(w.spillBytes), "B"))
    }

  /** Traced ÷ untraced wall time of whole rounds, pair by pair: the
    * geometric mean over the complete pairs (2i, 2i+1), each of which
    * holds one traced round (see `tracedRound`).
    */
  private def overheadRatio(roundMs: Seq[Double]): Double = {
    val ratios = roundMs.grouped(2).filter(_.size == 2).zipWithIndex.map { case (pair, i) =>
      if (tracedRound(2L * i)) pair(0) / pair(1) else pair(1) / pair(0)
    }.toSeq
    if (ratios.isEmpty) Double.NaN else math.exp(ratios.map(math.log).sum / ratios.size)
  }

  private def writeTrace(opts: Opts, spans: Seq[Span], work: Map[Long, Work],
      metrics: Seq[Metric]): Unit = {
    val dir = Paths.get(opts.outDir, "traces")
    Files.createDirectories(dir)
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val spanJson = spans.map { s =>
      val w = work.getOrElse(s.id, Work())
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "parent" -> s.parent, "request" -> s.request,
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "planning_ms" -> w.planningMs, "exec_cpu_ms" -> w.cpuMs,
        "input_bytes" -> w.inputBytes, "shuffle_write_bytes" -> w.shuffleWriteBytes,
        "output_bytes" -> w.outputBytes, "spill_bytes" -> w.spillBytes))
    }
    val body = Json.obj(Seq("workload" -> opts.workload, "seed" -> opts.seed,
      "summary" -> Json.obj(metrics.map(m => m.name -> m.value)),
      "spans" -> Json.arr(spanJson)))
    val f = dir.resolve(s"${opts.workload}-seed${opts.seed}.json")
    Files.write(f, body.json.getBytes("UTF-8"))
    System.err.println(s"[perfbench] trace written to $f")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Removes the work directories of runs that were killed: a run's
    * directory is named after its process id.
    */
  private def deleteStaleWork(root: Path): Unit =
    if (Files.isDirectory(root)) {
      val s = Files.list(root)
      try s.toArray.map(_.asInstanceOf[Path]).foreach { d =>
        val pid = d.getFileName.toString.split('-').last.toLongOption
        if (pid.exists(p => !ProcessHandle.of(p).isPresent)) deleteRecursive(d)
      } finally s.close()
    }

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Total bytes of the regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.json
    case s => str(s.toString)
  }

  final case class Raw(json: String)
  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
}
