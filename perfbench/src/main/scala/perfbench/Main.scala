package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py, which builds the
  * classpath):
  *
  *   perfbench.Main --workload extract-uniform|extract-skewed|queries
  *     --seed N --seconds S --trace 0|1 --work DIR --results DIR
  *     --data DIR --expect FILE [--source-rev REV] [--smoke]
  *   perfbench.Main --write-expectations --data DIR --expect FILE --work DIR
  *
  * Prints human-readable lines, one `{"perfbench_record": ...}` line, and
  * as its last line the result object. Exit code 1 when any operation
  * failed or any output check did not hold.
  */
object Main {

  /** extract-uniform and queries are the benchmark's workloads (see
    * BENCHMARK.json); extract-skewed and queries-all run the same code on
    * the skewed corpus and on the whole query suite.
    */
  val Workloads = Seq("extract-uniform", "queries", "extract-skewed", "queries-all")

  /** Set-ups per run, each timed from its own start; setup_s is their
    * median (plus, for the extract workloads, the warm-up runs that follow
    * them).
    */
  val setupReps = 3
  val warmupRuns = 2

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, smoke: Boolean = false, work: String = "",
      results: String = "", data: String = "", expect: String = "",
      sourceRev: String = "unknown", writeExpectations: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, a.copy(smoke = true))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--results" :: v :: t => parse(t, a.copy(results = v))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--expect" :: v :: t => parse(t, a.copy(expect = v))
    case "--source-rev" :: v :: t => parse(t, a.copy(sourceRev = v))
    case "--write-expectations" :: t => parse(t, a.copy(writeExpectations = true))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** What a workload run reports back to `main`. */
  final case class Outcome(values: Map[String, Double], record: Seq[(String, String)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    if (a.writeExpectations) { writeExpectations(a, work); return }
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val ctx = new Ctx(a.seed, a.seconds, a.trace, a.smoke, work, Paths.get(a.results).toAbsolutePath)
    val loadStart = Host.loadavg
    val outcome =
      try a.workload match {
        case "extract-uniform" => extract(ctx, Corpus.Uniform)
        case "extract-skewed" => extract(ctx, Corpus.Skewed)
        case "queries" => queries(ctx, Paths.get(a.data), Paths.get(a.expect), Queries.benchSet)
        case "queries-all" => queries(ctx, Paths.get(a.data), Paths.get(a.expect), Queries.all)
      } finally ctx.stopSpark()
    log("workload done")
    val peakRss = Host.peakRssMb
    val values = outcome.values
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val failShare = Stats.Ratio(ctx.failed, ctx.attempted, "failed operations", "attempted operations")
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "smoke" -> a.smoke.toString,
      "host" -> Host.json(org.apache.spark.SPARK_VERSION, a.sourceRev),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(Host.loadavg),
      "peak_rss_mb" -> Json.num(peakRss),
      "fail_share" -> failShare.json,
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]")) ++ outcome.record)
    val metrics = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Metrics.json(metrics, values)))
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val results = Paths.get(a.results)
    Files.createDirectories(results)
    Files.write(results.resolve(s"$name.json"),
      s"""{"record":$record,"result":$result}\n""".getBytes(StandardCharsets.UTF_8))
    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}: " +
      s"attempted ${ctx.attempted}, failed ${ctx.failed}, fail_share ${Json.num(failShare.value)}, " +
      s"peak_rss_mb ${Json.num(peakRss)} MB")
    metrics.foreach(m => println(f"  ${m.name}%-44s ${Json.num(values.getOrElse(m.name, 0.0))} ${m.unit}"))
    println(s"""{"perfbench_record":$record}""")
    println(result)
    System.out.flush()
    log("exit")
    sys.exit(if (correct) 0 else 1)
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - Host.jvmStartMs) / 1e3}%.1f s: $msg")

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `setUp` setupReps times, each timed from its own start. The first
    * one also pays for loading and compiling Spark's code in this JVM; the
    * median leaves that out.
    */
  def setUps(ctx: Ctx, setUp: () => SparkSession): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until (if (ctx.smoke) 1 else setupReps)).map { r =>
      val t0 = System.nanoTime()
      spark = setUp()
      log(s"set-up ${r + 1} done")
      since(t0)
    }
    (spark, times)
  }

  /** Seconds from JVM start to now: recorded as `time_to_first_run_s` just
    * before the first timed operation.
    */
  def sinceJvmStart: Double = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3

  def samplesJson(xs: Seq[Double]): String = xs.map(Json.num).mkString("[", ",", "]")

  def extract(ctx: Ctx, kind: String): Outcome = {
    val ex = new Extract(ctx, kind)
    val cores = Host.nproc
    val (spark, setupTimes) = setUps(ctx, () => ex.setUp(cores))
    val props = ex.corpusProps(spark)
    val rec = ArrayBuffer[(String, String)](
      "corpus" -> Json.obj(props.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "cores" -> cores.toString,
      "setup_samples_s" -> samplesJson(setupTimes))
    val corpusBytes = props("corpus_file_bytes")
    // warm-up runs: the job's write path and the mega-document path reach
    // steady state only after a couple of runs; they count as set-up
    val w0 = System.nanoTime()
    (0 until (if (ctx.smoke) 0 else warmupRuns)).foreach(i => ex.runOnce(spark, s"warmup$i"))
    val warmupS = since(w0)
    rec += "warmup_s" -> Json.num(warmupS)

    rec += "time_to_first_run_s" -> Json.num(sinceJvmStart)
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val tracer = if (ctx.trace) Some(new Tracer(s"${kind}-seed${ctx.seed}", spark.sparkContext)) else None
    tracer match {
      case None =>
        // untraced runs: for --seconds, at least three
        val minRuns = if (ctx.smoke) 1 else 3
        val loop0 = System.nanoTime()
        var k = 0
        while (k < minRuns || (!ctx.smoke && since(loop0) < ctx.seconds)) {
          ex.runOnce(spark, s"t$k").foreach(untraced += _)
          k += 1
        }
      case Some(t) =>
        // untraced and traced runs in the order u t t u t u u t: the runs
        // still get faster as the JVM warms, and this order gives neither
        // side the warmer positions
        val order = if (ctx.smoke) Seq(false, true) else Seq(false, true, true, false, true, false, false, true)
        order.zipWithIndex.foreach { case (on, i) =>
          t.listen(on)
          if (on) ex.runOnce(spark, s"traced$i", tracer).foreach(traced += _)
          else ex.runOnce(spark, s"u$i").foreach(untraced += _)
        }
    }
    log(s"timed runs done: ${untraced.length} untraced, ${traced.length} traced")
    val passS = if (untraced.isEmpty) Double.NaN else Stats.median(untraced.toSeq)
    val docsPerS = ex.nDocs / passS
    rec += "check_s" -> Json.num(ex.checkSeconds)
    rec += "pass_s" -> (if (untraced.isEmpty) "null" else Stats.summary(untraced.toSeq).json)
    rec += "pass_samples_s" -> samplesJson(untraced.toSeq)
    rec += "docs_per_s" -> Json.num(docsPerS)
    rec += "output_bytes_per_input_byte" ->
      Stats.Ratio(ex.lastOutputBytes, corpusBytes, "output data bytes", "corpus file bytes").json
    val values = Map("setup_s" -> (Stats.median(setupTimes) + warmupS), "pass_s" -> passS)
    if (tracer.isEmpty) return Outcome(values, rec.toSeq)

    // traced kernel and floor passes
    val t = tracer.get
    val outputFiles = ex.lastOutputFiles
    val kt0 = System.nanoTime()
    t.span("tokenize.kernel")(ex.kernelPass(spark))
    val kernelS = since(kt0)
    val ft0 = System.nanoTime()
    t.span("pipeline.floor")(ex.floorPass(spark, ctx.work.resolve("floor")))
    val floorS = since(ft0)
    Session.deleteTree(ctx.work.resolve("floor"))
    val tr = t.snapshot()
    t.stop()
    val runSpans = tr.calls.filter(_.name == "ExtractJob.run").sortBy(_.dur)
    require(runSpans.nonEmpty, "no traced ExtractJob.run completed")
    runSpans.foreach { r =>
      ctx.checkOp(s"trace of ExtractJob.run span ${r.id}", Layers.consistency(tr, r, Layers.ofRun(tr, r)))
    }
    val medRun = runSpans(runSpans.length / 2)
    val L = Layers.ofRun(tr, medRun)
    val tracedMed = if (traced.isEmpty) Double.NaN else Stats.median(traced.toSeq)
    val calib = Calibration.kernelDocsPerSecond()

    // the same corpus at local[1]: the scaling pair
    val oneCore: Option[Double] = {
      ctx.stopSpark()
      val s1 = ctx.startSpark(1)
      if (!ctx.smoke) ex.runOnce(s1, "c1-warmup")
      val xs = (0 until (if (ctx.smoke) 1 else 2)).flatMap(i => ex.runOnce(s1, s"c1-$i"))
      if (xs.isEmpty) None else Some(ex.nDocs / Stats.median(xs))
    }
    writeSpans(ctx, tr.allSpans(t.runId), s"${kind}-seed${ctx.seed}")

    val scanAmp = Stats.Ratio(L.corpusInputRecords, ex.nDocs, "corpus records read by the run", "corpus docs")
    val emptyShare = Stats.Ratio(L.emptyTasks, L.tasks, "tasks reading no records", "tasks")
    val busy = Stats.Ratio(L.executorRunS, L.wallS * cores, "executor run s", "wall s x cores")
    val overhead = Stats.Ratio(tracedMed - passS, passS, "traced minus untraced run s", "untraced run s")
    val scaling = oneCore.map(c1 => Stats.Ratio(docsPerS, cores * c1, "docs_per_s", "nproc x docs_per_s_1core"))
    rec += "traced_run_samples_s" -> samplesJson(traced.toSeq)
    rec += "ratios" -> Json.obj(Seq("pipeline.scan_amplification" -> scanAmp.json,
      "pipeline.empty_task_share" -> emptyShare.json, "pipeline.core_busy_share" -> busy.json,
      "trace.overhead_share" -> overhead.json) ++
      scaling.map(r => "pipeline.scaling_eff" -> r.json))
    rec += "median_traced_run" -> Json.obj(Seq("wall_s" -> Json.num(L.wallS),
      "spark_jobs" -> L.sparkJobs.toString, "span_id" -> medRun.id.toString))
    val layerValues = Map(
      "tokenize.kernel_s" -> kernelS,
      "tokenize.kernel_docs_per_s_1core" -> calib,
      "tokenize.spans_out" -> ex.kernelSpans.toDouble,
      "tokenize.error_spans" -> ex.kernelErrors.toDouble,
      "pipeline.docs_per_s" -> docsPerS,
      "pipeline.docs_per_s_1core" -> oneCore.getOrElse(0.0),
      "pipeline.scaling_eff" -> scaling.fold(0.0)(_.value),
      "pipeline.output_bytes_per_input_byte" -> ex.lastOutputBytes / corpusBytes,
      "pipeline.floor_s" -> floorS,
      "pipeline.overhead_s" -> (L.wallS - floorS),
      "pipeline.phase.scan_key_s" -> L.scanKeyS,
      "pipeline.phase.relocate_s" -> L.relocateS,
      "pipeline.phase.kernel_write_s" -> L.kernelWriteS,
      "pipeline.phase.metrics_s" -> L.metricsS,
      "pipeline.phase.driver_s" -> L.driverS,
      "pipeline.self_time_coverage" -> L.selfCoverage,
      "pipeline.scan_amplification" -> scanAmp.value,
      "pipeline.empty_task_share" -> emptyShare.value,
      "pipeline.shuffle_write_bytes" -> L.shuffleWriteBytes.toDouble,
      "pipeline.heavy_task_skew" -> L.heavyTaskSkew,
      "pipeline.light_task_skew" -> L.lightTaskSkew,
      "pipeline.output_files" -> outputFiles.toDouble,
      "pipeline.spill_bytes" -> L.spillBytes.toDouble,
      "pipeline.manifests_committed" -> ex.lastManifests.toDouble,
      "pipeline.executor_run_s" -> L.executorRunS,
      "pipeline.executor_cpu_s" -> L.executorCpuS,
      "pipeline.gc_s" -> L.gcS,
      "pipeline.core_busy_share" -> busy.value,
      "pipeline.tasks" -> L.tasks.toDouble,
      "trace.overhead_share" -> overhead.value)
    Outcome(values ++ layerValues, rec.toSeq)
  }

  def queries(ctx: Ctx, dataDir: Path, expectFile: Path, names: Seq[String]): Outcome = {
    val q = new Queries(ctx, dataDir, expectFile, if (ctx.smoke) Queries.onePerFamily(names) else names)
    val cores = Host.nproc
    val (spark, setupTimes) = setUps(ctx, () => q.setUp(cores))
    val order = q.order
    val tracer = if (ctx.trace) Some(new Tracer(s"queries-seed${ctx.seed}", spark.sparkContext)) else None
    val firstRunS = sinceJvmStart
    val times = order.map(n => n -> q.checked(spark, n, tracer))
    log("query pass done")
    val ok = times.flatMap { case (n, t) => t.map(n -> _) }
    val passS = if (ok.length == order.length) ok.map(_._2).sum else Double.NaN
    val perQuery = ok.map(_._2)
    val rec = ArrayBuffer[(String, String)](
      "cores" -> cores.toString,
      "setup_samples_s" -> samplesJson(setupTimes),
      "time_to_first_run_s" -> Json.num(firstRunS),
      "query_order" -> order.map(Json.str).mkString("[", ",", "]"),
      "query_total_s" -> Json.num(passS),
      "per_query_s" -> Stats.summary(if (perQuery.isEmpty) Seq(0.0) else perQuery).json,
      "query_s" -> Json.obj(ok.map { case (n, t) => n -> Json.num(t) }))
    val values = Map("setup_s" -> Stats.median(setupTimes), "pass_s" -> passS)
    tracer match {
      case None => Outcome(values, rec.toSeq)
      case Some(t) =>
        val tr = t.snapshot()
        val querySpans = tr.calls.filter(_.name.startsWith("query."))
        val jobs = querySpans.flatMap(s => tr.jobsUnder(s.id))
        val stages = jobs.flatMap(j => tr.stagesOf(j.jobId))
        // tracing overhead: warm repeats of the extraction (x*) queries,
        // untraced and traced in the order u t t u
        val probe = order.filter(_.startsWith("x")).take(if (ctx.smoke) 3 else 8)
        val rounds = (if (ctx.smoke) Seq(false, true) else Seq(false, true, true, false)).map { traced =>
          t.listen(traced)
          val t0 = System.nanoTime()
          probe.foreach(n => q.checked(spark, n, if (traced) Some(t) else None))
          traced -> since(t0)
        }
        t.stop()
        val un = Stats.median(rounds.filter(!_._1).map(_._2))
        val tra = Stats.median(rounds.filter(_._1).map(_._2))
        val overhead = Stats.Ratio(tra - un, un, "traced minus untraced repeat s", "untraced repeat s")
        rec += "ratios" -> Json.obj(Seq("trace.overhead_share" -> overhead.json))
        writeSpans(ctx, tr.allSpans(t.runId), s"queries-seed${ctx.seed}")
        val layerValues = Map(
          "queries.total_s" -> passS,
          "queries.spark_jobs" -> jobs.length.toDouble,
          "queries.input_records" -> stages.map(_.inputRecords).sum.toDouble,
          "queries.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
          "queries.gc_s" -> stages.map(_.gcMs).sum / 1e3,
          "trace.overhead_share" -> overhead.value) ++
          ok.map { case (n, s) => Metrics.perQuery(n).name -> s }
        Outcome(values ++ layerValues, rec.toSeq)
    }
  }

  def writeSpans(ctx: Ctx, spans: Seq[SpanRec], name: String): Unit = {
    val dir = ctx.results
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$name.spans.jsonl"),
      spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Regenerate the query expectations: two passes in different orders,
    * each in its own session; written only when both agree.
    */
  def writeExpectations(a: Args, work: Path): Unit = {
    val runs = Seq(false, true).map { reversed =>
      val ctx = new Ctx(0, 0, false, false, work, work)
      val q = new Queries(ctx, Paths.get(a.data), Paths.get(a.expect), Queries.all)
      val spark = q.setUp(Host.nproc)
      val order = if (reversed) q.order.reverse else q.order
      val r = order.map { n => val (_, rows, h) = q.runQuery(spark, n); n -> (rows, h) }.toMap
      ctx.stopSpark()
      r
    }
    val differ = runs(0).keys.filter(k => runs(0)(k) != runs(1)(k)).toSeq.sorted
    if (differ.nonEmpty) {
      System.err.println(s"[perfbench] results differ between passes: ${differ.mkString(", ")}")
      sys.exit(1)
    }
    Queries.writeExpectations(Paths.get(a.expect), Paths.get(a.data).getFileName.toString,
      runs(0).toSeq.map { case (n, (r, h)) => (n, r, h) })
    println(s"wrote ${runs(0).size} expectations to ${a.expect}")
  }
}

/** Fixed-work, single-thread kernel calibration: the same 3000 DocGen
  * documents on every host and seed, tokenized on the calling thread.
  */
object Calibration {
  private lazy val docs = (0L until 3000L).map(graft.tokenize.DocGen.syntheticDoc)

  def kernelDocsPerSecond(): Double = {
    val xs = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      docs.foreach(d => n += graft.tokenize.SpanTokenizer.extract(d).n_spans)
      require(n > 0)
      docs.length / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(xs)
  }
}
