package perfbench

/** Per-layer numbers of one traced `ExtractJob.run` call, computed from its
  * span subtree (the call, the Spark jobs it started, their stages and
  * tasks).
  *
  * Stages are attributed to phases by what Spark reports about them, never
  * by source position:
  *  - a result stage that writes output records and reads input records is
  *    the kernel+write stage (the light branch scans the corpus directly);
  *  - any other result stage belongs to the metrics phase (the metric-row
  *    write and the per-bucket read-back);
  *  - a shuffle-map stage takes the phase of the next result stage to finish
  *    after it, the one it feeds. One that feeds the kernel+write stage is
  *    the keying scan, and counts as heavy relocation when it wrote shuffle
  *    bytes (it moved mega-documents to their own partitions).
  * A job's self time goes to the phase of its last stage. What no Spark job
  * covers is driver time: planning, the crash sweep, the group rename and
  * the manifest commits.
  */
final case class RunLayers(wallS: Double, scanKeyS: Double, relocateS: Double,
    kernelWriteS: Double, metricsS: Double, driverS: Double, selfCoverage: Double,
    corpusInputRecords: Long, shuffleWriteBytes: Long, spillBytes: Long,
    executorRunS: Double, executorCpuS: Double, gcS: Double, tasks: Int,
    emptyTasks: Int, heavyTaskSkew: Double, lightTaskSkew: Double, sparkJobs: Int)

object Layers {
  val ScanKey = "scan_key"
  val Relocate = "relocate"
  val KernelWrite = "kernel_write"
  val Metrics = "metrics"

  /** Phase of each stage, in completion order. */
  def phases(stages: Seq[StageRec]): Map[Int, String] = {
    val ordered = stages.sortBy(s => (s.complete, s.stageId))
    def resultPhase(s: StageRec): String =
      if (s.outputRecords > 0 && s.inputRecords > 0) KernelWrite else Metrics
    ordered.zipWithIndex.map { case (s, i) =>
      val phase =
        if (s.result) resultPhase(s)
        else ordered.drop(i + 1).find(_.result).map(resultPhase) match {
          case Some(KernelWrite) => if (s.shuffleWriteBytes > 0) Relocate else ScanKey
          case _ => Metrics
        }
      s.stageId -> phase
    }.toMap
  }

  private def skew(durations: Seq[Double]): Double =
    if (durations.isEmpty) 0.0
    else {
      val med = Stats.median(durations)
      if (med <= 0) 0.0 else durations.max / med
    }

  /** Slack for Spark's millisecond timestamps against the call spans. */
  private val ClockSlackUs = 2000L

  /** Checks of one traced run that can fail, so its phase split can be
    * trusted: no Spark job outside the run's children ran while the call
    * was open; every stage submitted inside the call, and every completed
    * stage its jobs list, is owned by one of its jobs; every job owns a
    * stage; and the self times of its job and stage spans plus driver
    * time cover its wall time within 5%.
    */
  def consistency(trace: Trace, run: SpanRec, l: RunLayers): Seq[String] = {
    val jobs = trace.jobsUnder(run.id)
    val mine = jobs.map(_.jobId).toSet
    val (s0, e0) = (run.start + ClockSlackUs, run.end - ClockSlackUs)
    val stray = trace.jobs.filter(j => !mine(j.jobId) && j.start < e0 && j.end > s0)
    val completed = trace.stages.map(_.stageId).toSet
    val listed = jobs.flatMap(_.stageIds).filter(completed)
    val inside = trace.stages.filter(s => s.submit >= s0 && s.submit < e0).map(_.stageId)
    val unowned = (listed ++ inside).distinct.filterNot(id => trace.stageOwner.get(id).exists(mine))
    val empty = jobs.filter(j => trace.stagesOf(j.jobId).isEmpty).map(_.jobId)
    Seq(
      if (jobs.isEmpty) Some("no Spark job under the run") else None,
      if (stray.nonEmpty) Some(s"jobs ${stray.map(_.jobId).mkString(",")} overlap the run " +
        "but are not its children") else None,
      if (unowned.nonEmpty) Some(s"stages ${unowned.sorted.mkString(",")} have no owning job " +
        "in the run") else None,
      if (empty.nonEmpty) Some(s"jobs ${empty.mkString(",")} own no stage") else None,
      if (math.abs(l.selfCoverage - 1) > 0.05) Some(f"self-time coverage ${l.selfCoverage}%.3f " +
        "is not within 5% of the run wall") else None).flatten
  }

  def ofRun(trace: Trace, run: SpanRec): RunLayers = {
    val jobs = trace.jobsUnder(run.id)
    val jobStages = jobs.map(j => j -> trace.stagesOf(j.jobId))
    val stages = jobStages.flatMap(_._2)
    val phase = phases(stages)
    val byPhase = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var selfSum = 0L
    jobStages.foreach { case (j, ss) =>
      val jobSelf = Intervals.selfTime((j.start, j.end), ss.map(s => (s.submit, s.complete)))
      selfSum += jobSelf
      ss.foreach { s => byPhase(phase(s.stageId)) += s.complete - s.submit; selfSum += s.complete - s.submit }
      ss.sortBy(_.complete).lastOption.foreach(s => byPhase(phase(s.stageId)) += jobSelf)
    }
    val driver = Intervals.selfTime((run.start, run.end), jobs.map(j => (j.start, j.end)))
    val wall = run.dur.toDouble
    val stageIds = stages.map(_.stageId).toSet
    val runTasks = trace.tasks.filter(t => stageIds.contains(t.stageId))
    val kwStages = stages.filter(s => phase(s.stageId) == KernelWrite).map(_.stageId).toSet
    val kwTasks = runTasks.filter(t => kwStages.contains(t.stageId))
    val heavy = kwTasks.filter(_.shuffleReadRecords > 0).map(_.durationMs.toDouble)
    val light = kwTasks.filter(_.inputRecords > 0).map(_.durationMs.toDouble)
    val corpusStages = stages.filter(s => Set(ScanKey, Relocate, KernelWrite)(phase(s.stageId)))
    RunLayers(
      wallS = wall / 1e6,
      scanKeyS = byPhase(ScanKey) / 1e6,
      relocateS = byPhase(Relocate) / 1e6,
      kernelWriteS = byPhase(KernelWrite) / 1e6,
      metricsS = byPhase(Metrics) / 1e6,
      driverS = driver / 1e6,
      selfCoverage = if (wall <= 0) 0.0 else (selfSum + driver) / wall,
      corpusInputRecords = corpusStages.map(_.inputRecords).sum,
      shuffleWriteBytes = stages.map(_.shuffleWriteBytes).sum,
      spillBytes = stages.map(_.spillBytes).sum,
      executorRunS = stages.map(_.runMs).sum / 1e3,
      executorCpuS = stages.map(_.cpuNs).sum / 1e9,
      gcS = stages.map(_.gcMs).sum / 1e3,
      tasks = runTasks.length,
      emptyTasks = runTasks.count(t => t.inputRecords == 0 && t.shuffleReadRecords == 0),
      heavyTaskSkew = skew(heavy),
      lightTaskSkew = skew(light),
      sparkJobs = jobs.length)
  }
}
