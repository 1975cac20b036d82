package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  private def stage(id: Int, start: Long, end: Long, result: Boolean, in: Long = 0,
      shRead: Long = 0, shWrite: Long = 0, out: Long = 0) =
    StageRec(id, start, end, 4, result, in, shRead, shWrite, out, 0, 0, 0, 0)

  test("stages are attributed to phases by what Spark reports") {
    val stages = Seq(
      stage(1, 0, 10, result = false, in = 100),                 // keying scan, no heavy docs
      stage(2, 10, 50, result = true, in = 100, out = 25),       // kernel + write
      stage(3, 50, 55, result = false, in = 25, shWrite = 9),    // metric partial aggregate
      stage(4, 55, 60, result = true, shRead = 8, out = 8),      // metric rows written
      stage(5, 60, 70, result = false, in = 100, shWrite = 700), // scan that relocates megas
      stage(6, 70, 99, result = true, in = 99, shRead = 1, out = 25),
      stage(7, 99, 100, result = true, shRead = 8))              // read-back collect
    val p = Layers.phases(stages)
    assert(p == Map(1 -> Layers.ScanKey, 2 -> Layers.KernelWrite, 3 -> Layers.Metrics,
      4 -> Layers.Metrics, 5 -> Layers.Relocate, 6 -> Layers.KernelWrite, 7 -> Layers.Metrics))
  }

  test("trace consistency passes a well-formed run and fails a stray job") {
    val run = SpanRec(7, 0, "r", "ExtractJob.run", "call", 0L, 100000L, Map.empty)
    val stages = Seq(stage(1, 10000, 40000, result = false, in = 100),
      stage(2, 40000, 90000, result = true, in = 100, out = 25))
    val jobs = Seq(JobRec(1, 7, 5000, 95000, Seq(1, 2)))
    val ok = Trace(Seq(run), jobs, stages, Map(1 -> 1, 2 -> 1), Nil)
    assert(Layers.consistency(ok, run, Layers.ofRun(ok, run)).isEmpty)
    // a job of the same run that lost its parent: it overlaps the run and
    // its stage has no owner in the run
    val lost = ok.copy(jobs = Seq(JobRec(1, 7, 5000, 38000, Seq(1)), JobRec(2, 0, 39000, 95000, Seq(2))),
      stageOwner = Map(1 -> 1, 2 -> 2))
    val problems = Layers.consistency(lost, run, Layers.ofRun(lost, run))
    assert(problems.exists(_.contains("jobs 2 overlap")))
    assert(problems.exists(_.contains("stages 2 have no owning job")))
    // stages that run side by side are counted twice in the phase split
    val parallel = ok.copy(stages = Seq(stage(1, 10000, 90000, result = false, in = 100),
      stage(2, 10000, 90000, result = true, in = 100, out = 25)))
    assert(Layers.consistency(parallel, run, Layers.ofRun(parallel, run))
      .exists(_.contains("self-time coverage")))
  }

  test("interval union and self time") {
    assert(Intervals.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Intervals.selfTime((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 120L))) == 70)
  }

  test("query content hash ignores row order and object identity") {
    val a = Array(Row("x", 1L, Array[Byte](1, 2)), Row("y", 2L, Array[Byte](3)))
    val b = Array(Row("y", 2L, Array[Byte](3)), Row("x", 1L, Array[Byte](1, 2)))
    assert(Queries.contentHash(a) == Queries.contentHash(b))
    assert(Queries.contentHash(a) != Queries.contentHash(a.take(1)))
    assert(Queries.canon(Row(Seq(1, 2), null)) == "([1,2],null)")
  }
}
