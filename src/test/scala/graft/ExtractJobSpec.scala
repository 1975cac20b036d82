package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, element_at}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Doc
import graft.pipeline.{ExtractJob, LocalManifestStore}
import graft.tokenize.DocGen

/** Resume fixture (FIXTURES.md §6): a run killed after K of B buckets commit
  * must, on re-run, reprocess only B-K buckets; output must contain every
  * doc exactly once with the span-order invariant intact.
  */
class ExtractJobSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(n: Int) = {
    import spark.implicits._
    spark.range(n).map(i => DocGen.syntheticDoc(i)).as[Doc]
  }

  test("kill after 2 commit groups, resume processes only the remainder") {
    val out = Files.createTempDirectory("graft_job").toString
    val nDocs = 600
    val cfg = ExtractJob.Config(nBuckets = 16, groupSize = 4, runId = "r1",
      failAfterGroups = Some(2))

    val first = ExtractJob.run(spark, docs(nDocs), out, cfg)
    assert(first.processedBuckets.length == 8)
    assert(first.skippedBuckets.isEmpty)
    val store = new LocalManifestStore(out)
    assert(store.committedBuckets() == first.processedBuckets.toSet)

    // resume: same job, no failure injection
    val second = ExtractJob.run(spark, docs(nDocs), out,
      cfg.copy(failAfterGroups = None, runId = "r2"))
    assert(second.skippedBuckets.toSet == first.processedBuckets.toSet)
    assert(second.processedBuckets.length == 8)
    assert((first.processedBuckets ++ second.processedBuckets).toSet == (0 until 16).toSet)

    // every doc present exactly once
    val data = spark.read.parquet(s"$out/data")
    assert(data.count() == nDocs)
    assert(data.groupBy("doc_id").count().filter("count > 1").count() == 0)

    // first-run buckets carry run r1 manifests, second-run r2
    assert(first.processedBuckets.forall(b => store.readManifest(b).exists(_.runId == "r1")))
    assert(second.processedBuckets.forall(b => store.readManifest(b).exists(_.runId == "r2")))

    // manifests agree with the data
    val perBucket = data.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 16).foreach { b =>
      assert(store.readManifest(b).map(_.nDocs).contains(perBucket.getOrElse(b, 0L)))
    }

    // a third run is a no-op
    val third = ExtractJob.run(spark, docs(nDocs), out, cfg.copy(failAfterGroups = None))
    assert(third.processedBuckets.isEmpty && third.skippedBuckets.length == 16)

    // span-order invariant on the stored output
    import spark.implicits._
    val bad = data.select("spans").as[Seq[graft.model.Span]]
      .filter(s => s.map(_.offset) != s.indices)
      .count()
    assert(bad == 0)

    // per-partition lineage metrics exist and reconcile with totals
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.columns.toSet ==
      Set("bucket", "partition_id", "n_docs", "n_spans", "n_errors", "run_id"))
    val mDocs = metrics.agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0)
    assert(mDocs == nDocs)
  }

  test("crash INSIDE the per-bucket commit loop loses no data on resume") {
    // Window: group dir renamed into place, only some of its bucket
    // manifests committed. The sweep must revoke those manifests along with
    // the dir so the whole group reprocesses (exactly-once either way).
    val out = Files.createTempDirectory("graft_midcrash").toString
    val nDocs = 400
    val cfg = ExtractJob.Config(nBuckets = 8, groupSize = 4, runId = "c1",
      failAfterBucketCommits = Some(2))
    intercept[ExtractJob.SimulatedCrash] {
      ExtractJob.run(spark, docs(nDocs), out, cfg)
    }
    val store = new LocalManifestStore(out)
    assert(store.committedBuckets().size == 2) // the torn group, half committed
    // the crash skipped the run's own temp-dir cleanup: the sweep must do it
    assert(tmpDirs(out).nonEmpty, "the simulated crash left no temp dir to sweep")

    val second = ExtractJob.run(spark, docs(nDocs), out,
      cfg.copy(failAfterBucketCommits = None, runId = "c2"))
    // the torn group's committed buckets were revoked -> everything reran
    assert(second.skippedBuckets.isEmpty)
    assert(second.processedBuckets.toSet == (0 until 8).toSet)
    assert(tmpDirs(out).isEmpty, "a temp dir survived the crash and resume")
    val data = spark.read.parquet(s"$out/data")
    assert(data.count() == nDocs)
    assert(data.groupBy("doc_id").count().filter("count > 1").count() == 0)
    // manifests agree with the data after the recovery run
    val perBucket = data.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 8).foreach { b =>
      assert(store.readManifest(b).map(_.nDocs).contains(perBucket.getOrElse(b, 0L)))
      assert(store.readManifest(b).exists(_.runId == "c2"))
    }
  }

  test("mega-docs are isolated onto their own partitions") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_skew").toString
    // low heavy threshold so the synthetic mega tail definitely qualifies
    val cfg = ExtractJob.Config(nBuckets = 4, groupSize = 4, heavyWeight = 5000L,
      runId = "skew")
    // choose n so the deterministic mega tail is definitely included
    val firstMega = (0L until 20000L)
      .find(i => DocGen.megaFactor(i) > 1)
      .getOrElse(fail("no mega doc in generator range"))
    val n = firstMega.toInt + 200
    val stats = ExtractJob.run(spark, docs(n), out, cfg)
    assert(stats.nDocs == n)
    val data = spark.read.parquet(s"$out/data")
    val megaDocIds: Seq[String] = (0L until n.toLong)
      .filter(i => DocGen.syntheticDoc(i).spans.iterator
        .map(s => s.text.length.toLong + s.media_ref.length).sum >= 5000L)
      .map(i => f"doc_$i%09d")
    assert(megaDocIds.nonEmpty, "expected at least one mega doc in range")
    // no light doc shares a physical partition with a mega doc
    val partOfMega = data
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(megaDocIds: _*))
      .select("partition_id").as[Int].collect().toSet
    val partOfLight = data
      .filter(!org.apache.spark.sql.functions.col("doc_id").isin(megaDocIds: _*))
      .select("partition_id").as[Int].collect().toSet
    assert(partOfMega.nonEmpty && partOfMega.intersect(partOfLight).isEmpty,
      s"mega partitions $partOfMega must be disjoint from light partitions")
  }

  private def tmpDirs(out: String): Seq[Path] =
    scala.util.Using.resource(Files.list(Paths.get(out)))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith(".tmp-group-")).toSeq)

  /** Input records read by the tasks of every stage `body` submits. */
  private def recordsRead(body: => Unit): Long = {
    val sc = spark.sparkContext
    val tag = "records-read-" + System.nanoTime()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val total = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          total.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    total.get
  }

  test("one input scan per run: records read do not grow with the commit groups") {
    import spark.implicits._
    val nDocs = 800
    val corpus = Files.createTempDirectory("graft_scan").resolve("corpus").toString
    docs(nDocs).write.parquet(corpus)
    def input = spark.read.parquet(corpus).as[Doc]
    def readFor(groupSize: Int): (Long, String) = {
      val out = Files.createTempDirectory(s"graft_scan_g$groupSize").toString
      val cfg = ExtractJob.Config(nBuckets = 16, groupSize = groupSize, runId = s"g$groupSize")
      var stats: ExtractJob.RunStats = null
      val n = recordsRead { stats = ExtractJob.run(spark, input, out, cfg) }
      assert(stats.nDocs == nDocs && stats.processedBuckets == (0 until 16))
      (n, out)
    }
    val (fourGroups, out) = readFor(4)
    val (oneGroup, _) = readFor(16)
    assert(oneGroup > 0)
    assert(fourGroups == oneGroup,
      s"4 commit groups read $fourGroups input records, 1 group read $oneGroup")

    // each group dir holds exactly its own buckets, tagged with its group
    val groups = (0 until 16).grouped(4).toSeq
    val dataDir = Paths.get(out, "data")
    val dirs = scala.util.Using.resource(Files.list(dataDir))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    assert(dirs == groups.map(g => s"group=${g.mkString("-")}").toSet)
    groups.zipWithIndex.foreach { case (g, gi) =>
      val rows = spark.read.parquet(dataDir.resolve(s"group=${g.mkString("-")}").toString)
        .select(col("bucket"), element_at(col("extraction_path"), -1))
        .as[(Int, String)].collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_._1 / 4 == gi), s"group $gi holds a foreign bucket")
      assert(rows.forall(_._2 == s"commit_group:$gi"), s"group $gi rows carry another tag")
    }
    assert(spark.read.parquet(dataDir.toString).count() == nDocs)
    assert(tmpDirs(out).isEmpty, "a normal run left its temp dir behind")
  }

  test("no temp dir survives a kill after 2 commit groups plus its resume") {
    val out = Files.createTempDirectory("graft_tmp").toString
    val cfg = ExtractJob.Config(nBuckets = 16, groupSize = 4, runId = "k1",
      failAfterGroups = Some(2))
    val first = ExtractJob.run(spark, docs(300), out, cfg)
    assert(first.processedBuckets == (0 until 8))
    val second = ExtractJob.run(spark, docs(300), out,
      cfg.copy(failAfterGroups = None, runId = "k2"))
    assert(second.processedBuckets == (8 until 16))
    assert(tmpDirs(out).isEmpty, "a temp dir survived the kill and resume")
    assert(spark.read.parquet(s"$out/data").count() == 300)
    // a kill after the last manifest commit but before the temp-dir cleanup
    // leaves a fully committed outDir with a temp dir; the next run writes
    // nothing, so only its sweep can remove the dir
    Files.createDirectories(Paths.get(out, ".tmp-group-run", "commit_group=0"))
    val third = ExtractJob.run(spark, docs(300), out, cfg.copy(failAfterGroups = None))
    assert(third.processedBuckets.isEmpty && third.skippedBuckets == (0 until 16))
    assert(tmpDirs(out).isEmpty, "a no-op run left a crashed run's temp dir")
    // metrics history counts each committed doc once, across both runs
    val mDocs = spark.read.parquet(s"$out/metrics")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0)
    assert(mDocs == 300)
  }
}
