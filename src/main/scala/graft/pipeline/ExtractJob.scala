package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Doc
import graft.tokenize.SpanTokenizer
import Manifests.deleteRecursively

/** The end-to-end extraction job (SURVEY.md §4 physical plan):
  *
  *   read -> skew-aware partition -> mapPartitions(drop committed buckets,
  *   tokenizer kernel) -> one write of every commit group ->
  *   one metrics read-back -> per-group atomic rename + bucket manifests
  *
  * Scale design decisions, in order of importance at 10^12 docs:
  *  - documents stay single rows end-to-end (extraction is embarrassingly
  *    parallel, map-only; the ONLY planned shuffle is the heavy relocation);
  *  - one input scan per run, whatever the commit granularity: the kernel
  *    tags every row with its commit group and one job writes all groups to
  *    one temp dir, partitioned by group;
  *  - buckets = hash(doc_id) % B drive resumability (a bucket is the commit
  *    unit recorded in the manifest store); buckets commit in groups of
  *    `groupSize`: a group's temp subdir is atomically renamed to
  *    `data/group=<buckets>`, then its bucket manifests are written, so a
  *    group is either fully visible or absent. In production the rename is
  *    an Iceberg snapshot commit (Checkpoint.scala); on re-run, group dirs
  *    whose buckets are not all manifest-committed are swept away, so output
  *    rows are exactly-once. A kill DURING the single write loses all of the
  *    run's work; a kill in the commit loop loses only the groups not yet
  *    renamed and committed;
  *  - file count is at most tasks x groups per run (one file per task per
  *    group it touches), NOT tasks x buckets: partitionBy("bucket") would
  *    emit one small file per task per bucket, the classic small-files
  *    failure at 1000 executors. Bucket stays a data column; the manifest
  *    maps buckets -> group dirs for pruned reads;
  *  - skew: doc_weight = total raw payload bytes; docs above `heavyWeight`
  *    are isolated onto their own partitions (a pathological mega-doc can't
  *    hold a whole partition of normal docs hostage);
  *  - the metrics read-back scans only this run's temp dir (O(run), not
  *    O(total output)) and collects at most buckets x partitions rows;
  *  - lineage: every output row carries extraction_path + the physical
  *    partition id that produced it; per-(bucket, partition) metric rows
  *    land next to the data (Provenance.extraction_path semantics,
  *    reference src/pipeline/provenance.py:132-139). Metrics are append-only
  *    history keyed by run_id, written for committed buckets only; the
  *    authoritative totals live in the bucket manifests.
  */
object ExtractJob {

  /** Heavy-branch relocation: heavy docs are spread over this many PINNED
    * partitions (REPARTITION_BY_NUM, not AQE-coalescible) so a kernel+write
    * task carries ~1-2 mega-docs. The relocation shuffle is kept
    * unconditionally: a scan-side-only heavy branch was A/B'd in round 6
    * (same corpus, same window) and lost ~30% at c16 — without relocation
    * each heavy scan split funnels its ~20+ megas through one encode task.
    * The count is sized from the DATA (expected heavies per run / target
    * megas-per-task; at 10^12 docs set it from table stats), deliberately
    * NOT from the core count: a cores-proportional count (an earlier round-6
    * shape) launches more tasks on bigger clusters for the same 390 megas,
    * pure scheduling overhead on the wider leg. 256 ≈ 1.5 megas/task at the
    * bench's mega density; too few partitions re-creates the funnel via
    * hash-collision stragglers (128 parts measured 35% slower at c16 than
    * 512).
    */
  val HeavyParts = 256

  /** Shuffle-partition sizing rule (measured, BASELINE.md round-3 wave A/B):
    * on skewed corpora run MULTIPLE scheduling waves — shuffle partitions
    * >= 3-4x total cores — so mega-doc task-duration variance can be
    * rebalanced by the scheduler instead of extending the critical path
    * (N-vs-4N efficiency 0.69 with 1 wave vs 0.89 with 4 on the 1.6M
    * skewed corpus). Uniform corpora are fine at 1 wave.
    *
    * heavyWeight sizing rule (measured, see BASELINE.md skew A/B): isolate a
    * document only when it is a meaningful fraction (~5%) of one partition's
    * total char budget — below that, the light path absorbs the skew for
    * free, and isolation's extra input scan + shuffle wave is a net
    * loss (800k-doc corpus with 0.65k-x megas ran ~20% slower isolated).
    * Default 5M chars ~ 5% of a 100M-char partition at the bench shape; at
    * 10^12 docs set it from table stats: heavyWeight ~ 0.05 * totalChars /
    * shufflePartitions.
    */
  final case class Config(
      nBuckets: Int = 32,
      groupSize: Int = 8,
      heavyWeight: Long = 5000000L,
      // Output writer options. Dictionary encoding is disabled by default:
      // extracted span text is high-cardinality, so the dictionary pass
      // burns encoder CPU and memory only to overflow and fall back —
      // measured +13% on the 16-core skew leg with no c4 change (guide §6;
      // snappy page compression still applies).
      writeOptions: Map[String, String] =
        Map("parquet.enable.dictionary" -> "false"),
      tokenizer: SpanTokenizer.Config = SpanTokenizer.default,
      runId: String = "run",
      // test hook: simulate a crash after N commit groups are committed (the
      // later groups' rows are written but never renamed into `data`)
      failAfterGroups: Option[Int] = None,
      // test hook: simulate a crash after N BUCKET manifest commits — lands
      // inside the per-bucket commit loop, the window the sweep's manifest
      // revocation exists for
      failAfterBucketCommits: Option[Int] = None)

  /** Thrown by the failAfterBucketCommits test hook (simulated crash). */
  final class SimulatedCrash extends RuntimeException("simulated crash")

  final case class RunStats(
      processedBuckets: Seq[Int],
      skippedBuckets: Seq[Int],
      nDocs: Long,
      nSpans: Long,
      nErrors: Long)

  /** One extracted output row (long-lived storage schema). `commit_group`
    * is the write's partition column: it names the temp subdir the row lands
    * in and is not stored in the files.
    */
  final case class OutRow(
      doc_id: String,
      spans: Seq[graft.model.Span],
      n_spans: Int,
      n_errors: Int,
      modalities: Seq[String],
      extraction_path: Seq[String],
      partition_id: Int,
      bucket: Int,
      commit_group: Int)

  /** One per-(bucket, partition) lineage row of the `metrics` table. */
  final case class MetricRow(
      bucket: Int,
      partition_id: Int,
      n_docs: Long,
      n_spans: Long,
      n_errors: Long,
      run_id: String)

  def bucketOf(docId: String, nBuckets: Int): Int = {
    val h = graft.functions.Hashing.fnv1a64(docId)
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Sweep stale state from a previous crashed run: temp dirs, and any group
    * dir whose buckets are not ALL manifest-committed (a crash between the
    * group rename and its manifest writes leaves such a dir; its buckets will
    * be reprocessed, so the dir must go to keep output exactly-once).
    *
    * Crash WINDOW inside the per-bucket manifest loop: a group dir can exist
    * with only SOME of its buckets committed. Deleting the dir alone would
    * lose the committed buckets' rows forever (their manifests would still
    * claim them done, so they'd never reprocess) — so sweeping a group dir
    * also REVOKES the manifests of every bucket named in it, making the whole
    * group reprocess. The group is thus the atomic commit unit; bucket
    * manifests within a fully-present group remain the resume granularity.
    * Returns the committed set after revocations.
    */
  private def sweepUncommitted(outDir: String, store: SnapshotStore,
      committed: Set[Int]): Set[Int] = {
    val root = Paths.get(outDir)
    if (!Files.isDirectory(root)) return committed
    scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp-group-"))
        .toSeq.foreach(deleteRecursively))
    var alive = committed
    val dataDir = root.resolve("data")
    if (!Files.isDirectory(dataDir)) return alive
    scala.util.Using.resource(Files.list(dataDir))(
      _.iterator().asScala
        .filter(_.getFileName.toString.startsWith("group="))
        .toSeq)
      .foreach { d =>
        val buckets = d.getFileName.toString.stripPrefix("group=")
          .split('-').flatMap(s => scala.util.Try(s.toInt).toOption)
        if (!buckets.forall(committed.contains)) {
          // Revoke FIRST, then delete: a crash after the revokes leaves a
          // group dir with not-all-committed buckets, which the next sweep
          // deletes and re-revokes safely (idempotent). The reverse order
          // has a window where the data is gone but manifests still claim
          // the committed buckets done — those rows would be lost forever.
          buckets.foreach(store.revoke)
          deleteRecursively(d)
          alive = alive -- buckets
        }
      }
    alive
  }

  def run(spark: SparkSession, docs: Dataset[Doc], outDir: String,
      cfg: Config = Config()): RunStats = {
    import spark.implicits._
    val store = new LocalManifestStore(outDir)
    val committed = sweepUncommitted(outDir, store, store.committedBuckets())
    val remaining = (0 until cfg.nBuckets).filterNot(committed.contains)
    if (remaining.isEmpty)
      return RunStats(Nil, committed.toSeq.sorted, 0L, 0L, 0L)

    val nB = cfg.nBuckets
    val heavy = cfg.heavyWeight
    val groups = remaining.grouped(cfg.groupSize).toSeq
    // bucket -> index of its commit group; shipped to the kernel's closure
    val groupOf = Array.fill(nB)(-1)
    groups.zipWithIndex.foreach { case (g, gi) => g.foreach(groupOf(_) = gi) }
    // weight computed as a COLUMN before the shuffle: a typed map-to-tuple
    // here would deserialize + re-serialize every nested spans array once
    // more per row; `aggregate` over the struct column stays on the columnar
    // path. octet_length, not length: byte count is O(1) on the UTF8 payload
    // while character count rescans every byte, and the weight is a routing
    // heuristic — bytes are, if anything, the truer cost proxy (threshold
    // docs above updated to bytes).
    val weighted = docs.toDF()
      .withColumn("weight", aggregate(col("spans"), lit(0L), (acc, s) =>
        acc + octet_length(s.getField("text")).cast("long") +
          octet_length(s.getField("media_ref")).cast("long")))

    // Light docs stay in their byte-balanced scan splits (a salted shuffle
    // bought no balance for a full corpus pass through the shuffle; round 6,
    // OPTIMIZATION_r06.md). Heavy docs get their own repartition by doc_id.
    // The union CONCATENATES the two partition sets without another shuffle,
    // so a straggler mega-doc can only delay its own partition. The two
    // branches are two scans of the input; on the production table the
    // weight predicate pushes into row-group stats (cluster by weight at
    // ingest), so the heavy scan is ~free.
    //
    // The heavy repartition PINS its partition count at the data-sized
    // `HeavyParts`: a column-only repartition is AQE-coalescible, and AQE's
    // byte-targeted coalescing packed the skewed bench corpus's megas 14-25
    // per task (local[16], round 6) — the very funnel isolation exists to
    // prevent. Pinned, each mega lands (nearly) alone in its kernel+write task.
    val light = weighted.filter(col("weight") < heavy)
    val heavyDs = weighted.filter(col("weight") >= heavy)
      .repartition(HeavyParts, col("doc_id"))
    // heavy partitions FIRST: union concatenates partition lists and Spark
    // schedules tasks in partition order — longest-processing-time-first
    // lets the mega-doc tasks run while light tasks pack around them instead
    // of starting after the lights drain
    val tok = cfg.tokenizer
    val extracted = heavyDs.unionByName(light)
      .select(col("doc_id"), col("spans")).as[Doc]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.flatMap { d =>
          val b = bucketOf(d.doc_id, nB)
          val gi = groupOf(b)
          // gi < 0: an already-committed bucket (a resumed run), dropped
          // untokenized; at 10^12 docs, partition pruning on the input table
          Option.when(gi >= 0) {
            val e = SpanTokenizer.extract(d, tok)
            OutRow(e.doc_id, e.spans, e.n_spans, e.n_errors, e.modalities,
              e.extraction_path :+ s"commit_group:$gi", pid, b, gi)
          }
        }
      }

    // One write for every group: `commit_group=<gi>` subdirs of one temp dir.
    val tmp = Paths.get(outDir, ".tmp-group-run")
    extracted.write.options(cfg.writeOptions).partitionBy("commit_group")
      .mode(SaveMode.Overwrite).parquet(tmp.toString)

    // One read-back of the whole temp dir: per-(bucket, partition) totals,
    // at most buckets x partitions rows. The read pins the just-written
    // schema explicitly: schema inference otherwise merges footers across
    // every output file, a serial planning cost that grows with the task
    // count and eats into the faster leg's scaling (Amdahl).
    val metricRows = spark.read.schema(extracted.schema).parquet(tmp.toString)
      .groupBy(col("bucket"), col("partition_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_spans")).as("n_spans"),
        sum(col("n_errors")).as("n_errors"))
      .withColumn("run_id", lit(cfg.runId))
      .as[MetricRow].collect().toSeq
    val perBucket = metricRows.groupMapReduce(_.bucket)(
      m => (m.n_docs, m.n_spans, m.n_errors))(
      (x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))

    var processed = Vector.empty[Int]
    groups.zipWithIndex
      .takeWhile { case (_, gi) => cfg.failAfterGroups.forall(gi < _) }
      .foreach { case (group, gi) =>
        val target = Paths.get(outDir, "data", s"group=${group.mkString("-")}")
        Files.createDirectories(target.getParent)
        deleteRecursively(target) // stale uncommitted dir from a crashed run
        val src = tmp.resolve(s"commit_group=$gi")
        if (Files.isDirectory(src)) Files.move(src, target, StandardCopyOption.ATOMIC_MOVE)
        else Files.createDirectory(target) // the group has no rows
        group.foreach { b =>
          if (cfg.failAfterBucketCommits.exists(processed.length >= _))
            throw new SimulatedCrash
          val (d, s, e) = perBucket.getOrElse(b, (0L, 0L, 0L))
          store.commit(BucketManifest(b, d, s, e, cfg.runId))
          processed :+= b
        }
      }

    // metric rows of the committed buckets only, so the append-only history
    // never counts a group this run did not commit
    val done = processed.toSet
    val rows = metricRows.filter(m => done(m.bucket))
    if (rows.nonEmpty)
      rows.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(s"$outDir/metrics")
    deleteRecursively(tmp)
    RunStats(processed, committed.toSeq.sorted, rows.map(_.n_docs).sum,
      rows.map(_.n_spans).sum, rows.map(_.n_errors).sum)
  }
}
