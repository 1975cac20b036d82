package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, Span}
import graft.pipeline.{ExtractJob, LocalManifestStore}
import graft.tokenize.SpanTokenizer

/** The extract workloads: `ExtractJob.run` with the production-default
  * `Config()` (only runId set) over a seeded corpus materialized to parquet.
  */
final class Extract(ctx: Ctx, kind: String) {
  import ctx._

  val nDocs: Int =
    if (smoke) 2000 else if (kind == Corpus.Uniform) 32768 else 8192
  val spec: Corpus.Spec = Corpus.Spec(kind, seed, nDocs)
  val corpusDir: Path = work.resolve("corpus")
  private val sampleSize = 12

  var kernelSpans = 0L
  var kernelErrors = 0L
  // sizes of the most recent run's committed output
  var lastOutputBytes = 0L
  var lastOutputFiles = 0
  var lastManifests = 0
  var checkSeconds = 0.0

  /** Write the corpus as 8 parquet files. */
  def materialize(spark: SparkSession): Unit = {
    import spark.implicits._
    Session.deleteTree(corpusDir)
    val sp = spec
    spark.range(0, sp.nDocs, 1, 8).as[Long]
      .map(o => Corpus.doc(sp, o.toInt))
      .write.parquet(corpusDir.toString)
  }

  def docs(spark: SparkSession): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(corpusDir.toString).as[Doc]
  }

  /** A `SpanTokenizer.extractPartition` pass over the corpus with a
    * trivial sink: (spans, error spans) summed over every document.
    */
  def kernelPass(spark: SparkSession): (Long, Long) = {
    import spark.implicits._
    val cfg = ExtractJob.Config().tokenizer
    val sums = docs(spark).mapPartitions { it =>
      var n = 0L; var e = 0L
      SpanTokenizer.extractPartition(it, cfg).foreach { d => n += d.n_spans; e += d.n_errors }
      Iterator((n, e))
    }.collect()
    (sums.map(_._1).sum, sums.map(_._2).sum)
  }

  /** The kernel pass plus a parquet write of its output: the floor under
    * the job's own cost.
    */
  def floorPass(spark: SparkSession, out: Path): Unit = {
    import spark.implicits._
    val cfg = ExtractJob.Config()
    Session.deleteTree(out)
    docs(spark).mapPartitions(it => SpanTokenizer.extractPartition(it, cfg.tokenizer))
      .write.options(cfg.writeOptions).parquet(out.toString)
  }

  /** One set-up: a fresh session, the corpus, and a kernel pass. */
  def setUp(cores: Int): SparkSession = {
    ctx.stopSpark()
    val spark = ctx.startSpark(cores)
    materialize(spark)
    val (n, e) = kernelPass(spark)
    kernelSpans = n; kernelErrors = e
    spark
  }

  /** Run the job once into a fresh directory; returns wall seconds, or
    * None when the run threw or its output failed a check.
    */
  def runOnce(spark: SparkSession, label: String, tracer: Option[Tracer] = None): Option[Double] = {
    val out = work.resolve(s"out-$label")
    Session.deleteTree(out)
    val t0 = System.nanoTime()
    val stats = ctx.attempt(s"ExtractJob.run $label") {
      val call = () => ExtractJob.run(spark, docs(spark), out.toString,
        ExtractJob.Config(runId = s"perfbench-$label"))
      tracer.fold(call())(_.span("ExtractJob.run")(call()))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    val ok = stats.exists(s => ctx.check(s"ExtractJob.run $label", checkRun(spark, s, out, tracer)))
    lastOutputBytes = Session.bytesUnder(out.resolve("data"))
    lastOutputFiles = Session.partFiles(out.resolve("data"))
    Session.deleteTree(out)
    checkSeconds += (System.nanoTime() - c0) / 1e9
    if (ok) Some(wall) else None
  }

  /** Every output check of one run; returns the failed ones. */
  def checkRun(spark: SparkSession, stats: ExtractJob.RunStats, out: Path,
      tracer: Option[Tracer]): Seq[String] = {
    import spark.implicits._
    val bad = Seq.newBuilder[String]
    def expect(cond: Boolean, what: => String): Unit = if (!cond) bad += what
    val nB = ExtractJob.Config().nBuckets
    expect(stats.nDocs == nDocs, s"RunStats.nDocs ${stats.nDocs} != $nDocs")
    val store = new LocalManifestStore(out.toString)
    val manifests = tracer.fold(readManifests(store, nB))(
      _.span("LocalManifestStore.read")(readManifests(store, nB)))
    lastManifests = manifests.size
    expect(manifests.size == nB, s"${manifests.size} of $nB bucket manifests committed")
    val data = spark.read.parquet(out.resolve("data").toString)
    val row = data.agg(count(lit(1)), countDistinct(col("doc_id")),
      coalesce(sum(col("n_spans")), lit(0L)), coalesce(sum(col("n_errors")), lit(0L)),
      coalesce(sum(size(col("spans"))), lit(0L))).head()
    val (rows, distinct, spans, errors, spanArr) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    expect(rows == nDocs && distinct == nDocs,
      s"output rows $rows, distinct doc_id $distinct, input $nDocs")
    expect(errors == 0, s"n_errors $errors")
    expect(spans == kernelSpans && spanArr == kernelSpans,
      s"output spans $spans (arrays $spanArr) != tokenize.spans_out $kernelSpans")
    expect(manifests.map(_.nDocs).sum == rows, s"manifest docs ${manifests.map(_.nDocs).sum} != rows $rows")
    expect(manifests.map(_.nSpans).sum == spans, s"manifest spans ${manifests.map(_.nSpans).sum} != $spans")
    expect(manifests.map(_.nErrors).sum == errors, "manifest errors != output errors")
    // a seeded sample (always including the heavy docs) against a direct
    // SpanTokenizer.extract call on the same generated document
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val offsets = (spec.heavyOffsets.toSeq ++ Seq.fill(sampleSize)(rnd.nextInt(nDocs))).distinct
    val ids = offsets.map(o => graft.tokenize.DocGen.docIdStr(spec.docId(o)))
    val got = data.where(col("doc_id").isin(ids: _*)).select("doc_id", "spans")
      .as[(String, Seq[Span])].collect().toMap
    offsets.zip(ids).foreach { case (o, id) =>
      val want = expectedSpans.getOrElseUpdate(o, SpanTokenizer.extract(Corpus.doc(spec, o)).spans)
      expect(got.get(id).contains(want), s"spans of $id differ from SpanTokenizer.extract")
    }
    bad.result()
  }

  private val expectedSpans = scala.collection.mutable.Map.empty[Int, Seq[Span]]

  private def readManifests(store: LocalManifestStore, nB: Int) = {
    val committed = store.committedBuckets()
    (0 until nB).filter(committed.contains).flatMap(store.readManifest)
  }

  /** Corpus properties measured from the written parquet. */
  def corpusProps(spark: SparkSession): Map[String, Double] = {
    val heavy = Corpus.defaultHeavyWeight
    val w = spark.read.parquet(corpusDir.toString)
      .select(aggregate(col("spans"), lit(0L), (acc, s) =>
        acc + octet_length(s.getField("text")).cast("long") +
          octet_length(s.getField("media_ref")).cast("long")).as("w"), size(col("spans")).as("n"))
      .agg(max("w"), sum(when(col("w") >= heavy, 1).otherwise(0)),
        sum(when(col("w") < heavy && col("n") > 100, 1).otherwise(0)), sum("w")).head()
    Map(
      "docs" -> nDocs.toDouble,
      "max_weight_bytes" -> w.getLong(0).toDouble,
      "heavy_weight_threshold" -> heavy.toDouble,
      "heavy_docs" -> w.getLong(1).toDouble,
      "heavy_doc_share" -> w.getLong(1).toDouble / nDocs,
      "tail_mega_docs" -> w.getLong(2).toDouble,
      "tail_mega_share" -> w.getLong(2).toDouble / nDocs,
      "payload_bytes" -> w.getLong(3).toDouble,
      "corpus_file_bytes" -> Session.bytesUnder(corpusDir).toDouble,
      "first_doc_id" -> spec.firstId.toDouble)
  }
}
