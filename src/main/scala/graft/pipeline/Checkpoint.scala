package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Per-bucket commit manifest — the local stand-in for Iceberg
  * snapshot-per-partition checkpointing (SURVEY.md §7: no Iceberg runtime
  * jar ships in this sandbox, so the storage layer sits behind this small
  * trait; the production impl maps `commit` to an Iceberg snapshot commit of
  * the bucket's data files and `committedBuckets` to a snapshot-manifest
  * scan).
  *
  * Commit protocol: manifest JSON is written to a temp file and atomically
  * renamed into place, so a bucket is either fully committed (manifest
  * present + data files written) or will be fully re-run — mirroring the
  * reference's checkpoint/resume contract (src/pipeline/runner.py:251-306).
  */
final case class BucketManifest(
    bucket: Int,
    nDocs: Long,
    nSpans: Long,
    nErrors: Long,
    runId: String)

/** Shared manifest-file machinery (atomic temp-write + rename commit, the
  * tolerant flat-JSON field parser, recursive delete) — one implementation
  * for every typed manifest record (BucketManifest here, ReviewSink's
  * QueueManifest), so protocol hardening lands in one place.
  */
private[pipeline] object Manifests {
  def atomicWriteJson(path: Path, json: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.getParent.resolve("." + path.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `s` as a JSON string literal, quotes included: quote and backslash are
    * backslash-escaped and control characters become 4-hex-digit unicode
    * escapes, so any run id survives the round trip through [[readField]].
    */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').result()
  }

  /** The value of key `k`: a string literal unescaped, or a bare token.
    * Inside a written string every `"` is escaped, so a key pattern cannot
    * match inside a value.
    */
  def readField(json: String, k: String): Option[String] =
    s"""\"$k\":\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"|([^,}\\s]*))""".r
      .findFirstMatchIn(json)
      .map(m => Option(m.group(1)).fold(m.group(2))(unescape))

  private val shortEscapes =
    Map('n' -> '\n', 't' -> '\t', 'r' -> '\r', 'b' -> '\b', 'f' -> '\f')

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) != '\\') { b += s.charAt(i); i += 1 }
      else if (s.charAt(i + 1) == 'u') {
        b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
      } else { b += shortEscapes.getOrElse(s.charAt(i + 1), s.charAt(i + 1)); i += 2 }
    }
    b.result()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_)))
}

trait SnapshotStore {
  def committedBuckets(): Set[Int]
  def commit(m: BucketManifest): Unit
  def readManifest(bucket: Int): Option[BucketManifest]

  /** Revoke a bucket's commit (used by the crash sweep when its group's data
    * dir had to be deleted: the bucket must reprocess). No-op if absent.
    */
  def revoke(bucket: Int): Unit
}

final class LocalManifestStore(outDir: String) extends SnapshotStore {
  private val dir: Path = Paths.get(outDir, "_manifests")

  override def committedBuckets(): Set[Int] = {
    if (!Files.isDirectory(dir)) return Set.empty
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
          s.stripPrefix("bucket-").stripSuffix(".json").toInt
        }
        .toSet)
  }

  override def commit(m: BucketManifest): Unit =
    Manifests.atomicWriteJson(dir.resolve(s"bucket-${m.bucket}.json"),
      s"""{"bucket":${m.bucket},"n_docs":${m.nDocs},"n_spans":${m.nSpans},""" +
        s""""n_errors":${m.nErrors},"run_id":${Manifests.jsonString(m.runId)}}""")

  override def revoke(bucket: Int): Unit =
    Files.deleteIfExists(dir.resolve(s"bucket-$bucket.json"))

  override def readManifest(bucket: Int): Option[BucketManifest] = {
    val p = dir.resolve(s"bucket-$bucket.json")
    if (!Files.exists(p)) return None
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def field(k: String): Option[String] = Manifests.readField(s, k)
    for {
      b <- field("bucket"); d <- field("n_docs"); sp <- field("n_spans")
      e <- field("n_errors"); r <- field("run_id")
    } yield BucketManifest(b.toInt, d.toLong, sp.toLong, e.toLong, r)
  }
}
