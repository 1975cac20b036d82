package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{BucketManifest, LocalManifestStore, ReviewSink}

/** Manifest JSON round-trips any run id, including the characters that
  * delimit the flat-JSON format itself.
  */
class ManifestSpec extends AnyFunSuite {

  private val ids = Seq("plain", "a,b", "x}y", "say \"hi\"", "back\\slash",
    "trailing\\", "\"run_id\":\"evil\"", "},{\"bucket\":9", "tab\tnew\nline\u0001",
    "ünï-cødé ✓", "")

  test("bucket manifests round-trip run ids containing , } \" and \\") {
    val store = new LocalManifestStore(Files.createTempDirectory("graft_mf").toString)
    ids.zipWithIndex.foreach { case (id, b) =>
      val m = BucketManifest(b, 10L + b, 100L + b, b.toLong, id)
      store.commit(m)
      assert(store.readManifest(b).contains(m), s"run id [$id]")
    }
    assert(store.committedBuckets() == ids.indices.toSet)
  }

  test("queue manifests round-trip run ids containing , } \" and \\") {
    ids.foreach { id =>
      val out = Files.createTempDirectory("graft_qmf").toString
      val m = ReviewSink.QueueManifest(7L, 3L, 4L, id)
      ReviewSink.commitManifest(out, m)
      assert(ReviewSink.readManifest(out).contains(m), s"run id [$id]")
    }
  }
}
