package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Doc

class CorpusSpec extends AnyFunSuite {

  private val n = 4096

  // Reference computations over the generated documents (no Spark).

  /** Payload weight as ExtractJob computes it: text + media_ref bytes. */
  private def weight(d: Doc): Long = d.spans.iterator.map { s =>
    s.text.getBytes("UTF-8").length.toLong + s.media_ref.getBytes("UTF-8").length
  }.sum

  private def docs(spec: Corpus.Spec): Iterator[Doc] =
    Iterator.range(0, spec.nDocs).map(Corpus.doc(spec, _))

  /** SHA-256 over a canonical encoding of every document, in order. */
  private def digest(spec: Corpus.Spec): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs(spec).foreach { d =>
      val b = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(b)
      o.writeUTF(d.doc_id)
      o.writeInt(d.spans.length)
      d.spans.foreach { s =>
        o.writeUTF(s.kind); o.writeInt(s.text.length); o.writeChars(s.text)
        o.writeUTF(s.media_ref); o.writeInt(s.offset)
      }
      o.flush()
      md.update(b.toByteArray)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** (max weight, heavy docs, light docs with more than 100 raw spans). */
  private def props(spec: Corpus.Spec): (Long, Int, Int) =
    docs(spec).foldLeft((0L, 0, 0)) { case ((maxW, heavy, tail), d) =>
      val w = weight(d)
      (math.max(maxW, w), heavy + (if (w >= Corpus.defaultHeavyWeight) 1 else 0),
        tail + (if (w < Corpus.defaultHeavyWeight && d.spans.length > 100) 1 else 0))
    }

  test("the same seed gives a byte-identical corpus") {
    for (kind <- Seq(Corpus.Uniform, Corpus.Skewed)) {
      val a = Corpus.Spec(kind, 7, n)
      val b = Corpus.Spec(kind, 7, n)
      assert(a.heavyOffsets == b.heavyOffsets)
      assert(digest(a) == digest(b), kind)
    }
  }

  test("a different seed gives different ids and a different corpus") {
    for (kind <- Seq(Corpus.Uniform, Corpus.Skewed)) {
      val a = Corpus.Spec(kind, 1, n)
      val b = Corpus.Spec(kind, 2, n)
      assert(a.firstId != b.firstId)
      val idsA = (0 until n).map(a.docId).toSet
      assert(!(0 until n).map(b.docId).exists(idsA.contains))
      assert(digest(a) != digest(b), kind)
    }
  }

  test("the skewed corpus has mega-docs above the default heavyWeight") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (maxW, heavy, tail) = props(Corpus.Spec(Corpus.Skewed, seed, 8192))
      assert(maxW > Corpus.defaultHeavyWeight, s"seed $seed")
      assert(heavy == 1)
      // DocGen's own 1-in-4096 megas and 1-in-997 tails stay light: ids
      // 0 and 4096 past the range start, and nine multiples of 997 (id 0
      // is both)
      assert(tail == 10, s"seed $seed")
    }
  }

  test("the uniform corpus stays below the default heavyWeight") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (maxW, heavy, tail) = props(Corpus.Spec(Corpus.Uniform, seed, 8192))
      assert(maxW < Corpus.defaultHeavyWeight, s"seed $seed")
      assert(heavy == 0)
      assert(tail == 9, s"seed $seed: 1-in-997 tail documents")
    }
  }

  test("heavy mega-docs weigh the same for every id") {
    val first = Corpus.Spec(Corpus.Skewed, 1, 10).firstId
    val ws = Seq(0L, 1L, 5L, 123457L).map(i => weight(Corpus.heavyDoc(first + i)))
    assert(ws.max - ws.min < 100000, ws)
    assert(ws.min > Corpus.defaultHeavyWeight)
  }
}
