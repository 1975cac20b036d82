package perfbench

import graft.model.{Doc, Span, SpanKind}
import graft.tokenize.DocGen

/** Seeded input corpora for the extract workloads.
  *
  * A corpus is a pure function of (kind, seed, size): the seed picks the
  * doc-id range and, for the skewed corpus, which ids become heavy
  * mega-documents. The range start is a multiple of 4096 * 997, so every
  * seed yields the same number of DocGen's 1-in-997 and 1-in-4096 tail
  * documents; only the ids (and so the text) differ.
  */
object Corpus {

  val Uniform = "uniform"
  val Skewed = "skewed"

  /** ExtractJob's default heavy-document threshold, in payload bytes. */
  val defaultHeavyWeight: Long = graft.pipeline.ExtractJob.Config().heavyWeight

  /** Pages in one heavy mega-document (about 5.6 MB of pdf_text payload). */
  val heavySpans = 12000

  /** One heavy mega-document per this many docs (at least one). */
  val heavyEvery = 16384

  private val rangeStride = 4096L * 997L

  final case class Spec(kind: String, seed: Long, nDocs: Int) {
    require(kind == Uniform || kind == Skewed, s"unknown corpus kind $kind")
    val firstId: Long = rangeStride * (1 + java.lang.Math.floorMod(
      graft.functions.Hashing.mix64(seed), 200L))
    /** Offsets (from firstId) of the heavy mega-documents, seeded. */
    val heavyOffsets: Set[Int] =
      if (kind != Skewed) Set.empty
      else {
        val want = math.max(1, nDocs / heavyEvery)
        val rnd = new scala.util.Random(seed)
        val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picked.size < want) {
          val o = rnd.nextInt(nDocs)
          // keep heavy ids apart from DocGen's own 1-in-4096 megas and
          // 1-in-997 tails, so every seed has the same number of each
          val id = firstId + o
          if (id % 4096 != 0 && id % 997 != 0) picked += o
        }
        picked.toSet
      }
    def docId(offset: Int): Long = firstId + offset
  }

  /** The document at `offset` of the corpus. */
  def doc(spec: Spec, offset: Int): Doc = {
    val id = spec.docId(offset)
    if (spec.kind == Uniform) DocGen.syntheticDoc(id)
    else if (spec.heavyOffsets.contains(offset)) heavyDoc(id)
    else DocGen.syntheticSkewedDoc(id)
  }

  private val vocab: IndexedSeq[String] =
    ("scanned invoice pages carry line items totals remittance notes signatures " +
      "stamps and handwritten corrections across every section of the record")
      .split(" ").toIndexedSeq

  /** A mega-document whose payload weight is above the default
    * heavyWeight: the id's regular spans plus `heavySpans` pdf_text pages.
    * Page words rotate through a fixed vocabulary by id, so every heavy id
    * weighs the same to within a few bytes.
    */
  def heavyDoc(id: Long): Doc = {
    val base = DocGen.syntheticDoc(id)
    val pages = (0 until heavySpans).map { j =>
      val start = ((id + j) % vocab.length).toInt
      val words = (0 until 80 - j % 17).map(k => vocab((start + k) % vocab.length))
      Span(SpanKind.PdfText, DocGen.pdfPayload(words), "", base.spans.length + j)
    }
    Doc(base.doc_id, base.spans ++ pages)
  }
}
