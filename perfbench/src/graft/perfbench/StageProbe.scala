package graft.perfbench

import graft.classify.Classifier
import graft.extract.{ContentFlagsScan, Core8Extractor}
import graft.facts.SpoExtractor
import graft.html.HtmlStrategies
import graft.model._
import graft.normalize.Normalizer
import graft.pdf.PdfExtractor
import graft.pipeline.ExtractionPipeline

/** Single-thread stage probe: `ExtractionPipeline.processDoc`'s stage
  * chain called stage by stage through each stage's public function,
  * with a timer around every call. Each probed doc's composed result is
  * compared with `processDoc(raw)`, so a probe that drifts from the
  * production chain fails the run instead of timing the wrong code.
  */
object StageProbe {

  val Stages: Vector[String] = Vector("html.convert", "pdf.extract", "extract.flags",
    "extract.clean", "classify.classify", "extract.entities", "normalize.canonicalize",
    "facts.spo", "classify.domain_entities", "pipeline.process_doc")
  private val Html = 0; private val Pdf = 1; private val Flags = 2; private val Clean = 3
  private val Classify = 4; private val Entities = 5; private val Canon = 6; private val Spo = 7
  private val Domain = 8; private val ProcessDoc = 9

  /** One pass's totals over the sample. */
  final class Pass {
    val ns = new Array[Long](Stages.size)
    var docs = 0L
    var classified = 0L
    var entityRouted = 0L
    var deepRouted = 0L
    var entities = 0L
    var entityChars = 0L
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

    def time[A](stage: Int)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      ns(stage) += System.nanoTime() - t0
      r
    }
  }

  // ExtractionPipeline.urlMeta is private; restated here and covered by
  // the equality check against processDoc
  private def urlMeta(raw: RawDoc, base: DocMeta): DocMeta =
    if (raw.source_url.isEmpty) base
    else base.copy(source_type = "url", source_path = raw.source_url,
      http_status = raw.http_status, content_type = raw.content_type)

  private def reject(raw: RawDoc, meta: DocMeta, err: String): ExtractedDoc =
    ExtractedDoc(raw.doc_id, Seq.empty, meta, Seq.empty, Seq.empty, Seq.empty,
      success = false, error = err)

  /** The content kinds whose convert stage the probe calls. */
  val Kinds = Set("html", "pdf_blocks", "text")

  /** processDoc's chain with the default config, one timed call per stage. */
  def composed(raw: RawDoc, p: Pass): ExtractedDoc = {
    require(Kinds(raw.content_kind), s"stage probe has no convert stage for ${raw.content_kind}")
    val config = ExtractionPipeline.PipelineConfig()
    try {
      ExtractionPipeline.validateUrl(raw) match {
        case Some(err) => reject(raw, urlMeta(raw, DocMeta.empty), err)
        case None =>
          val spansOrErr: Either[String, Seq[Span]] = raw.content_kind match {
            case "html" => Right(p.time(Html)(HtmlStrategies.convert(config.htmlStrategy, raw.html)))
            case "pdf_blocks" =>
              p.time(Pdf)(PdfExtractor.extract(raw.doc_id, raw.pdf_blocks, raw.page_count))
            case _ => // text
              Right(if (raw.text.trim.isEmpty) Seq.empty
              else Seq(Span(SpanKinds.Text, raw.text, "", 0)))
          }
          spansOrErr match {
            case Left(err) => reject(raw, DocMeta.empty, err)
            case Right(spans) =>
              val flags = p.time(Flags)(ContentFlagsScan.scan(spans))
              val markdown = p.time(Clean)(spans.map(_.text).mkString("\n"))
              val cls = p.time(Classify)(Classifier.classify(markdown))
              val cleanText = p.time(Clean)(
                Core8Extractor.truncate(Core8Extractor.cleanFormatting(markdown)))
              p.classified += 1
              val entities =
                if (cls.skipEntityExtraction) Seq.empty
                else {
                  p.entityRouted += 1
                  p.entityChars += cleanText.length
                  p.time(Entities)(Core8Extractor.extractAll(cleanText))
                }
              p.entities += entities.size
              val canonical = p.time(Canon)(Normalizer.canonicalize(entities))
              val facts = p.time(Spo)(SpoExtractor.extract(cleanText))
              val domainEntities =
                if (cls.enableDeepDomainExtraction) {
                  p.deepRouted += 1
                  p.time(Domain)(Classifier.extractDomainEntities(cleanText, cls.domains.keySet))
                } else Seq.empty
              val meta = urlMeta(raw, DocMeta(
                content_detection = flags,
                page_count = raw.page_count,
                primary_domain = cls.primaryDomain,
                primary_domain_confidence = cls.primaryDomainConfidence,
                primary_document_type = cls.primaryDocType,
                domains = cls.domains,
                domain_entities = domainEntities))
              ExtractedDoc(raw.doc_id, spans, meta, entities, canonical, facts,
                success = true, error = "")
          }
      }
    } catch {
      case e: Exception => reject(raw, DocMeta.empty, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Probes every doc of `sample` once, in order: the composed chain,
    * then `processDoc` on the same doc.
    */
  def pass(sample: Seq[RawDoc]): Pass = {
    val p = new Pass
    sample.foreach { raw =>
      val c = composed(raw, p)
      val d = p.time(ProcessDoc)(ExtractionPipeline.processDoc(raw))
      if (c != d) p.mismatches += raw.doc_id
      p.docs += 1
    }
    p
  }

  /** Per-doc stage figures: the median over `passes` passes. */
  def run(sample: Seq[RawDoc], passes: Int): (Seq[(String, Double)], Seq[String]) = {
    val ps = (1 to passes).map(_ => pass(sample))
    def med(f: Pass => Double): Double = Stats.median(ps.map(f))
    val perDoc = Stages.indices.map(i => s"${Stages(i)}_ns_per_doc" -> med(p => p.ns(i).toDouble / p.docs))
    val stageSum = med(p => (0 until ProcessDoc).map(p.ns(_)).sum.toDouble / p.docs)
    val first = ps.head
    val shares = Seq(
      "extract.entities_per_doc" -> first.entities.toDouble / first.docs,
      "extract.entity_chars_per_doc" -> first.entityChars.toDouble / first.docs,
      "classify.entity_skip_share" ->
        (1.0 - first.entityRouted.toDouble / math.max(first.classified, 1L)),
      "classify.deep_domain_share" -> first.deepRouted.toDouble / math.max(first.classified, 1L),
      "trace.stage_coverage" -> stageSum / med(p => p.ns(ProcessDoc).toDouble / p.docs))
    (perDoc ++ shares, ps.flatMap(_.mismatches).distinct)
  }
}
