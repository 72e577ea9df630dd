package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.sources.DocGen
import graft.SparkEntry

/** End-to-end pipeline + lineage/resume tests (FIXTURES.md §4.7) over
  * the deterministic corpus at sf0.001.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("flagship entry returns spans for every successful doc") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("doc_id", "offset", "kind", "text", "media_ref"))
  }

  test("pipeline is deterministic: two runs produce identical span sets") {
    import spark.implicits._
    val a = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
      .flatMap(d => d.spans.map(s => (d.doc_id, s.offset, s.kind, s.text, s.media_ref)))
      .collect().sortBy(r => (r._1, r._2))
    val b = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
      .flatMap(d => d.spans.map(s => (d.doc_id, s.offset, s.kind, s.text, s.media_ref)))
      .collect().sortBy(r => (r._1, r._2))
    assert(a.length > 0)
    assert(a.toSeq === b.toSeq)
  }

  test("every input doc yields exactly one output row; rejects carry errors") {
    import spark.implicits._
    val raw = DocGen.rawDocs(spark, sfDir)
    val nIn = raw.count()
    val out = ExtractionPipeline.run(spark, raw).cache()
    assert(out.count() === nIn)
    // rejects: >100-page synthetic PDFs (ids ≡ 0 mod 97, pdf mode) plus
    // URL-validation failures (html ids ≡ 34 mod 89 → 404, ≡ 13 mod 83 →
    // non-whitelisted content type)
    val rejects = out.filter(!_.success).collect()
    assert(rejects.forall(r => r.error.contains("page") ||
      r.error.contains("HTTP") || r.error.contains("content type")))
    assert(rejects.exists(_.error == "HTTP 404 - not processable"))
    assert(rejects.forall(_.spans.isEmpty))
    val ok = out.filter(_.success)
    assert(ok.filter(_.spans.nonEmpty).count() === ok.count())
    out.unpersist()
  }

  test("interleaved corpus: image_ref spans appear with media_ref set") {
    import spark.implicits._
    val out = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir))
    val imgSpans = out.flatMap(_.spans).filter(_.kind == "image_ref").collect()
    assert(imgSpans.nonEmpty)
    assert(imgSpans.forall(_.media_ref.nonEmpty))
  }

  test("enrichment stages populate entities, canonical ids and facts at corpus level") {
    import spark.implicits._
    val out = ExtractionPipeline.run(spark, DocGen.rawDocs(spark, sfDir)).cache()
    val entTypes = out.flatMap(_.entities.map(_.`type`)).distinct().collect().toSet
    assert(Set("DATE", "MONEY", "PHONE", "MEASUREMENT", "PERSON", "GPE", "REGULATION")
      .subsetOf(entTypes), s"got $entTypes")
    val canon = out.flatMap(_.canonical_entities).collect()
    assert(canon.nonEmpty)
    assert(canon.forall(_.id.matches("[a-z]+\\d{3}")))
    val facts = out.flatMap(_.facts).collect()
    assert(facts.nonEmpty)
    assert(facts.forall(_.confidence >= 0.75))
    out.unpersist()
  }

  test("P2 resume: only missing buckets recomputed; data complete after resume") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val buckets = 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val raw = DocGen.rawDocs(spark, sfDir)
    // simulate a failed run: bucket 3 never completed
    val partial = raw.filter(
      pmod(hash(col("doc_id")), lit(buckets)) =!= 3).as[graft.model.RawDoc]
    val n1 = ResumableJob.runResumable(spark, partial, tmp, buckets, "snap1")
    assert(n1 === buckets - 1)
    // resume with the FULL input: only bucket 3 is recomputed
    val n2 = ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1")
    assert(n2 === 1)
    assert(ResumableJob.readData(spark, tmp).count() === raw.count())
    // lineage rows carry per-partition metrics
    val lin = ResumableJob.readLineage(spark, tmp)
    assert(lin.columns.toSet ===
      Set("bucket", "doc_count", "span_count", "fail_count", "source_snapshot"))
    assert(lin.agg(sum("doc_count")).head.getLong(0) === raw.count())
    // idempotent: a third run computes nothing
    assert(ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1") === 0)
  }

  test("P2 resume: uncommitted lineage reads as nothing done; corrupt lineage fails the run") {
    val buckets = 4
    val tmp = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    // a kill during the first append leaves a lineage dir with no data file
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp, "lineage", "_temporary", "0"))
    assert(ResumableJob.completedBuckets(spark, tmp, "snap1") === Set.empty)
    val raw = DocGen.rawDocs(spark, sfDir)
    assert(ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1") === buckets)
    // overwrite one committed lineage file with garbage (and drop its
    // checksum, so the read fails on the parquet bytes themselves)
    val part = new java.io.File(tmp, "lineage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.write(part.toPath, "not a parquet file".getBytes("UTF-8"))
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    intercept[Exception](ResumableJob.runResumable(spark, raw, tmp, buckets, "snap1"))
  }

  test("P3 observe: corpus metrics ride along with the job") {
    import org.apache.spark.sql.Observation
    val raw = DocGen.rawDocs(spark, sfDir)
    val obs = Observation("graft")
    val out = ExtractionPipeline.withMetrics(ExtractionPipeline.run(spark, raw), obs)
    val total = out.count()
    val m = obs.get
    assert(m("docs") === total)
    assert(m("rejects").asInstanceOf[Long] >= 0L)
    assert(m("spans").asInstanceOf[Long] > 0L)
    assert(m("entities").asInstanceOf[Long] > 0L)
  }
}
