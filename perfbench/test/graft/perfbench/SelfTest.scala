package graft.perfbench

import graft.model.{ExtractedDoc, Span}
import graft.pipeline.ResumableJob
import graft.sources.DocGen
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests: every output check passes on a correct
  * run of a small input and fails when one row of that output is
  * altered.
  *
  * usage: SelfTest --work <work dir>   (exit code 1 on any failure)
  */
object SelfTest {

  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def passes(name: String, problems: Seq[String]): Unit =
    expect(s"$name passes on the correct output", problems.isEmpty, problems.mkString("; "))

  private def catches(name: String, problems: Seq[String]): Unit =
    expect(s"$name fails on one altered row", problems.nonEmpty, "no problem reported")

  /** Sink rows with the one doc `pick` selects replaced by `alter`. */
  private def alterDoc(data: DataFrame, pick: ExtractedDoc => Boolean,
      alter: ExtractedDoc => ExtractedDoc): DataFrame = {
    val s = data.sparkSession
    import s.implicits._
    val docs = data.drop("bucket").as[ExtractedDoc].collect().toSeq.sortBy(_.doc_id)
    val target = docs.find(pick).getOrElse(sys.error("no doc to alter")).doc_id
    s.createDataset(docs.map(d => if (d.doc_id == target) alter(d) else d)).toDF()
      .withColumn("bucket", ResumableJob.bucketOf(Workloads.Buckets))
  }

  private def kind(d: ExtractedDoc) = DocGen.kindOf(d.doc_id)

  private def extractMixed(s: SparkSession, env: Env, work: String): Unit = {
    val dir = s"$work/extract_mixed"
    val in = ExtractMixed.generate(s, env, dir, 60)
    val p = in.prepare()
    val out = s"$dir/out"
    val computed = in.run(s, out)
    passes("extract_mixed check", p.check(s, out, computed).problems)
    val data = ResumableJob.readData(s, out).cache()
    val lineage = ResumableJob.readLineage(s, out)
    val expected = Workloads.oracleRows(s, dir, ExtractMixed.oracleQueries.map(_._1))
    def verify(d: DataFrame, l: DataFrame = lineage) =
      ExtractMixed.verify(d, l, in.docs, computed.toInt, expected).problems
    for (k <- Seq("html", "pdf_blocks", "text"))
      catches(s"extract_mixed $k span facet", verify(alterDoc(data,
        d => kind(d) == k && d.spans.nonEmpty,
        d => d.copy(spans = d.spans.updated(0, d.spans.head.copy(text = "altered"))))))
    catches("extract_mixed entity facet", verify(alterDoc(data,
      d => kind(d) != "pdf_blocks" && d.entities.nonEmpty,
      d => d.copy(entities = d.entities.updated(0, d.entities.head.copy(value = "altered"))))))
    catches("extract_mixed fact facet", verify(alterDoc(data,
      d => kind(d) != "pdf_blocks" && d.facts.nonEmpty,
      d => d.copy(facts = d.facts.updated(0, d.facts.head.copy(`object` = "altered"))))))
    val firstId = data.agg(min("doc_id")).first().getString(0)
    catches("extract_mixed committed row count", verify(data.filter(col("doc_id") =!= firstId)))
    val firstBucket = lineage.agg(min("bucket")).first().getInt(0)
    catches("extract_mixed lineage", verify(data, lineage.withColumn("doc_count",
      when(col("bucket") === firstBucket, col("doc_count") + 1).otherwise(col("doc_count")))))
    expect("extract_mixed stage probe equals processDoc",
      StageProbe.run(p.rawDocs.take(Main.ProbeDocs), 1)._2.isEmpty, "mismatch")
  }

  private def convertHeavy(s: SparkSession, env: Env, work: String): Unit = {
    val dir = s"$work/convert_heavy"
    val in = ConvertHeavy.generate(s, env, dir, 24)
    val p = in.prepare()
    val out = s"$dir/out"
    val computed = in.run(s, out)
    passes("convert_heavy check", p.check(s, out, computed).problems)
    val data = ResumableJob.readData(s, out).cache()
    val lineage = ResumableJob.readLineage(s, out)
    import s.implicits._
    val expected = data.drop("bucket").as[ExtractedDoc].collect().map(d => d.doc_id -> d).toMap
    catches("convert_heavy per-doc equality", ConvertHeavy.verify(alterDoc(data,
      d => d.spans.nonEmpty,
      d => d.copy(spans = d.spans :+ Span("text", "altered", "", d.spans.size))),
      lineage, in.docs, computed.toInt, expected).problems)
    expect("convert_heavy stage probe equals processDoc",
      StageProbe.run(p.rawDocs.take(Main.ProbeDocs), 1)._2.isEmpty, "mismatch")
  }

  private def curation(s: SparkSession, env: Env, work: String): Unit = {
    val dir = s"$work/curation"
    val in = Curation.generate(s, env, dir, 300)
    val p = in.prepare()
    val out = s"$dir/out"
    passes("curation check", p.check(s, out, in.run(s, out)).problems)
    val funnel = s.read.parquet(s"$out/funnel").cache()
    val repetition = s.read.parquet(s"$out/repetition").cache()
    val expected = Workloads.oracleRows(s, dir, Curation.oracleQueries.map(_._1))
    val firstId = funnel.agg(min("doc_id")).first().getLong(0)
    catches("curation funnel", Curation.verify(
      funnel.withColumn("keep_final",
        when(col("doc_id") === firstId, !col("keep_final")).otherwise(col("keep_final"))),
      repetition, expected))
    catches("curation repetition", Curation.verify(funnel,
      repetition.withColumn("bigram_frac",
        when(col("doc_id") === firstId, col("bigram_frac") + 0.5).otherwise(col("bigram_frac"))),
      expected))
  }

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("usage: SelfTest --work <dir>"))
    Files.createDirectories(Paths.get(work))
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val env = Env(cores, 7L, sys.props.getOrElse("perfbench.python", "python3"),
      sys.props.getOrElse("perfbench.home", "perfbench"))
    try {
      extractMixed(s, env, work)
      convertHeavy(s, env, work)
      curation(s, env, work)
    } finally s.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures != 0) sys.exit(1)
  }
}
