package graft.perfbench

import graft.OracleSql
import graft.model.{ExtractedDoc, RawDoc}
import graft.pipeline.{ExtractionPipeline, ResumableJob}
import graft.sources.DocGen
import graft.textops.TextOps
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a workload runs: core count, seed, and how to reach the
  * oracle helper.
  */
final case class Env(cores: Int, seed: Long, python: String, home: String)

/** What a timed run's output check found. */
final case class Checked(problems: Seq[String], pages: Long, rejects: Long)

/** A seed's inputs, written to disk, and the job that reads them. */
trait Inputs {
  /** Input docs one run processes. */
  def docs: Long
  /** The timed job, from submit to committed output under `out`.
    * Returns the job's own result for the check (buckets computed).
    */
  def run(s: SparkSession, out: String): Long
  /** The resumable job's snapshot id, when the workload runs one. */
  def snapshot: Option[String]
  /** Evaluates the expected outputs (oracles or processDoc outside Spark). */
  def prepare(): Prepared
}

/** Expected outputs of one seed's inputs. */
trait Prepared {
  /** Untimed check of the committed output. */
  def check(s: SparkSession, out: String, result: Long): Checked
  /** Every input doc as processDoc sees it; empty when the workload
    * never calls processDoc.
    */
  def rawDocs: Seq[RawDoc]
}

trait Workload {
  def name: String
  /** Input docs of one run. */
  def docs: Int
  /** Untimed warm-up runs before the timed ones. */
  def warmRuns: Int
  def generate(s: SparkSession, env: Env, dir: String, docs: Int): Inputs
}

object Workloads {

  val all: Seq[Workload] = Seq(ExtractMixed, ConvertHeavy, Curation)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))

  /** Buckets of the resumable sink (its deterministic output partitions). */
  val Buckets = 16

  /** processDoc over `raw` on `cores` threads, outside Spark. */
  def extractAll(raw: Seq[RawDoc], cores: Int): Seq[ExtractedDoc] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try raw.map(r => pool.submit(() => ExtractionPipeline.processDoc(r))).map(_.get())
    finally pool.shutdown()
  }

  /** Writes the seeded `documents` table as `cores` parquet files, so the
    * scan has one split per core.
    */
  def writeDocuments(s: SparkSession, env: Env, dir: String, rows: Seq[Gen.DocRow]): String = {
    val path = s"$dir/documents.parquet"
    s.createDataFrame(rows).repartition(env.cores).write.parquet(path)
    path
  }

  /** Evaluates DuckDB oracle SQL over the `documents` table at `docs`,
    * one parquet result per query under `out`.
    */
  def evaluateOracles(env: Env, queries: Seq[(String, String)], docs: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    val qfile = s"$out/queries.json"
    Files.writeString(Paths.get(qfile), Json.render(queries))
    val log = new java.io.File(s"$out/oracle.log")
    val p = new ProcessBuilder(env.python, s"${env.home}/oracle.py", qfile, docs, out,
      env.cores.toString).redirectErrorStream(true).redirectOutput(log).start()
    val rc = p.waitFor()
    if (rc != 0)
      throw new IllegalStateException(s"oracle.py exited with $rc: ${Files.readString(log.toPath)}")
  }

  /** The oracles' results, collected once per seed. */
  def oracleRows(s: SparkSession, dir: String, names: Seq[String]): Checks.Rows =
    Checks.rows(names.map(q => q -> s.read.parquet(s"$dir/oracle/$q.parquet")))

  /** Pages of a plain-text document under DocGen's text page model
    * (3,000 chars a page, at least one).
    */
  def textPages(chars: Long): Long = math.max(1L, (chars + 2999) / 3000)

  /** Bucket computation is skipped on resume: a second call over a
    * committed output must compute nothing.
    */
  def resumed(again: Int): Seq[String] =
    if (again == 0) Nil else Seq(s"resume: a second call computed $again buckets, expected 0")
}

import Workloads._

/** Production shape: DocGen over a seeded `documents.parquet` through
  * `ResumableJob.runResumable` into a fresh sink.
  */
object ExtractMixed extends Workload {
  val name = "extract_mixed"
  val docs = 1000
  val warmRuns = 4

  val oracleQueries: Seq[(String, String)] = Seq(
    "x_html_spans" -> OracleSql.xHtmlSpans,
    "x_pdf_spans" -> OracleSql.xPdfSpans,
    "x_text_spans" -> OracleSql.xTextSpans,
    "x_entities_core" -> OracleSql.xEntitiesCore,
    "x_facts_core" -> OracleSql.xFactsCore)

  /** Sink rows and lineage against the input and the oracles. */
  def verify(data: DataFrame, lineage: DataFrame, docs: Long, buckets: Int,
      expected: Checks.Rows): Checked = {
    val (totals, pages) = Checks.sinkTotals(data)
    val facets = Checks.rows(Checks.extractFacets.map { case (q, facet) => q -> facet(data) })
    Checked(Checks.sink(totals, Checks.lineageBuckets(lineage), docs, buckets) ++
      Checks.sameRows(facets, expected), pages, totals.map(_.fails).sum)
  }

  def generate(s: SparkSession, env: Env, dir: String, n: Int): Inputs = {
    val rows = Gen.documents(env.seed, n)
    val docsPath = writeDocuments(s, env, dir, rows)
    val snap = s"seed-${env.seed}"
    new Inputs {
      val docs: Long = rows.size.toLong
      val snapshot: Option[String] = Some(snap)
      def run(s: SparkSession, out: String): Long =
        ResumableJob.runResumable(s, DocGen.rawDocs(s, dir), out, Buckets, snap).toLong
      def prepare(): Prepared = {
        evaluateOracles(env, oracleQueries, docsPath, s"$dir/oracle")
        val expected = oracleRows(s, dir, oracleQueries.map(_._1))
        new Prepared {
          def check(s: SparkSession, out: String, computed: Long): Checked = {
            // cached: the totals and five facets all read the sink
            val data = ResumableJob.readData(s, out).cache()
            val c = try verify(data, ResumableJob.readLineage(s, out), docs, computed.toInt, expected)
              finally data.unpersist()
            val again = ResumableJob.runResumable(s, DocGen.rawDocs(s, dir), out, Buckets, snap)
            c.copy(problems = c.problems ++ resumed(again))
          }
          lazy val rawDocs: Seq[RawDoc] = rows.map(r => DocGen.synthesize(r.doc_id, r.text))
        }
      }
    }
  }
}

/** Converter-bound mix: boilerplate-heavy HTML and dense PDF RawDocs
  * through the same resumable job; checked against processDoc run
  * outside Spark.
  */
object ConvertHeavy extends Workload {
  val name = "convert_heavy"
  val docs = 240
  val warmRuns = 2

  def verify(data: DataFrame, lineage: DataFrame, docs: Long, buckets: Int,
      expected: Map[String, ExtractedDoc]): Checked = {
    import data.sparkSession.implicits._
    val (totals, pages) = Checks.sinkTotals(data)
    Checked(Checks.sink(totals, Checks.lineageBuckets(lineage), docs, buckets) ++
      Checks.sameDocs(data.drop("bucket").as[ExtractedDoc].collect().toSeq, expected),
      pages, totals.map(_.fails).sum)
  }


  def generate(s: SparkSession, env: Env, dir: String, n: Int): Inputs = {
    import s.implicits._
    val raw = Gen.convertDocs(env.seed, n)
    val path = s"$dir/raw_docs.parquet"
    s.createDataset(raw).repartition(env.cores).write.parquet(path)
    val snap = s"seed-${env.seed}"
    def input(s: SparkSession) = {
      import s.implicits._
      s.read.parquet(path).as[RawDoc]
    }
    new Inputs {
      val docs: Long = raw.size.toLong
      val snapshot: Option[String] = Some(snap)
      def run(s: SparkSession, out: String): Long =
        ResumableJob.runResumable(s, input(s), out, Buckets, snap).toLong
      def prepare(): Prepared = {
        val expected = extractAll(raw, env.cores).map(d => d.doc_id -> d).toMap
        new Prepared {
          def check(s: SparkSession, out: String, computed: Long): Checked = {
            val c = verify(ResumableJob.readData(s, out), ResumableJob.readLineage(s, out), docs,
              computed.toInt, expected)
            val again = ResumableJob.runResumable(s, input(s), out, Buckets, snap)
            c.copy(problems = c.problems ++ resumed(again))
          }
          def rawDocs: Seq[RawDoc] = raw
        }
      }
    }
  }
}

/** Curation funnel (t18) plus its repetition facet (t21) over a seeded
  * `documents.parquet`; checked against the DuckDB oracles.
  */
object Curation extends Workload {
  val name = "curation"
  val docs = 200
  val warmRuns = 1

  val oracleQueries: Seq[(String, String)] = Seq(
    "t18_curation_funnel" -> OracleSql.curationFunnel(0.5, 0.5, TextOps.ContaminationThreshold),
    "t21_repetition" -> OracleSql.repetition)

  def verify(funnel: DataFrame, repetition: DataFrame, expected: Checks.Rows): Seq[String] =
    Checks.sameRows(
      Checks.rows(Seq("t18_curation_funnel" -> funnel, "t21_repetition" -> repetition)),
      expected)

  def generate(s: SparkSession, env: Env, dir: String, n: Int): Inputs = {
    val rows = Gen.documents(env.seed, n)
    val docsPath = writeDocuments(s, env, dir, rows)
    val pages = rows.map(r => textPages(r.n_chars)).sum
    new Inputs {
      val docs: Long = rows.size.toLong
      val snapshot: Option[String] = None
      def run(s: SparkSession, out: String): Long = {
        TextOps.curationFunnel(s, dir).write.parquet(s"$out/funnel")
        TextOps.repetition(s, dir).write.parquet(s"$out/repetition")
        0L
      }
      def prepare(): Prepared = {
        evaluateOracles(env, oracleQueries, docsPath, s"$dir/oracle")
        val expected = oracleRows(s, dir, oracleQueries.map(_._1))
        new Prepared {
          def check(s: SparkSession, out: String, result: Long): Checked =
            Checked(verify(s.read.parquet(s"$out/funnel"), s.read.parquet(s"$out/repetition"),
              expected), pages, 0L)
          def rawDocs: Seq[RawDoc] = Seq.empty
        }
      }
    }
  }
}
