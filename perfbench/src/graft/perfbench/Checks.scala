package graft.perfbench

import graft.model.ExtractedDoc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. Each returns the list of problems found; an empty
  * list means the output is correct.
  */
object Checks {

  // ------------------------------------------------------------ facets
  // The span, entity and fact projections the x_* oracles are stated
  // over, applied to the sink's rows (SparkEntry's own projections are
  // private and read a cached run, not the sink).

  private def docIdNum = expr("CAST(substring(doc_id, 4) AS BIGINT)")

  /** DocGen's content kind as a predicate on the "doc<id>" id. */
  def kindIs(kind: String) = {
    val mode = docIdNum % 10
    kind match {
      case "html" => mode < 5
      case "pdf_blocks" => mode >= 5 && mode < 8
      case _ => mode >= 8
    }
  }

  def spans(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))

  def entities(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(col("entities")).as("e"))
      .select(col("doc_id"), col("e.type").as("type"), col("e.value").as("value"),
        col("e.start").as("start"), col("e.end").as("end"))

  def facts(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(col("facts")).as("f"))
      .select(col("doc_id"), col("f.fact_type").as("fact_type"),
        col("f.subject").as("subject"), col("f.predicate").as("predicate"),
        col("f.object").as("object"), col("f.confidence").as("confidence"),
        col("f.actionable").as("actionable"))

  /** The facet each extract_mixed oracle gates, over sink rows. */
  val extractFacets: Seq[(String, DataFrame => DataFrame)] = Seq(
    "x_html_spans" -> (d => spans(d.filter(kindIs("html")))),
    "x_pdf_spans" -> (d => spans(d.filter(kindIs("pdf_blocks")))),
    "x_text_spans" -> (d => spans(d.filter(kindIs("text")))),
    "x_entities_core" -> (d => entities(d.filter(!kindIs("pdf_blocks")))),
    "x_facts_core" -> (d => facts(d.filter(!kindIs("pdf_blocks")))))

  // -------------------------------------------------------- comparison

  /** Columns in name order; every number as a double rounded to 6
    * places, so the engines' integer widths and float formatting do not
    * matter.
    */
  private def canon(df: DataFrame): DataFrame =
    df.select(df.schema.fields.sortBy(_.name).toIndexedSeq.map { f =>
      f.dataType match {
        case _: NumericType => round(col(f.name).cast(DoubleType), 6).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  /** Rows of named facets as a multiset of (facet, row as JSON). */
  type Rows = Map[(String, String), Long]

  /** Collects every facet in one job. */
  def rows(facets: Seq[(String, DataFrame)]): Rows =
    facets.map { case (name, df) =>
      canon(df).select(lit(name).as("facet"), to_json(struct(col("*"))).as("row"))
    }.reduce(_ unionByName _).collect()
      .groupMapReduce(r => (r.getString(0), r.getString(1)))(_ => 1L)(_ + _)

  /** Multiset equality per facet. */
  def sameRows(actual: Rows, expected: Rows): Seq[String] = {
    def surplus(x: Rows, y: Rows, facet: String) = x.iterator.collect {
      case ((f, r), n) if f == facet => math.max(0L, n - y.getOrElse((f, r), 0L))
    }.sum
    (actual.keySet ++ expected.keySet).map(_._1).toSeq.sorted.flatMap { f =>
      val (missing, extra) = (surplus(expected, actual, f), surplus(actual, expected, f))
      if (missing == 0 && extra == 0) None
      else Some(s"$f: $missing expected rows missing, $extra unexpected rows")
    }
  }

  // ---------------------------------------------------------- the sink

  final case class Bucket(bucket: Int, docs: Long, spans: Long, fails: Long)

  /** Per-bucket (docs, spans, fails) of the sink's rows, and the pages
    * of its successfully extracted docs.
    */
  def sinkTotals(data: DataFrame): (Seq[Bucket], Long) = {
    val rs = data.groupBy(col("bucket").cast("int"))
      .agg(count(lit(1)), sum(size(col("spans"))).cast("long"),
        sum(when(!col("success"), 1L).otherwise(0L)),
        coalesce(sum(when(col("success"), col("meta.page_count"))), lit(0L)).cast("long"))
      .collect()
    (rs.map(r => Bucket(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      rs.map(_.getLong(4)).sum)
  }

  def lineageBuckets(lineage: DataFrame): Seq[Bucket] =
    lineage.select(col("bucket").cast("int"), col("doc_count"), col("span_count"),
      col("fail_count")).collect()
      .map(r => Bucket(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** Committed rows == input docs, per-bucket lineage == the data, and
    * the bucket count the job returned == the lineage's.
    */
  def sink(data: Seq[Bucket], lineage: Seq[Bucket], inputDocs: Long,
      computedBuckets: Int): Seq[String] = {
    val rows = data.map(_.docs).sum
    val differ = (data.toSet diff lineage.toSet).size + (lineage.toSet diff data.toSet).size
    Seq(
      if (rows != inputDocs) Some(s"sink: $rows committed rows for $inputDocs input docs") else None,
      if (lineage.size != computedBuckets)
        Some(s"sink: job computed $computedBuckets buckets, lineage has ${lineage.size}")
      else None,
      if (differ != 0) Some(s"lineage: $differ rows differ from the committed data") else None
    ).flatten
  }

  /** Every doc equal to its expected extraction. */
  def sameDocs(actual: Seq[ExtractedDoc], expected: Map[String, ExtractedDoc]): Seq[String] = {
    val wrong = actual.filterNot(d => expected.get(d.doc_id).contains(d)).map(_.doc_id)
    val absent = expected.keySet -- actual.map(_.doc_id)
    (if (wrong.isEmpty) Nil else Seq(s"docs: ${wrong.size} differ from processDoc, e.g. ${wrong.head}")) ++
      (if (absent.isEmpty) Nil else Seq(s"docs: ${absent.size} missing, e.g. ${absent.head}"))
  }
}
