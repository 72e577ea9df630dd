package graft.pipeline

import graft.model.{ExtractedDoc, RawDoc}
import graft.sources.Storage
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/resume with per-partition lineage (the north rule's
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Layout (Parquet standing in for Iceberg — no Iceberg jar in the
  * sandbox, SURVEY.md §7.0; in production the same API maps to
  * `spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog` with
  * `df.writeTo("cat.db.extracted").overwritePartitions()` and lineage
  * carrying the Iceberg source snapshot id):
  *
  *   outDir/data/bucket=N/…      deterministic partition: pmod(hash(doc_id), B)
  *   outDir/lineage/…            rows (bucket, doc_count, span_count,
  *                               fail_count, source_snapshot)
  *
  * Resume = anti-filter the buckets whose lineage rows exist for this
  * source snapshot, recompute only the missing buckets, and write them
  * with dynamic partition overwrite (idempotent — a re-run of a
  * completed bucket replaces it byte-identically).
  */
object ResumableJob {

  final case class LineageRow(
      bucket: Int,
      doc_count: Long,
      span_count: Long,
      fail_count: Long,
      source_snapshot: String)

  def bucketOf(buckets: Int) = pmod(hash(col("doc_id")), lit(buckets))

  /** Buckets already completed for this snapshot. Empty when no lineage
    * has been committed yet: the path is missing (first run) or holds no
    * data file (a kill during the first append leaves only its
    * `_temporary` dir). Any other read failure, such as a corrupt
    * lineage file, propagates — it must never read as "nothing done"
    * and silently recompute every bucket.
    */
  def completedBuckets(spark: SparkSession, outDir: String, snapshot: String,
      storage: Storage = Storage.default): Set[Int] = {
    try {
      storage.read(spark, s"$outDir/lineage")
        .filter(col("source_snapshot") === snapshot)
        .select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet
    } catch { case e: AnalysisException if NoLineage(e.getCondition) => Set.empty }
  }

  /** Read-failure conditions that mean no lineage was ever committed. */
  private val NoLineage = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

  /** Process + write only the buckets not yet recorded in lineage.
    * Returns the number of buckets (re)computed.
    */
  def runResumable(
      spark: SparkSession,
      raw: Dataset[RawDoc],
      outDir: String,
      buckets: Int,
      snapshot: String,
      storage: Storage = Storage.default): Int = {
    import spark.implicits._
    val done = completedBuckets(spark, outDir, snapshot, storage)
    val pending = raw
      .withColumn("bucket", bucketOf(buckets))
      .filter(!col("bucket").isin(done.toSeq: _*))
    val pendingRaw = pending.drop("bucket").as[RawDoc]
    if (pendingRaw.isEmpty) return 0

    val extracted = ExtractionPipeline.run(spark, pendingRaw)
      .withColumn("bucket", bucketOf(buckets))
    extracted.cache()
    try {
      // dynamic partition overwrite: only touched buckets are replaced
      // (Iceberg binding: writeTo(...).overwritePartitions() — same call)
      storage.overwritePartitions(extracted.toDF(), s"$outDir/data", "bucket")

      // at most `buckets` rows: aggregate the cached wave once and append
      // the collected rows as one file (each extra lineage file is one
      // more footer for completedBuckets to read)
      val lineage = extracted.groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("doc_count"),
          sum(size(col("spans"))).cast("long").as("span_count"),
          sum(when(!col("success"), 1L).otherwise(0L)).as("fail_count"))
        .withColumn("source_snapshot", lit(snapshot))
        .as[LineageRow]
        .collect()
      storage.append(lineage.toSeq.toDS().coalesce(1).toDF(), s"$outDir/lineage")
      lineage.length
    } finally extracted.unpersist()
  }

  def readData(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/data")

  def readLineage(spark: SparkSession, outDir: String,
      storage: Storage = Storage.default): DataFrame =
    storage.read(spark, s"$outDir/lineage")
}
