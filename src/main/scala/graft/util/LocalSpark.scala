package graft.util

import org.apache.spark.sql.SparkSession

/** The in-process session the Verify/Bench mains and the dev probes
  * share: `local[SPARK_GRAFT_CPUS]` (default: every core) with as many
  * shuffle partitions, UTC, no UI, WARN logging. Sized from the env
  * because a hard-coded core count on a smaller or pinned host measures
  * scheduling noise. `app.Main` (spark-submit aware) and ScalingBench
  * (taskset-pinned core counts) build their own.
  */
object LocalSpark {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
