package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / scale-pattern operator coverage over the TPC-H-ish
  * tables. Each query has a DuckDB oracle (SparkEntry.queries); the
  * interesting part here is the PHYSICAL shape at 100 TB:
  *
  *  - as-of join via union + running last_value — one shuffle on the key,
  *    no per-row range probe (the naive key+inequality join is O(n·m));
  *  - salted two-phase aggregation — the high-cardinality-skew pattern
  *    (partial agg on (key, salt), final agg on key);
  *  - broadcast for every dimension-sized side;
  *  - rollup/cube handled by Catalyst's Expand (one shuffle).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** ROLLUP aggregation: per (returnflag, linestatus) + subtotals + grand
    * total. GROUPING() folds the null markers to 'ALL' so ordering is
    * dialect-independent.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("rf"),
        when(col("g_ls") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** As-of join: for each `error` event, the most recent `click` by the
    * same user at ts <= error ts (inner: errors with no prior click drop).
    *
    * Scale shape: tag-union both sides, ONE shuffle on user_id, then a
    * running `last(click, ignoreNulls)` over the time-sorted union —
    * equivalent to DuckDB's native ASOF JOIN but linear per partition.
    * Clicks sort before errors at equal ts (kind 0 < 1) to honor `<=`.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id").as("click_id"), col("ts").as("click_ts"),
        lit(null).cast("long").as("error_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("timestamp").as("click_ts"),
        col("event_id").as("error_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(errors)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("last_click_id").isNotNull)
      .select(col("error_id"), col("user_id"), col("ts").as("error_ts"),
        col("last_click_id"), col("last_click_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("last_click_ts")))
          .as("gap_s"))
      .orderBy(col("error_id"))
  }

  /** Anti join: customers that never placed an urgent order. The orders
    * side is filtered then reduced to distinct keys before the join
    * (shuffle carries keys, not rows); at scale this is a shuffled-hash
    * anti join on o_custkey.
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val oKeys = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    c.join(oKeys, c("c_custkey") === oKeys("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Semi join: parts with at least one returned lineitem, counted by
    * brand. part is dimension-sized → the SEMI probe side; the big fact
    * table is filtered first so the semi join sees the smallest input.
    */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val returned = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_partkey"))
    p.join(returned, p("p_partkey") === returned("l_partkey"), "left_semi")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("retail_sum"))
      .orderBy(col("p_brand"))
  }

  /** Set ops: brands of large parts INTERSECT / EXCEPT brands of cheap
    * parts, tagged and unioned.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val large = p.filter(col("p_size") > 25).select(col("p_brand"))
    val cheap = p.filter(col("p_retailprice") < 1200.0).select(col("p_brand"))
    val both = large.intersect(cheap).withColumn("tag", lit("large_and_cheap"))
    val only = large.except(cheap).withColumn("tag", lit("large_only"))
    both.unionByName(only)
      .select(col("p_brand"), col("tag"))
      .orderBy(col("tag"), col("p_brand"))
  }

  /** CUBE over (status, priority): all four grouping combinations in one
    * Expand + single shuffle.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        grouping(col("o_orderstatus")).as("g_s"),
        grouping(col("o_orderpriority")).as("g_p"))
      .select(
        when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
        when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** Exact interpolated percentiles per group — `percentile()` is a
    * single-pass sort-based aggregate; both engines use the same
    * a + (b-a)·frac interpolation.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  val Salts = 16

  /** Salted two-phase aggregation: the skew pattern for hot keys. Phase 1
    * aggregates on (key, salt) — hot keys spread across `Salts`
    * partitions; phase 2 merges the partials on key alone. Result is
    * identical to a plain GROUP BY (the oracle), but no single task sees
    * a hot key's entire row set.
    */
  def saltedAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("salt", pmod(hash(col("event_id")), lit(Salts)))
      .groupBy(col("user_id"), col("salt"))
      // decimal partials: the two-phase sum must be order-independent so
      // it equals the oracle's single-phase sum exactly
      .agg(count(lit(1)).as("pn"), sum(col("value").cast("decimal(18,2)")).as("pv"))
      .groupBy(col("user_id"))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("pv")).cast("double").as("total_value"))
      .orderBy(col("user_id"))

  val SessionGapS = 1800L

  /** Batch sessionization (gaps-and-islands): a new session starts when
    * the gap to the previous event of the same user exceeds 30 min. One
    * shuffle on user_id; windows run linearly per partition. (The
    * streaming twin lives in graft.streaming with
    * flatMapGroupsWithState.)
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > SessionGapS, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_s"))
      .orderBy(col("user_id"), col("session_id"))
  }
}
