package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / reporting aggregations re-expressing the reference
  * pipeline's report + ML-metadata queries (reference:
  * dagster_pipeline/dagster_acled/assets/report.py:51-110,
  * assets/ml.py:235-246,861-888) as declarative Spark plans.
  *
  * All operators are single-pass groupBy aggregations: Catalyst plans them
  * as partial (map-side) + final aggregate, so each is one shuffle of the
  * already-reduced groups — the shape that survives a 100 TB scan. Window
  * operators partition by group key first so state never concentrates on
  * one executor (except the explicitly-global daily rollup, whose
  * cardinality is bounded by days-of-history, not data size).
  */
object Analytics {

  /** Per-day event count + value sum (report.py:62 daily_counts_query). */
  def dailyCounts(events: DataFrame, tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    events
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("event_count"), sum(valueCol).as("total_value"))

  /** Category distribution with global percentage (acled_checks.py:850
    * event_types_query — `COUNT(*) * 100.0 / SUM(COUNT(*)) OVER()`).
    * The window over the aggregated (tiny) frame, never the raw rows. */
  def distributionWithPct(df: DataFrame, key: String): DataFrame = {
    val counts = df
      .filter(col(key).isNotNull && col(key) =!= "")
      .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    counts.withColumn(
      "pct",
      round(col("cnt") * lit(100.0) / sum("cnt").over(Window.partitionBy()), 2))
  }

  /** Grouped count/sum/avg rollup (report.py:99 ukraine_region_query). */
  def groupedStats(df: DataFrame, groupExpr: Column, groupName: String, valueCol: String): DataFrame =
    df.groupBy(groupExpr.as(groupName))
      .agg(
        count(lit(1)).as("event_count"),
        sum(valueCol).as("total_value"),
        avg(valueCol).as("avg_value"))

  /** Full ukraine_region_query shape (report.py:96-110): count + sum + avg
    * of the value column PLUS means of extra measure columns (the
    * reference's avg(latitude), avg(longitude) centroid per region) — all
    * in the same single-pass aggregate, one shuffle of pre-reduced groups. */
  def groupedStatsMulti(df: DataFrame, groupExpr: Column, groupName: String,
                        valueCol: String, extraAvg: Seq[(Column, String)]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      sum(valueCol).as("total_value"),
      avg(valueCol).as("avg_value")) ++
      extraAvg.map { case (c, alias) => avg(c).as(alias) }
    df.groupBy(groupExpr.as(groupName)).agg(aggs.head, aggs.tail: _*)
  }

  /** DATE_TRUNC-bucketed aggregation (ml.py:861 weekly, ml.py:239 monthly). */
  def timeBucketStats(events: DataFrame, unit: String, tsCol: String = "ts",
                      valueCol: String = "value", idCol: String = "user_id"): DataFrame =
    events
      .groupBy(date_trunc(unit, col(tsCol)).cast("date").as(unit))
      .agg(
        count(lit(1)).as("event_count"),
        sum(valueCol).as("total_value"),
        avg(valueCol).as("avg_value"),
        countDistinct(col(idCol)).as("unique_ids"))

  /** 7-row rolling mean over the daily series (report.py:283
    * `rolling(window=7, min_periods=1)`). Two-level: distributed daily
    * rollup first, then the window runs over one row per day — bounded
    * state regardless of raw data volume. */
  def rolling7d(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("event_count"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily.withColumn("rolling_avg", avg("event_count").over(w))
  }

  /** Deterministic top-N by value with total-order tie-break
    * (ml.py:873 high_fatality_events_query ORDER BY fatalities DESC LIMIT 20).
    * TakeOrdered physical op: per-partition heap + driver merge, no shuffle. */
  def topNByValue(events: DataFrame, n: Int, minValue: Double): DataFrame =
    events
      .filter(col("value") >= minValue)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(n)

  /** Range bucketing (ml.py:235 fatality_buckets / acled_checks.py:961). */
  def valueBuckets(events: DataFrame, valueCol: String = "value"): DataFrame = {
    val v = col(valueCol)
    val bucket = when(v <= 0, "0")
      .when(v <= 10, "1-10")
      .when(v <= 25, "11-25")
      .when(v <= 50, "26-50")
      .otherwise("50+")
    events.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** The composed monthly report (ml.py:775-888
    * acled_monthly_report_with_ml): the reference's headline deliverable
    * runs quality + daily-counts + event-type + region + actor queries as
    * one asset over the same date-bounded table. A driver that re-issues
    * them as N separate jobs scans the window N times; Spark-first the
    * whole bundle is ONE `GROUPING SETS` aggregate — a single bounded scan,
    * a single shuffle of pre-reduced groups, emitting every report section
    * as rows tagged by section:
    *   - `quality`    — the global row: total count + missing-field and
    *                    presence counters (quality_query + actor_query);
    *   - `daily`      — per-day count/sum (daily_counts_query);
    *   - `event_type` — per-type distribution (event_types_query);
    *   - `region`     — per-region count/sum/avg + extra-measure centroid
    *                    means (region_query / ukraine_region_query);
    *   - `weekly`     — DATE_TRUNC('week') count/sum/avg
    *                    (ml_performance_query's actuals side);
    *   - `top_events` — (topN > 0) the reference's top-N high-fatality
    *                    EVENT ROWS (ml.py:875-890 high_fatality_events
    *                    _query: value >= topMin, ordered desc, LIMIT N,
    *                    id-asc tie-break for determinism), unioned on with
    *                    key = event_id and per-row measures in the
    *                    aggregate columns.
    * The actor/field presence counters (ml.py:838-848 actor_query) ride
    * the same aggregate: conditional counters are evaluated once per
    * input row and folded into every grouping set's partial aggregate, so
    * adding one costs group-cardinality, not another pass. The top-N leg
    * is the one section that CANNOT fold into the aggregate (it emits raw
    * rows, not groups) — it reuses the same bounded scan as a partial
    * per-partition top-N (TakeOrderedAndProject: each scan task keeps N
    * rows, the driver merges K·N — no global sort, no extra shuffle).
    * This is the relational twin of [[CorpusPipeline]]: the composition —
    * not the component queries — is the product. */
  def reportBundle(events: DataFrame, regionExpr: Column,
                   extraAvg: Seq[(Column, String)] = Seq.empty,
                   topN: Int = 0, topMin: Double = 10.0): DataFrame = {
    val e = events
      .withColumn("__day", to_date(col("ts")))
      .withColumn("__week", date_trunc("week", col("ts")).cast("date"))
      .withColumn("__region", regionExpr)
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      sum("value").as("total_value"),
      avg("value").as("avg_value"),
      count(when(col("event_type").isNull || col("event_type") === "", lit(1)))
        .as("missing_event_type"),
      count(when(col("props").isNull || col("props") === "", lit(1)))
        .as("missing_props"),
      // the actor_query presence counters (ml.py:838-848): same
      // conditional-count family as the missing-field pair, free riders
      // on every grouping set's partial aggregate
      count(when(col("event_type").isNotNull && col("event_type") =!= "", lit(1)))
        .as("event_type_present"),
      count(when(col("props").isNotNull && col("props") =!= "", lit(1)))
        .as("props_present")) ++
      extraAvg.map { case (c, alias) => avg(c).as(alias) } ++ Seq(
      grouping(col("__day")).as("__g_day"),
      grouping(col("__week")).as("__g_wk"),
      grouping(col("event_type")).as("__g_et"),
      grouping(col("__region")).as("__g_rg"))
    val grouped = e.groupingSets(
        Seq(Seq.empty, Seq(col("__day")), Seq(col("__week")),
          Seq(col("event_type")), Seq(col("__region"))),
        col("__day"), col("__week"), col("event_type"), col("__region"))
      .agg(aggs.head, aggs.tail: _*)
      // section/key derived from per-column grouping() flags, not
      // grouping_id() bit order — the DuckDB oracle replays the same
      // GROUPING() calls, so neither engine's bit convention is load-bearing
      .withColumn("section",
        when(col("__g_day") === 0, "daily")
          .when(col("__g_wk") === 0, "weekly")
          .when(col("__g_et") === 0, "event_type")
          .when(col("__g_rg") === 0, "region")
          .otherwise("quality"))
      .withColumn("key",
        when(col("__g_day") === 0, col("__day").cast("string"))
          .when(col("__g_wk") === 0, col("__week").cast("string"))
          .when(col("__g_et") === 0, coalesce(col("event_type"), lit("(null)")))
          .when(col("__g_rg") === 0, col("__region").cast("string"))
          .otherwise(lit("ALL")))
      .drop("__day", "__week", "__region", "event_type",
        "__g_day", "__g_wk", "__g_et", "__g_rg")
    if (topN <= 0) grouped
    else {
      val present = (c: Column) =>
        when(c.isNotNull && c =!= "", lit(1L)).otherwise(lit(0L))
      val top = events
        .filter(col("value") >= topMin)
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(topN)
        .select(Seq(
          lit("top_events").as("section"),
          col("event_id").cast("string").as("key"),
          lit(1L).as("event_count"),
          col("value").as("total_value"),
          col("value").as("avg_value"),
          (lit(1L) - present(col("event_type"))).as("missing_event_type"),
          (lit(1L) - present(col("props"))).as("missing_props"),
          present(col("event_type")).as("event_type_present"),
          present(col("props")).as("props_present")) ++
          extraAvg.map { case (c, alias) => c.cast("double").as(alias) }: _*)
      grouped.unionByName(top)
    }
  }

  /** Per-group deterministic rank-1 rows (window row_number pattern used for
    * "hottest region" style queries in report.py:918-927). */
  def topPerGroup(df: DataFrame, partitionCol: String, orderCol: String,
                  tieBreak: String): DataFrame = {
    val w = Window.partitionBy(partitionCol)
      .orderBy(col(orderCol).desc, col(tieBreak).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }
}
