package graft.sources

import graft.operators.Artifact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed "datasource as time-partitioned rollup segments" — the
  * infrastructure-free parity slice of Hive's Druid storage handler
  * (druid-handler: DruidStorageHandler + DruidSerDe, SURVEY.md §2.1
  * [Hive3+]; no Druid cluster exists in this sandbox). The handler's
  * data model, reproduced exactly:
  *
  *  - a datasource is time-partitioned into SEGMENTS at a segment
  *    granularity (DAY here — Hive's CTAS property
  *    `druid.segment.granularity`), each holding rows PRE-AGGREGATED
  *    at a query granularity (HOUR here — `druid.query.granularity`):
  *    Druid's rollup, one row per (time bucket × dimension combo)
  *    carrying additive metric partials;
  *  - every row has the mandatory `__time` column; queries carry
  *    interval predicates that select SEGMENTS, never scanning outside
  *    the interval (the broker's segment pruning);
  *  - metrics are re-aggregated from partials at query time (sum of
  *    sums, max of maxes) — correct because rollup stores additive
  *    partials, the same partial/final contract as Spark's own
  *    aggregation.
  *
  * Spark-first mapping: segments are parquet directories PARTITIONED
  * BY `__day` (segment granularity = directory), rollup is a plain
  * groupBy at build time with metric partials in exact decimal, and an
  * interval query becomes partition-directory pruning on `__day` plus
  * a `__time` range residual — verified by DruidSegmentsSpec reading
  * PartitionFilters. At 100 TB the shape holds: segments are
  * directories, interval queries touch only the covered directories,
  * and rollup compression (raw events → |time buckets × dims| rows)
  * is exactly Druid's storage win.
  */
object DruidSegments {

  /** Deterministic datasource build from the events table — the CTAS
    * twin of `druid.segment.granularity=DAY`,
    * `druid.query.granularity=HOUR` with dimension (event_type) and
    * metrics (cnt, value_sum, value_max). Metric partials are exact
    * DECIMAL(18,4) sums so query-time re-aggregation is associative
    * bit-for-bit (double partials would make rollup order visible).
    * One artifact per events content.
    */
  def ensureDatasource(s: SparkSession, dir: String): String =
    Artifact.derive(s, "druid", dir, "events") { out =>
      graft.T.t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("__time"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(graft.T.dec(col("value"))).as("value_sum"),
          max(col("value")).as("value_max"))
        .withColumn("__day", to_date(col("__time")))
        .repartition(col("__day"))
        .sortWithinPartitions("__time", "event_type")
        .write
        .partitionBy("__day")
        .parquet(out)
    }

  /** Interval scan [start, end) — end exclusive (Druid's interval
    * convention). Compiles to segment (directory) pruning on `__day`;
    * the `__time` residual does the sub-day trimming. The end-side
    * partition bound is INCLUSIVE of the end timestamp's date (a
    * sub-day end like '..-22 06:00' still needs the 22nd's segment for
    * its [00:00, 06:00) rows — an exclusive `__day <` bound would
    * silently drop the whole final day); the exclusive `__time < end`
    * residual removes the remainder of that day. For a midnight /
    * bare-date end the exclusive day bound is tight (the end day's
    * segment can contain no qualifying row), so prune it too — decided
    * driver-side off the bound string, keeping segment pruning exact
    * in both cases.
    */
  def scanInterval(s: SparkSession, path: String,
      startDay: String, endDay: String): DataFrame = {
    val midnightEnd = !endDay.trim.matches(
      ".*\\d[ T]\\d.*") || endDay.trim.matches(".*[ T]00:00(:00(\\.0+)?)?")
    val endDayBound =
      if (midnightEnd) col("__day") < lit(endDay).cast("date")
      else col("__day") <= lit(endDay).cast("date")
    Artifact.read(s, path)
      .filter(col("__day") >= lit(startDay).cast("date") &&
        endDayBound &&
        col("__time") >= lit(startDay).cast("timestamp") &&
        col("__time") < lit(endDay).cast("timestamp"))
  }
}
