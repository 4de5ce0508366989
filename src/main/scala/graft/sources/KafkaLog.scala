package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-backed "topic as a table" — the infrastructure-free parity
  * slice of Hive's Kafka storage handler (kafka-handler:
  * KafkaStorageHandler + KafkaScanTrimmer, SURVEY.md §2.1/§2.9
  * [Hive3+]; no broker exists in this sandbox). The handler's data
  * model, reproduced exactly:
  *
  *  - a topic is an APPEND-ONLY log of records, each addressed by
  *    (partition, offset) with offsets dense and monotone per
  *    partition;
  *  - a scan surfaces the handler's metadata columns `__partition`,
  *    `__offset`, `__timestamp` (ms), `__key`, `__value`;
  *  - a query's `__partition`/`__offset`/`__timestamp` predicates are
  *    not filters over a full scan — KafkaScanTrimmer turns them into
  *    consumer SEEKS so only the addressed ranges are read.
  *
  * Spark-first mapping: the log is parquet PARTITIONED BY
  * `__partition` and written offset-sorted, so the same predicates
  * become partition-directory pruning (the per-partition seek) plus
  * parquet row-group min/max skipping on `__offset` (the in-partition
  * seek) — verified by KafkaLogSpec reading the scan's pushed/partition
  * filters. At 100 TB the shape holds: each topic-partition is a
  * directory, appended files carry disjoint offset ranges, and an
  * offset-range query touches only the files covering it.
  */
object KafkaLog {

  val schema: StructType = StructType(Seq(
    StructField("__partition", IntegerType, nullable = false),
    StructField("__offset", LongType, nullable = false),
    StructField("__timestamp", LongType, nullable = false),
    StructField("__key", StringType),
    StructField("__value", StringType)))

  /** Deterministic topic build from the events table: partition =
    * pmod(user_id, nPartitions) (Kafka's key-hash partitioner with
    * user_id as the record key), offset = arrival order within the
    * partition (ts, event_id — unique, so the log is reproducible and
    * the DuckDB oracle can re-derive identical offsets). One artifact
    * per events content and partition count.
    */
  def ensureTopic(s: SparkSession, dir: String, nPartitions: Int = 4): String =
    graft.operators.Artifact.derive(s, "kafka", dir, "events",
        "_p" + nPartitions) { out =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.T.t(s, dir, "events")
      val w = Window.partitionBy("__partition")
        .orderBy(col("ts_ns"), col("event_id"))
      ev.select(
          pmod(col("user_id"), lit(nPartitions)).cast("int")
            .as("__partition"),
          col("ts_ns"), col("event_id"), col("user_id"),
          col("event_type"))
        .withColumn("__offset", row_number().over(w).cast("long") - 1L)
        .select(col("__partition"), col("__offset"),
          expr("ts_ns div 1000000").as("__timestamp"),
          col("user_id").cast("string").as("__key"),
          col("event_type").as("__value"))
        .repartition(col("__partition"))
        .sortWithinPartitions("__partition", "__offset")
        .write
        .partitionBy("__partition")
        .parquet(out)
    }

  /** Batch read with Kafka-consumer offset semantics: per-partition
    * starting offsets (inclusive; partitions absent from the map start
    * at 0 = earliest) and optional ending offsets (EXCLUSIVE, the Kafka
    * convention; absent = latest). The predicate compiles to partition
    * pruning + parquet offset-range pushdown — never a full log scan.
    */
  def readBatch(s: SparkSession, topicPath: String,
      startingOffsets: Map[Int, Long] = Map.empty,
      endingOffsets: Map[Int, Long] = Map.empty): DataFrame = {
    val log = s.read.schema(schema).parquet(topicPath)
    val seek = (startingOffsets.keySet ++ endingOffsets.keySet).toSeq.sorted
      .map { p =>
        val lo = startingOffsets.get(p)
          .map(o => col("__offset") >= o).getOrElse(lit(true))
        val hi = endingOffsets.get(p)
          .map(o => col("__offset") < o).getOrElse(lit(true))
        (col("__partition") === p) && lo && hi
      }
    // Partitions not mentioned in either map are read earliest→latest.
    val mentioned = (startingOffsets.keySet ++ endingOffsets.keySet)
      .toSeq.sorted
    val unmentioned =
      if (mentioned.isEmpty) lit(true)
      else !col("__partition").isin(mentioned.map(Int.box): _*)
    seek.foldLeft(log.filter(unmentioned))((acc, c) =>
      acc.union(log.filter(c)))
  }
}
