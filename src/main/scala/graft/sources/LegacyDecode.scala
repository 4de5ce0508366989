package graft.sources

import org.apache.hadoop.hive.ql.io.RCFileInputFormat
import org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Quarantine-safe record decode for the legacy-container ingest
  * bridges (SequenceFile + LazySimpleSerDe text, RCFile) — the same
  * one-corrupt-record-equals-one-row contract the five media walkers
  * carry (MediaBlobs scaladoc, enforced by MediaBlobsFuzzSpec), applied
  * to the RDD-layer format bridges that previously assumed the
  * well-formed files they themselves wrote. At 100 TB a legacy ingest
  * is exactly where decade-old half-corrupt files surface; a flipped
  * byte in one record must cost one null-quarantined row, never a
  * thrown task (Spark 4 ANSI casts throw on any malformed numeric —
  * the task-killer class MediaBlobsFuzzSpec found twice).
  *
  * Scope: RECORD-level corruption (garbage field bytes, wrong arity,
  * overflowing digit strings). CONTAINER-level corruption — a broken
  * SequenceFile sync marker, a truncated RCFile row-group, a flipped
  * Avro block length — is detected and thrown by the Hadoop/Avro
  * readers themselves before any record reaches this code; that
  * boundary belongs to the container libraries (and at ingest is the
  * correct loud failure: the FILE is the corrupt unit there, and
  * quarantining it means routing the path, not the record).
  * LegacyBridgeFuzzSpec drives both sides of this contract.
  */
object LegacyDecode {

  /** ANSI-safe integer parse as a Column: null unless the string is a
    * plain bounded integer literal. The digit bound (18) keeps the
    * value inside Long so the cast can neither throw nor overflow —
    * the `regexp_extract`-then-cast rule from the codec walkers.
    */
  def guardedLong(c: Column): Column =
    when(c.rlike("^-?[0-9]{1,18}$"), c.cast("long"))

  /** Scala-side twin of [[guardedLong]] for in-partition decoders. */
  def parseLong(s: String): java.lang.Long =
    if (s == null || s.isEmpty || s.length > 19) null
    else {
      val i = if (s.charAt(0) == '-') 1 else 0
      if (i >= s.length) null
      else {
        var digits = true
        var j = i
        while (j < s.length) {
          if (s.charAt(j) < '0' || s.charAt(j) > '9') digits = false
          j += 1
        }
        if (digits && s.length - i <= 18) java.lang.Long.valueOf(s)
        else null
      }
    }

  /** Read a ctrl-A-delimited text SequenceFile (the classic
    * LazySimpleSerDe layout) into `schema` (long/string columns), with
    * quarantine-by-null per FIELD: a missing field (short arity) or a
    * non-numeric/overflowing numeric field decodes to null; well-formed
    * fields of the same record still land. `split` is total and
    * `try_element_at` returns null past the end, so no ANSI throw is
    * reachable from record bytes.
    */
  def readSeqDelimited(s: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val rows = s.sparkContext
      .sequenceFile(path, classOf[LongWritable], classOf[Text])
      .map { case (_, v) => Row(v.toString) }
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val raw = try_element_at(col("f"), lit(i + 1))
      (f.dataType match {
        case LongType => guardedLong(raw)
        case StringType => raw
        case other => sys.error(s"unsupported seqfile mapping: $other")
      }).as(f.name)
    }
    s.createDataFrame(rows,
        StructType(Seq(StructField("value", StringType))))
      .select(split(col("value"), "\u0001").as("f"))
      .select(cols.toIndexedSeq: _*)
  }

  /** Read an RCFile into `schema` using the supplied projected column
    * ids (ColumnProjectionUtils read pruning — unlisted columns' chunks
    * are skipped inside each row-group). Field decode is
    * quarantine-by-null: a record with fewer columns than projected, or
    * garbage bytes where a numeric column should be, yields nulls for
    * those fields — the record reader reuses its writable, so bytes are
    * copied out before the iterator advances, and no exception can
    * escape the per-record decode.
    *
    * CONTRACT: readCols(i) is the FILE column id backing schema
    * field i — the pairing is positional (types.zip(colIds)), so the
    * two sequences must be the same length and aligned; a reordered
    * readCols would silently decode the wrong columns (ADVICE r14).
    * Enforced by the require below.
    */
  def readRcProjected(s: SparkSession, path: String, schema: StructType,
      readCols: Seq[Int], minPartitions: Int = 2): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    val rjc = new org.apache.hadoop.mapred.JobConf(
      s.sparkContext.hadoopConfiguration)
    org.apache.hadoop.mapred.FileInputFormat.setInputPaths(rjc, path)
    val ids = new java.util.ArrayList[Integer]()
    readCols.foreach(i => ids.add(i))
    org.apache.hadoop.hive.serde2.ColumnProjectionUtils
      .appendReadColumns(rjc, ids)
    require(readCols.length == schema.fields.length,
      s"readRcProjected: readCols (${readCols.length}) must pair 1:1 " +
        s"with schema fields (${schema.fields.length}) — readCols(i) " +
        "is the file column backing schema field i")
    val types = schema.fields.map(_.dataType)
    val colIds = readCols.toArray
    val rows = s.sparkContext.hadoopRDD(rjc,
        classOf[RCFileInputFormat[LongWritable, BytesRefArrayWritable]],
        classOf[LongWritable], classOf[BytesRefArrayWritable],
        minPartitions)
      .map { case (_, v) =>
        def str(i: Int): String =
          if (i >= v.size()) null
          else {
            val ref = v.get(i)
            if (ref == null || ref.getData == null) null
            else new String(ref.getData, ref.getStart, ref.getLength,
              UTF_8)
          }
        Row.fromSeq(types.zip(colIds).map {
          case (LongType, i) => parseLong(str(i))
          case (StringType, i) => str(i)
          case (other, _) =>
            sys.error(s"unsupported rcfile mapping: $other")
        }.toIndexedSeq)
      }
    s.createDataFrame(rows, schema)
  }
}
