package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.{DataType, StructType}

/** Content-keyed derived tables ("artifacts"): a table a statement
  * derives from base tables once per content, keeps under
  * `java.io.tmpdir` and reads back on every later build — the media
  * blob stores, the KV/segment/topic stores, the IVF-PQ and LSH
  * indexes, the bitmap rollups ([[table]]: the catalog tables a
  * statement saves). Hive's sink shape, one path for all:
  * the build writes into a staging directory (FileSinkOperator) and a
  * rename publishes it (MoveTask).
  *
  *  - Path: `graft_<kind>_<dir>_<contentTag(dir, table)><variant>`, so
  *    a rewritten base table derives a new artifact.
  *  - One build per path at a time in this JVM (a per-path lock; the
  *    only nested build, the image-embedding store over the blob store,
  *    takes its locks in that one order). Another JVM that publishes
  *    first wins the rename; this one drops its staging copy.
  *  - Completion is one rule: the published directory holds the schema
  *    record `_schema.json` of each of its tables, inferred once from
  *    the staged files before the rename (so column order and partition
  *    types are what a bare read infers), unless the build wrote it (as
  *    ACID commits do). A directory at the path without it was never
  *    published by this operator; it is rebuilt.
  *  - [[read]] passes the record to the reader: no footer-inference job.
  *
  * Spark's file index skips names starting with `_`, so the record and
  * any meta file a build writes next to its data stay out of scans.
  */
object Artifact {
  private val tmp = System.getProperty("java.io.tmpdir")
  private[graft] val record = "_schema.json"
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** `dir` as it appears in artifact paths and table names. */
  private[graft] def dirTag(dir: String): String = dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** Where the artifact of `kind` over `dir`'s `table` lives. */
  def path(kind: String, dir: String, table: String,
      variant: String = ""): String =
    s"$tmp/graft_${kind}_${dirTag(dir)}_" + graft.T.contentTag(dir, table) + variant

  /** Name of the catalog table of `kind` over `dir`'s `inputs`. */
  def tableName(kind: String, dir: String, inputs: String*): String =
    s"g_${kind}_${dirTag(dir)}_" + graft.T.contentTag(dir, inputs: _*)

  /** Build (once) and return the catalog table of `kind` over `dir`'s
    * `inputs`, the catalog twin of [[derive]]: `build` creates and fills
    * the table it is named, under the per-name lock every caller takes,
    * so none reads it half built. A build that throws drops the table
    * and its location. No staging rename: a materialized view's
    * recorded scan points at the table's own location.
    */
  def table(s: SparkSession, kind: String, dir: String, inputs: String*)(
      build: String => Unit): String = {
    val name = tableName(kind, dir, inputs: _*)
    locks.computeIfAbsent(name, _ => new AnyRef).synchronized {
      if (!s.catalog.tableExists(name)) try build(name) catch { case e: Throwable =>
        s.sql(s"DROP TABLE IF EXISTS $name") // and what a failed CTAS left:
        graft.T.deleteTree(Paths.get(s.sessionState.catalog.defaultTablePath(TableIdentifier(name))))
        throw e
      }
    }
    name
  }

  /** Build (once) and return the artifact's path. `build` writes the
    * whole artifact under the staging directory it is given; `tables`
    * names its table directories relative to that root ("" = the root
    * is the one table).
    */
  def derive(s: SparkSession, kind: String, dir: String, table: String,
      variant: String = "", tables: Seq[String] = Seq(""))(
      build: String => Unit): String = {
    val out = Paths.get(path(kind, dir, table, variant))
    def published = tables.forall(t => Files.exists(out.resolve(t).resolve(record)))
    if (!published) locks.computeIfAbsent(out.toString, _ => new AnyRef).synchronized {
      if (!published) {
        val staging = Files.createDirectories(Paths.get(tmp, "graft_staging"))
          .resolve(java.util.UUID.randomUUID.toString)
        try {
          build(staging.toString)
          tables.map(staging.resolve).filterNot(t => Files.exists(t.resolve(record)))
            .foreach(t => Files.write(t.resolve(record),
              s.read.parquet(t.toString).schema.json.getBytes(UTF_8)))
          if (!published) { // not by another JVM while this one built
            graft.T.deleteTree(out)
            Files.move(staging, out, StandardCopyOption.ATOMIC_MOVE)
          }
        } catch {
          case _: FileSystemException if published => ()
        } finally graft.T.deleteTree(staging)
      }
    }
    out.toString
  }

  /** The table at `path` (an artifact, or one of its tables), read with
    * its recorded schema. */
  def read(s: SparkSession, path: String): DataFrame = {
    val json = new String(Files.readAllBytes(Paths.get(path, record)), UTF_8)
    s.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(path)
  }
}
