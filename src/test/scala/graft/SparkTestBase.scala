package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole suite (same conf shape as
  * Verify/Bench: UTC, low shuffle partitions, temp warehouse).
  */
object SparkTestBase {
  val sfDir = "/root/testdata/sf0.001"

  /** Suite-scoped temp dir, deleted recursively when the forked test
    * JVM exits — `sbt test` must leave /tmp net-unchanged (r15 hygiene:
    * hundreds of graft-acid-spec and stage dirs, ~674 MB, had
    * accumulated across runs — a measured bench pollutant).
    * Every spec uses this instead of raw Files.createTempDirectory.
    */
  private val tmpDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(p)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        tmpDirs.forEach(d => try T.deleteTree(d) catch { case _: Throwable => () })
      }))
    p
  }

  /** A fresh copy of the data dir `from` under a suite-scoped temp dir:
    * a new path, so no session memo or derived artifact exists for it. */
  def copyOfData(from: String, prefix: String): String = {
    val to = tmpDir(prefix)
    val root = java.nio.file.Paths.get(from)
    val st = java.nio.file.Files.walk(root)
    try st.forEach { p =>
      val q = to.resolve(root.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
      ()
    } finally st.close()
    to.toString
  }

  /** Delete every derived artifact published under java.io.tmpdir for
    * the data dir `dir` (a spec's copy). */
  def dropArtifacts(dir: String): Unit = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val mark = operators.Artifact.dirTag(dir) + "_"
    val st = java.nio.file.Files.list(tmp)
    try st.filter(_.getFileName.toString.contains(mark)).forEach(T.deleteTree(_))
    finally st.close()
  }

  /** Drop every catalog table saved for the data dir `dir` (a spec's
    * copy) from the suite's catalog. */
  def dropTables(dir: String): Unit = {
    val mark = operators.Artifact.dirTag(dir) + "_"
    spark.catalog.listTables().collect().map(_.name).filter(_.contains(mark))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        SparkTestBase.tmpDir("graft-test-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(s)
  }
}
