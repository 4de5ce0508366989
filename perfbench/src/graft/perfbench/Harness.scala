package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{QueryDef, SparkEntry, T}

/** Closed-loop statement runner behind `perfbench/run.py`.
  *
  * One JVM, one client thread: set up a session, run two untimed warm
  * passes (JIT/codegen caches, session memos, result dump, reference
  * hashes), then issue whole passes of the statement list back to back until
  * `--seconds` have elapsed, each pass in its own seed-permuted order.
  * Every timed action collects `bit_xor(xxhash64(*))` and `count(1)` of
  * the statement's result, so no output cell can be pruned away, and must
  * match the hash of the rows the warm pass wrote as parquet for the
  * DuckDB oracle check that run.py performs.
  *
  * Everything is written to `<out>/spans.json`: the span tree
  * run -> setup{session, tune, warm} -> pass -> statement ->
  * {build, plan, execute, release}; an untimed `gc` span closes every
  * pass, and the benchmark's own measurements (scratch listings, storage
  * status, listener-bus drains) run in untimed `probe` spans inside each
  * statement, which every reported time leaves out. With `--trace 1` a
  * SparkListener and
  * a QueryExecutionListener attribute Spark's own counters to statement
  * spans (through the job group), on every other pass; the passes in
  * between run untraced so the tracing overhead can be read off the
  * same run.
  *
  * Arguments (all required): --data DIR --out DIR --stmts a,b,c
  * --seed N --seconds S --trace 0|1 --min-passes N --cores N
  * --launch-ms EPOCH_MS
  */
object Harness {

  /** Pack of each registered statement, for the pack.<Pack>.s metrics. */
  private lazy val packOf: Map[String, String] = {
    import graft.queries._
    Seq(Aggregates, Joins, Sorting, SetOps, Lateral, Windows, Dedup,
      Similarity, TextAnalysis, Curation, Graphs, Functions, Sources, Ddl,
      Streaming, Subqueries).flatMap { p =>
      val pack = p.getClass.getSimpleName.stripSuffix("$")
      p.defs.map(_.name -> pack)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mainNs = System.nanoTime()
    val mainMs = System.currentTimeMillis()
    val launchNs = mainNs - (mainMs - opt("launch-ms").toLong) * 1000000L
    val spans = new Spans(launchNs)
    val run = spans.open("run", at = launchNs)
    val setup = spans.open("setup", at = launchNs)

    val dataDir = opt("data")
    val outDir = opt("out")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val byName = SparkEntry.all.map(d => d.name -> d).toMap
    val stmts = opt("stmts").split(",").toSeq.map { n =>
      byName.getOrElse(n, sys.error(s"unknown statement $n"))
    }

    val spark = spans.span("session") {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", T.scratchDir("graft-wh"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    spans.span("tune") { SparkEntry.tune(spark) }
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val rng = new Random(opt("seed").toLong)
    val scratchDirs = Seq(System.getProperty("java.io.tmpdir"),
      sc.getConf.get("spark.local.dir"))
    var scratchPeakMb = 0.0
    val resDir = s"$outDir/results"
    val refHash = mutable.Map.empty[String, (Long, Long)]
    val failures = mutable.ArrayBuffer.empty[String]

    /** One statement: build its DataFrame, force the hashing Dataset's
      * physical plan, execute that same Dataset, release scratch. */
    def statement(d: QueryDef, pass: String, timed: Boolean): Unit = {
      val st = spans.open("statement")
      st.attrs ++= Seq("stmt" -> d.name, "pass" -> pass,
        "pack" -> packOf.getOrElse(d.name, "?"))
      val group = s"$pass|${d.name}"
      val before = spans.span("probe") {
        tracer.foreach(_.begin(group))
        scratchDirs.flatMap(Proc.files(_)).toMap
      }
      val result: Either[String, (Long, Long)] =
        try {
          sc.setJobGroup(s"$group|build", d.name, false)
          val df = spans.span("build") { d.run(spark, dataDir) }
          def hashOf(df: DataFrame) =
            df.selectExpr("bit_xor(xxhash64(*)) AS h", "count(1) AS n")
          def read(row: org.apache.spark.sql.Row) =
            (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
          if (!timed) spans.span("dump") {
            // The warm pass executes each statement once, as a parquet
            // write for the oracle check; the hash of the written rows is
            // the reference every timed pass must reproduce.
            val dir = s"$resDir/${d.name}"
            df.write.mode("overwrite").parquet(dir)
            val h = read(hashOf(spark.read.parquet(dir)).collect()(0))
            refHash(d.name) = h
            Right(h)
          } else {
            val hashed = hashOf(df)
            val qe = hashed.queryExecution
            spans.span("plan") { qe.executedPlan }
            st.attrs("plan_nodes") = Plans.nodes(qe.executedPlan).size
            sc.setJobGroup(s"$group|exec", d.name, false)
            val h = read(spans.span("execute") { hashed.collect()(0) })
            if (refHash.get(d.name).contains(h)) Right(h)
            else Left(s"output hash $h differs from the oracle-checked ${refHash.get(d.name)}")
          }
        } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
        finally sc.clearJobGroup()
      spans.span("probe") {
        // Bytes of the files this statement created and still holds. The
        // whole directory's size would also count earlier statements'
        // shuffle files, which go only when a GC happens to collect them.
        val mb = scratchDirs.flatMap(Proc.files(_))
          .collect { case (f, n) if !before.contains(f) => n }.sum / 1048576.0
        st.attrs("scratch_mb") = mb
        // The first warm pass also creates the session's one-time files.
        if (timed) scratchPeakMb = math.max(scratchPeakMb, mb)
        tracer.foreach(t => st.attrs("scratch_cached_mb") = t.cachedMb())
      }
      spans.span("release") { T.releaseScratch(spark) }
      spans.span("probe") { tracer.foreach(_.end(st)) }
      result match {
        case Right((h, n)) =>
          st.attrs ++= Seq("ok" -> true, "hash" -> h.toString, "rows" -> n)
        case Left(msg) =>
          st.attrs ++= Seq("ok" -> false, "error" -> msg)
          failures += s"$pass ${d.name}: $msg"
      }
      spans.close(st)
    }

    /** One pass in a seed-permuted order, then an untimed full GC, so the
      * next pass starts from a clean heap and shuffle files are removed. */
    def pass(label: String, timed: Boolean): Unit = {
      rng.shuffle(stmts).foreach(d => statement(d, label, timed))
      spans.span("gc") { System.gc() }
    }

    spans.span("warm") {
      pass("warm", timed = false)
      // A second, hash-checked pass: the first timed pass would otherwise
      // still be compiling the hashing plans.
      pass("warm2", timed = true)
    }
    spans.close(setup)
    // Peak memory is reported for the timed passes; the warm passes'
    // one-time work (result dump, cold compilation) is left out.
    val setupPeakRssMb = Proc.peakRssMb()
    Proc.resetPeakRss()

    // Timed region: whole passes until the budget is spent.
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val minPasses = opt("min-passes").toInt
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || System.nanoTime() - t0 < budgetNs) {
      val traced = tracer.isDefined && n % 2 == 0
      tracer.foreach(_.enabled = traced)
      val p = spans.open("pass")
      p.attrs ++= Seq("pass" -> n, "traced" -> traced)
      Mem.resetPeaks()
      pass(s"p$n", timed = true)
      p.attrs("peak_mem_mb") = Mem.peakMb()
      spans.close(p)
      n += 1
    }
    tracer.foreach(_.enabled = false)

    Files.writeString(Paths.get(s"$resDir/oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter { case (k, _) => stmts.exists(_.name == k) }))
    spans.close(run)

    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.graft.") || k.startsWith("spark.sql.adaptive.") ||
        k.startsWith("spark.sql.cbo.") || k == "spark.sql.shuffle.partitions" ||
        k == "spark.master" || k == "spark.local.dir" ||
        k.startsWith("spark.sql.objectHashAggregate")
    }
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a => a.startsWith("-X"))
    val out = Map(
      "spans" -> spans.toJson,
      "failures" -> failures.toSeq,
      "confs" -> confs,
      "jvm_flags" -> jvmArgs.toSeq,
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).toSeq,
      "pinned_rdds" -> sc.getPersistentRDDs.size,
      "setup_peak_rss_mb" -> setupPeakRssMb,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "scratch_peak_mb" -> scratchPeakMb,
      "passes" -> n)
    Files.writeString(Paths.get(s"$outDir/spans.json"), Json.obj(out))
    spark.stop()
  }
}

/** In-memory span store; the tree is implied by open/close nesting. */
final class Spans(originNs: Long) {
  final class Span(val id: Int, val parent: Int, val name: String,
      val start: Long) {
    var end: Long = -1L
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  }
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def open(name: String, at: Long = System.nanoTime()): Span = {
    val s = new Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name, at)
    all += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.end = System.nanoTime()
    stack = stack.tail
  }

  def span[A](name: String)(body: => A): A = {
    val s = open(name)
    try body finally close(s)
  }

  /** Spans with duration and self time (duration minus children). */
  def toJson: Seq[Map[String, Any]] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    all.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - originNs) / 1e9,
        "dur_s" -> (s.end - s.start) / 1e9,
        "self_s" -> (s.end - s.start - childNs(s.id)) / 1e9,
        "attrs" -> s.attrs.toMap)
    }
  }
}

/** Per-statement Spark counters, read from outside the program: a
  * SparkListener keyed by job group, a QueryExecutionListener for
  * planning phases, sink commits and aggregate fallbacks, and the block
  * manager's storage status. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile var enabled = false
  @volatile private var current: String = _
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def add(group: String, key: String, v: Long): Unit =
    if (group != null && enabled) counters
      .computeIfAbsent(group, _ => new ConcurrentHashMap[String, AtomicLong]())
      .computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)

  /** Job group prefix "<pass>|<stmt>" plus the phase suffix. */
  private def split(g: String): (String, String) = {
    val i = g.lastIndexOf('|')
    (g.substring(0, i), g.substring(i + 1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.contains('|')) {
      e.stageIds.foreach(stageGroup.put(_, g))
      val (stmt, phase) = split(g)
      add(stmt, if (phase == "build") "build_jobs" else "exec_jobs", 1)
      add(stmt, "jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => add(split(g)._1, "stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val (stmt, phase) = split(g)
      def a(k: String, v: Long): Unit = add(stmt, k, v)
      a("tasks", 1)
      a(s"${phase}_task_ms", m.executorRunTime)
      a("task_ms", m.executorRunTime)
      a("cpu_ns", m.executorCpuTime)
      a("gc_ms", m.jvmGCTime)
      a("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      a("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      a("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      a("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      a("spill_mem_b", m.memoryBytesSpilled)
      a("spill_disk_b", m.diskBytesSpilled)
      a("input_b", m.inputMetrics.bytesRead)
      a("input_rows", m.inputMetrics.recordsRead)
      a("output_b", m.outputMetrics.bytesWritten)
      a("output_rows", m.outputMetrics.recordsWritten)
      val peak = counters.computeIfAbsent(stmt, _ => new ConcurrentHashMap[String, AtomicLong]())
        .computeIfAbsent("peak_mem_b", _ => new AtomicLong())
      if (enabled) peak.accumulateAndGet(m.peakExecutionMemory, (x, y) => math.max(x, y))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val stmt = current
    qe.tracker.phases.foreach { case (phase, p) => add(stmt, s"phase_${phase}_ms", p.durationMs) }
    val nodes = Plans.nodes(qe.executedPlan)
    add(stmt, "agg_fallback_tasks",
      nodes.flatMap(_.metrics.get("numTasksFallBacked")).map(_.value).sum)
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    if (writes.nonEmpty) {
      add(stmt, "sink_files", writes.flatMap(_.get("numFiles")).map(_.value).sum)
      add(stmt, "sink_write_ns", durationNs)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Start attributing to `group`; wait out events of earlier statements. */
  def begin(group: String): Unit = {
    drain()
    current = group
  }

  /** Wait for this statement's events and copy its counters onto its span. */
  def end(span: Spans#Span): Unit = {
    drain()
    Option(counters.remove(current)).foreach { m =>
      m.asScala.foreach { case (k, v) => span.attrs(k) = v.get }
    }
    current = null
  }

  /** `SparkContext.listenerBus` is Spark-internal; reach it reflectively. */
  private lazy val bus: AnyRef = {
    val sc = spark.sparkContext
    sc.getClass.getMethod("listenerBus").invoke(sc)
  }
  private lazy val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")

  private def drain(): Unit = if (enabled) waitUntilEmpty.invoke(bus)
}

object Plans {
  /** Every node of a physical plan, descending through adaptive plans,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

object Mem {
  import java.lang.management.{BufferPoolMXBean, ManagementFactory}
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private val buffers =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.toSeq

  def resetPeaks(): Unit = pools.foreach(_.resetPeakUsage())

  /** Peak use since the last reset, summed over every heap and non-heap
    * memory pool, plus the direct and mapped buffers in use, in MB. */
  def peakMb(): Double =
    (pools.map(_.getPeakUsage.getUsed).sum + buffers.map(_.getMemoryUsed).sum) / 1048576.0
}

object Proc {
  /** Path and size of every regular file under `dir`. Spark deletes
    * shuffle files concurrently, so a walk that hits a vanished entry is
    * retried. */
  @annotation.tailrec
  def files(dir: String, attempts: Int = 3): Seq[(String, Long)] = {
    val listing =
      try {
        val st = Files.walk(Paths.get(dir))
        try Some(st.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
          try Some(p.toString -> Files.size(p))
          catch { case _: java.io.IOException => None }
        }.toSeq)
        finally st.close()
      } catch { case _: java.io.UncheckedIOException if attempts > 1 => None }
    listing match {
      case Some(l) => l
      case None => files(dir, attempts - 1)
    }
  }

  /** Reset the peak resident set to the current one (Linux clear_refs). */
  def resetPeakRss(): Unit =
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: collection.Map[_, _] =>
      obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
