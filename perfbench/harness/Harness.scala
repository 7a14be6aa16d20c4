package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CollapseCodegenStages, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The JVM side of the benchmark: one closed-loop client running one query
  * at a time through graft's public entry points only.
  *
  *   - `SparkEntry.queries(name)(spark, dir)` builds a query's frame,
  *   - `df.queryExecution` plans it,
  *   - `df.write.format("noop")` runs it on its whole output,
  *   - `graft.operators.*` wrappers give the kernel throughputs.
  *
  * Usage: `Harness <config.properties>`; the record lands at the config's
  * `record` path as JSON. run.py writes the config and reads the record. */
object Harness {

  final case class Config(data: String, out: String, record: String,
                          warehouse: String, passes: Int, trace: Boolean,
                          orders: Seq[Seq[String]], kernelRows: Int)

  def readConfig(path: String): Config = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    def get(k: String) = Option(p.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"config lacks '$k'"))
    val orders = Iterator.from(0).map(i => Option(p.getProperty(s"order.$i")))
      .takeWhile(_.isDefined).map(_.get.split(",").toSeq.filter(_.nonEmpty))
      .toSeq
    require(orders.nonEmpty && orders.head.nonEmpty, "config lists no queries")
    Config(get("data"), get("out"), get("record"), get("warehouse"),
      get("passes").toInt, get("trace") == "1", orders,
      get("kernel_rows").toInt)
  }

  /** every name must be a registered query: a typo must fail the run, not
    * shrink the workload silently. */
  def validate(names: Seq[String], known: Set[String]): Unit = {
    val unknown = names.filterNot(known).distinct
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      "unknown query names: " + unknown.sorted.mkString(", "))
  }

  // ---- spans ---------------------------------------------------------------

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                        endMs: Long, seconds: Double, traced: Boolean)

  final class Tracer {
    val spans = new scala.collection.mutable.ArrayBuffer[Span]
    private var next = 0
    def span[T](name: String, parent: Int, traced: Boolean)(
        body: Int => T): (T, Span) = {
      val id = { next += 1; next }
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body(id)
      val s = Span(id, name, parent, ms, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, traced)
      spans += s
      (out, s)
    }
  }

  // ---- listener ------------------------------------------------------------

  final case class JobRec(id: Int, timeMs: Long, site: String)
  final case class StageRec(id: Int, submittedMs: Long, tasks: Int,
                            runMs: Long, cpuNs: Long, gcMs: Long,
                            inputBytes: Long, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long,
                            outBytes: Long, outRecords: Long)

  /** collects job, stage and task events; the harness attributes them to
    * spans by submission time, since one query runs at a time. */
  final class Collector extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]
    val stages = new ConcurrentLinkedQueue[StageRec]
    val taskMs = new java.util.concurrent.ConcurrentHashMap[Int,
      ConcurrentLinkedQueue[Long]]
    private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    @volatile var lastEventMs = System.currentTimeMillis()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
        .getOrElse("")
      open.add(e.jobId)
      jobs.add(JobRec(e.jobId, e.time, site))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      open.remove(e.jobId)
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long])
        .add(e.taskInfo.duration)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
      lastEventMs = System.currentTimeMillis()
    }

    /** wait until every started job has ended and the bus has been quiet
      * for a moment, so counts read after a pass are complete. */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && (!open.isEmpty ||
          System.currentTimeMillis() - lastEventMs < 100)) Thread.sleep(10)
    }
  }

  // ---- plan structure ------------------------------------------------------

  def planStats(df: DataFrame): Map[String, Double] = {
    val qe = df.queryExecution
    // the frame's own adaptive plan never runs (the noop write plans the
    // query again), so its executedPlan is the initial physical plan, with
    // exchanges inserted and no runtime re-optimization: deterministic
    val plan: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case n => n }
    val codegen = CollapseCodegenStages()(plan)
      .collectWithSubqueries { case w: WholeStageCodegenExec => w }.size
    val fallbacks = nodes.map(_.expressions.map(_.collect {
      case f: CodegenFallback => f }.size).sum).sum
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    Map(
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "sort_merge_joins" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble,
      "broadcast_joins" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble,
      "codegen_stages" -> codegen.toDouble,
      "codegen_fallbacks" -> fallbacks.toDouble)
  }

  // ---- store directories ---------------------------------------------------

  /** (path -> (size, mtime)) of every regular file under `roots`. */
  def scanFiles(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.map(new File(_)).filter(_.exists).flatMap { root =>
      Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> (Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
    }.toMap

  // ---- JSON ----------------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
  }

  /** JVM-wide collection time; in local mode the executors run in this
    * JVM, so a delta over a span is that span's GC time. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** heap bytes allocated so far by the live threads (Spark's task threads
    * are pooled, so they outlive a span): the GC pressure a span causes. */
  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def message(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  // ---- main ----------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val cfg = readConfig(args(0))
    val registry = graft.SparkEntry.queries
    cfg.orders.foreach(o => validate(o, registry.keySet))
    val names = cfg.orders.head
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val memory = ManagementFactory.getMemoryMXBean
    val tracer = new Tracer
    val collector = new Collector

    // Cold pass, doubling as the oracle pass: each query's whole output is
    // written as one parquet file (row order kept) for the DuckDB check.
    // It runs before the timed loop so its first-touch costs (codegen, JIT,
    // memoized indexes) land in set-up, not in any timed query.
    val coldT0 = System.nanoTime()
    val verify = names.map { q =>
      val t0 = System.nanoTime()
      val err = try {
        registry(q)(spark, cfg.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${cfg.out}/$q")
        None
      } catch { case e: Throwable => Some(message(e)) }
      spark.catalog.clearCache()
      Map("query" -> q, "seconds" -> (System.nanoTime() - t0) / 1e9,
        "error" -> err)
    }
    val coldS = (System.nanoTime() - coldT0) / 1e9
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    // Timed closed loop: a fixed number of whole passes in seed order, so
    // every query has as many samples at the same warm-up however fast the
    // code is. run.py leaves the first pass, JIT warm-up, out of the
    // per-query medians. In traced runs each query runs twice back to back,
    // traced and untraced, which one first alternating by position and by
    // pass: the JIT warm-up between the two then cancels out of the
    // geometric mean of their ratios, the tracing overhead.
    val storeRoots = Seq(cfg.warehouse, System.getProperty("java.io.tmpdir"))
    val samples = new scala.collection.mutable.ArrayBuffer[Map[String, Any]]
    def runOne(q: String, pass: Int, parent: Int, traced: Boolean): Unit = {
      if (traced) spark.sparkContext.addSparkListener(collector)
      val before = if (traced) scanFiles(storeRoots) else Map.empty[String, (Long, Long)]
      var err: Option[String] = None
      var plan = Map.empty[String, Double]
      var execGcMs = 0L
      var execAlloc = 0L
      val (_, qs) = tracer.span(q, parent, traced) { id =>
        try {
          val (df, _) = tracer.span("build", id, traced)(_ => registry(q)(spark, cfg.data))
          tracer.span("plan", id, traced) { _ =>
            df.queryExecution.executedPlan
            if (traced) plan = planStats(df)
          }
          val (gc0, alloc0) = (gcMillis(), allocatedBytes())
          tracer.span("exec", id, traced)(_ =>
            df.write.format("noop").mode("overwrite").save())
          execGcMs = gcMillis() - gc0
          execAlloc = allocatedBytes() - alloc0
        } catch { case e: Throwable => err = Some(message(e)) }
      }
      if (traced) {
        collector.drain()
        spark.sparkContext.removeSparkListener(collector)
      }
      val written = if (traced) {
        val after = scanFiles(storeRoots)
        after.filter { case (p, v) => !before.get(p).contains(v) }.values.map(_._1)
      } else Nil
      spark.catalog.clearCache()
      System.gc()
      samples += Map("query" -> q, "pass" -> pass, "traced" -> traced,
        "heap_mb" -> memory.getHeapMemoryUsage.getUsed / 1048576.0,
        "span" -> qs.id, "seconds" -> qs.seconds, "error" -> err,
        "plan" -> plan, "exec_gc_ms" -> execGcMs, "exec_alloc" -> execAlloc,
        "files_written" -> written.size,
        "bytes_written" -> written.sum)
    }
    val timedT0 = System.nanoTime()
    (0 until cfg.passes).foreach { pass =>
      val order = cfg.orders(pass % cfg.orders.size)
      tracer.span(s"pass$pass", 0, cfg.trace) { pid =>
        order.zipWithIndex.foreach { case (q, i) =>
          if (cfg.trace) {
            val tracedFirst = (i + pass) % 2 == 0
            runOne(q, pass, pid, traced = tracedFirst)
            runOne(q, pass, pid, traced = !tracedFirst)
          } else runOne(q, pass, pid, traced = false)
        }
      }
    }
    val timedS = (System.nanoTime() - timedT0) / 1e9
    // Heap the workload left behind (memos, caches, plan and status
    // stores). Spark's ContextCleaner frees shuffle and broadcast state
    // only after a GC finds it unreachable, so collect until that settles.
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val retainedMb = memory.getHeapMemoryUsage.getUsed / 1048576.0

    // Traced extras: the old count() sink next to the whole-output time,
    // and the kernel throughputs.
    val countSink = if (!cfg.trace) Nil else names.map { q =>
      val t0 = System.nanoTime()
      val err = try { registry(q)(spark, cfg.data).count(); None }
      catch { case e: Throwable => Some(message(e)) }
      spark.catalog.clearCache()
      Map("query" -> q, "seconds" -> (System.nanoTime() - t0) / 1e9,
        "error" -> err)
    }
    val kernels = if (!cfg.trace) Map.empty[String, Any]
      else Kernels.measure(spark, cfg.data, cfg.kernelRows)

    val record = Map(
      "session_s" -> sessionS,
      "cold_s" -> coldS,
      "timed_s" -> timedS,
      "cores" -> cores,
      "max_heap_mb" -> memory.getHeapMemoryUsage.getMax / 1048576.0,
      "retained_heap_mb" -> retainedMb,
      "verify" -> verify,
      "oracles" -> oracles,
      "samples" -> samples,
      "count_sink" -> countSink,
      "kernels" -> kernels,
      "spans" -> tracer.spans,
      "jobs" -> collector.jobs.asScala.toSeq,
      "stages" -> collector.stages.asScala.toSeq,
      "task_ms" -> collector.taskMs.asScala.map { case (k, v) =>
        k.toString -> v.asScala.toSeq }.toMap)
    Files.writeString(Paths.get(cfg.record), json(record))
    spark.stop()
  }
}
