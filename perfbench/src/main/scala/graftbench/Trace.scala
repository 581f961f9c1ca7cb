package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is 0 for a root span;
  * spans of one benchmark op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** Spans and per-layer counters for the traced run.
  *
  * Spans are recorded around each call the benchmark makes into a layer
  * and kept in memory until the run ends. Counters come from a
  * SparkListener (jobs, stages, tasks and their metrics) and a
  * QueryExecutionListener (Catalyst planning time per execution, and the
  * collector's executions classified by the paths their plans touch).
  * Nothing is registered and nothing is recorded while `enabled` is false,
  * so the untraced run pays only a branch per span. */
final class Trace(spark: SparkSession) {
  @volatile private var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val pending = new AtomicLong(0) // tasks and jobs started, not yet ended

  def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new LongAdder).add(v)
  def count(key: String): Long = Option(counters.get(key)).map(_.sum()).getOrElse(0L)

  /** Run `f` as a span named `name` of op `op`, nested under the
    * innermost open span of this thread. */
  def span[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), op, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Every counter over the traced phase, times in ms and cut sizes in
    * MB, plus each span name's total (`span.<name>_ms`) and self time
    * (`self.<name>_ms`). */
  def totals: Map[String, Double] = {
    val cs = counters.asScala.map { case (k, v) =>
      val x = v.sum().toDouble
      if (k.endsWith("_us")) k.stripSuffix("_us") + "_ms" -> x / 1e3
      else if (k.endsWith("_ns")) k.stripSuffix("_ns") + "_ms" -> x / 1e6
      else if (k == "checkpoints.cut_bytes") "checkpoints.cut_mb" -> x / 1048576.0
      else k -> x
    }.toMap
    val durations = allSpans.groupBy(_.name).map { case (n, ss) =>
      s"span.${n}_ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum }
    cs ++ durations ++ selfMs.map { case (n, v) => s"self.${n}_ms" -> v }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name in ms: each span's duration minus the part
    * of its interval that its child spans cover. */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
        var covered = 0L; var upTo = s.startNs
        kids.foreach { case (a, b) =>
          val lo = math.max(a, upTo); val hi = math.min(b, s.endNs)
          if (hi > lo) { covered += hi - lo; upTo = hi }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { add("exec.jobs", 1); pending.incrementAndGet() }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = pending.decrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskStart(e: SparkListenerTaskStart): Unit = pending.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      pending.decrementAndGet()
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.input_rows", m.inputMetrics.recordsRead)
        add("sources.input_bytes", m.inputMetrics.bytesRead)
        add("sources.output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val planPhases = Seq("analysis", "optimization", "planning")

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    add("catalyst.executions", 1)
    val phases = qe.tracker.phases
    add("catalyst.plan_us", planPhases.flatMap(phases.get).map(_.durationMs * 1000L).sum)
    collectorClass(qe).foreach { c =>
      add(s"collector.${c}_us", durationNs / 1000L)
      add("collector.executions", 1)
    }
  }

  /** Which step of a collector round an execution belongs to, from the
    * paths its plan reads and writes under the collector work dir:
    * staged bodies/manifest slices are the publish, the JDBC scan and
    * the round's spool are the scrape, and everything else (registry,
    * watermarks, the manifest's round probe) is state I/O. */
  private def collectorClass(qe: QueryExecution): Option[String] = {
    var jdbc = false
    val paths = Seq.newBuilder[String]
    qe.analyzed.foreach {
      case w: InsertIntoHadoopFsRelationCommand => paths += w.outputPath.toString
      case l: LogicalRelation => l.relation match {
        case r if r.getClass.getSimpleName == "JDBCRelation" => jdbc = true // private[sql]
        case h: HadoopFsRelation => paths ++= h.location.rootPaths.map(_.toString)
        case _ =>
      }
      case _ =>
    }
    val ps = paths.result().filter(_.contains(Collector.WorkMarker))
    if (ps.isEmpty && !jdbc) None
    else if (ps.exists(_.contains(".staging_round"))) Some("publish")
    else if (jdbc || ps.exists(_.contains(".spool_round"))) Some("scrape")
    else Some("state")
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  /** Stop recording once the listener bus has delivered every event of
    * the traced phase (no task or job left open, counters unchanged for
    * a short quiet period). */
  def stop(): Unit = {
    enabled = false
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = count("exec.tasks") + count("catalyst.executions")
      if (now == last && pending.get() <= 0) quiet += 1 else quiet = 0
      last = now
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}
