package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed benchmark operation. `work` is what the op processed in the
  * workload's throughput unit (rows returned, documents, samples). */
final case class Op(id: Long, name: String, phase: String, ms: Double, work: Long, ok: Boolean, err: String)

/** Settings of one run, parsed from `--key value` pairs. */
final case class Run(workload: String, data: String, work: String, seed: Long,
    seconds: Double, trace: Boolean, cores: Int, out: String)

/** What a workload hands back: its timed ops (failed checks marked on
  * them), its own per-layer values and context for the report. */
final case class Outcome(ops: Seq[Op], layers: Map[String, Double], context: Map[String, Any])

/** JVM side of the benchmark: starts one warm session, runs one workload
  * through the engine's public surface and writes raw results (every op,
  * the set-up time, per-layer counters in the traced run) as JSON for
  * `run.py`, which checks outputs and prints the metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = Run(o("workload"), o("data"), o("work"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("cores").toInt, o("out"))
    val spark = graft.Engine.session(s"local[${run.cores}]", run.cores, Map(
      "spark.sql.warehouse.dir" -> s"${run.work}/warehouse",
      "spark.local.dir" -> s"${run.work}/spark-local"))
    graft.Engine.quietBoundedWindowWarnings()
    log("session started")
    val trace = new Trace(spark)
    val loop = new Loop(run, trace, t0)
    val outcome = run.workload match {
      case "dashboard" => Entries.dashboard(spark, run, loop)
      case "corpus" => Entries.corpus(spark, run, loop)
      case "collector" => Collector.run(spark, run, loop)
      case other => sys.error(s"unknown workload $other")
    }
    log("workload done")
    val kernels = if (run.trace) Kernels.measure(spark, run.data) else Map.empty[String, Double]
    if (run.trace) writeSpans(trace, s"${run.work}/spans.jsonl")
    val result = Map(
      "workload" -> run.workload,
      "cores" -> run.cores,
      "setup_s" -> loop.setupS,
      "phase_s" -> loop.phaseS,
      "phase_cpu_s" -> loop.phaseCpuS,
      "ops" -> outcome.ops,
      "layers" -> (trace.totals ++ outcome.layers ++ kernels),
      "context" -> (outcome.context ++ Map(
        "gc_ms_timed" -> loop.gcMsTimed,
        "peak_rss_mb" -> peakRssMb)))
    Files.writeString(Paths.get(run.out), Serialization.write(result)(DefaultFormats))
    spark.stop()
  }

  private val started = System.nanoTime()

  /** Progress line on stderr (the run's jvm.log), stamped with seconds
    * since the JVM's main started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** CPU time of every thread of this JVM. The guest kernel accounts
    * hypervisor steal apart from it, so it moves with the program and
    * much less with the host than wall time does. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def writeSpans(trace: Trace, path: String): Unit = {
    val lines = trace.allSpans.sortBy(_.startNs).map(s =>
      Serialization.write(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))(DefaultFormats))
    Files.write(Paths.get(path), lines.asJava)
  }
}

/** The closed loop shared by the workloads.
  *
  * Set-up ends when the first timed phase starts. The untraced run has
  * one timed phase of `seconds`; the traced run splits them into four
  * quarters, untraced and traced in turn (listeners registered only in
  * the traced ones), so both halves see a JVM equally warm and their
  * difference is the tracing overhead. Each phase runs whole passes over
  * the workload's op list until its time is used, so every run weighs the
  * ops alike. */
final class Loop(run: Run, val trace: Trace, startNs: Long) {
  @volatile var setupS: Double = -1
  var phaseS: Map[String, Double] = Map.empty
  var phaseCpuS: Map[String, Double] = Map.empty
  var gcMsTimed: Long = 0
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)
  def nextOpId(): Long = opIds.incrementAndGet()

  /** Time one op: `body` returns (work, error-or-empty). */
  def op(name: String, phase: String)(body: Long => (Long, String)): Op = {
    val id = nextOpId()
    val t0 = System.nanoTime()
    val (work, err) =
      try trace.span("op", id)(body(id))
      catch { case e: Throwable => (0L, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    Op(id, name, phase, (System.nanoTime() - t0) / 1e6, work, err.isEmpty, err)
  }

  /** Run the timed phases; `phase(label, seconds)` runs whole passes for
    * about `seconds` and returns its ops. */
  def timed[T](phase: (String, Double) => Seq[T]): Seq[T] = {
    setupS = (System.nanoTime() - startNs) / 1e9
    Main.log("set-up done")
    val gc0 = Main.gcMs
    val phases =
      if (run.trace) Seq.fill(2)(Seq(("timed", run.seconds / 4, false),
        ("traced", run.seconds / 4, true))).flatten
      else Seq(("timed", run.seconds, false))
    val ops = phases.flatMap { case (label, secs, traced) =>
      if (traced) trace.start()
      val t0 = System.nanoTime()
      val cpu0 = Main.cpuNs
      val got = phase(label, secs)
      phaseS += label -> (phaseS.getOrElse(label, 0.0) + (System.nanoTime() - t0) / 1e9)
      phaseCpuS += label -> (phaseCpuS.getOrElse(label, 0.0) + (Main.cpuNs - cpu0) / 1e9)
      if (traced) trace.stop()
      got
    }
    gcMsTimed = Main.gcMs - gc0
    ops
  }
}
