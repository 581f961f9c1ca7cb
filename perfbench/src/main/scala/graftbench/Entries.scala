package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The two workloads that call `SparkEntry.queries` entries.
  *
  * `dashboard`: short read-only TSDB, collector-surface and analytics
  * entries from two clients sharing one session, where fixed per-query
  * cost (DataFrame build, Catalyst planning, job scheduling) dominates.
  * Writers (`sink_*`) stay out: they write shared table layouts.
  *
  * `corpus`: a batch job running LLM-data entries in sequence over a
  * replicated documents/embeddings corpus, where the native kernels,
  * shuffle volume and lineage cuts carry the cost.
  *
  * In set-up each entry's first call writes its result for the oracle
  * check (`run.py` hash-checks it against the entry's DuckDB SQL) and
  * records its row count; every timed op must return that many rows.
  * Entries are picked so that their DuckDB oracle runs in seconds at the
  * workload's size (the MinHash-LSH and clustering oracles take minutes
  * even on 500 documents). */
object Entries {

  val Dashboard: Seq[String] = Seq(
    "metrics_apdex", "metrics_global_status", "prom_query_range", "prom_count_values",
    "tsdb_retention", "tsdb_block_plan", "events_counter", "events_cooccur_pmi",
    "q1_pricing_summary", "q3_shipping_priority", "q_window_topn", "q_rollup")

  /** Corpus entries and the table whose rows each one processes. */
  val Corpus: Seq[(String, String)] = Seq(
    "dedup_simhash" -> "documents",
    "dedup_substring" -> "documents",
    "text_quality" -> "documents",
    "text_tfidf_topk" -> "documents",
    "ann_bruteforce_topk" -> "embeddings")

  def dashboard(spark: SparkSession, run: Run, loop: Loop): Outcome =
    entryLoop(spark, run, loop, Dashboard, clients = 2, warmPass = true, (_, rows) => rows)

  def corpus(spark: SparkSession, run: Run, loop: Loop): Outcome = {
    val sizes = Corpus.map(_._2).distinct
      .map(t => t -> spark.read.parquet(s"${run.data}/$t.parquet").count()).toMap
    val input = Corpus.toMap.map { case (n, t) => n -> sizes(t) }
    entryLoop(spark, run, loop, Corpus.map(_._1), clients = 1, warmPass = false,
      (name, _) => input(name))
  }

  private def entryLoop(spark: SparkSession, run: Run, loop: Loop, names: Seq[String],
      clients: Int, warmPass: Boolean, workOf: (String, Long) => Long): Outcome = {
    val trace = loop.trace
    val entries = graft.SparkEntry.queries
    val expected = new ConcurrentHashMap[String, java.lang.Long]()
    val setupErrors = new ConcurrentHashMap[String, String]()
    val dumpDir = s"${run.work}/dump"
    val rng = new Random(run.seed)

    // set-up, untimed: the first call of each entry dumps its result for
    // the oracle check and records the row count every timed op must
    // return; its JIT, codegen and memo warm-up stays out of the timed ops
    clientsRun(clients, new Schedule(names, rng, 0)) { name =>
      try {
        entries(name)(spark, run.data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dumpDir/$name")
        expected.put(name, spark.read.parquet(s"$dumpDir/$name").count())
      } catch { case e: Throwable => setupErrors.put(name, e.toString.take(300)) }
      graft.Checkpoints.release()
      None
    }
    Main.log("results dumped")
    // short entries are still slow on their second call: one more pass
    if (warmPass) clientsRun(clients, new Schedule(names, rng, 0)) { name =>
      try countRows(entries(name)(spark, run.data)) catch { case _: Throwable => () }
      graft.Checkpoints.release()
      None
    }

    val ops = loop.timed { (label, secs) =>
      clientsRun(clients, new Schedule(names, rng, secs)) { name =>
        val op = loop.op(name, label) { id =>
          val df = trace.span("entry.build", id)(entries(name)(spark, run.data))
          val rows = trace.span("entry.action", id)(countRows(df))
          val want = Option(expected.get(name)).map(_.longValue)
          val err = want match {
            case None => s"set-up call failed: ${setupErrors.get(name)}"
            case Some(w) if w != rows => s"returned $rows rows, checked result has $w"
            case _ => ""
          }
          (workOf(name, rows), err)
        }
        Cuts.release(spark, trace, op.id, label == "traced")
        Some(op)
      }
    }
    Outcome(ops, Map.empty, Map(
      "dump_dir" -> dumpDir,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) },
      "expected_rows" -> expected.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "setup_errors" -> setupErrors.asScala.toMap))
  }

  /** The entry's action: run the whole plan through the `noop` sink
    * (`count()` would let Catalyst prune the projections under test) and
    * count the rows on the way with an observation. */
  def countRows(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Passes over `names` in seeded order: one pass when `seconds` is 0,
    * otherwise new passes start until `seconds` have gone by. */
  final class Schedule(names: Seq[String], rng: Random, seconds: Double) {
    private val t0 = System.nanoTime()
    private var pass: Iterator[String] = Iterator.empty
    private var passes = 0
    def next(): Option[String] = synchronized {
      if (!pass.hasNext && (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
        pass = rng.shuffle(names).iterator
        passes += 1
      }
      if (pass.hasNext) Some(pass.next()) else None
    }
  }

  /** Closed loop: `n` clients each take the next entry once their
    * previous call has returned. */
  def clientsRun(n: Int, schedule: Schedule)(call: String => Option[Op]): Seq[Op] = {
    val out = new ConcurrentLinkedQueue[Op]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        var name = schedule.next()
        while (name.isDefined) {
          call(name.get).foreach(out.add)
          name = schedule.next()
        }
      }, s"bench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }
}

/** Lineage-cut release between ops, measured in the traced phase: the
  * cut blocks live just before `graft.Checkpoints.release()` and the
  * time the release takes. */
object Cuts {
  def release(spark: SparkSession, trace: Trace, opId: Long, traced: Boolean): Unit =
    if (!traced) graft.Checkpoints.release()
    else {
      val infos = spark.sparkContext.getRDDStorageInfo
      trace.add("checkpoints.cut_blocks", infos.map(_.numCachedPartitions.toLong).sum)
      trace.add("checkpoints.cut_bytes", infos.map(i => i.memSize + i.diskSize).sum)
      trace.span("checkpoints.release", opId)(graft.Checkpoints.release())
    }
}
