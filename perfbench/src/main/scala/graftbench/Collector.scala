package graftbench

import java.sql.{Connection, DriverManager}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The `collector` workload: the daemon's closed loop over embedded-Derby
  * JDBC sources, set up the way `CollectorLoopSpec` does it. Before each
  * round the benchmark inserts seeded samples into every enrolled source
  * and, now and then, swaps a source for a freshly enrolled one; the op is one
  * `CollectorLoop.runOnce` call. Its data changes every round, so a cache
  * that goes stale shows here.
  *
  * Checks per round: each enrolled source's manifest `n_new` equals the
  * rows inserted into it, `new_watermark` equals their largest `ts_sec`,
  * a dropped source shows as `removed`, the bodies' `n_series` add up to
  * the samples plus two self-series (`up`, `scrape_samples_scraped`) per
  * enrolled source, and every `body_snappy` decodes to `body_len` bytes. */
object Collector {
  /** Marks the collector's work dir in plan paths (see Trace). */
  val WorkMarker = "/collector_work"
  val Sources = 4
  val SamplesPerSource = 250
  val WarmRounds = 2
  val ChurnShare = 0.25
  private val MetricNames = Seq("threads_running", "threads_connected", "queries",
    "slow_queries", "bytes_sent", "bytes_received", "open_tables", "table_locks_waited",
    "innodb_rows_read", "innodb_rows_inserted", "aborted_clients", "uptime")

  private final class Source(val host: String, path: String) {
    val conn: Connection = {
      val c = DriverManager.getConnection(s"jdbc:derby:$path;create=true", "u", "p")
      val st = c.createStatement()
      st.executeUpdate(s"CREATE TABLE ${graft.streaming.CollectorLoop.ScrapeTable} " +
        "(name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
      st.close()
      c.setAutoCommit(false)
      c
    }
    val secret: String =
      s"""{"engine":"derby","host":"$host","port":"1527","username":"u","password":"p",""" +
        s""""dbname":"d","format":"jdbc","path":"$path",""" +
        s""""tags":{"${graft.sources.SourceRegistry.EnabledTagKey}":"true"}}"""
    def id: String = s"$host:1527"

    /** Insert `n` samples stamped within the round's second range;
      * returns the largest `ts_sec`. */
    def insert(rng: Random, round: Long, n: Int): Long = {
      val ps = conn.prepareStatement(
        s"INSERT INTO ${graft.streaming.CollectorLoop.ScrapeTable} VALUES (?, ?, ?)")
      val base = 1_700_000_000L + round * 10_000L
      (0 until n).foreach { j =>
        ps.setString(1, MetricNames(rng.nextInt(MetricNames.size)))
        ps.setDouble(2, math.rint(rng.nextDouble() * 1e6) / 100.0)
        ps.setLong(3, base + j)
        ps.addBatch()
      }
      ps.executeBatch(); conn.commit(); ps.close()
      base + n - 1
    }
  }

  /** What the benchmark inserted before one round. */
  private final case class RoundInput(round: Long, inserted: Map[String, (Int, Long)],
      removed: Set[String])

  def run(spark: SparkSession, run: Run, loop: Loop): Outcome = {
    val base = s"${run.work}$WorkMarker"
    val workDir = s"$base/state"
    val rng = new Random(run.seed)
    var made = 0
    def newSource(): Source = { made += 1; new Source(s"db$made.bench.local", s"$base/db$made") }
    var enrolled = Vector.fill(Sources)(newSource())
    val retired = scala.collection.mutable.ArrayBuffer[Source]()
    var round = 0L

    /** Churn, then insert: what the next round must find. Churn swaps
      * one source for a fresh one, so every round scrapes `Sources`
      * sources and rounds stay comparable. */
    def prepare(): RoundInput = {
      round += 1
      var removed = Set.empty[String]
      if (rng.nextDouble() < ChurnShare) {
        val gone = enrolled(rng.nextInt(enrolled.size))
        enrolled = enrolled.filterNot(_ eq gone) :+ newSource()
        retired += gone
        removed = Set(gone.id)
      }
      RoundInput(round,
        enrolled.map(s => s.id -> (SamplesPerSource, s.insert(rng, round, SamplesPerSource))).toMap,
        removed)
    }
    def collect(label: String): (Op, RoundInput, Seq[Row]) = {
      val in = prepare()
      val secrets = enrolled.map(_.secret)
      var manifest: DataFrame = null
      val op = loop.op("round", label) { id =>
        manifest = loop.trace.span("collector.round", id)(
          graft.streaming.CollectorLoop.runOnce(spark, secrets, workDir))
        (in.inserted.values.map(_._1.toLong).sum, "")
      }
      (op, in, if (manifest == null) Nil else manifest.collect().toSeq)
    }

    // the first rounds pay JIT, codegen and Derby warm-up: set-up
    val warm = (1 to WarmRounds).map { _ =>
      val w = collect("warm")
      Main.log(s"warm round ${w._2.round}: ${w._1.ms.round} ms")
      w
    }
    val rounds = loop.timed { (label, secs) =>
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[(Op, RoundInput, Seq[Row])]
      do out += collect(label) while ((System.nanoTime() - t0) / 1e9 < secs)
      out.result()
    }
    (enrolled ++ retired).foreach(s => scala.util.Try(s.conn.close()))
    verify(spark, workDir, warm ++ rounds)
  }

  private def verify(spark: SparkSession, workDir: String,
      rounds: Seq[(Op, RoundInput, Seq[Row])]): Outcome = {
    val bodies = spark.read.parquet(s"$workDir/bodies")
      .filter(col("round").isin(rounds.map(_._2.round): _*))
      .groupBy(col("round").cast("long").as("round"))
      .agg(sum("n_series").as("series"),
        sum(when(length(expr("graft_unsnappy(body_snappy)")) === col("body_len"), 0)
          .otherwise(1)).as("bad_bodies"),
        sum(length(col("body_snappy"))).as("snappy_bytes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    var samples = 0L
    var snappyBytes = 0L
    val ops = rounds.map { case (op, in, manifest) =>
      val byId = manifest.map(r => r.getAs[String]("source_id") -> r).toMap
      val problems = Seq.newBuilder[String]
      in.inserted.foreach { case (id, (n, maxTs)) =>
        byId.get(id) match {
          case None => problems += s"$id missing from manifest"
          case Some(r) =>
            if (r.getAs[Long]("n_new") != n) problems += s"$id n_new ${r.getAs[Long]("n_new")} != $n"
            if (r.getAs[Long]("new_watermark") != maxTs)
              problems += s"$id new_watermark ${r.getAs[Long]("new_watermark")} != $maxTs"
        }
      }
      in.removed.foreach { id =>
        if (!byId.get(id).exists(_.getAs[String]("status") == "removed"))
          problems += s"$id not reported removed"
      }
      val want = in.inserted.values.map(_._1.toLong).sum + 2L * in.inserted.size
      bodies.get(in.round) match {
        case None => problems += "no bodies published"
        case Some((series, bad, bytes)) =>
          if (series != want) problems += s"bodies carry $series series, expected $want"
          if (bad != 0) problems += s"$bad bodies do not decode"
          if (op.phase != "warm") { samples += op.work; snappyBytes += bytes }
      }
      val errs = (if (op.ok) Nil else Seq(op.err)) ++ problems.result()
      op.copy(name = s"round${in.round}", ok = errs.isEmpty, err = errs.mkString("; ").take(300))
    }
    Outcome(ops.filter(_.phase != "warm"),
      Map("sources.bytes_per_sample" -> (if (samples > 0) snappyBytes.toDouble / samples else 0.0)),
      Map("warm_round_errors" -> ops.filter(o => o.phase == "warm" && !o.ok).map(_.err)))
  }
}
