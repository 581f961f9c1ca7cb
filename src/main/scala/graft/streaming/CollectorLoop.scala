package graft.streaming

import graft.sources.SourceRegistry
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reference's continuously-running service shape, re-expressed as
  * a Structured-Streaming-driven micro-batch loop (the collector
  * daemon: refresh secrets every interval, scrape each enrolled
  * database, encode, push — database-collector.go:82-150, 262-281).
  *
  * Each tick of the trigger stream runs one collection round:
  *
  *   1. ENUMERATE — parse the secret payloads, keep sources carrying
  *      the enrollment tag key, build DSNs (`source_tag_filter` /
  *      `source_config_dsn` semantics).
  *   2. DIFF — full-outer the enrolled registry against the previous
  *      round's snapshot → added/kept/removed (`source_refresh_diff`
  *      semantics; the reference re-lists secrets every 15 min).
  *   3. SCRAPE, INCREMENTALLY — read each enrolled source through
  *      [[SourceRegistry.read]] with the ENGINE'S OWN scrape-query
  *      templates ([[scrapeQueries]] — the reference exporters hardcode
  *      a per-engine scraper list: mysql-exporter.go:12-48 global
  *      status/variables/processlist, postgres-exporter.go:1-34
  *      pg_stat_database, oracle-exporter.go:1-33 v$ views) and keep
  *      only rows past the stored watermark of that (source, scraper
  *      family) pair (`source_incremental_read` semantics; the
  *      `ts_sec > wm` predicate pushes into the remote WHERE).
  *      Watermarks are per-FAMILY, not per-source: one source's
  *      families capture independently, and a shared watermark jumped
  *      to the fastest family's max(ts_sec) would silently drop a
  *      lagging family's late rows forever. A source whose secret
  *      carries `partitions` fans the scrape out over planned bounds
  *      (`source_partition_bounds` semantics) as N parallel range
  *      queries. All (source × scraper) reads union into ONE plan that
  *      is executed EXACTLY ONCE per round, into an eager in-memory
  *      lineage cut (`localCheckpoint`) — the remote engines never see
  *      a second query for the same round (the old shape scraped twice:
  *      once for bodies, once for the manifest counts). One aggregate
  *      over the cut, keyed (source, scraper, metric name), yields every
  *      count the round needs: per-family sample counts and max(ts_sec)
  *      for the watermarks and the manifest, and the distinct
  *      (source, metric) pairs the body audit expects.
  *   4. ENCODE + PUBLISH — every cut sample becomes a Prometheus
  *      remote-write frame ([[graft.operators.PromWire.encodeSamples]]),
  *      grouped into one snappy-compressed WriteRequest body per
  *      (source, metric) — `proto.Marshal` + `snappy.Encode`. Bodies and
  *      manifest are written with the repo's own write-audit-publish
  *      discipline (stage → footer row-count audit → atomic rename into
  *      `round=N`): the bodies by a distributed Spark write, the
  *      manifest's few rows by the driver. The sigv4-signed HTTP POST
  *      stays out of scope (AWS infra); the bodies parquet is the push
  *      boundary.
  *   5. ADVANCE, EXACTLY-ONCE — the state snapshots (registry,
  *      watermarks) advance strictly AFTER publish (the registry only
  *      when the source set changed). The watermark snapshot is the
  *      round's commit: its file's footer records the round it commits,
  *      and [[runOnce]] runs the round after that one. A crash anywhere
  *      before it lands leaves the watermarks and the committed round
  *      unmoved, so the next round is the SAME round, whose publish
  *      REPLACES its own `round=N` dirs instead of appending — no
  *      double-pushed bodies, ever (spec-proven by killing the loop
  *      between publish and advance, and by failing each step of the
  *      snapshot replacement). The in-memory cut keeps that guarantee: a
  *      cut block cannot be recomputed, so losing one fails the round
  *      instead of silently re-querying the sources, and the failed
  *      round's unmoved watermarks make the next round retry the same
  *      range. The cut is unpersisted when the round ends, crashed or not.
  *
  * Round state (registry snapshot, per-(source, scraper) watermarks) and
  * outputs (manifest, bodies — both partitioned by round) live under a
  * work directory as parquet, re-readable on restart, so the loop is a
  * restartable foreachBatch pipeline rather than driver-memory state.
  * The registry, the watermarks and the manifest are tiny
  * |sources|-bounded tables whose rows are on the driver anyway (the
  * reference holds the same lists in memory), so the driver reads and
  * writes them itself through parquet-hadoop ([[StateFiles]]) — no Spark
  * job, in files `spark.read.parquet` reads like Spark's own. A snapshot
  * is replaced by writing the new file beside the old one before
  * deleting it, never by emptying its dir first. At scale each source's
  * scrape is a distributed (optionally split) read and the bodies a
  * distributed write; the only data collect is the round's stats, one
  * row per published body.
  */
object CollectorLoop {

  /** Fixed scrape target for engines with no template set (and the
    * embedded-Derby sandbox engine). */
  val ScrapeTable = "metrics"

  // ------------------------------------------------------ SQL dialects

  /** SQL spelling per EXECUTION dialect, resolved from the JDBC URL's
    * subprotocol — the enrollment `engine` picks WHAT to scrape (the
    * scraper list + metric prefixes), the connection picks HOW to spell
    * it. The reference gets this separation for free (each exporter
    * binary embeds its own driver and dialect); one loop scraping every
    * engine must let the spelling travel with the connection: a
    * mysql-enrolled source whose jdbc_url points at the embedded Derby
    * sandbox runs the ANSI spelling, a real jdbc:mysql connection gets
    * CONCAT() (`||` is logical OR on MySQL unless PIPES_AS_CONCAT).
    * Only the spelling hooks differ; the scraper LOGIC is defined once
    * in [[scraperDefs]] and rendered per dialect, so dialects can never
    * drift semantically. */
  sealed abstract class SqlDialect(val name: String) {
    /** string concatenation of scalar expressions */
    def concat(parts: Seq[String]): String
    def lower(e: String): String = s"LOWER($e)"
  }
  /** Derby / PostgreSQL / Oracle / ANSI: the `||` operator. */
  case object AnsiDialect extends SqlDialect("ansi") {
    def concat(parts: Seq[String]): String = parts.mkString(" || ")
  }
  /** MySQL: CONCAT() — always concatenation regardless of sql_mode. */
  case object MySqlDialect extends SqlDialect("mysql") {
    def concat(parts: Seq[String]): String = parts.mkString("CONCAT(", ", ", ")")
  }
  object SqlDialect {
    /** Execution dialect from the JDBC URL (null/absent → ANSI). */
    def forUrl(jdbcUrl: String): SqlDialect =
      if (jdbcUrl != null && jdbcUrl.startsWith("jdbc:mysql")) MySqlDialect
      else AnsiDialect
  }

  /** One scraper family as DATA: exporter metric prefix + the stats
    * relation and columns it normalizes to `(name, val, ts_sec)`.
    * An empty prefix means the relation already carries final metric
    * names (the Derby sandbox table). */
  final case class ScraperDef(family: String, prefix: String,
      nameCol: String, valCol: String, table: String)

  /** Render one scraper in one dialect. The SELECT shape is fixed;
    * only [[SqlDialect]] spelling hooks vary. */
  def renderScraper(sd: ScraperDef, dialect: SqlDialect): String =
    if (sd.prefix.isEmpty)
      s"SELECT ${sd.nameCol} AS name, ${sd.valCol} AS val, ts_sec FROM ${sd.table}"
    else
      s"SELECT ${dialect.concat(Seq(s"'${sd.prefix}'", dialect.lower(sd.nameCol)))} AS name, " +
        s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}"

  /** Per-engine scrape-query templates, keyed by the parsed secret's
    * `engine` — the Spark-side analog of the reference's hardcoded
    * per-engine scraper lists. Each template is an ANSI SELECT over the
    * engine's stats relation normalized to `(name, val, ts_sec)`, with
    * the exporter-style engine prefix baked into the metric name
    * (`mysql_global_status_*` / `pg_stat_database_*` / `oracledb_*` —
    * exactly how the reference's exporters label what they scrape), so
    * every downstream body is engine-attributable from its series names
    * alone. Stand-ins for the unqueryable originals (SHOW GLOBAL
    * STATUS, pg_stat_database, v$sysstat) so they run on any
    * JDBC-speaking engine, embedded Derby included.
    *
    * The mysql set mirrors the reference's ENABLED scraper map exactly
    * (mysql-exporter.go:13-42: GlobalStatus, GlobalVariables,
    * SlaveStatus, InnodbCmp, InnodbCmpMem, QueryResponseTime — and
    * notably NOT Processlist, which the reference turns off at
    * mysql-exporter.go:16); metric prefixes follow mysqld_exporter's
    * public naming (`mysql_global_status_*`, `mysql_global_variables_*`,
    * `mysql_slave_status_*`, `mysql_info_schema_innodb_cmp[_mem]_*`,
    * `mysql_info_schema_query_response_time_*`). */
  val scraperDefs: Map[String, Seq[ScraperDef]] = Map(
    "mysql" -> Seq(
      ScraperDef("global_status", "mysql_global_status_",
        "variable_name", "variable_value", "global_status"),
      ScraperDef("global_variables", "mysql_global_variables_",
        "variable_name", "variable_value", "global_variables"),
      ScraperDef("slave_status", "mysql_slave_status_",
        "stat_name", "stat_value", "slave_status"),
      ScraperDef("innodb_cmp", "mysql_info_schema_innodb_cmp_",
        "stat_name", "stat_value", "innodb_cmp"),
      ScraperDef("innodb_cmp_mem", "mysql_info_schema_innodb_cmp_mem_",
        "stat_name", "stat_value", "innodb_cmp_mem"),
      ScraperDef("query_response_time", "mysql_info_schema_query_response_time_",
        "stat_name", "stat_value", "query_response_time")),
    "postgres" -> Seq(
      ScraperDef("pg_stat_database", "pg_stat_database_",
        "stat_name", "stat_value", "pg_stat_database")),
    "oracle" -> Seq(
      ScraperDef("v_sysstat", "oracledb_", "stat_name", "stat_value", "v_sysstat")),
    "derby" -> Seq(
      ScraperDef(ScrapeTable, "", "name", "val", ScrapeTable)))

  /** ANSI rendering of every template — the historical map shape, kept
    * for entries/specs that read the registry directly. */
  val scrapeQueries: Map[String, Seq[(String, String)]] =
    scraperDefs.map { case (eng, defs) =>
      eng -> defs.map(sd => sd.family -> renderScraper(sd, AnsiDialect))
    }

  /** Engine → its scraper list rendered for the connection's dialect;
    * `oracle-ee`/`custom-oracle-ee` route to the oracle set (same
    * normalization the DSN builder applies). */
  def scrapersFor(engine: String, jdbcUrl: String): Seq[(String, String)] = {
    val key = if (engine != null && engine.startsWith("oracle")) "oracle" else engine
    val dialect = SqlDialect.forUrl(jdbcUrl)
    scraperDefs.getOrElse(key, scraperDefs("derby"))
      .map(sd => sd.family -> renderScraper(sd, dialect))
  }

  /** ANSI-dialect scraper list (historical signature). */
  def scrapersFor(engine: String): Seq[(String, String)] =
    scrapersFor(engine, null)

  /** Does `path` exist? Only a path that is not there reads as `false`;
    * any other FS error propagates and fails the round. Reading an
    * unreadable state dir as "fresh workDir" would restart the
    * watermarks at Long.MinValue and double-push every body. */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One schema per collector table. The driver-side writer derives the
    * parquet message type from it, and the NOT NULL columns are the
    * `required` ones Spark's writer made of the Scala tuples' primitive
    * fields. */
  private[graft] val RegistrySchema = StructType.fromDDL("source_id STRING, engine STRING")
  private[graft] val WatermarkSchema =
    StructType.fromDDL("source_id STRING, scraper STRING, watermark BIGINT NOT NULL")
  private[graft] val ManifestSchema = StructType.fromDDL(
    "source_id STRING, engine STRING, status STRING, old_watermark BIGINT NOT NULL, " +
      "n_new BIGINT NOT NULL, new_watermark BIGINT NOT NULL, n_failed_scrapers INT NOT NULL")

  /** Stage → audit → atomic publish of one round's slice of `table`:
    * `stage` writes under an invisible dot-dir, the staged files' footer
    * row counts are audited against the expected count, then the dir is
    * renamed into `round=N`. A replayed round DELETES its own published
    * dir first — outputs are per-round idempotent, so a crash-and-restart
    * can never append a second copy (the `sink_write_audit_publish`
    * discipline). */
  private def publishStaged(spark: SparkSession, table: String, round: Long,
      expectRows: Long)(stage: Path => Unit): Unit = {
    val staged = new Path(s"$table/.staging_round_$round")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staged)) fs.delete(staged, true) // a crashed attempt's leftovers
    stage(staged)
    val got = StateFiles.rowCount(spark, staged)
    if (got != expectRows)
      sys.error(s"audit failed for $table round $round: staged $got != expected $expectRows")
    val target = new Path(s"$table/round=$round")
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(staged, target))
      sys.error(s"publish rename failed: $staged -> $target")
  }

  /** [[publishStaged]] of a distributed DataFrame, staged by Spark's writer. */
  private[graft] def publishRound(spark: SparkSession, table: String, round: Long,
      df: DataFrame, expectRows: Long): Unit =
    publishStaged(spark, table, round, expectRows)(p => df.write.mode("overwrite").parquet(p.toString))

  /** Enrolled registry for one round: id, engine, dsn + the config
    * fields [[SourceRegistry.read]] needs. */
  def enumerate(spark: SparkSession, secrets: Seq[String]): DataFrame =
    SourceRegistry.withDsn(SourceRegistry.parseSecrets(spark, secrets)
      .filter(col("tags").getItem(SourceRegistry.EnabledTagKey).isNotNull))
      .withColumn("source_id", concat(col("host"), lit(":"), col("port")))

  /** One collection round. Returns the round's manifest (one row per
    * enrolled-or-removed source: engine, status, watermark movement,
    * rows scraped) after publishing bodies + manifest `round=N` slices
    * and advancing the state snapshots under `workDir`.
    *
    * `failpoint` is the crash-recovery test hook: `"before-advance"`
    * throws after the round's outputs are published but BEFORE the
    * watermark/registry snapshots move — the exact window where the old
    * append-based shape double-pushed on restart. */
  def runRound(spark: SparkSession, secrets: Seq[String], workDir: String,
      round: Long, failpoint: String = ""): DataFrame =
    runRoundOn(spark, secrets, workDir, round, readWatermarks(spark, workDir), failpoint)

  private def watermarkDir(workDir: String) = new Path(s"$workDir/watermarks")

  private def readWatermarks(spark: SparkSession, workDir: String): Option[StateFiles.Snapshot] =
    StateFiles.readSnapshot(spark, watermarkDir(workDir), WatermarkSchema)

  /** [[runRound]] over an already-read watermark snapshot. */
  private def runRoundOn(spark: SparkSession, secrets: Seq[String], workDir: String,
      round: Long, wmSnapshot: Option[StateFiles.Snapshot], failpoint: String): DataFrame = {
    import spark.implicits._

    // 1. enumerate
    val enrolled = enumerate(spark, secrets)
      .select("source_id", "engine", "format", "path", "host", "port",
        "username", "password", "dbname", "jdbc_url", "partitions")
      .collect()

    // 2. diff against the previous registry snapshot
    val regDir = new Path(s"$workDir/registry")
    val regSnapshot = StateFiles.readSnapshot(spark, regDir, RegistrySchema)
    val prev: Map[String, String] = regSnapshot.toSeq
      .flatMap(_.rows.map(r => r.getString(0) -> r.getString(1))).toMap
    val cur: Map[String, String] = enrolled
      .map(r => r.getAs[String]("source_id") -> r.getAs[String]("engine")).toMap
    val status: Map[String, String] =
      (cur.keySet.map(id => id -> (if (prev.contains(id)) "kept" else "added")) ++
        (prev.keySet -- cur.keySet).map(_ -> "removed")).toMap

    // 3. per-source incremental scrape: every engine runs ITS OWN
    // scraper templates; the watermark predicate pushes into each
    // remote query's WHERE. Watermarks are keyed by (source_id,
    // scraper): the families of one source capture independently, and a
    // shared per-source watermark advanced to max(ts_sec) across ALL
    // families would permanently skip a lagging family's late rows —
    // silent sample loss the exactly-once machinery can't see.
    val storedWm: Map[(String, String), Long] = wmSnapshot.toSeq
      .flatMap(_.rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))).toMap
    val failedScrapes = scala.collection.mutable.Set[(String, String)]()
    val scraped: Seq[DataFrame] = enrolled.toSeq.flatMap { r =>
      val id = r.getAs[String]("source_id")
      val engine = r.getAs[String]("engine")
      val baseConf = Seq("engine", "format", "path", "host", "port", "username",
        "password", "dbname", "jdbc_url", "partitions")
        .flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap
      val nParts = baseConf.get("partitions").map(_.toInt).getOrElse(1)
      // dialect dispatch: the scraper list comes from the enrollment
      // engine, the SQL spelling from the CONNECTION's subprotocol
      val dialectUrl =
        if (baseConf.getOrElse("format", "jdbc") == "jdbc")
          scala.util.Try(SourceRegistry.jdbcUrlOf(baseConf)).getOrElse(null)
        else null
      scrapersFor(engine, dialectUrl).flatMap { case (family, sql) =>
        val wm = storedWm.getOrElse((id, family), Long.MinValue)
        val isJdbc = baseConf.getOrElse("format", "jdbc") == "jdbc"
        // a down database must not fail the whole round (the reference
        // daemon keeps collecting the healthy sources): the JDBC reader
        // connects at construction to resolve the schema, so
        // connection/auth/missing-relation failures surface HERE and
        // the source is marked down (`up` 0 series + manifest counter)
        // while every other source proceeds. Its watermark does not
        // move, so the next round retries the full missed range.
        val attempt = scala.util.Try {
          val rows =
            if (!isJdbc) SourceRegistry.read(spark, baseConf + ("dbtable" -> ScrapeTable))
            else if (nParts <= 1) SourceRegistry.read(spark, baseConf + ("query" -> sql))
            else {
              // planned split read (`source_partition_bounds` semantics):
              // one 1-row bounds probe over the still-unscraped range,
              // then the scrape itself fans out as nParts parallel range
              // queries on ts_sec instead of one remote cursor
              // (Long.MinValue renders as an out-of-range unary-minus
              // literal in some SQL dialects — use a tautology instead)
              val wmPred = if (wm == Long.MinValue) "1=1" else s"ts_sec > $wm"
              val b = SourceRegistry.read(spark, baseConf + ("query" ->
                s"SELECT MIN(ts_sec) AS lo, MAX(ts_sec) AS hi FROM ($sql) b WHERE $wmPred"))
                .collect().head
              if (b.isNullAt(0)) SourceRegistry.read(spark, baseConf + ("query" -> sql))
              else SourceRegistry.read(spark, baseConf ++ Map(
                "dbtable" -> s"($sql) scrape",
                "numPartitions" -> nParts.toString,
                "partitionColumn" -> "ts_sec",
                "lowerBound" -> b.getLong(0).toString,
                "upperBound" -> (b.getLong(1) + 1).toString))
            }
          rows.filter(col("ts_sec") > wm) // pushes into the JDBC WHERE / scan
            // engine from `cur`, one per source id: a source enrolled
            // twice still yields one body per (source, metric)
            .select(lit(id).as("source_id"), lit(cur(id)).as("engine"),
              lit(family).as("scraper"), col("name").cast("string").as("name"),
              col("val").cast("double").as("val"), col("ts_sec").cast("long").as("ts_sec"))
        }
        attempt.failed.foreach { e =>
          failedScrapes += ((id, family))
          System.err.println(s"[collector] scrape failed for $id/$family: ${e.getMessage}")
        }
        attempt.toOption
      }
    }

    // union every (source × scraper) into ONE plan — the reference
    // scrapes concurrently (sync.WaitGroup); here concurrency is
    // Spark's scheduling of the union's leaves — and execute it
    // EXACTLY ONCE into an eager in-memory cut: every derived output
    // (bodies, manifest counts, watermarks) reads the cut, so the
    // remote engines are queried once per round no matter how many
    // consumers the round has. A bare localCheckpoint, not
    // graft.Checkpoints.cut: under the reliable-checkpoint flag that
    // would `checkpoint()`, which recomputes the plan and queries every
    // source a second time.
    val scrapedRows = scraped
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String, String, String, Double, Long)]
        .toDF("source_id", "engine", "scraper", "name", "val", "ts_sec"))
    val cut = scrapedRows.localCheckpoint(eager = true)
    try {
      // ONE stats pass over the cut, keyed (source, scraper, name): one
      // row per scraped body (|bodies|-bounded on the driver). Per-family
      // count and max ts_sec feed each family's watermark, the manifest
      // summary and the self-observability series; the distinct
      // (source, name) pairs are the bodies audit's expected count. Names
      // are deduplicated across families, never summed per family: the
      // `..._innodb_cmp_` and `..._innodb_cmp_mem_` prefixes overlap.
      val stats: Array[(String, String, String, Long, Long)] = cut
        .groupBy(col("source_id"), col("scraper"), col("name"))
        .agg(count(lit(1)).as("n"), max(col("ts_sec")).as("mx"))
        .as[(String, String, String, Long, Long)]
        .collect()
      val famCounts: Map[(String, String), (Long, Long)] = stats
        .groupBy { case (id, fam, _, _, _) => (id, fam) }
        .map { case (k, rows) => k -> (rows.map(_._4).sum, rows.map(_._5).max) }

      // 4a. encode bodies: cut samples PLUS the collector's own
      // self-observability family per enrolled source — `up` (1 iff every
      // scraper family of the source constructed and read cleanly this
      // round, the reserved Prometheus health series) and
      // `scrape_samples_scraped` (rows this round). Their timestamp is
      // the round number — the deterministic analog of scrape wall time.
      val selfRows: Seq[(String, String, String, String, Double, Long)] =
        status.toSeq.filter(_._2 != "removed").sortBy(_._1).flatMap { case (id, _) =>
          val engine = cur.getOrElse(id, "unknown")
          val up = if (scrapersFor(engine).exists(f => failedScrapes.contains((id, f._1))))
            0.0 else 1.0
          val n = famCounts.collect { case ((i, _), (c, _)) if i == id => c }.sum
          Seq((id, engine, "self", "up", up, round),
            (id, engine, "self", "scrape_samples_scraped", n.toDouble, round))
        }
      val encodeIn = cut.unionByName(
        selfRows.toDF("source_id", "engine", "scraper", "name", "val", "ts_sec"))
      // `engine` rides through the encoder (it keeps extra columns) into
      // the grouping key: a source's engine is fixed within a round, so
      // the bodies need no join back to the registry
      val bodiesDf = graft.operators.PromWire.encodeSamples(
        encodeIn.select(col("name").as("metric_name"),
          col("source_id").as("event_type"), col("val").as("value"),
          (col("ts_sec") * 1000L).as("ts_ms"), col("engine")))
        .groupBy(col("event_type").as("source_id"), col("engine"), col("metric_name"))
        .agg(count(lit(1)).as("n_series"),
          expr("""array_join(transform(
                    array_sort(collect_list(struct(ts_ms, wire_hex))),
                    x -> x.wire_hex), '')""").as("body_hex"))
        .selectExpr("source_id", "engine", "metric_name", "n_series",
          "length(body_hex) div 2 AS body_len",
          "graft_snappy(unhex(body_hex)) AS body_snappy")
      val nBodies = (stats.map { case (id, _, name, _, _) => (id, name) }.toSet ++
        selfRows.map(r => (r._1, r._4))).size.toLong
      publishRound(spark, s"$workDir/bodies", round, bodiesDf, nBodies)

      // 4b. manifest: per-source summary (old = most-behind family's
      // stored watermark, new = most-ahead family's post-round watermark,
      // n = total new rows, plus how many scraper families failed)
      val manifestRows = status.toSeq.sortBy(_._1).map { case (id, st) =>
        val engine = cur.getOrElse(id, prev.getOrElse(id, "unknown"))
        val fams = scrapersFor(engine).map(_._1)
        val oldWm = fams.map(f => storedWm.getOrElse((id, f), Long.MinValue)).min
        val n = famCounts.collect { case ((i, _), (c, _)) if i == id => c }.sum
        val newWm = fams.map(f => famCounts.get((id, f)).map(_._2)
          .getOrElse(storedWm.getOrElse((id, f), Long.MinValue))).max
        val nFailed = fams.count(f => failedScrapes.contains((id, f)))
        Row(id, engine, st, oldWm, n, newWm, nFailed)
      }
      publishStaged(spark, s"$workDir/manifest", round, manifestRows.size.toLong) { staged =>
        StateFiles.write(spark, new Path(staged, "part-00000.snappy.parquet"), ManifestSchema,
          manifestRows, Map.empty)
      }

      if (failpoint == "before-advance")
        sys.error(s"failpoint: crash after publish, before snapshot advance (round $round)")

      // 5. advance snapshots AFTER the publishes: a crash before the
      // watermark snapshot lands leaves it unmoved, and the restarted
      // round replaces its own round=N dirs — exactly-once outputs per
      // round. The watermark snapshot records the round it commits, so
      // runOnce replays an uncommitted round instead of skipping past it.
      // An unchanged registry is not rewritten.
      if (regSnapshot.isEmpty || cur != prev)
        StateFiles.writeSnapshot(spark, regDir, RegistrySchema,
          cur.toSeq.map { case (id, engine) => Row(id, engine) }, round)
      val newWms = (storedWm ++ famCounts.map { case (k, (_, w)) => k -> w })
        .filter { case (k @ (id, _), _) => cur.contains(id) || storedWm.contains(k) }
      StateFiles.writeSnapshot(spark, watermarkDir(workDir), WatermarkSchema,
        newWms.toSeq.map { case ((id, fam), w) => Row(id, fam, w) }, round)

      spark.createDataFrame(manifestRows.asJava, ManifestSchema)
        .select(lit(round).as("round"), col("*"))
    } finally cut.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** Next round number of `workDir`: one past the round its watermark
    * snapshot commits, 1 when there is no snapshot. A round that crashed
    * before its snapshot landed is therefore run again, not skipped with
    * its samples re-scraped into a new round. A snapshot written by
    * Spark's writer records no round: then one past the largest published
    * `manifest/round=N` dir (dot-dirs, a crashed round's staging, are not
    * rounds). */
  private def nextRound(spark: SparkSession, workDir: String,
      wm: Option[StateFiles.Snapshot]): Long = wm match {
    case None => 1L
    case Some(StateFiles.Snapshot(_, Some(committed))) => committed + 1L
    case Some(_) =>
      val RoundDir = "round=(\\d+)".r
      StateFiles.entries(spark, new Path(s"$workDir/manifest"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .collect { case RoundDir(n) => n.toLong }
        .maxOption.fold(1L)(_ + 1L)
  }

  /** LAMBDA one-shot mode — the reference's other deployment shape
    * (database-collector.go:233-268 runs one collect per invocation and
    * exits; the CDK wires it to a schedule). Executes exactly ONE
    * enumerate → diff → scrape → publish → advance round with no
    * trigger stream: the round number is recovered from the round the
    * watermark snapshot commits ([[nextRound]]), so consecutive
    * invocations are incremental exactly like consecutive stream ticks
    * — watermarks advance, already-pushed rows never re-push, and a
    * cron/Lambda deployment IS a sequence of runOnce calls over the
    * same workDir. Returns the round's manifest. */
  def runOnce(spark: SparkSession, secrets: Seq[String], workDir: String): DataFrame = {
    val wm = readWatermarks(spark, workDir)
    runRoundOn(spark, secrets, workDir, nextRound(spark, workDir, wm), wm, "")
  }

  /** Wire the loop onto a trigger stream: each tick value is a round
    * number; `secrets` is re-evaluated per round (the reference's
    * RefreshSecrets goroutine). Production: `spark.readStream
    * .format("rate")` with a processing-time trigger; specs: a
    * MemoryStream of round numbers. */
  def stream(ticks: Dataset[Long], secrets: () => Seq[String],
      workDir: String, trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Long] =
    ticks.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        val spark = batch.sparkSession
        batch.collect().sorted.foreach(r => runRound(spark, secrets(), workDir, r))
      }
}
