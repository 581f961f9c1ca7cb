package graft

import graft.streaming.{CollectorLoop, StateFiles}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end collector service loop on a REAL database (embedded
  * Derby): enumerate → diff → incremental scrape → encode → push,
  * two rounds. Proves the chain the reference daemon runs — round
  * N+1 processes ONLY rows inserted after round N, a source added
  * between rounds is picked up as `added`, and every pushed body is a
  * decodable snappy'd WriteRequest. */
class CollectorLoopSpec extends SparkTestBase {

  // every test's Derby databases and parquet state live under temp base
  // dirs made by tempBase; each test ends by shutting those databases
  // down and deleting the dirs, so repeated runs leave nothing behind
  private val bases = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()

  private def tempBase(prefix: String): String = {
    val b = java.nio.file.Files.createTempDirectory(prefix)
    bases += b
    b.toString
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      bases.foreach(cleanUp)
      bases.clear()
    }

  /** Shut down every Derby database under `base` (a dir holding
    * `service.properties`), then delete the tree. */
  private def cleanUp(base: java.nio.file.Path): Unit = {
    def walk(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(base)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }
    walk().filter(_.getFileName.toString == "service.properties").foreach { f =>
      // a successful shutdown reports itself as SQLState 08006
      try java.sql.DriverManager.getConnection(s"jdbc:derby:${f.getParent};shutdown=true")
      catch { case _: java.sql.SQLException => () }
    }
    walk().sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists)
  }

  // minimal independent protobuf wire decoder (same approach as
  // PromWireSpec: written against the public encoding spec)
  private def readVarint(b: Array[Byte], p: Int): (Long, Int) = {
    var x = 0L; var shift = 0; var i = p
    while ({ val c = b(i); x |= (c & 0x7fL) << shift; shift += 7; i += 1; (c & 0x80) != 0 }) ()
    (x, i)
  }
  private def lenFields(b: Array[Byte], num: Int): Seq[Array[Byte]] = {
    var p = 0; val out = Seq.newBuilder[Array[Byte]]
    while (p < b.length) {
      val (tag, p1) = readVarint(b, p)
      (tag & 7).toInt match {
        case 0 => p = readVarint(b, p1)._2
        case 1 => p = p1 + 8
        case 2 =>
          val (len, p2) = readVarint(b, p1)
          if ((tag >> 3).toInt == num) out += b.slice(p2, p2 + len.toInt)
          p = p2 + len.toInt
      }
    }
    out.result()
  }

  private def secret(host: String, path: String): String =
    s"""{"engine":"derby","host":"$host","port":"1527","username":"u","password":"p",
        "dbname":"d","format":"jdbc","path":"$path",
        "tags":{"${graft.sources.SourceRegistry.EnabledTagKey}":"true"}}"""
      .replaceAll("\n\\s*", "")

  test("two rounds on Derby: only new rows, added source detected, bodies decode") {
    val base = tempBase("graft_loop")
    val db1 = s"$base/src1"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db1;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
        "('m_up', 1.0, 100), ('threads_running', 7.0, 100), ('m_up', 1.0, 160)")
      st.close()
    } finally conn.close()

    val work = s"$base/work"
    @volatile var secrets = Seq(secret("db1.example.com", db1))

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ticks = MemoryStream[Long]
    val q = CollectorLoop.stream(ticks.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // ---- round 1: fresh registry, full scrape
      ticks.addData(1L); q.processAllAvailable()
      val m1 = spark.read.parquet(s"$work/manifest").filter(col("round") === 1)
      assert(m1.count() == 1)
      val r1 = m1.head()
      assert(r1.getAs[String]("status") == "added")
      assert(r1.getAs[Long]("n_new") == 3)
      assert(r1.getAs[Long]("new_watermark") == 160)

      // ---- between rounds: source grows; a second source enrolls
      val c2 = java.sql.DriverManager.getConnection(s"jdbc:derby:$db1", "u", "p")
      try {
        val st = c2.createStatement()
        st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
          "('m_up', 1.0, 220), ('threads_running', 9.0, 220)")
        st.close()
      } finally c2.close()
      val db2 = s"$base/src2"
      val cn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db2;create=true", "u", "p")
      try {
        val st = cn.createStatement()
        st.executeUpdate(
          s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
        st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 150)")
        st.close()
      } finally cn.close()
      secrets = Seq(secret("db1.example.com", db1), secret("db2.example.com", db2))

      // ---- round 2: incremental on db1, full on the new db2
      ticks.addData(2L); q.processAllAvailable()
      val m2 = spark.read.parquet(s"$work/manifest").filter(col("round") === 2)
        .collect().map(r => r.getAs[String]("source_id") -> r).toMap
      assert(m2.size == 2)
      val d1 = m2("db1.example.com:1527")
      assert(d1.getAs[String]("status") == "kept")
      assert(d1.getAs[Long]("old_watermark") == 160, "round 2 starts at round 1's watermark")
      assert(d1.getAs[Long]("n_new") == 2, "round 2 scrapes ONLY the rows inserted after round 1")
      assert(d1.getAs[Long]("new_watermark") == 220)
      val d2 = m2("db2.example.com:1527")
      assert(d2.getAs[String]("status") == "added")
      assert(d2.getAs[Long]("n_new") == 1)

      // ---- every pushed body decodes: snappy → WriteRequest with
      // n_series field-1 TimeSeries, source id recoverable as a label
      val bodies = spark.read.parquet(s"$work/bodies")
        .selectExpr("round", "source_id", "metric_name", "n_series",
          "graft_unsnappy(body_snappy) AS body")
        .collect()
      assert(bodies.nonEmpty)
      bodies.foreach { b =>
        val series = lenFields(b.getAs[Array[Byte]]("body"), 1)
        assert(series.size == b.getAs[Long]("n_series"))
        series.foreach { ts =>
          val labels = lenFields(ts, 1).map { kv =>
            val k = lenFields(kv, 1).head
            val v = lenFields(kv, 2).headOption.getOrElse(Array.empty[Byte])
            new String(k, "UTF-8") -> new String(v, "UTF-8")
          }.toMap
          assert(labels("__name__") == b.getAs[String]("metric_name"))
          assert(labels("event_type") == b.getAs[String]("source_id"))
          assert(lenFields(ts, 2).size == 1, "exactly one sample per frame")
        }
      }
      // round-2 bodies carry only the incremental sample count for db1
      val r2up = spark.read.parquet(s"$work/bodies")
        .filter(col("round") === 2 && col("source_id") === "db1.example.com:1527" &&
          col("metric_name") === "m_up")
        .head().getAs[Long]("n_series")
      assert(r2up == 1, "only the post-round-1 'm_up' sample ships in round 2")

      // ---- round 3 with nothing new: watermark holds, zero rows
      ticks.addData(3L); q.processAllAvailable()
      val m3 = spark.read.parquet(s"$work/manifest").filter(col("round") === 3)
        .collect().map(r => r.getAs[String]("source_id") -> r).toMap
      assert(m3("db1.example.com:1527").getAs[Long]("n_new") == 0)
      assert(m3("db1.example.com:1527").getAs[Long]("new_watermark") == 220)
    } finally q.stop()
  }

  test("loop state survives a process restart: a NEW query resumes from the stored watermark") {
    val base = tempBase("graft_loop_rs")
    val db = s"$base/src"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 50)")
      st.close()
    } finally conn.close()
    val secrets = Seq(secret("dbr.example.com", db))
    val work = s"$base/work"

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t1 = MemoryStream[Long]
    val q1 = CollectorLoop.stream(t1.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt1").start()
    try { t1.addData(1L); q1.processAllAvailable() } finally q1.stop()

    // "restart": a brand-new query, fresh checkpoint — only the
    // workDir parquet state carries over, as after a driver crash
    val c2 = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c2.createStatement()
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 2.0, 90)")
      st.close()
    } finally c2.close()
    val t2 = MemoryStream[Long]
    val q2 = CollectorLoop.stream(t2.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt2").start()
    try { t2.addData(2L); q2.processAllAvailable() } finally q2.stop()

    val m = spark.read.parquet(s"$work/manifest").collect()
      .map(r => r.getAs[Int]("round").toLong -> r).toMap
    assert(m(1L).getAs[Long]("n_new") == 1 && m(1L).getAs[Long]("new_watermark") == 50)
    assert(m(2L).getAs[String]("status") == "kept",
      "registry snapshot survived the restart")
    assert(m(2L).getAs[Long]("old_watermark") == 50 && m(2L).getAs[Long]("n_new") == 1,
      "restarted loop resumed from the stored watermark, not a rescan")
  }

  /** DDL + rows for an engine-shaped Derby stand-in database. */
  private def mkDb(path: String, ddl: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$path;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      ddl.foreach(st.executeUpdate)
      st.close()
    } finally conn.close()
  }

  private def engineSecret(host: String, engine: String, dbPath: String,
      extra: String = ""): String =
    s"""{"engine":"$engine","host":"$host","port":"1527","username":"u","password":"p",
        "dbname":"d","format":"jdbc","jdbc_url":"jdbc:derby:$dbPath"$extra,
        "tags":{"${graft.sources.SourceRegistry.EnabledTagKey}":"true"}}"""
      .replaceAll("\n\\s*", "")

  /** All six mysql-shaped stats relations (the stand-ins for the
    * reference's ENABLED mysqld scrapers, mysql-exporter.go:13-42) plus
    * a processlist table that must NOT be scraped (the reference
    * disables ScrapeProcesslist, mysql-exporter.go:16). */
  private def mysqlDdl: Seq[String] = Seq(
    "CREATE TABLE global_status (variable_name VARCHAR(64), variable_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE global_variables (variable_name VARCHAR(64), variable_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE slave_status (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE innodb_cmp (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE innodb_cmp_mem (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE query_response_time (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE processlist_summary (state VARCHAR(64), n_threads INT, captured_sec BIGINT)")

  test("per-engine templates: mysql runs all six enabled reference scrapers (and no processlist); bodies label the engine") {
    val base = tempBase("graft_loop_eng")
    mkDb(s"$base/my", mysqlDdl ++ Seq(
      "INSERT INTO global_status VALUES ('Threads_running', 7.0, 100), ('Uptime', 5000.0, 100)",
      "INSERT INTO global_variables VALUES ('max_connections', 151.0, 100)",
      "INSERT INTO slave_status VALUES ('seconds_behind_master', 0.0, 100)",
      "INSERT INTO innodb_cmp VALUES ('compress_ops', 42.0, 100)",
      "INSERT INTO innodb_cmp_mem VALUES ('pages_used', 9.0, 100)",
      "INSERT INTO query_response_time VALUES ('queries_100ms', 17.0, 100)",
      // present in the database but NOT in the enabled scraper set:
      // rows here must never surface as series
      "INSERT INTO processlist_summary VALUES ('executing', 3, 100)"))
    // postgres-shaped stats relation (stand-in for pg_stat_database)
    mkDb(s"$base/pg", Seq(
      "CREATE TABLE pg_stat_database (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
      "INSERT INTO pg_stat_database VALUES ('xact_commit', 420.0, 100), ('blks_read', 9000.0, 100)"))
    val secrets = Seq(
      engineSecret("my1.example.com", "mysql", s"$base/my"),
      engineSecret("pg1.example.com", "postgres", s"$base/pg"))
    val work = s"$base/work"

    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L)
      .collect().map(r => r.getAs[String]("source_id") -> r).toMap
    // each engine ran ITS OWN scraper set: mysql = 6 scrapers → 7 rows
    // (processlist's row does NOT count), postgres = 1 scraper × 2 rows
    assert(manifest("my1.example.com:1527").getAs[String]("engine") == "mysql")
    assert(manifest("my1.example.com:1527").getAs[Long]("n_new") == 7)
    assert(manifest("pg1.example.com:1527").getAs[String]("engine") == "postgres")
    assert(manifest("pg1.example.com:1527").getAs[Long]("n_new") == 2)

    val bodies = spark.read.parquet(s"$work/bodies")
      .select("source_id", "engine", "metric_name", "n_series").collect()
    val byEngine = bodies.groupBy(_.getAs[String]("engine"))
    // bodies label the engine, the metric names carry mysqld_exporter's
    // public prefixes for ALL SIX enabled scraper families, and no
    // processlist series exists anywhere in the round's output
    assert(byEngine("mysql").map(_.getAs[String]("metric_name")).toSet ==
      Set("mysql_global_status_threads_running", "mysql_global_status_uptime",
        "mysql_global_variables_max_connections",
        "mysql_slave_status_seconds_behind_master",
        "mysql_info_schema_innodb_cmp_compress_ops",
        "mysql_info_schema_innodb_cmp_mem_pages_used",
        "mysql_info_schema_query_response_time_queries_100ms",
        "up", "scrape_samples_scraped"))
    assert(!bodies.exists(_.getAs[String]("metric_name").contains("processlist")),
      "the reference disables ScrapeProcesslist; the loop must not scrape it")
    assert(byEngine("postgres").map(_.getAs[String]("metric_name")).toSet ==
      Set("pg_stat_database_xact_commit", "pg_stat_database_blks_read",
        "up", "scrape_samples_scraped"))
    // every source is healthy: its up series carries value-bit-set frames
    // (value 1.0 != 0 -> field 1 present) and scrape_samples counts rows
    // every body decodes to one WriteRequest TimeSeries per sample
    val dec = spark.read.parquet(s"$work/bodies")
      .selectExpr("metric_name", "n_series", "graft_unsnappy(body_snappy) AS body")
      .collect()
    dec.foreach { b =>
      assert(lenFields(b.getAs[Array[Byte]]("body"), 1).size == b.getAs[Long]("n_series"))
    }
  }

  test("exactly-once: a crash between publish and snapshot-advance does not double-push bodies") {
    val base = tempBase("graft_loop_xo")
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 100), ('lat', 2.0, 100)"))
    val secrets = Seq(secret("dbx.example.com", db))
    val work = s"$base/work"

    // round 1 crashes AFTER bodies+manifest are published but BEFORE
    // the watermark/registry snapshots advance — the exact window where
    // an append-based loop double-pushes on restart
    intercept[RuntimeException] {
      CollectorLoop.runRound(spark, secrets, work, 1L, failpoint = "before-advance")
    }
    assert(spark.read.parquet(s"$work/bodies").count() == 4,
      "the crashed round's bodies were published (2 scraped + up + samples)")
    // "restart": the loop replays the SAME round (its tick was never
    // committed); outputs must REPLACE, not append
    CollectorLoop.runRound(spark, secrets, work, 1L)
    val bodies = spark.read.parquet(s"$work/bodies")
      .select("round", "source_id", "metric_name", "n_series").collect()
    assert(bodies.length == 4, s"replayed round must not duplicate bodies: ${bodies.toSeq}")
    val scrapedBodies = bodies.filterNot(b =>
      Set("up", "scrape_samples_scraped")(b.getAs[String]("metric_name")))
    assert(scrapedBodies.length == 2 && scrapedBodies.map(_.getAs[Long]("n_series")).sum == 2,
      "each scraped sample ships exactly once")
    val manifest = spark.read.parquet(s"$work/manifest").collect()
    assert(manifest.length == 1, "one manifest row total: the replay replaced the crashed round's")
    assert(manifest.head.getAs[Long]("new_watermark") == 100)

    // and the next round is a clean increment on the once-advanced state
    CollectorLoop.runRound(spark, secrets, work, 2L)
    val m2 = spark.read.parquet(s"$work/manifest")
      .filter(col("round") === 2).head()
    assert(m2.getAs[Long]("old_watermark") == 100 && m2.getAs[Long]("n_new") == 0)
  }

  test("per-family watermarks: a lagging scraper family's late rows are not skipped by a faster family's advance") {
    val base = tempBase("graft_loop_wm")
    val db = s"$base/my"
    // round 1: global_status has captured up to 100, innodb_cmp only to
    // 90 — the families of ONE source are at different capture points
    mkDb(db, mysqlDdl ++ Seq(
      "INSERT INTO global_status VALUES ('Uptime', 5000.0, 100)",
      "INSERT INTO innodb_cmp VALUES ('compress_ops', 1.0, 90)"))
    val secrets = Seq(engineSecret("wm1.example.com", "mysql", db))
    val work = s"$base/work"
    CollectorLoop.runRound(spark, secrets, work, 1L)

    // the stored watermarks are per (source_id, scraper): 100 for
    // global_status, 90 for innodb_cmp — NOT one shared max
    val wms = spark.read.parquet(s"$work/watermarks")
      .collect().map(r => r.getAs[String]("scraper") -> r.getAs[Long]("watermark")).toMap
    assert(wms("global_status") == 100 && wms("innodb_cmp") == 90,
      s"per-family watermarks expected, got $wms")

    // between rounds the lagging family's sample at ts 95 arrives —
    // INSIDE (90, 100]: a per-source watermark at max(100) would skip
    // it forever; the per-family watermark at 90 must ship it
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO innodb_cmp VALUES ('compress_ops_ok', 2.0, 95)")
      st.close()
    } finally c.close()
    val m2 = CollectorLoop.runRound(spark, secrets, work, 2L).head()
    assert(m2.getAs[Long]("n_new") == 1, "the late innodb_cmp sample ships in round 2")
    val r2names = spark.read.parquet(s"$work/bodies")
      .filter(col("round") === 2).select("metric_name")
      .collect().map(_.getString(0)).toSet
    assert(r2names == Set("mysql_info_schema_innodb_cmp_compress_ops_ok",
      "up", "scrape_samples_scraped"))
    // and the families' watermarks advanced independently again
    val wms2 = spark.read.parquet(s"$work/watermarks")
      .collect().map(r => r.getAs[String]("scraper") -> r.getAs[Long]("watermark")).toMap
    assert(wms2("global_status") == 100 && wms2("innodb_cmp") == 95)
  }

  test("a down source does not fail the round: up=0 for it, healthy sources ship, watermark holds for retry") {
    val base = tempBase("graft_loop_dn")
    val good = s"$base/good"
    mkDb(good, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m1', 1.0, 100)"))
    // the bad source points at a database that does not exist (and
    // cannot be created: no ;create=true in the loop's DSN) — the JDBC
    // construction fails, the daemon must keep going
    val secrets = Seq(
      secret("good.example.com", good),
      secret("down.example.com", s"$base/nonexistent"))
    val work = s"$base/work"
    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L)
      .collect().map(r => r.getAs[String]("source_id") -> r).toMap
    assert(manifest.size == 2, "both sources appear in the manifest")
    assert(manifest("good.example.com:1527").getAs[Long]("n_new") == 1)
    assert(manifest("good.example.com:1527").getAs[Int]("n_failed_scrapers") == 0)
    assert(manifest("down.example.com:1527").getAs[Long]("n_new") == 0)
    assert(manifest("down.example.com:1527").getAs[Int]("n_failed_scrapers") == 1)

    // self-observability: up=1 for the healthy source, up=0 for the
    // down one — both decodable frames in the round's bodies
    val ups = spark.read.parquet(s"$work/bodies")
      .filter(col("metric_name") === "up")
      .selectExpr("source_id", "graft_unsnappy(body_snappy) AS body")
      .collect().map { r =>
        val ts = lenFields(r.getAs[Array[Byte]]("body"), 1).head
        val sample = lenFields(ts, 2).head
        // Sample field 1 (fixed64 value) omitted when 0 (proto3 rule)
        val hasValue = sample.nonEmpty && (sample(0) & 0xff) == 0x09
        r.getAs[String]("source_id") -> hasValue
      }.toMap
    assert(ups("good.example.com:1527"), "healthy source: up carries value 1")
    assert(!ups("down.example.com:1527"), "down source: up value 0 (omitted field)")

    // no watermark entry for the down source: the next round retries
    // the full range once the database is back
    val wmSrc = spark.read.parquet(s"$work/watermarks")
      .select("source_id").collect().map(_.getString(0)).toSet
    assert(wmSrc == Set("good.example.com:1527"))
  }

  test("partitioned scrape: bounds-planned split read returns the same rows as the serial read") {
    val base = tempBase("graft_loop_par")
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
        (1 to 40).map(i => s"('m$i', $i.0, ${100 + i})").mkString(", ")))

    // the registry read itself fans out: 4 range partitions on ts_sec
    val par = graft.sources.SourceRegistry.read(spark, Map(
      "engine" -> "derby", "format" -> "jdbc", "path" -> db,
      "username" -> "u", "password" -> "p",
      "dbtable" -> s"(SELECT name, val, ts_sec FROM ${CollectorLoop.ScrapeTable}) scrape",
      "numPartitions" -> "4", "partitionColumn" -> "ts_sec",
      "lowerBound" -> "101", "upperBound" -> "141"))
    assert(par.rdd.getNumPartitions == 4, "the planned bounds drive a real split read")
    assert(par.count() == 40)

    // and the loop consumes the same plan end-to-end via `partitions`
    val secrets = Seq(
      engineSecret("dbp.example.com", "derby", db, extra = ""","partitions":"4"""")
        .replace(s""""jdbc_url":"jdbc:derby:$db"""", s""""path":"$db","jdbc_url":"jdbc:derby:$db""""))
    val work = s"$base/work"
    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L).head()
    assert(manifest.getAs[Long]("n_new") == 40)
    assert(manifest.getAs[Long]("new_watermark") == 140)
    assert(spark.read.parquet(s"$work/bodies")
      .filter(!col("metric_name").isin("up", "scrape_samples_scraped"))
      .agg(sum("n_series")).head().getLong(0) == 40)
    // self-observability: one healthy up=1 series and the row count
    val self = spark.read.parquet(s"$work/bodies")
      .filter(col("metric_name").isin("up", "scrape_samples_scraped"))
    assert(self.count() == 2)
  }

  // ------------------------------------------------------ SQL dialects

  test("dialect rendering: MySQL spells CONCAT, ANSI spells ||, dispatch follows the connection") {
    import CollectorLoop._
    // exact pinned strings for the flagship scraper in both dialects
    val gs = scraperDefs("mysql").head
    assert(renderScraper(gs, AnsiDialect) ==
      "SELECT 'mysql_global_status_' || LOWER(variable_name) AS name, " +
        "variable_value AS val, captured_sec AS ts_sec FROM global_status")
    assert(renderScraper(gs, MySqlDialect) ==
      "SELECT CONCAT('mysql_global_status_', LOWER(variable_name)) AS name, " +
        "variable_value AS val, captured_sec AS ts_sec FROM global_status")
    // dialect comes from the CONNECTION's subprotocol, never the engine:
    // a mysql-enrolled source backed by embedded Derby speaks ANSI, a
    // real jdbc:mysql connection gets CONCAT
    assert(SqlDialect.forUrl("jdbc:mysql://db1.example.com:3306/prod") == MySqlDialect)
    assert(SqlDialect.forUrl("jdbc:derby:/tmp/sandbox") == AnsiDialect)
    assert(SqlDialect.forUrl("jdbc:postgresql://db2.example.com:5432/appdb") == AnsiDialect)
    assert(SqlDialect.forUrl(null) == AnsiDialect)
    assert(scrapersFor("mysql", "jdbc:mysql://h:3306/d").forall(_._2.startsWith("SELECT CONCAT(")))
    assert(scrapersFor("mysql", "jdbc:derby:/tmp/x").forall(_._2.contains(" || ")))
    // every prefixed scraper of every engine renders to the exact
    // per-dialect shape — the defs are the single source of truth
    for ((_, defs) <- scraperDefs; sd <- defs if sd.prefix.nonEmpty) {
      assert(renderScraper(sd, MySqlDialect) ==
        s"SELECT CONCAT('${sd.prefix}', LOWER(${sd.nameCol})) AS name, " +
          s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}")
      assert(renderScraper(sd, AnsiDialect) ==
        s"SELECT '${sd.prefix}' || LOWER(${sd.nameCol}) AS name, " +
          s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}")
    }
  }

  // -------------------------------------------------- one-shot (Lambda)

  test("runOnce: one-shot artifacts equal one loop tick; a second invocation is incremental") {
    val base = tempBase("graft_loop_once")
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 100), ('threads', 7.0, 100)"))
    val secrets = Seq(secret("one.example.com", db))

    // arm A: one stream tick into workA; arm B: one runOnce into workB
    val workA = s"$base/workA"; val workB = s"$base/workB"
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ticks = MemoryStream[Long]
    val q = CollectorLoop.stream(ticks.toDS(), () => secrets, workA)
      .option("checkpointLocation", s"$base/ckpt").start()
    try { ticks.addData(1L); q.processAllAvailable() } finally q.stop()
    val once1 = CollectorLoop.runOnce(spark, secrets, workB).collect()
    assert(once1.length == 1 && once1.head.getAs[Long]("n_new") == 2)

    def manifestKey(dir: String) = spark.read.parquet(s"$dir/manifest")
      .selectExpr("CAST(round AS BIGINT) AS round", "source_id", "engine",
        "status", "old_watermark", "new_watermark", "n_new")
      .collect().map(_.toString).sorted.toSeq
    assert(manifestKey(workA) == manifestKey(workB),
      "one runOnce publishes the same manifest as one stream tick")
    def bodyKey(dir: String) = spark.read.parquet(s"$dir/bodies")
      .selectExpr("CAST(round AS BIGINT)", "source_id", "metric_name", "n_series",
        "md5(CAST(body_snappy AS STRING))")
      .collect().map(_.toString).sorted.toSeq
    assert(bodyKey(workA) == bodyKey(workB),
      "one runOnce pushes byte-identical bodies to one stream tick")

    // the source grows; runOnce again on workB → round 2, incremental
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c.createStatement()
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 2.0, 220)")
      st.close()
    } finally c.close()
    val once2 = CollectorLoop.runOnce(spark, secrets, workB).head()
    assert(once2.getAs[String]("status") == "kept")
    assert(once2.getAs[Long]("old_watermark") == 100,
      "second invocation resumes from the stored watermark")
    assert(once2.getAs[Long]("n_new") == 1, "only the post-round-1 row ships")
    assert(once2.getAs[Long]("new_watermark") == 220)
    val rounds = spark.read.parquet(s"$workB/manifest")
      .selectExpr("CAST(round AS BIGINT) AS r").collect().map(_.getLong(0)).sorted.toSeq
    assert(rounds == Seq(1L, 2L), "runOnce numbers rounds from the stored manifest")

    // third invocation with nothing new: watermark holds, zero rows
    val once3 = CollectorLoop.runOnce(spark, secrets, workB).head()
    assert(once3.getAs[Long]("n_new") == 0 && once3.getAs[Long]("new_watermark") == 220)
  }

  // ------------------------------------------------------- round shape

  private def metricsDb(path: String, rows: Seq[(String, Double, Long)]): Unit =
    mkDb(path, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)") ++
      rows.map { case (n, v, t) => s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('$n', $v, $t)" })

  private def insert(path: String, rows: Seq[(String, Double, Long)]): Unit = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$path", "u", "p")
    try {
      val st = c.createStatement()
      rows.foreach { case (n, v, t) =>
        st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('$n', $v, $t)")
      }
      st.close()
    } finally c.close()
  }

  /** One SQL execution: the JDBC relations it reads and the file paths
    * it reads or writes. */
  private final case class Execution(jdbc: Seq[String], paths: Seq[String])

  /** The SQL executions `body` runs. */
  private def executions(body: => Unit): Seq[Execution] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InsertIntoHadoopFsRelationCommand, LogicalRelation}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Execution]()
    def of(qe: org.apache.spark.sql.execution.QueryExecution): Execution = Execution(
      qe.analyzed.collect {
        case l: LogicalRelation if l.relation.getClass.getSimpleName == "JDBCRelation" =>
          l.relation.toString
      },
      qe.analyzed.collect {
        case w: InsertIntoHadoopFsRelationCommand => Seq(w.outputPath.toString)
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(of(qe))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = seen.add(of(qe))
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def spoolDirs(work: String): Seq[String] =
    Option(new java.io.File(work).list()).toSeq.flatten.filter(_.startsWith(".spool_round_"))

  test("round shape: a steady round runs a pinned number of SQL executions and queries each source once") {
    val base = tempBase("graft_loop_shape")
    val (db1, db2) = (s"$base/src1", s"$base/src2")
    metricsDb(db1, Seq(("m_up", 1.0, 100), ("threads", 7.0, 100)))
    metricsDb(db2, Seq(("m_up", 1.0, 100)))
    val secrets = Seq(secret("s1.example.com", db1), secret("s2.example.com", db2))
    val work = s"$base/work"
    CollectorLoop.runOnce(spark, secrets, work)
    insert(db1, Seq(("m_up", 1.0, 200), ("threads", 8.0, 200)))
    insert(db2, Seq(("m_up", 0.0, 200)))

    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val steady = executions {
      val m = CollectorLoop.runOnce(spark, secrets, work).collect()
      assert(m.map(_.getAs[Long]("n_new")).sum == 3 && m.forall(_.getAs[String]("status") == "kept"))
    }
    // enumerate, scrape cut, stats, bodies write, the returned
    // manifest's collect: the registry, watermarks and manifest are read
    // and written on the driver, by no execution
    assert(steady.size == 5, s"SQL executions of a steady round: ${steady.size}")
    val reads = steady.flatMap(_.jdbc)
    assert(reads.size == 2, s"one JDBC relation per source: $reads")
    reads.distinct.foreach { r =>
      assert(steady.count(_.jdbc.contains(r)) == 1, s"$r read by more than one execution")
    }
    val paths = steady.flatMap(_.paths)
    assert(paths.exists(_.contains("/bodies/")), s"the bodies write is an execution: $paths")
    val statePaths = paths.filter(p =>
      p.split('/').exists(Set("registry", "watermarks", "manifest")))
    assert(statePaths.isEmpty, s"executions touching round state: $statePaths")
    assert(spoolDirs(work).isEmpty, "no spool dir after a round")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the round's scrape cut is unpersisted")

    // a round that crashes after publish frees its cut just the same
    insert(db1, Seq(("m_up", 1.0, 300)))
    intercept[RuntimeException] {
      CollectorLoop.runRound(spark, secrets, work, 3L, failpoint = "before-advance")
    }
    assert(spoolDirs(work).isEmpty, "no spool dir after a crashed round")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the crashed round's scrape cut is unpersisted")
  }

  test("runOnce numbers the next round from the manifest's round=N dirs, skipping dot-dirs") {
    val base = tempBase("graft_loop_probe")
    val db = s"$base/src"
    metricsDb(db, Seq(("m_up", 1.0, 100)))
    val secrets = Seq(secret("p.example.com", db))
    val work = s"$base/work"
    CollectorLoop.runRound(spark, secrets, work, 1L)
    CollectorLoop.runRound(spark, secrets, work, 3L)
    // a crashed round's leftover staging dir is not a round
    val staging = java.nio.file.Paths.get(s"$work/manifest/.staging_round_5")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(CollectorLoop.runOnce(spark, secrets, work).head().getAs[Long]("round") == 4)

    // an existing but empty manifest dir starts at round 1
    val fresh = s"$base/fresh"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$fresh/manifest"))
    assert(CollectorLoop.runOnce(spark, secrets, fresh).head().getAs[Long]("round") == 1)
  }

  test("registry snapshot: a steady round leaves it untouched, a churn round rewrites it") {
    val base = tempBase("graft_loop_reg")
    val (dbA, dbB) = (s"$base/a", s"$base/b")
    metricsDb(dbA, Seq(("m_up", 1.0, 100)))
    metricsDb(dbB, Seq(("m_up", 1.0, 100)))
    val a = secret("a.example.com", dbA)
    val work = s"$base/work"
    def registryFiles(): Set[(String, Long, Long)] =
      new java.io.File(s"$work/registry").listFiles().map(f =>
        (f.getName, f.length(), f.lastModified())).toSet
    def statuses(m: org.apache.spark.sql.DataFrame): Map[String, String] =
      m.collect().map(r => r.getAs[String]("source_id") -> r.getAs[String]("status")).toMap

    assert(statuses(CollectorLoop.runOnce(spark, Seq(a), work)) == Map("a.example.com:1527" -> "added"))
    val written = registryFiles()
    assert(statuses(CollectorLoop.runOnce(spark, Seq(a), work)) == Map("a.example.com:1527" -> "kept"))
    assert(registryFiles() == written, "a steady round does not rewrite the registry")
    assert(statuses(CollectorLoop.runOnce(spark, Seq(a), work)) == Map("a.example.com:1527" -> "kept"))

    // restart: a brand-new stream query over the same workDir
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ticks = MemoryStream[Long]
    val q = CollectorLoop.stream(ticks.toDS(), () => Seq(a), work)
      .option("checkpointLocation", s"$base/ckpt").start()
    try { ticks.addData(4L); q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(s"$work/manifest").filter(col("round") === 4)
      .select("status").collect().map(_.getString(0)).toSeq == Seq("kept"))
    assert(registryFiles() == written)

    // churn: b enrolls, so the registry is rewritten with both sources
    val b = secret("b.example.com", dbB)
    assert(statuses(CollectorLoop.runOnce(spark, Seq(a, b), work)) ==
      Map("a.example.com:1527" -> "kept", "b.example.com:1527" -> "added"))
    assert(registryFiles() != written, "a churn round rewrites the registry")
    assert(spark.read.parquet(s"$work/registry").select("source_id").collect()
      .map(_.getString(0)).toSet == Set("a.example.com:1527", "b.example.com:1527"))
    assert(statuses(CollectorLoop.runOnce(spark, Seq(a, b), work)).values.toSet == Set("kept"))
  }

  test("publish audit: a staged row count that differs from the expected count fails the round") {
    val base = tempBase("graft_loop_audit")
    val table = s"$base/t"
    val e = intercept[RuntimeException] {
      CollectorLoop.publishRound(spark, table, 1L, spark.range(0, 5, 1, 3).toDF("x"), 4L)
    }
    assert(e.getMessage.contains("staged 5 != expected 4"), e.getMessage)
    assert(!new java.io.File(s"$table/round=1").exists(), "a failed audit publishes nothing")
    CollectorLoop.publishRound(spark, table, 1L, spark.range(0, 5, 1, 3).toDF("x"), 5L)
    CollectorLoop.publishRound(spark, table, 2L, spark.range(0).toDF("x"), 0L)
    assert(spark.read.parquet(table).count() == 5)
  }

  test("state reads: an FS error is not a fresh workDir, it fails the round") {
    val base = tempBase("graft_loop_fs")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flaky.impl", classOf[FailingFs].getName)
    conf.setBoolean("fs.flaky.impl.disable.cache", true)
    try {
      assert(!CollectorLoop.exists(spark, s"$base/missing"))
      assert(CollectorLoop.exists(spark, base))
      intercept[java.io.IOException](CollectorLoop.exists(spark, s"flaky://$base/registry"))
      // runOnce's round probe and runRound's state reads both fail,
      // instead of starting over at round 1 from Long.MinValue
      intercept[java.io.IOException](CollectorLoop.runOnce(spark, Nil, s"flaky://$base/work"))
      intercept[java.io.IOException](CollectorLoop.runRound(spark, Nil, s"flaky://$base/work", 2L))
    } finally {
      conf.unset("fs.flaky.impl")
      conf.unset("fs.flaky.impl.disable.cache")
    }
  }

  // ------------------------------------------------ driver-side state I/O

  /** Footer of the first data file under `dir`: parquet schema and the
    * Spark schema Spark's writer records. */
  private def footerOf(dir: String): (org.apache.parquet.schema.MessageType, String) = {
    val st = StateFiles.dataFiles(spark, new Path(dir)).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  test("state tables written on the driver read back like the ones Spark's writer made of the same rows") {
    val base = tempBase("graft_loop_schema")
    import spark.implicits._
    import org.apache.spark.sql.Row
    def rowsOf(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    def compare(table: String, schema: org.apache.spark.sql.types.StructType,
        sparkWritten: org.apache.spark.sql.DataFrame, rows: Seq[Row]): Unit = {
      val (bySpark, byDriver) = (s"$base/$table-spark", s"$base/$table-driver")
      sparkWritten.write.parquet(bySpark)
      StateFiles.write(spark,
        new Path(s"$byDriver/part-00000.snappy.parquet"), schema, rows, Map.empty)
      assert(spark.read.parquet(byDriver).schema == spark.read.parquet(bySpark).schema, table)
      assert(rowsOf(byDriver) == rowsOf(bySpark), table)
      assert(footerOf(byDriver) == footerOf(bySpark), s"$table: parquet and Spark schema in the footer")
      val back = StateFiles.dataFiles(spark, new Path(byDriver))
        .flatMap(st => StateFiles.read(spark, st, schema)._1)
      assert(back == rows, s"$table: driver-side read of the driver-written file")
    }
    // the same rows as Scala tuples through `toDF(...).write.parquet`
    val reg = Seq(("a.example.com:1527", "derby"), ("b.example.com:1527", null: String))
    compare("registry", CollectorLoop.RegistrySchema, reg.toDF("source_id", "engine"),
      reg.map { case (a, b) => Row(a, b) })
    val wm = Seq(("a.example.com:1527", "metrics", 220L), ("c.example.com:1527", "innodb_cmp", Long.MinValue))
    compare("watermarks", CollectorLoop.WatermarkSchema, wm.toDF("source_id", "scraper", "watermark"),
      wm.map { case (a, b, c) => Row(a, b, c) })
    val man = Seq(
      ("a.example.com:1527", "derby", "kept", 100L, 2L, 220L, 0),
      ("c.example.com:1527", "mysql", "removed", Long.MinValue, 0L, Long.MinValue, 6))
    compare("manifest", CollectorLoop.ManifestSchema, man.toDF("source_id", "engine", "status",
      "old_watermark", "n_new", "new_watermark", "n_failed_scrapers"),
      man.map(t => Row.fromTuple(t)))
  }

  test("a workDir whose snapshots Spark's writer made resumes at the right round and watermark") {
    val base = tempBase("graft_loop_legacy")
    val (db1, db2) = (s"$base/src1", s"$base/src2")
    metricsDb(db1, Seq(("m_up", 1.0, 100)))
    metricsDb(db2, Seq(("m_up", 1.0, 100), ("lat", 3.0, 110)))
    val secrets = Seq(secret("l1.example.com", db1), secret("l2.example.com", db2))
    val work = s"$base/work"
    CollectorLoop.runRound(spark, secrets, work, 1L)
    insert(db1, Seq(("m_up", 1.0, 150)))
    CollectorLoop.runRound(spark, secrets, work, 2L)

    // rewrite both snapshots the way Spark's writer left them: part
    // files (one per local partition) with no committed round
    import spark.implicits._
    val reg = spark.read.parquet(s"$work/registry").as[(String, String)].collect().toSeq
    val wm = spark.read.parquet(s"$work/watermarks").as[(String, String, Long)].collect().toSeq
    reg.toDF("source_id", "engine").write.mode("overwrite").parquet(s"$work/registry")
    wm.toDF("source_id", "scraper", "watermark").write.mode("overwrite").parquet(s"$work/watermarks")
    val wmDir = new Path(s"$work/watermarks")
    assert(StateFiles.dataFiles(spark, wmDir).size > 1)
    assert(StateFiles.readSnapshot(spark, wmDir, CollectorLoop.WatermarkSchema)
      .exists(_.round.isEmpty), "no committed round in a Spark-written snapshot")

    insert(db1, Seq(("m_up", 1.0, 300)))
    val m3 = CollectorLoop.runOnce(spark, secrets, work).collect()
      .map(r => r.getAs[String]("source_id") -> r).toMap
    assert(m3.values.map(_.getAs[Long]("round")).toSet == Set(3L), "round from the manifest listing")
    val s1 = m3("l1.example.com:1527")
    assert(s1.getAs[String]("status") == "kept")
    assert(s1.getAs[Long]("old_watermark") == 150 && s1.getAs[Long]("n_new") == 1 &&
      s1.getAs[Long]("new_watermark") == 300)
    val s2 = m3("l2.example.com:1527")
    assert(s2.getAs[String]("status") == "kept" && s2.getAs[Long]("n_new") == 0 &&
      s2.getAs[Long]("new_watermark") == 110)

    // the round replaced the Spark-written files by one committing round 3
    assert(StateFiles.dataFiles(spark, wmDir).size == 1)
    assert(StateFiles.readSnapshot(spark, wmDir, CollectorLoop.WatermarkSchema)
      .flatMap(_.round).contains(3L))
    assert(CollectorLoop.runOnce(spark, secrets, work).head().getAs[Long]("round") == 4)
  }

  /** Total series per scraped metric name over every published body. */
  private def shipped(work: String): Map[String, Long] =
    spark.read.parquet(s"$work/bodies")
      .filter(!col("metric_name").isin("up", "scrape_samples_scraped"))
      .groupBy("metric_name").agg(sum("n_series")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("runOnce after a crash between publish and advance replays that round: each sample ships once") {
    val base = tempBase("graft_loop_replay")
    val db = s"$base/src"
    metricsDb(db, Seq(("m_up", 1.0, 100), ("lat", 2.0, 100)))
    val secrets = Seq(secret("r.example.com", db))
    val work = s"$base/work"
    intercept[RuntimeException] {
      CollectorLoop.runRound(spark, secrets, work, 1L, failpoint = "before-advance")
    }
    val m1 = CollectorLoop.runOnce(spark, secrets, work).head()
    assert(m1.getAs[Long]("round") == 1, "the uncommitted round 1 runs again")
    assert(m1.getAs[Long]("n_new") == 2)
    val m2 = CollectorLoop.runOnce(spark, secrets, work).head()
    assert(m2.getAs[Long]("round") == 2 && m2.getAs[Long]("n_new") == 0)
    assert(shipped(work) == Map("lat" -> 1L, "m_up" -> 1L), "each sample ships exactly once")
    assert(spark.read.parquet(s"$work/bodies").filter(col("metric_name").isin("lat", "m_up"))
      .select("round").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("snapshot replacement is crash-safe: a failed write keeps the old snapshot, a failed delete the new one") {
    val base = tempBase("graft_loop_crash")
    val db = s"$base/src"
    metricsDb(db, Seq(("m_up", 1.0, 100), ("lat", 2.0, 100)))
    val secrets = Seq(secret("c.example.com", db))
    val work = s"crashy://$base/work"
    val wmDir = new Path(s"$base/work/watermarks")
    def snapshot() =
      StateFiles.readSnapshot(spark, wmDir, CollectorLoop.WatermarkSchema).get
    def round(): org.apache.spark.sql.Row = CollectorLoop.runOnce(spark, secrets, work).head()
    def inWatermarks(p: Path) = p.getParent.getName == "watermarks"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashy.impl", classOf[CrashingFs].getName)
    conf.setBoolean("fs.crashy.impl.disable.cache", true)
    try {
      assert(round().getAs[Long]("n_new") == 2)

      // the new snapshot file cannot be created, then cannot be renamed
      // into place: the round fails and the old snapshot is still read
      for ((op, ts) <- Seq("create" -> 200L, "rename" -> 300L)) {
        insert(db, Seq(("m_up", 1.0, ts), ("lat", 2.0, ts)))
        CrashingFs.failOn = (o, p) => o == op && inWatermarks(p)
        intercept[java.io.IOException](round())
        CrashingFs.failOn = CrashingFs.never
        val committed = snapshot()
        assert(committed.rows.map(_.getLong(2)).toSet == Set(ts - 100), op)
        val replay = round()
        assert(replay.getAs[Long]("round") == committed.round.get + 1, s"$op: the round runs again")
        assert(replay.getAs[Long]("old_watermark") == ts - 100 && replay.getAs[Long]("n_new") == 2, op)
      }

      // the old file cannot be deleted: the round commits, both files
      // stay, and the reader takes the new one
      insert(db, Seq(("lat", 2.0, 400L)))
      CrashingFs.failOn = (o, p) => o == "delete" && inWatermarks(p)
      val r4 = round()
      CrashingFs.failOn = CrashingFs.never
      assert(r4.getAs[Long]("round") == 4 && r4.getAs[Long]("n_new") == 1)
      assert(StateFiles.dataFiles(spark, wmDir).size == 2)
      assert(snapshot().round.contains(4L))
      val r5 = round()
      assert(r5.getAs[Long]("round") == 5 && r5.getAs[Long]("old_watermark") == 400 &&
        r5.getAs[Long]("n_new") == 0)
      assert(StateFiles.dataFiles(spark, wmDir).size == 1,
        "the next replacement removes the leftover")
    } finally {
      CrashingFs.failOn = CrashingFs.never
      conf.unset("fs.crashy.impl")
      conf.unset("fs.crashy.impl.disable.cache")
    }
    assert(shipped(s"$base/work") == Map("m_up" -> 3L, "lat" -> 4L), "each sample ships exactly once")
  }
}

/** A file system whose every metadata call fails with an IO error. */
class FailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def exists(p: org.apache.hadoop.fs.Path) =
    throw new java.io.IOException(s"injected: $p")
  override def getFileStatus(p: org.apache.hadoop.fs.Path) =
    throw new java.io.IOException(s"injected: $p")
  override def listStatus(p: org.apache.hadoop.fs.Path) =
    throw new java.io.IOException(s"injected: $p")
}

/** A local file system that fails the create, rename or delete call
  * [[CrashingFs.failOn]] picks with an IO error, as a crash there would. */
class CrashingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashy:///")
  private def check(op: String, p: Path): Unit =
    if (CrashingFs.failOn(op, p)) throw new java.io.IOException(s"injected $op failure: $p")
  // every create() opens its file through one of these two
  override protected def createOutputStream(f: Path, append: Boolean) = {
    check("create", f)
    super.createOutputStream(f, append)
  }
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission) = {
    check("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { check("rename", dst); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { check("delete", p); super.delete(p, recursive) }
}

object CrashingFs {
  val never: (String, Path) => Boolean = (_, _) => false
  @volatile var failOn: (String, Path) => Boolean = never
}
