package graft.sources

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The SQL surface: topics as catalog tables (`polar.<topic>`). */
class PolarCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("polar_catalog").toString
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.catalog.polar", classOf[PolarCatalog].getName)
      .config("spark.sql.catalog.polar.root", root)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("CALL polar.system.* — the SQL maintenance surface") {
    import graft.log.{PolarLog, TopicConfig}
    import org.apache.spark.sql.functions._
    val cfg = TopicConfig(root, "maint", 3, 4)
    def recs(lo: Int, hi: Int) =
      graft.Tables.events(spark, "/root/testdata/sf0.001")
        .filter(col("event_id") >= lo && col("event_id") < hi)
        .select(col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
    PolarLog.produce(recs(0, 200), cfg)
    PolarLog.produce(recs(200, 400), cfg)
    PolarLog.produce(recs(400, 600), cfg)

    // history: one row per retained commit, records cumulative
    val hist = spark.sql("CALL polar.system.history(topic => 'maint')").collect()
    assert(hist.length === 3)
    assert(hist.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(hist.last.getLong(3) === 600L)

    // compact: small segments merge; the log stays byte-identical
    val before = PolarLog.consume(spark, cfg).count()
    val merged = spark.sql("CALL polar.system.compact(topic => 'maint')")
      .head().getInt(0)
    assert(merged > 0)
    assert(PolarLog.consume(spark, cfg).count() === before)

    // vacuum: plant an unregistered orphan; dry-run counts it without
    // touching it, the real pass reclaims it
    val orphan = java.nio.file.Paths.get(root, "maint", "part=0",
      "orphan-abandoned.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val dry = spark.sql(
      "CALL polar.system.vacuum(topic => 'maint', dry_run => true, data_grace_ms => 0)")
      .head().getInt(0)
    assert(java.nio.file.Files.exists(orphan))
    val wet = spark.sql(
      "CALL polar.system.vacuum(topic => 'maint', data_grace_ms => 0)")
      .head().getInt(0)
    assert(dry === wet && wet > 0)
    assert(!java.nio.file.Files.exists(orphan))
    assert(PolarLog.consume(spark, cfg).count() === before)

    // reset_offsets: registered group snaps to earliest then shifts
    graft.log.ConsumerGroups.commit(cfg, "etl",
      PolarLog.tails(cfg)) // register by committing, parked at tail
    val toEarliest = spark.sql(
      "CALL polar.system.reset_offsets(group_id => 'etl', topic => 'maint', mode => 'earliest')")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(toEarliest.values.forall(_ === 0L))
    val shifted = spark.sql(
      "CALL polar.system.reset_offsets(group_id => 'etl', topic => 'maint', mode => 'shift-by', value => '3')")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(shifted.values.forall(o => o >= 0L && o <= 3L))

    // clean_retention with a huge window removes nothing
    assert(spark.sql(
      "CALL polar.system.clean_retention(topic => 'maint', retention_ms => 864000000)")
      .head().getInt(0) === 0)

    // unknown procedure is loud
    val err = intercept[Exception] {
      spark.sql("CALL polar.system.nope(topic => 'maint')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("nope"))

    // txns: the SQL face of the transaction inventory — an open producer
    // transaction lists with state/epoch/age, and disappears once resolved
    val h = graft.log.Transactions.begin(root, "sql-txn")
    try {
      val rows = spark.sql("CALL polar.system.txns()").collect()
      val mine = rows.filter(r =>
        r.getString(0) == "producer" && r.getString(1) == "sql-txn")
      assert(mine.length === 1, rows.mkString(","))
      assert(mine.head.getString(2) === "open")
      assert(mine.head.getLong(3) === h.epoch)
      assert(mine.head.getLong(4) >= 0L)
    } finally graft.log.Transactions.abort(h)
    assert(!spark.sql("CALL polar.system.txns()").collect()
      .exists(_.getString(1) == "sql-txn"))
  }

  test("CALL polar.system.begin_txn/send_offsets/commit_txn/abort_txn — the SQL EOS loop") {
    import graft.log.{ConsumerGroups, PolarLog, TopicConfig, Transactions}
    import org.apache.spark.sql.functions._
    val src = TopicConfig(root, "sqleos_src", 3, 4)
    val dst = TopicConfig(root, "sqleos_dst", 3, 4)
    def recs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value"))
    def dstRc() = PolarLog.consume(spark, dst, isolation = "read_committed").count()
    PolarLog.produce(recs, src)
    val poll = ConsumerGroups.poll(spark, src, "sql_etl", ConsumerGroups.Earliest)
    val n = poll.records.count()
    assert(n > 0)
    // begin → epoch; the handle the DSv2 write options need
    val epoch = spark.sql("CALL polar.system.begin_txn(id => 'sql-eos')")
      .head().getLong(0)
    PolarLog.produce(
      poll.records.select(col("partitionKey"), col("timestamp"), col("value")),
      dst, producerTxn = Some(Transactions.TxnHandle(root, "sql-eos", epoch)))
    val offsJson = poll.nextOffsets.toSeq.sorted
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
    spark.sql(s"CALL polar.system.send_offsets(id => 'sql-eos', " +
      s"epoch => ${epoch}L, topic => 'sqleos_src', group_id => 'sql_etl', " +
      s"offsets => '$offsJson')")
    assert(dstRc() === 0L, "nothing visible before the commit point")
    assert(spark.sql(
      s"CALL polar.system.commit_txn(id => 'sql-eos', epoch => ${epoch}L)")
      .head().getBoolean(0))
    assert(dstRc() === n)
    assert(ConsumerGroups.committed(src, "sql_etl") === Some(poll.nextOffsets))
    // abort leg: the relay rolls back, the position stands
    val e2 = spark.sql(
      "CALL polar.system.begin_txn(id => 'sql-eos', timeout_ms => 30000L)")
      .head().getLong(0)
    assert(e2 > epoch, "epochs stay monotone across finalize cycles")
    PolarLog.produce(recs, dst,
      producerTxn = Some(Transactions.TxnHandle(root, "sql-eos", e2)))
    assert(spark.sql(
      s"CALL polar.system.abort_txn(id => 'sql-eos', epoch => ${e2}L)")
      .head().getBoolean(0))
    assert(dstRc() === n)
    assert(ConsumerGroups.committed(src, "sql_etl") === Some(poll.nextOffsets))
    // send_offsets with no offsets argument stages the committed position
    val e3 = spark.sql("CALL polar.system.begin_txn(id => 'sql-eos')")
      .head().getLong(0)
    spark.sql(s"CALL polar.system.send_offsets(id => 'sql-eos', " +
      s"epoch => ${e3}L, topic => 'sqleos_src', group_id => 'sql_etl')")
    spark.sql(s"CALL polar.system.commit_txn(id => 'sql-eos', epoch => ${e3}L)")
    assert(ConsumerGroups.committed(src, "sql_etl") === Some(poll.nextOffsets))
  }

  test("CALL polar.system.acquire_lease/lease/release_lease — the SQL writer-lease face") {
    import graft.log.{PolarLog, TopicConfig}
    import org.apache.spark.sql.functions._
    val acquired = spark.sql(
      "CALL polar.system.acquire_lease(holder => 'sql-driver', ttl_ms => 600000L)")
      .head()
    val epoch = acquired.getLong(0)
    assert(acquired.getLong(1) > System.currentTimeMillis(), "deadline in the future")
    val info = spark.sql("CALL polar.system.lease()").head()
    assert(info.getString(0) === "sql-driver")
    assert(info.getLong(1) === epoch)
    assert(info.getBoolean(3), "live")
    assert(info.getBoolean(4), "held by this driver")
    // writes under the lease stamp the doc (the enforcement signal)
    val t = TopicConfig(root, "sql_lease_t", 3, 4)
    PolarLog.produce(graft.Tables.events(spark, "/root/testdata/sf0.001")
      .limit(20)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value")), t)
    assert(graft.log.LogMetadata.read(t).writerEpoch === epoch)
    // a second holder cannot seize it from SQL without takeover (409-shaped)
    val e = intercept[Exception] {
      spark.sql("CALL polar.system.acquire_lease(holder => 'other-driver')").head()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("write-leased")), msgs(e).mkString(" | "))
    assert(spark.sql("CALL polar.system.release_lease()").head().getBoolean(0))
    assert(!spark.sql("CALL polar.system.lease()").head().getBoolean(3),
      "released lease reads not-live")
  }

  test("CALL polar.system.analyze backfills legacy ts stats, unlocking the ts top-N push") {
    import graft.log.{LogMetadata, PolarLog, TopicConfig}
    import org.apache.spark.sql.functions._
    val cfg = TopicConfig(root, "legacy", 3, 4)
    PolarLog.produce(graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value")), cfg)
    val fresh = LogMetadata.read(cfg)
    val freshStats = fresh.files.map(f =>
      (f.part, f.name) -> (f.tsMin, f.tsMax, f.tsNulls)).toMap
    assert(freshStats.values.forall(_._3 === 0L))
    // simulate a pre-stats manifest: strip every entry to the legacy shape
    LogMetadata.compareAndSet(cfg, fresh)(cur => cur.copy(
      filesByPart = cur.filesByPart.map { case (p, fs) =>
        p -> fs.map(_.copy(tsMin = Long.MinValue, tsMax = Long.MaxValue,
          tsNulls = -1L))
      }))
    def topnPlan = spark.read.format("polar")
      .option("root", root).option("topic", "legacy").load()
      .orderBy(col("timestamp").desc, col("part"), col("offset")).limit(5)
      .queryExecution.executedPlan.toString
    // a legacy log cannot prove null-freedom → the ts push is refused
    assert(!topnPlan.contains("topn="), topnPlan)

    val updated = spark.sql("CALL polar.system.analyze(topic => 'legacy')")
      .head().getInt(0)
    assert(updated === fresh.files.count(_.count > 0))
    // the backfilled stats are EXACTLY the write path's own
    val after = LogMetadata.read(cfg).files.map(f =>
      (f.part, f.name) -> (f.tsMin, f.tsMax, f.tsNulls)).toMap
    assert(after === freshStats)
    // and the order-based push is now offered
    assert(topnPlan.contains("topn=5 by timestamp desc"), topnPlan)
    // idempotent: nothing left to analyze
    assert(spark.sql("CALL polar.system.analyze(topic => 'legacy')")
      .head().getInt(0) === 0)
  }

  test("DELETE tombstones: ANDed key predicates intersect, empty set is a no-op") {
    spark.sql("CREATE TABLE polar.deltest")
    spark.sql("""
      INSERT INTO polar.deltest SELECT * FROM VALUES
        ('a', TIMESTAMP '2026-01-01 00:00:00', CAST('v1' AS BINARY)),
        ('b', TIMESTAMP '2026-01-01 00:00:01', CAST('v2' AS BINARY)),
        ('c', TIMESTAMP '2026-01-01 00:00:02', CAST('v3' AS BINARY))
        AS t(partitionKey, timestamp, value)""")
    def raw() = spark.sql("SELECT partitionKey, value FROM polar.deltest").collect()
    val before = raw().length
    // AND of EqualTo and In → intersection {'a'}: exactly one tombstone
    spark.sql("DELETE FROM polar.deltest " +
      "WHERE partitionKey = 'a' AND partitionKey IN ('a', 'b')")
    assert(raw().length === before + 1)
    assert(raw().count(r => r.getString(0) == "a" && r.isNullAt(1)) === 1)
    // contradictory keys → empty intersection: NOTHING appended
    spark.sql("DELETE FROM polar.deltest " +
      "WHERE partitionKey = 'a' AND partitionKey = 'b'")
    assert(raw().length === before + 1)
    // non-key predicate refused loudly
    val e = intercept[Exception](
      spark.sql("DELETE FROM polar.deltest WHERE offset > 0"))
    assert(e.getMessage.toLowerCase.contains("delete"), e.getMessage)
    spark.sql("DROP TABLE polar.deltest")
  }

  test("metadata tables: files / history / partitions as SQL relations") {
    import graft.log.{LogMetadata, TopicConfig}
    spark.sql("CREATE TABLE polar.metaview")
    spark.sql("""
      INSERT INTO polar.metaview SELECT * FROM VALUES
        ('k1', TIMESTAMP '2026-01-01 00:00:00', CAST('v1' AS BINARY)),
        ('k2', TIMESTAMP '2026-01-02 00:00:00', CAST('v2' AS BINARY)),
        ('k3', TIMESTAMP '2026-01-03 00:00:00', CAST('v3' AS BINARY))
        AS t(partitionKey, timestamp, value)""")
    val meta = LogMetadata.read(TopicConfig(root, "metaview"))

    val files = spark.sql(
      "SELECT part, records, min_offset, max_offset, ts_nulls " +
        "FROM polar.metaview.files").collect()
    assert(files.map(_.getLong(1)).sum === 3L)
    assert(files.length === meta.files.size)
    // write-path stats always land: null-free fixture proves it via SQL
    assert(files.forall(_.getLong(4) === 0L))

    val parts = spark.sql(
      "SELECT part, files, records, tail_offset FROM polar.metaview.partitions")
      .collect()
    assert(parts.length === meta.numPartitions)
    assert(parts.map(_.getLong(2)).sum === 3L)
    assert(parts.map(r => r.getInt(0) -> r.getLong(3)).toMap ===
      meta.producerOffsets.zipWithIndex.map(_.swap).toMap)

    val hist = spark.sql(
      "SELECT version, records FROM polar.metaview.history ORDER BY version")
      .collect()
    assert(hist.nonEmpty && hist.last.getLong(0) === meta.version)
    assert(hist.last.getLong(1) === 3L)

    // a second commit refreshes the view (rows computed at scan build)
    spark.sql("""
      INSERT INTO polar.metaview SELECT * FROM VALUES
        ('k4', TIMESTAMP '2026-01-04 00:00:00', CAST('v4' AS BINARY))
        AS t(partitionKey, timestamp, value)""")
    assert(spark.sql("SELECT sum(records) FROM polar.metaview.partitions")
      .head().getLong(0) === 4L)
    // groups view: register a group (commit) → one row per partition with
    // committed/tail/lag; empty before any group exists
    assert(spark.sql("SELECT count(*) FROM polar.metaview.groups")
      .head().getLong(0) === 0L)
    graft.log.ConsumerGroups.commit(
      TopicConfig(root, "metaview"), "etl", Map(0 -> 1L))
    val g = spark.sql("SELECT group_id, sum(committed), sum(lag) " +
      "FROM polar.metaview.groups GROUP BY 1").collect()
    assert(g.length === 1 && g(0).getString(0) === "etl")
    val tails = graft.log.PolarLog.tails(TopicConfig(root, "metaview"))
    val expLag = tails.map { case (p, t) =>
      math.max(t - (if (p == 0) 1L else 0L), 0L) }.sum
    assert(g(0).getLong(1) === 1L && g(0).getLong(2) === expLag)
    // time travel: the files view AS OF the first commit shows 3 records,
    // not 4; history/groups refuse VERSION AS OF (they ARE ledgers)
    val v1 = spark.sql(
      "SELECT min(version) FROM polar.metaview.history WHERE records = 3")
      .head().getLong(0)
    assert(spark.sql(
      s"SELECT sum(records) FROM polar.metaview.files VERSION AS OF $v1")
      .head().getLong(0) === 3L)
    val tt = intercept[Exception](spark.sql(
      s"SELECT * FROM polar.metaview.history VERSION AS OF $v1").collect())
    assert(tt.getMessage.contains("ledger"), tt.getMessage)
    // a real topic named like a metadata table still resolves as a topic
    val e = intercept[Exception](spark.sql("SELECT * FROM polar.nosuch.files"))
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    spark.sql("DROP TABLE polar.metaview")
  }

  test("delete_records: a per-partition map with a quoted, nested or non-numeric entry refuses") {
    spark.sql("CREATE TABLE polar.delrec_bad")
    spark.sql("""INSERT INTO polar.delrec_bad SELECT * FROM VALUES
      ('k1', TIMESTAMP '2026-01-01 00:00:00', CAST('x' AS BINARY))
      AS t(partitionKey, timestamp, value)""")
    Seq("""{"0":"5"}""", """{"t":{"0":5}}""", """{"x":5}""", """{"0":5.5}""",
      """{"0":5} extra""").foreach { cuts =>
      intercept[Exception] {
        spark.sql("CALL polar.system.delete_records(topic => 'delrec_bad', " +
          s"before_offset => '$cuts')").collect()
      }
    }
    assert(spark.sql("SELECT count(*) FROM polar.delrec_bad").head().getLong(0) === 1L)
    spark.sql("DROP TABLE polar.delrec_bad")
  }

  test("delete_records: offset-addressed trim, clamped sentinels, survivors exact") {
    import graft.log.{LogMetadata, PolarLog, TopicConfig}
    spark.sql("CREATE TABLE polar.delrec")
    def insert(tag: String): Unit = spark.sql(s"""
      INSERT INTO polar.delrec SELECT * FROM VALUES
        ('k1', TIMESTAMP '2026-01-01 00:00:00', CAST('$tag-1' AS BINARY)),
        ('k2', TIMESTAMP '2026-01-01 00:00:01', CAST('$tag-2' AS BINARY))
        AS t(partitionKey, timestamp, value)""")
    insert("a"); insert("b"); insert("c")   // 3 segments per touched partition
    val cfg = TopicConfig(root, "delrec")
    val meta = LogMetadata.read(cfg)
    // trim each partition below its SECOND segment's start: exactly the
    // first segment of every 3-file partition drops
    val cuts = meta.filesByPart.collect {
      case (p, fs) if fs.length == 3 => p -> fs(1).minOffset
    }
    assert(cuts.nonEmpty)
    val deleted = PolarLog.deleteRecords(cfg, cuts.toMap)
    assert(deleted === cuts.size)
    val left = spark.sql(
      "SELECT CAST(value AS STRING) FROM polar.delrec").collect()
      .map(_.getString(0)).sorted
    assert(!left.exists(_.startsWith("a-")) &&
      left.count(_.startsWith("b-")) === 2 && left.count(_.startsWith("c-")) === 2)
    // the SQL procedure face: -1 = tail → everything goes, offsets survive
    val n = spark.sql(
      "CALL polar.system.delete_records(topic => 'delrec', before_offset => '-1')")
      .head().getInt(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM polar.delrec").head().getLong(0) === 0L)
    assert(LogMetadata.read(cfg).producerOffsets.sum === 6L)
    // past-the-tail cutoffs clamp (Kafka errors; trim-to-tail stays total)
    assert(PolarLog.deleteRecords(cfg, Map(0 -> Long.MaxValue)) === 0)
    spark.sql("DROP TABLE polar.delrec")
  }

  test("create / insert / select / drop round trip in pure SQL") {
    spark.sql("CREATE TABLE polar.clicks")
    assert(spark.sql("SHOW TABLES IN polar").collect().map(_.getString(1))
      .contains("clicks"))

    spark.sql("""
      INSERT INTO polar.clicks
      SELECT CAST(id AS STRING) AS partitionKey,
             timestamp_micros(id * 1000000) AS timestamp,
             CAST(concat('v', id) AS BINARY) AS value
      FROM range(50)""")

    val n = spark.sql("SELECT count(*) AS n FROM polar.clicks").head().getLong(0)
    assert(n === 50)

    // the envelope is fully readable: offsets dense per partition
    val bad = spark.sql("""
      SELECT part, count(*) AS n, max(offset) + 1 AS span
      FROM polar.clicks GROUP BY part
      HAVING count(*) != max(offset) + 1""").count()
    assert(bad === 0)

    // second insert appends with continuing offsets
    spark.sql("""
      INSERT INTO polar.clicks
      SELECT 'late' AS partitionKey, current_timestamp() AS timestamp,
             CAST('tail' AS BINARY) AS value""")
    assert(spark.table("polar.clicks").count() === 51)

    // filter pushdown reaches the scan through the SQL path too
    val one = spark.sql(
      "SELECT CAST(value AS STRING) v FROM polar.clicks WHERE partitionKey = '7'")
      .collect()
    assert(one.map(_.getString(0)).toSeq === Seq("v7"))

    assert(spark.sql("DROP TABLE polar.clicks").collect().isEmpty)
    assert(!spark.catalog.tableExists("polar.clicks"))
  }

  test("create is explicit: selecting a missing topic fails, create twice fails") {
    // NoSuchTableException surfaces via Spark's file-source fallback probe —
    // either way the missing topic is an analysis error, never empty data
    val e = intercept[Exception](spark.table("polar.nope").count())
    assert(e.getMessage.nonEmpty)
    spark.sql("CREATE TABLE polar.once")
    val dup = intercept[Exception](spark.sql("CREATE TABLE polar.once"))
    assert(dup.getMessage.toLowerCase.contains("already exists"))
    spark.sql("DROP TABLE polar.once")
  }

  test("table properties override the ring geometry") {
    spark.sql("CREATE TABLE polar.wide TBLPROPERTIES ('clusterSize'='6')")
    spark.sql("""
      INSERT INTO polar.wide
      SELECT CAST(id AS STRING) AS partitionKey, current_timestamp() AS timestamp,
             CAST('x' AS BINARY) AS value FROM range(100)""")
    // 6 brokers x 4 ranges = 24 partitions; parts beyond 12 must be populated
    val maxPart = spark.sql("SELECT max(part) FROM polar.wide").head().getInt(0)
    assert(maxPart >= 12, s"expected 24-partition ring, max part was $maxPart")
    spark.sql("DROP TABLE polar.wide")
  }

  test("per-topic configs: TBLPROPERTIES persist, ALTER SET/UNSET, bad values refuse") {
    import graft.log.{LogMetadata, TopicConfig}
    spark.sql("CREATE TABLE polar.cfgd TBLPROPERTIES " +
      "('retention.ms'='3600000', 'cleanup.policy'='compact')")
    val cfg = TopicConfig(root, "cfgd")
    assert(LogMetadata.read(cfg).props ===
      Map("retention.ms" -> "3600000", "cleanup.policy" -> "compact"))
    // SHOW TBLPROPERTIES reads them back through the table
    val shown = spark.sql("SHOW TBLPROPERTIES polar.cfgd").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("retention.ms").contains("3600000"))
    assert(shown.get("cleanup.policy").contains("compact"))
    // ALTER SET updates via one CAS; UNSET removes
    spark.sql("ALTER TABLE polar.cfgd SET TBLPROPERTIES ('retention.ms'='60000')")
    assert(LogMetadata.read(cfg).props("retention.ms") === "60000")
    spark.sql("ALTER TABLE polar.cfgd UNSET TBLPROPERTIES ('cleanup.policy')")
    assert(LogMetadata.read(cfg).props === Map("retention.ms" -> "60000"))
    // props survive an unrelated produce commit (CAS preserves the field)
    spark.sql("""
      INSERT INTO polar.cfgd
      SELECT 'k' AS partitionKey, current_timestamp() AS timestamp,
             CAST('v' AS BINARY) AS value""")
    assert(LogMetadata.read(cfg).props === Map("retention.ms" -> "60000"))
    // malformed values and unknown keys refuse
    intercept[Exception](spark.sql(
      "ALTER TABLE polar.cfgd SET TBLPROPERTIES ('retention.ms'='-5')"))
    intercept[Exception](spark.sql(
      "ALTER TABLE polar.cfgd SET TBLPROPERTIES ('cleanup.policy'='banana')"))
    intercept[Exception](spark.sql(
      "ALTER TABLE polar.cfgd SET TBLPROPERTIES ('clusterSize'='6')"))
    spark.sql("DROP TABLE polar.cfgd")
  }

  test("merge procedure: clause flags gate update/delete/insert independently") {
    import graft.log.{PolarLog, TopicConfig}
    val spark2 = spark; import spark2.implicits._
    def view(name: String, rows: Seq[(String, String)]): Unit =
      rows.toDF("partitionKey", "v")
        .selectExpr("partitionKey", "current_timestamp() AS timestamp",
          "CAST(v AS BINARY) AS value")
        .createOrReplaceTempView(name)
    def compacted(topic: String): Map[String, String] = {
      PolarLog.consumeCompacted(spark, TopicConfig(root, topic))
        .selectExpr("partitionKey", "CAST(value AS STRING)")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    spark.sql("CREATE TABLE polar.mrgflags")
    view("mrg_base", Seq("a" -> "1", "b" -> "2", "c" -> "3"))
    spark.sql("INSERT INTO polar.mrgflags SELECT * FROM mrg_base")
    // deletes need a NULL value row
    Seq(("a", Some("a2")), ("b", None), ("d", Some("d1")))
      .toDF("partitionKey", "v")
      .selectExpr("partitionKey", "current_timestamp() AS timestamp",
        "CAST(v AS BINARY) AS value")
      .createOrReplaceTempView("mrg_chg")
    // not_matched_insert off: 'd' must NOT appear; update+delete apply
    spark.sql("CALL polar.system.merge(topic => 'mrgflags', " +
      "source => 'mrg_chg', not_matched_insert => false)")
    assert(compacted("mrgflags") === Map("a" -> "a2", "c" -> "3"))
    // matched_update off, insert on: existing keys unchanged, new key lands
    spark.sql("CREATE TABLE polar.mrgflags2")
    spark.sql("INSERT INTO polar.mrgflags2 SELECT * FROM mrg_base")
    spark.sql("CALL polar.system.merge(topic => 'mrgflags2', " +
      "source => 'mrg_chg', matched_update => false, matched_delete => false)")
    assert(compacted("mrgflags2") ===
      Map("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "d1"))
    // resurrection: a tombstoned key is NOT matched — it re-enters as an
    // insert even when matched_update is off
    view("mrg_res", Seq("b" -> "b9"))
    spark.sql("CALL polar.system.merge(topic => 'mrgflags', " +
      "source => 'mrg_res', matched_update => false)")
    assert(compacted("mrgflags") === Map("a" -> "a2", "b" -> "b9", "c" -> "3"))
    // duplicate source keys refuse (SQL MERGE semantics: multiple source
    // rows per target key make the result ill-defined)
    view("mrg_dup", Seq("a" -> "x", "a" -> "y"))
    val dup = intercept[Exception] {
      spark.sql("CALL polar.system.merge(topic => 'mrgflags', source => 'mrg_dup')")
    }
    assert(dup.getMessage.contains("deduplicate"), dup.getMessage)
    // MERGE INTO with EXPLICIT ASSIGNMENTS refuses (engine-assigned
    // offset/token/part make the column-assignment contract unsound);
    // only the star clause set rewrites to the log merge (PolarMergeSqlSpec)
    val e = intercept[Exception] {
      spark.sql("MERGE INTO polar.mrgflags t USING mrg_chg s " +
        "ON t.partitionKey = s.partitionKey " +
        "WHEN MATCHED THEN UPDATE SET t.value = s.value")
    }
    assert(e.getMessage.toLowerCase.contains("row-level")
      || e.getMessage.toLowerCase.contains("merge"), e.getMessage)
    spark.sql("DROP TABLE polar.mrgflags")
    spark.sql("DROP TABLE polar.mrgflags2")
  }

  test("procedures resolve persisted geometry, not catalog defaults") {
    import graft.log.{ConsumerGroups, TopicConfig}
    // a 6-broker ring (24 partitions) vs the catalog default of 3 (12):
    // reset_offsets must enumerate the PERSISTED partition count, or the
    // group-doc replace silently drops commits on partitions >= 12
    spark.sql("CREATE TABLE polar.wide_reset TBLPROPERTIES ('clusterSize'='6')")
    spark.sql("""
      INSERT INTO polar.wide_reset
      SELECT CAST(id AS STRING) AS partitionKey, current_timestamp() AS timestamp,
             CAST('x' AS BINARY) AS value FROM range(200)""")
    val cfg = TopicConfig(root, "wide_reset", 6, 4)
    val highParts = graft.log.LogMetadata.read(cfg).files.map(_.part)
      .filter(_ >= 12).distinct
    assert(highParts.nonEmpty, "fixture must populate partitions >= 12")
    // register the group with a commit on a HIGH partition — the exact
    // offsets the default-geometry enumeration used to drop
    ConsumerGroups.commit(cfg, "g",
      highParts.map(_ -> 1L).toMap + (0 -> 1L))
    val rows = spark.sql(
      "CALL polar.system.reset_offsets(group_id => 'g', topic => 'wide_reset', mode => 'shift-by', value => '0')")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size === 24, s"expected all 24 ring partitions, got ${rows.size}")
    assert(highParts.forall(p => rows(p) === 1L),
      s"high partitions lost their offsets: $rows")
    // committed view agrees — nothing was dropped by the doc replace
    val committed = ConsumerGroups.committed(cfg, "g").get
    assert(committed.size === 24 && highParts.forall(p => committed(p) === 1L))
    spark.sql("DROP TABLE polar.wide_reset")
  }

  test("rename keeps data; geometry read from persisted metadata") {
    spark.sql("CREATE TABLE polar.before")
    spark.sql("""
      INSERT INTO polar.before
      SELECT 'k' AS partitionKey, current_timestamp() AS timestamp,
             CAST('v' AS BINARY) AS value""")
    spark.sql("ALTER TABLE polar.before RENAME TO polar.after")
    assert(spark.table("polar.after").count() === 1)
    assert(!spark.catalog.tableExists("polar.before"))
    spark.sql("DROP TABLE polar.after")
  }
}
