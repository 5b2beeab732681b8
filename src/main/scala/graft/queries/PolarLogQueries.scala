package graft.queries

import graft.Tables
import graft.log.{ConsumerGroups, LogMetadata, PolarLog, RetentionScheduler, TopicConfig, Transactions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * The event-log plane exercised end-to-end through the correctness gate:
 * each query produces the `events` table into a fresh polar topic (murmur3
 * placement, dense offsets), consumes it back, and emits an aggregate that a
 * DuckDB oracle can compute from `events` directly — so the oracle checks
 * the produce→consume round trip for loss, duplication and ordering, without
 * needing to reproduce the placement hash (SURVEY.md §2 A1–A21 semantics).
 */
object PolarLogQueries extends QueryRegistry {

  // One produced topic per (session, sfDir), shared by the read-only gate
  // queries — mutating queries (groups/ndjson/repartition) build their own.
  private val produced = scala.collection.concurrent.TrieMap.empty[(String, String), TopicConfig]

  /** SQL mirror of `polar_partition(token, 3, 4)` — shared via
    * [[OracleSql.part34Sql]]. */
  private lazy val part34Sql: String = OracleSql.part34Sql

  /** Produce events into a per-sfDir topic once and return the consumed log. */
  private def roundtrip(s: SparkSession, dir: String): DataFrame = {
    val cfg = produced.getOrElseUpdate((s.sparkContext.applicationId, dir), {
      val root = Files.createTempDirectory("graft_polar_q").toString
      val c = TopicConfig(root, "events")
      val records = Tables.events(s, dir).select(
        col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"),
        to_json(struct(col("event_id"), col("event_type"), col("value"))).as("value"))
      PolarLog.produce(records, c, orderBy = Seq(col("timestamp"), col("value")))
      c
    })
    PolarLog.consume(s, cfg)
  }

  override def all: Seq[QueryDef] = Seq(

    QueryDef(
      "polar_roundtrip",
      (s, dir) => roundtrip(s, dir)
        .groupBy(col("partitionKey"))
        .agg(count(lit(1)).as("n"),
          countDistinct(get_json_object(col("value").cast("string"), "$.event_id"))
            .as("n_events")),
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS partitionKey,
               COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_events
        FROM events GROUP BY user_id""")),

    QueryDef(
      "polar_ts_window",
      // event-time windowed consume: the pushed timestamp window prunes
      // whole segments from the registry's per-file ts stats — the
      // time-range analog of the offset seek (pruning itself is
      // spec-verified in PolarPushdownSpec); this entry verifies the
      // windowed read's VALUES against the raw table
      (s, dir) => {
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-20 00:00:00").cast("timestamp")
        s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .filter(col("timestamp") >= lo && col("timestamp") < hi)
          .agg(count(lit(1)).as("n"),
            countDistinct(col("partitionKey")).as("n_keys"),
            date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("first_ts"),
            date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"))
      },
      Some("""
        SELECT COUNT(*) AS n,
               COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_keys,
               strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
               strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
          AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'""")),

    QueryDef(
      "polar_order_invariant",
      (s, dir) => {
        // within every partition, offset order must equal event-time order
        // (the per-key total order guarantee, FIXTURES.md §5.1)
        val w = Window.partitionBy(col("part")).orderBy(col("offset"))
        roundtrip(s, dir)
          .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
          .withColumn("ok", col("prev_ts").isNull || col("prev_ts") <= col("timestamp"))
          .groupBy(col("partitionKey"))
          .agg(count(lit(1)).as("n"), min(col("ok")).as("ordered"))
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS partitionKey,
               COUNT(*) AS n, TRUE AS ordered
        FROM events GROUP BY user_id""")),

    QueryDef(
      "polar_offsets_dense",
      (s, dir) => {
        // offsets dense from 0 per partition <=> sum over partitions of
        // (max offset + 1) equals the total record count
        roundtrip(s, dir)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("span"))
          .agg(sum(col("n")).as("n_records"), sum(col("span")).as("offset_span"))
      },
      Some("SELECT COUNT(*) AS n_records, COUNT(*) AS offset_span FROM events")),

    QueryDef(
      "polar_consumer_groups",
      (s, dir) => {
        // register earliest-group, poll all, commit, produce nothing more,
        // poll again -> empty; emit the committed read counts per partition
        // key. Polls the shared topic — a named group's commits live under
        // the topic's _groups/ and don't perturb other readers. The group
        // name is unique per invocation so a committed state never carries
        // over into a re-run within the same application (idempotence).
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val group = "gate-" + java.util.UUID.randomUUID().toString
        val p1 = ConsumerGroups.poll(s, cfg, group, ConsumerGroups.Earliest)
        val read1 = p1.records.count()
        ConsumerGroups.commit(cfg, group, p1.nextOffsets)
        val read2 = ConsumerGroups.poll(s, cfg, group).records.count()
        s.createDataFrame(Seq((read1, read2))).toDF("first_poll", "after_commit")
      },
      Some("SELECT COUNT(*) AS first_poll, CAST(0 AS BIGINT) AS after_commit FROM events")),

    QueryDef(
      "polar_consumer_rebalance",
      (s, dir) => {
        // A16: two members share one group; the deterministic round-robin
        // gives member i the partitions p with p % 2 == i, so the per-member
        // record/key counts are fully reproducible from the placement
        // kernel. After m-a merge-commits, its re-poll is empty while m-b
        // still sees its full backlog (commit isolation between members).
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val group = "rebal-" + java.util.UUID.randomUUID().toString
        val members = Seq("m-a", "m-b")
        import org.apache.spark.sql.functions.{count => cnt}
        val firstPolls = members.map { m =>
          val p = ConsumerGroups.pollAs(s, cfg, group, m, members, ConsumerGroups.Earliest)
          (m, p, p.records.agg(cnt(lit(1)), countDistinct(col("partitionKey")))
            .collect()(0))
        }
        ConsumerGroups.commitPartial(cfg, group, firstPolls.head._2.nextOffsets)
        val rows = firstPolls.map { case (m, _, r) =>
          val again = ConsumerGroups.pollAs(s, cfg, group, m, members).records.count()
          (m, r.getLong(0), r.getLong(1), again)
        }
        s.createDataFrame(rows)
          .toDF("member", "n_records", "n_keys", "after_ma_commit")
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
        membered AS (
          SELECT pk, CASE WHEN part % 2 = 0 THEN 'm-a' ELSE 'm-b' END AS member
          FROM placed)
        SELECT member,
               COUNT(*) AS n_records, COUNT(DISTINCT pk) AS n_keys,
               CASE WHEN member = 'm-a' THEN 0 ELSE COUNT(*) END AS after_ma_commit
        FROM membered GROUP BY member""")),

    QueryDef(
      "polar_group_lag",
      (s, dir) => {
        // CONSUMER LAG SURFACE: a group registered at earliest commits
        // exactly HALF of every partition; groupLag must then report
        // (committed = n/2, tail = n, lag = n - n/2) per partition — all
        // three replayable from the raw table through the placement
        // kernel. The group name is unique per invocation (idempotence).
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val group = "lag-" + java.util.UUID.randomUUID().toString
        ConsumerGroups.startingOffsets(cfg, group, ConsumerGroups.Earliest)
        val half = PolarLog.tails(cfg).map { case (p, t) => p -> t / 2 }
        ConsumerGroups.commit(cfg, group, half)
        val rows = ConsumerGroups.groupLag(cfg, group)
          .filter(_.tail > 0)
          .map(l => (l.part, l.committed, l.tail, l.lag))
        s.createDataFrame(rows).toDF("part", "committed", "tail", "lag")
      },
      Some(s"""
        WITH recs AS (SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) // 2 AS committed, COUNT(*) AS tail,
               COUNT(*) - COUNT(*) // 2 AS lag
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_agg_pushdown",
      (s, dir) => {
        // COMPLETE aggregate pushdown: count(*) / min / max(timestamp)
        // answered from the metadata registry with ZERO file I/O — the
        // plan is asserted to be the pushed-aggregate scan (a full-topic
        // scan collapsed to one metadata read at 100 TB); values replayed
        // by the oracle from the raw table.
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val agg = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .agg(count(lit(1)).as("n"),
            date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("first_ts"),
            date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"))
        require(agg.queryExecution.executedPlan.toString.contains("PolarAggScan"),
          "aggregate was not pushed into the scan")
        agg
      },
      Some("""
        SELECT COUNT(*) AS n,
               strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
               strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM events""")),

    QueryDef(
      "polar_min_partitions",
      (s, dir) => {
        // Kafka-parity `minPartitions`: the 4-commit segmented fixture
        // (≈4 files per log partition) fans out over >12 file-granular
        // splits; values must stay EXACTLY the whole log (no dup, no
        // loss at sub-split seams). countDistinct blocks the aggregate
        // push, so the fanned read path itself is what's hashed.
        val (cfg, _) = SharedTopics.segmentedEvents(s, dir)
        val df = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic)
          .option("minPartitions", "48").load()
        require(df.rdd.getNumPartitions > cfg.numPartitions,
          s"minPartitions planned only ${df.rdd.getNumPartitions} splits")
        df.agg(count(lit(1)).as("n"),
          countDistinct(col("partitionKey")).as("n_keys"),
          date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("first_ts"),
          date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("last_ts"))
      },
      Some("""
        SELECT COUNT(*) AS n,
               COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_keys,
               strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
               strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM events""")),

    QueryDef(
      "polar_agg_pushdown_part",
      (s, dir) => {
        // GROUP BY part aggregate pushdown — the per-partition ops view
        // (row counts + latest event time per log partition) as ONE
        // metadata read, zero file I/O; the oracle replays placement
        // through the murmur3 SQL mirror.
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val agg = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"),
            date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"))
        require(agg.queryExecution.executedPlan.toString.contains("PolarAggScan"),
          "grouped aggregate was not pushed into the scan")
        agg
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, CAST(ts AS TIMESTAMP) AS tsv
          FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.tsv, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) AS n,
               strftime(MAX(tsv), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_log_window_nosort",
      (s, dir) => {
        // Sessionization with ZERO sort: the scan REPORTS (part, offset)
        // ordering (a split is one log partition read in offset order) and
        // storage-partitioned clustering, so the per-partition window
        // needs neither exchange nor sort — the plan is asserted
        // Sort-free. Session breaks (gap > 1h between consecutive events
        // of a partition) are order-deterministic because the per-
        // partition timestamp SEQUENCE is just its sorted timestamps.
        import org.apache.spark.sql.expressions.Window
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val w = Window.partitionBy("part").orderBy("offset")
        val seq = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .select(col("part"), col("offset"), col("timestamp"))
          .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
        require(seq.queryExecution.executedPlan.collect {
          case so: org.apache.spark.sql.execution.SortExec => so }.isEmpty,
          "per-partition log window planned a Sort")
        seq.agg(count(lit(1)).as("n"),
          sum(when(unix_micros(col("timestamp")) - unix_micros(col("prev_ts"))
            > 3600L * 1000000L, 1).otherwise(0)).cast("long")
            .as("session_breaks"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, CAST(ts AS TIMESTAMP) AS tsv,
                 props
          FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.tsv, r.props, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
        seq AS (
          SELECT part, tsv,
                 lag(tsv) OVER (PARTITION BY part ORDER BY tsv, props) AS prev_ts
          FROM placed)
        SELECT COUNT(*) AS n,
               CAST(SUM(CASE WHEN epoch_us(tsv) - epoch_us(prev_ts) > 3600000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS session_breaks
        FROM seq""")),

    QueryDef(
      "polar_topn_pushdown",
      (s, dir) => {
        // TOP-N pushdown: ORDER BY timestamp DESC LIMIT n prunes the
        // planned files through the registry's ts stats (sound cut: ≥ n
        // rows provably at-or-above it) — "latest n records" on a 100 TB
        // topic reads tail segments, not the log. Partial push: Spark
        // keeps the TakeOrdered for exact order; the aggregate folds the
        // top-n multiset so boundary ties (rows equal in BOTH sort keys)
        // cannot perturb the hash.
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val top = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .orderBy(col("timestamp").desc, col("value")).limit(40)
        require(top.queryExecution.executedPlan.toString
          .contains("topn=40 by timestamp desc"),
          "top-n was not pushed into the scan")
        top.agg(count(lit(1)).as("n"),
          date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("min_ts"),
          date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("max_ts"),
          sum(length(col("value"))).cast("long").as("value_bytes"))
      },
      Some("""
        SELECT COUNT(*) AS n,
               strftime(MIN(tsv), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
               strftime(MAX(tsv), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
               CAST(SUM(strlen(props)) AS BIGINT) AS value_bytes
        FROM (SELECT CAST(ts AS TIMESTAMP) AS tsv, props FROM events
              ORDER BY tsv DESC, props LIMIT 40)""")),

    QueryDef(
      "polar_group_reset",
      (s, dir) => {
        // kafka-consumer-groups --reset-offsets parity over the durable
        // group doc: to-timestamp (record-exact seek), shift-by (clamped),
        // to-earliest, to-latest — each reset followed by a poll whose
        // delivery the oracle replays; lag reflects every reset.
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val group = "reset-" + java.util.UUID.randomUUID().toString
        val p0 = ConsumerGroups.poll(s, cfg, group, ConsumerGroups.Earliest)
        ConsumerGroups.commit(cfg, group, p0.nextOffsets)
        require(ConsumerGroups.groupLag(cfg, group).map(_.lag).sum == 0L)
        // to-timestamp: the next poll is exactly the ts >= cut suffix
        // (the shared topic is per-partition ts-ordered)
        val cut = java.time.Instant.parse("2024-01-15T00:00:00Z")
        ConsumerGroups.resetOffsets(s, cfg, group,
          ConsumerGroups.ToTimestamp(cut.getEpochSecond * 1000000L))
        val lagAfter = ConsumerGroups.groupLag(cfg, group).map(_.lag).sum
        val p1 = ConsumerGroups.poll(s, cfg, group)
        val tsCount = p1.records.count()
        require(lagAfter == tsCount,
          s"lag $lagAfter must equal the pending records $tsCount after reset")
        ConsumerGroups.commit(cfg, group, p1.nextOffsets)
        // shift-by: committed + n, clamped to [earliest, tail]
        val before = ConsumerGroups.committed(cfg, group).get
        val shifted = ConsumerGroups.resetOffsets(s, cfg, group,
          ConsumerGroups.ShiftBy(-3))
        before.foreach { case (p, c) =>
          require(shifted(p) == math.max(0L, c - 3),
            s"shift-by clamp broke at partition $p") }
        // to-earliest replays everything; to-latest drains to nothing
        ConsumerGroups.resetOffsets(s, cfg, group, ConsumerGroups.ToEarliest)
        val full = ConsumerGroups.poll(s, cfg, group).records.count()
        ConsumerGroups.resetOffsets(s, cfg, group, ConsumerGroups.ToLatest)
        val empty = ConsumerGroups.poll(s, cfg, group).records.count()
        s.createDataFrame(Seq(
          ("earliest", full), ("latest", empty), ("ts", tsCount)))
          .toDF("phase", "n")
      },
      Some("""
        SELECT 'earliest' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'latest' AS phase, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT 'ts' AS phase, COUNT(*) AS n FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'""")),

    QueryDef(
      "polar_tokens",
      // the placement kernel exercised directly through the gate: token and
      // flat partition for every event key. Keys here are ≤ 8 UTF-8 bytes,
      // so the oracle replays the murmur3 tail block + finalization in
      // HUGEINT arithmetic (OracleSql.murmur3H1ShortKeyCtes) and the ring
      // arithmetic with the 3-broker tokens — an independent cross-check of
      // both native kernels.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        Tables.events(s, dir)
          .select(col("user_id").cast("string").as("partitionKey")).distinct()
          .select(col("partitionKey"),
            graft.functions.GraftFunctions.murmur3_h1(col("partitionKey")).as("token"))
          .withColumn("part",
            graft.functions.GraftFunctions.polar_partition(col("token"), 3, 4))
      },
      Some(s"""
        WITH keys AS (
          SELECT DISTINCT CAST(user_id AS VARCHAR) AS pk FROM events),
        ${OracleSql.murmur3H1ShortKeyCtes}
        SELECT pk AS partitionKey, token, CAST($part34Sql AS INTEGER) AS part
        FROM murmur_tok""")),

    QueryDef(
      "polar_repartition",
      (s, dir) => {
        // scale-up 3 -> 6 brokers: every record re-placed by the new ring,
        // none lost or duplicated (A22/A29/A30)
        val root = Files.createTempDirectory("graft_polar_r").toString
        val cfg = TopicConfig(root, "events", clusterSize = 3)
        val records = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        graft.log.PolarLog.produce(records, cfg)
        val result = graft.log.TopicOps.repartitionTopic(s, cfg, "events_v2", 6)
        PolarLog.consume(s, result.newCfg)
          .groupBy(col("partitionKey"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS partitionKey, COUNT(*) AS n
        FROM events GROUP BY user_id""")),

    QueryDef(
      "polar_resize_offsets",
      (s, dir) => {
        // A22 exact: commit HALF of every partition mid-stream, scale the
        // ring 3 -> 6, and poll the group on the new topic — the projection
        // must serve exactly the uncommitted suffixes (scale-up children
        // have a single source range, so zero redelivery). The produce order
        // (timestamp, value, key) makes the committed cutoff deterministic,
        // so DuckDB replays it with a window rank over the placement kernel.
        val root = Files.createTempDirectory("graft_polar_rz").toString
        val cfg = TopicConfig(root, "events", clusterSize = 3)
        val records = graft.Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        graft.log.PolarLog.produce(records, cfg,
          orderBy = Seq(col("timestamp"), col("value"), col("partitionKey")))
        val half = PolarLog.tails(cfg).map { case (p, t) => p -> t / 2 }
        ConsumerGroups.commit(cfg, "mid", half)
        val res = graft.log.TopicOps.repartitionTopic(s, cfg, "events_v2", 6)
        ConsumerGroups.poll(s, res.newCfg, "mid").records
          .groupBy(col("partitionKey")).agg(count(lit(1)).as("n_served"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk,
                 CAST(ts AS TIMESTAMP) AS tsv, props
          FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, r.tsv, r.props, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
        ranked AS (
          SELECT pk,
                 row_number() OVER (PARTITION BY part ORDER BY tsv, props, pk) AS rk,
                 COUNT(*) OVER (PARTITION BY part) AS n_part
          FROM placed)
        SELECT pk AS partitionKey, COUNT(*) AS n_served
        FROM ranked WHERE rk > n_part // 2
        GROUP BY pk""")),

    QueryDef(
      "polar_txn_produce",
      (s, dir) => {
        // Producer transactions (Kafka EOS): three copies of `events` land
        // as (1) a plain produce, (2) a transactional produce that COMMITS,
        // (3) a transactional produce that ABORTS — plus a plain produce
        // BEHIND the open transaction to prove the LSO rule. read_committed
        // never sees uncommitted or post-LSO records; after resolution both
        // isolation levels converge on exactly two visible copies + the
        // LSO-held one = 3N.
        val root = Files.createTempDirectory("graft_polar_txn").toString
        val cfg = TopicConfig(root, "events", clusterSize = 3)
        val records = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        def rc() = PolarLog.consume(s, cfg, isolation = "read_committed").count()
        def ru() = PolarLog.consume(s, cfg).count()
        PolarLog.produce(records, cfg) // plain base: N
        val t1 = Transactions.begin(root, "etl-commit")
        PolarLog.produce(records, cfg, producerTxn = Some(t1)) // staged: N
        val rcOpen = rc() // open txn invisible to read_committed
        // a PLAIN produce behind the open transaction: committed data, but
        // beyond the LSO — read_committed must hold it back too
        PolarLog.produce(records, cfg)
        // the DSv2 scan option is the same path users take
        val rcLso = s.read.format("polar").option("root", root)
          .option("topic", "events").option("isolation.level", "read_committed")
          .load().count()
        val ruOpen = ru() // default (read_uncommitted) sees everything
        Transactions.commit(t1)
        val rcCommitted = rc() // commit releases the txn AND the LSO hold
        val t2 = Transactions.begin(root, "etl-abort")
        PolarLog.produce(records, cfg, producerTxn = Some(t2))
        Transactions.abort(t2)
        val rcAfterAbort = rc()
        val ruAfterAbort = ru() // aborted records are gone for everyone
        s.createDataFrame(Seq(
          ("rc_open", rcOpen), ("rc_lso", rcLso), ("ru_open", ruOpen),
          ("rc_committed", rcCommitted), ("rc_after_abort", rcAfterAbort),
          ("ru_after_abort", ruAfterAbort))).toDF("phase", "n")
      },
      Some("""
        SELECT 'rc_open' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'rc_lso' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'ru_open' AS phase, 3 * COUNT(*) AS n FROM events
        UNION ALL SELECT 'rc_committed' AS phase, 3 * COUNT(*) AS n FROM events
        UNION ALL SELECT 'rc_after_abort' AS phase, 3 * COUNT(*) AS n FROM events
        UNION ALL SELECT 'ru_after_abort' AS phase, 3 * COUNT(*) AS n FROM events""")),

    QueryDef(
      "polar_txn_offsets",
      (s, dir) => {
        // Consume-transform-produce EOS (Kafka's sendOffsetsToTransaction,
        // r14): the consumer group's position on the SOURCE topic commits
        // atomically with the transactional produces to the SINK topic —
        // commit makes both visible, abort leaves the position untouched so
        // the batch is re-processed, never half-committed. The group lag is
        // the oracle-visible face of the position.
        val root = Files.createTempDirectory("graft_polar_txn_offs").toString
        val src = TopicConfig(root, "events_src", clusterSize = 3)
        val dst = TopicConfig(root, "events_dst", clusterSize = 3)
        val records = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        def relay(df: org.apache.spark.sql.DataFrame) =
          df.select(col("partitionKey"), col("timestamp"), col("value"))
        def dstRc() = PolarLog.consume(s, dst, isolation = "read_committed").count()
        def lag() = ConsumerGroups.groupLag(src, "etl").map(_.lag).sum
        PolarLog.produce(records, src)
        val poll = ConsumerGroups.poll(s, src, "etl", ConsumerGroups.Earliest)
        val lagBefore = lag() // the whole first batch pending: N
        val h = Transactions.begin(root, "etl-offsets")
        PolarLog.produce(relay(poll.records), dst, producerTxn = Some(h))
        Transactions.sendOffsets(h, src, "etl", poll.nextOffsets)
        val dstOpen = dstRc() // neither records nor position visible yet
        Transactions.commit(h)
        val dstCommitted = dstRc() // both land atomically at the commit point
        val lagCommitted = lag()
        // abort leg: a second batch, its transaction rolls back
        PolarLog.produce(records, src)
        val poll2 = ConsumerGroups.poll(s, src, "etl", ConsumerGroups.Earliest)
        val h2 = Transactions.begin(root, "etl-offsets")
        PolarLog.produce(relay(poll2.records), dst, producerTxn = Some(h2))
        Transactions.sendOffsets(h2, src, "etl", poll2.nextOffsets)
        Transactions.abort(h2)
        val dstAfterAbort = dstRc() // the aborted relay is gone
        val lagAfterAbort = lag() // and the batch is pending again: N
        s.createDataFrame(Seq(
          ("lag_before", lagBefore), ("dst_open", dstOpen),
          ("dst_committed", dstCommitted), ("lag_committed", lagCommitted),
          ("dst_after_abort", dstAfterAbort), ("lag_after_abort", lagAfterAbort)))
          .toDF("phase", "n")
      },
      Some("""
        SELECT 'lag_before' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'dst_open' AS phase, CAST(0 AS BIGINT) AS n
        UNION ALL SELECT 'dst_committed' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'lag_committed' AS phase, CAST(0 AS BIGINT) AS n
        UNION ALL SELECT 'dst_after_abort' AS phase, COUNT(*) AS n FROM events
        UNION ALL SELECT 'lag_after_abort' AS phase, COUNT(*) AS n FROM events""")),

    QueryDef(
      "polar_poll_json",
      (s, dir) => {
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        s.createDataFrame(graft.log.TopicOps.pollJson(cfg, PolarLog.consume(s, cfg))
          .map(Tuple1(_))).toDF("item")
      },
      // the poll items are fully reconstructible: murmur3 placement (SQL
      // mirror), offsets = (timestamp, value) rank within partition (the
      // shared topic's produce order), ring-token strings, and DuckDB's
      // to_json(struct_pack) emits byte-identical compact JSON
      Some {
        val tokens = (0 until 3)
          .map(i => graft.functions.TokenMath.tokenAtIndex(3, i).toString)
        s"""WITH recs AS (
            SELECT CAST(user_id AS VARCHAR) AS pk,
                   CAST(ts AS TIMESTAMP) AS tsv, props
            FROM events),
          keys AS (SELECT DISTINCT pk FROM recs),
          ${OracleSql.murmur3H1ShortKeyCtes},
          placed AS (
            SELECT r.tsv, r.props, CAST($part34Sql AS INTEGER) AS part
            FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
          agg AS (
            SELECT part, list(props ORDER BY tsv, props) AS vals
            FROM placed GROUP BY part)
          SELECT to_json(struct_pack(
              topic := 'events',
              token := CASE part // 4 WHEN 0 THEN '${tokens(0)}'
                                      WHEN 1 THEN '${tokens(1)}'
                                      ELSE '${tokens(2)}' END,
              rangeIndex := part % 4,
              version := 1,
              startOffset := '0',
              "values" := vals)) AS item
          FROM agg"""
      }),

    QueryDef(
      "polar_poll_binary",
      (s, dir) => {
        // A18: the reference's binary poll item layout (big-endian
        // token/rangeIndex/version/topic/startOffset/payload with per-record
        // ts/len headers), compared as hex and reconstructed byte-for-byte
        // by DuckDB string arithmetic over the placement kernel
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        s.createDataFrame(graft.log.TopicOps.pollBinary(cfg, PolarLog.consume(s, cfg))
          .map(Tuple1(_))).select(hex(col("_1")).as("item"))
      },
      Some {
        val tokens = (0 until 3).map(i =>
          f"${graft.functions.TokenMath.tokenAtIndex(3, i)}%016X")
        s"""WITH recs AS (
            SELECT CAST(user_id AS VARCHAR) AS pk,
                   CAST(ts AS TIMESTAMP) AS tsv, props
            FROM events),
          keys AS (SELECT DISTINCT pk FROM recs),
          ${OracleSql.murmur3H1ShortKeyCtes},
          placed AS (
            SELECT r.tsv, r.props, CAST($part34Sql AS INTEGER) AS part
            FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
          agg AS (
            SELECT part,
                   string_agg(
                     lpad(to_hex(epoch_us(tsv)), 16, '0') ||
                     lpad(to_hex(octet_length(props::BLOB)), 8, '0') ||
                     hex(props),
                     '' ORDER BY tsv, props) AS payload,
                   SUM(octet_length(props::BLOB) + 12) AS payload_bytes
            FROM placed GROUP BY part)
          SELECT concat(
                   CASE part // 4 WHEN 0 THEN '${tokens(0)}'
                                  WHEN 1 THEN '${tokens(1)}'
                                  ELSE '${tokens(2)}' END,
                   lpad(to_hex(part % 4), 2, '0'),
                   '00000001',
                   '06', hex('events'),
                   '0000000000000000',
                   lpad(to_hex(payload_bytes), 8, '0'),
                   payload) AS item
          FROM agg"""
      }),

    QueryDef(
      "polar_poll_fair",
      (s, dir) => {
        // FAIR POLL ADMISSION (A17, reference round-robin parity,
        // `internal/consuming/group_read_queue.go:115-118`): a capped poll
        // splits its budget EVENLY across the backlogged partitions, then
        // redistributes what the short backlogs left unspent in one
        // ascending pass — a hot partition can no longer starve the rest.
        // Three caps derived FROM the data (so the oracle derives the
        // same): 'even' = B×K with K ≤ every backlog (each partition
        // admits exactly K, zero leftover); 'redistribute' = less than
        // the total backlog (short partitions drain, the leftover tops up
        // the long ones ascending); 'drain' = above the total (everything
        // admits). Offsets are dense, so admitted = nextOffset exactly.
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val tails = PolarLog.tails(cfg).filter(_._2 > 0L)
        val b = tails.values
        val bCount = b.size.toLong
        val k = math.max(1L, b.min / 2)
        val caps = Seq(
          "even" -> bCount * k,
          "redistribute" -> math.max(bCount, b.sum - math.max(1L, b.max / 2)),
          "drain" -> (b.sum + 5L))
        val rows = caps.flatMap { case (phase, cap) =>
          val group = "fair-" + java.util.UUID.randomUUID().toString
          val p = ConsumerGroups.poll(s, cfg, group, ConsumerGroups.Earliest,
            maxRecords = Some(cap))
          p.nextOffsets.toSeq
            .filter { case (part, _) => tails.contains(part) }
            .map { case (part, next) => (phase, part, next) }
        }
        s.createDataFrame(rows).toDF("phase", "part", "admitted")
      },
      // the oracle replays the fair split itself: per-partition backlogs
      // from the placement kernel, share = cap // B, pass 1 = min(b,
      // share), pass 2 = greedy ascending over the leftover (a running-sum
      // window IS one ascending redistribution pass)
      Some(s"""
        WITH recs AS (SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
        backlog AS (SELECT part, COUNT(*) AS b FROM placed GROUP BY part),
        params AS (
          SELECT COUNT(*) AS bc, MIN(b) AS minb, MAX(b) AS maxb,
                 SUM(b) AS tot
          FROM backlog),
        caps AS (
          SELECT 'even' AS phase, bc * greatest(1, minb // 2) AS cap FROM params
          UNION ALL
          SELECT 'redistribute', greatest(bc, tot - greatest(1, maxb // 2)) FROM params
          UNION ALL
          SELECT 'drain', tot + 5 FROM params),
        pass1 AS (
          SELECT c.phase, k.part, k.b, c.cap,
                 least(k.b, c.cap // p.bc) AS a1
          FROM caps c CROSS JOIN params p CROSS JOIN backlog k),
        pass2 AS (
          SELECT phase, part, a1,
                 least(b - a1, greatest(0,
                   (cap - SUM(a1) OVER (PARTITION BY phase)) -
                   COALESCE(SUM(b - a1) OVER (PARTITION BY phase
                     ORDER BY part
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 )) AS a2
          FROM pass1)
        SELECT phase, part, CAST(a1 + a2 AS BIGINT) AS admitted FROM pass2""")),

    QueryDef(
      "polar_sql_roundtrip",
      (s, dir) => {
        // the SQL surface end-to-end: topics as catalog tables, produce via
        // INSERT INTO, consume via SELECT — CREATE/INSERT/SELECT/DROP all
        // through the DSv2 TableCatalog (placement, offsets, pushdown
        // identical to the library path)
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val topic = "sqlrt-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_sql_src")
        s.sql(s"""
          INSERT INTO polar_gate.`$topic`
          SELECT CAST(user_id AS STRING) AS partitionKey, ts AS timestamp,
                 CAST(props AS BINARY) AS value
          FROM events_sql_src""")
        // DROP TABLE is exercised in PolarCatalogSpec — dropping here would
        // invalidate the (lazily re-evaluated) result plan's cache
        s.sql(s"""
          SELECT partitionKey, count(*) AS n,
                 count(DISTINCT CAST(value AS STRING)) AS n_vals
          FROM polar_gate.`$topic` GROUP BY partitionKey""")
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS partitionKey,
               COUNT(*) AS n, COUNT(DISTINCT props) AS n_vals
        FROM events GROUP BY user_id""")),

    QueryDef(
      "polar_sql_delete",
      // the LOG-NATIVE DELETE: `DELETE FROM polar.t WHERE partitionKey IN
      // (...)` appends ONE TOMBSTONE per key (a Kafka producer's delete
      // marker), so the compacted (KTable) view drops the keys while the
      // raw log keeps every prior offset addressable — deletion is a fact
      // appended to the log, never an in-place rewrite. Gated: survivors'
      // raw-history counts replay exactly; history retention and the
      // non-key-predicate refusal are required inline.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val root = s.conf.get("spark.sql.catalog.polar_gate.root")
        val topic = "sqldel-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_del_src")
        s.sql(s"""
          INSERT INTO polar_gate.`$topic`
          SELECT CAST(user_id AS STRING) AS partitionKey, ts AS timestamp,
                 CAST(props AS BINARY) AS value
          FROM events_del_src""")
        def compactedKeys() = s.sql(
          s"SELECT partitionKey FROM polar_compacted('$root', '$topic')")
          .collect().map(_.getString(0)).toSet
        require(Set("3", "5", "8").subsetOf(compactedKeys()),
          "fixture must hold the keys being deleted")
        s.sql(s"DELETE FROM polar_gate.`$topic` " +
          "WHERE partitionKey IN ('3', '5', '8')")
        // the keys vanish from the VIEW but their history stays in the LOG
        require((compactedKeys() & Set("3", "5", "8")).isEmpty,
          "deleted keys still visible in the compacted view")
        require(s.sql(s"SELECT count(*) FROM polar_gate.`$topic` " +
            "WHERE partitionKey = '3' AND value IS NOT NULL")
          .head().getLong(0) > 0, "raw log must keep the deleted history")
        // non-key predicates are refused (a DELETE must not hide a scan)
        val err = scala.util.Try(
          s.sql(s"DELETE FROM polar_gate.`$topic` WHERE offset > 5"))
        require(err.isFailure, "non-key DELETE predicate must be refused")
        // survivors with their full raw history, hash-verified
        s.sql(s"""
          SELECT k.partitionKey AS pk, count(*) AS n_raw
          FROM polar_compacted('$root', '$topic') k
          JOIN polar_gate.`$topic` r USING (partitionKey)
          WHERE r.value IS NOT NULL
          GROUP BY 1""")
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n_raw
        FROM events WHERE user_id NOT IN (3, 5, 8) GROUP BY 1""")),

    QueryDef(
      "polar_insert_overwrite",
      // ATOMIC REPLACE: INSERT OVERWRITE unregisters every pre-existing
      // segment and registers the new produce in ONE metadata CAS —
      // readers see the old topic or the new one, never a mix; offsets
      // still continue from the tails (dense numbering is the log's
      // identity, so checkpoints/groups never see a reuse). Gated: the
      // replaced contents replay exactly; offset continuity and the
      // no-stale-segments invariant are required inline.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val topic = "ovw-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_ovw_src")
        def sel(parity: Int) = s"""
          SELECT CAST(user_id AS STRING) AS partitionKey, ts AS timestamp,
                 CAST(props AS BINARY) AS value
          FROM events_ovw_src WHERE event_id % 2 = $parity"""
        s.sql(s"INSERT INTO polar_gate.`$topic` ${sel(0)}")
        val gateCfg = graft.log.TopicConfig(
          s.conf.get("spark.sql.catalog.polar_gate.root"), topic)
        val preTails = graft.log.PolarLog.tails(gateCfg)
        require(preTails.values.sum > 0, "fixture produced nothing")
        s.sql(s"INSERT OVERWRITE polar_gate.`$topic` ${sel(1)}")
        // only the overwrite's own segments remain, offsets continued
        val meta = graft.log.LogMetadata.read(gateCfg)
        require(meta.files.forall(f => f.minOffset >= preTails(f.part)),
          "a pre-overwrite segment survived the replace")
        s.sql(s"""
          SELECT partitionKey AS pk, count(*) AS n,
                 count(DISTINCT CAST(value AS STRING)) AS n_vals
          FROM polar_gate.`$topic` GROUP BY 1""")
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n,
               COUNT(DISTINCT props) AS n_vals
        FROM events WHERE event_id % 2 = 1 GROUP BY 1""")),

    QueryDef(
      "polar_log_cleaner",
      // THE LOG CLEANER (Kafka cleanup.policy=compact physical cleaning):
      // clean-region segments rewrite to latest-per-key with ORIGINAL
      // offsets (survivors sparse — FileEntry.dense false), the head
      // segment untouched, latest tombstones retained in the raw log.
      // Gated: the compacted view is UNCHANGED by cleaning and
      // hash-matches the oracle; removed-record count, sparsity, tombstone
      // retention and post-clean LIMIT correctness required inline.
      (s, dir) => {
        val root = Files.createTempDirectory("graft_polar_kc").toString
        val cfg = TopicConfig(root, "kc")
        // ONE keyed aggregate feeds all four produces and the key counts
        // (was: the same GROUP BY user_id re-aggregated from the raw scan
        // per produce — 4 identical shuffles; guide §2.4 "two operations
        // keyed the same way share one exchange", here via an explicit
        // registry-owned checkpoint because the consumers are separate
        // actions). The WHERE in the old v3 filtered whole key groups, so
        // deriving it from the unfiltered aggregate is value-identical.
        Tables.events(s, dir).createOrReplaceTempView("events_kc_src")
        graft.Materialize.localCheckpoint(s.sql(
          "SELECT user_id, MAX(ts) AS mts, MAX(props) AS mp " +
            "FROM events_kc_src GROUP BY user_id"))
          .createOrReplaceTempView("events_kc_agg")
        // v1, v2: whole keyset; v3 touches only PART of it (odd keys
        // upsert, every 14th key a tombstone), so v2's file keeps an
        // INTERLEAVED subset — genuine offset sparsity after cleaning
        def keyed(sel: String) = s.sql(
          s"SELECT CAST(user_id AS STRING) AS partitionKey, mts AS timestamp, " +
            s"$sel FROM events_kc_agg")
        PolarLog.produce(keyed("CAST('v1:' || mp AS BINARY) AS value"), cfg)
        PolarLog.produce(keyed("CAST('v2:' || mp AS BINARY) AS value"), cfg)
        PolarLog.produce(s.sql("""
          SELECT CAST(user_id AS STRING) AS partitionKey, mts AS timestamp,
                 CASE WHEN user_id % 14 = 0 THEN CAST(NULL AS BINARY)
                      ELSE CAST('v3:' || mp AS BINARY) END AS value
          FROM events_kc_agg WHERE user_id % 2 = 1 OR user_id % 14 = 0"""), cfg)
        // a 4th commit seals the head, so v3 sits in the CLEAN region
        PolarLog.produce(s.sql("""
          SELECT CAST(user_id + 1000000 AS STRING) AS partitionKey,
                 mts AS timestamp, CAST('seal' AS BINARY) AS value
          FROM events_kc_agg"""), cfg)
        val Array(keys, touched) = s.sql(
          """SELECT count(*),
                    count(CASE WHEN user_id % 2 = 1 OR user_id % 14 = 0
                               THEN 1 END)
             FROM events_kc_agg""").head() match {
          case r => Array(r.getLong(0), r.getLong(1))
        }
        val viewBefore = PolarLog.consumeCompacted(s, cfg)
          .selectExpr("partitionKey", "CAST(value AS STRING)")
          .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        val removed = graft.sources.PolarLogCleaner.cleanKeys(s, cfg)
        // v1 drops for EVERY key; v2 additionally drops for v3-touched keys
        require(removed == keys + touched,
          s"removed $removed, expected ${keys + touched}")
        val meta = LogMetadata.read(cfg)
        require(meta.files.exists(f => !f.dense && f.count > 0),
          "cleaning must leave offset-sparse survivors")
        // a latest tombstone survives in the raw log (the delete fact)
        val tombKey = s.sql(
          "SELECT CAST(user_id AS STRING) FROM events_kc_agg WHERE user_id % 14 = 0 LIMIT 1")
          .head().getString(0)
        val tombRows = PolarLog.consume(s, cfg)
          .filter(col("partitionKey") === tombKey).collect()
        require(tombRows.length == 1 && tombRows.head.isNullAt(
            tombRows.head.fieldIndex("value")),
          s"tombstone for $tombKey must survive as the key's only raw record")
        // sparse topics keep LIMIT correct (the planner falls back to
        // uncapped windows instead of equating offsets with rows)
        require(s.read.format("polar").option("root", root).option("topic", "kc")
          .load().limit(7).count() == 7L, "LIMIT over a sparse topic")
        // the compacted view is UNCHANGED by cleaning...
        val viewAfter = PolarLog.consumeCompacted(s, cfg)
          .selectExpr("partitionKey", "CAST(value AS STRING)")
          .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        require(viewAfter == viewBefore, "cleaning changed the compacted view")
        // ...and hash-matches the oracle
        PolarLog.consumeCompacted(s, cfg)
          .selectExpr("partitionKey AS pk", "CAST(value AS STRING) AS v")
      },
      Some("""
        WITH u AS (SELECT user_id, MAX(props) AS mp FROM events GROUP BY user_id)
        SELECT CAST(user_id AS VARCHAR) AS pk, 'v3:' || mp AS v
        FROM u WHERE user_id % 2 = 1 AND user_id % 14 <> 0
        UNION ALL
        SELECT CAST(user_id AS VARCHAR) AS pk, 'v2:' || mp AS v
        FROM u WHERE user_id % 2 = 0 AND user_id % 14 <> 0
        UNION ALL
        SELECT CAST(user_id + 1000000 AS VARCHAR) AS pk, 'seal' AS v FROM u""")),

    QueryDef(
      "polar_merge_upsert",
      // LOG-NATIVE MERGE (Delta MERGE shape over KTable semantics): the
      // compacted view is the table; matched-update / not-matched-insert
      // append records, matched-delete appends a tombstone — the raw log
      // keeps every prior offset addressable (required inline). Gated: the
      // post-merge compacted view hash-matches the oracle's full-outer
      // apply of the change set onto the base.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val root = s.conf.get("spark.sql.catalog.polar_gate.root")
        val topic = "mrg-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_mrg_src")
        // base table: one record per key from the even half
        s.sql(s"""
          INSERT INTO polar_gate.`$topic`
          SELECT CAST(user_id AS STRING) AS partitionKey,
                 MAX(ts) AS timestamp, CAST(MAX(props) AS BINARY) AS value
          FROM events_mrg_src WHERE event_id % 2 = 0 GROUP BY user_id""")
        // change set from the odd half: every 5th key a delete intent
        // (NULL value), the rest upserts; keys absent from the base are
        // not-matched inserts
        s.sql("""
          SELECT CAST(user_id AS STRING) AS partitionKey,
                 MAX(ts) AS timestamp,
                 CASE WHEN user_id % 5 = 0 THEN CAST(NULL AS BINARY)
                      ELSE CAST('u:' || MIN(props) AS BINARY) END AS value
          FROM events_mrg_src WHERE event_id % 2 = 1 GROUP BY user_id""")
          .createOrReplaceTempView("mrg_changes")
        val appended = s.sql(s"CALL polar_gate.system.merge(" +
          s"topic => '$topic', source => 'mrg_changes')").head().getLong(0)
        require(appended > 0, "merge appended nothing")
        // history stays addressable: an updated key keeps its base record
        val updated = s.sql(s"""
          SELECT partitionKey, count(*) AS n
          FROM polar_gate.`$topic` WHERE value IS NOT NULL
          GROUP BY 1 HAVING count(*) >= 2""").count()
        require(updated > 0, "merge must append, never rewrite history")
        s.sql(s"""
          SELECT partitionKey AS pk, CAST(value AS STRING) AS v
          FROM polar_compacted('$root', '$topic')""")
      },
      Some("""
        WITH base AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, MAX(props) AS v
          FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
        chg AS (
          SELECT CAST(user_id AS VARCHAR) AS pk,
                 CASE WHEN user_id % 5 = 0 THEN NULL
                      ELSE 'u:' || MIN(props) END AS v,
                 TRUE AS t
          FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
        SELECT COALESCE(c.pk, b.pk) AS pk,
               CASE WHEN c.t THEN c.v ELSE b.v END AS v
        FROM base b FULL OUTER JOIN chg c ON b.pk = c.pk
        WHERE CASE WHEN c.t THEN c.v ELSE b.v END IS NOT NULL""")),

    QueryDef(
      "polar_merge_sql",
      // SQL-TEXT MERGE (r11): `MERGE INTO polar.t USING src ON
      // t.partitionKey = src.partitionKey WHEN MATCHED THEN UPDATE SET *
      // WHEN NOT MATCHED THEN INSERT *` rewrites to the log merge via a
      // resolution rule — the star clause set needs no column assignments,
      // so the engine-assigned-columns refusal doesn't apply to it. Same
      // change-set/oracle as polar_merge_upsert, driven through SQL text;
      // the one-produce append contract required inline.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val root = s.conf.get("spark.sql.catalog.polar_gate.root")
        val topic = "mrgsql-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_mrgsql_src")
        s.sql(s"""
          INSERT INTO polar_gate.`$topic`
          SELECT CAST(user_id AS STRING) AS partitionKey,
                 MAX(ts) AS timestamp, CAST(MAX(props) AS BINARY) AS value
          FROM events_mrgsql_src WHERE event_id % 2 = 0 GROUP BY user_id""")
        s.sql("""
          SELECT CAST(user_id AS STRING) AS partitionKey,
                 MAX(ts) AS timestamp,
                 CASE WHEN user_id % 5 = 0 THEN CAST(NULL AS BINARY)
                      ELSE CAST('u:' || MIN(props) AS BINARY) END AS value
          FROM events_mrgsql_src WHERE event_id % 2 = 1 GROUP BY user_id""")
          .createOrReplaceTempView("mrgsql_changes")
        val changeRows = s.table("mrgsql_changes").count()
        val before = PolarLog.consume(s,
          graft.log.TopicConfig(root, topic)).count()
        val appended = s.sql(s"""
          MERGE INTO polar_gate.`$topic` t USING mrgsql_changes src
          ON t.partitionKey = src.partitionKey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
        // full star clause set = ONE produce of the change set verbatim —
        // no view read, no history rewrite
        require(appended == changeRows,
          s"star merge must append the whole change set: $appended/$changeRows")
        require(PolarLog.consume(s, graft.log.TopicConfig(root, topic)).count()
          == before + changeRows, "merge must append, never rewrite")
        s.sql(s"""
          SELECT partitionKey AS pk, CAST(value AS STRING) AS v
          FROM polar_compacted('$root', '$topic')""")
      },
      Some("""
        WITH base AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, MAX(props) AS v
          FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
        chg AS (
          SELECT CAST(user_id AS VARCHAR) AS pk,
                 CASE WHEN user_id % 5 = 0 THEN NULL
                      ELSE 'u:' || MIN(props) END AS v,
                 TRUE AS t
          FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
        SELECT COALESCE(c.pk, b.pk) AS pk,
               CASE WHEN c.t THEN c.v ELSE b.v END AS v
        FROM base b FULL OUTER JOIN chg c ON b.pk = c.pk
        WHERE CASE WHEN c.t THEN c.v ELSE b.v END IS NOT NULL""")),

    QueryDef(
      "polar_assign",
      // Kafka `assign` mode: an explicit (topic → partitions) map replaces
      // the subscription — ONLY the named partitions are planned (required
      // inline from the physical scan: zero files from any other
      // partition), and whole-topic answers (registry-stat aggregates)
      // refuse. The oracle replays the placement kernel and filters to the
      // same partition set, hash-verifying the assigned-only contents.
      (s, dir) => {
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val df = s.read.format("polar")
          .option("root", cfg.root)
          .option("assign", s"""{"${cfg.topic}":[0,2,5,7,11]}""")
          .load()
        val assigned = Set(0, 2, 5, 7, 11)
        val plannedParts = df.queryExecution.executedPlan.collectLeaves()
          .collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
          }.get.batch.planInputPartitions().map {
            case p: graft.sources.PolarInputPartition => p.part
            case _ => -1
          }.toSet
        require(plannedParts.nonEmpty && plannedParts.subsetOf(assigned),
          s"assign leaked unassigned partitions into the plan: $plannedParts")
        // a registry-stat aggregate must NOT answer for the whole topic
        val cnt = df.groupBy().count()
        require(!cnt.queryExecution.executedPlan.toString.contains("PolarAggScan"),
          "agg pushdown answered a narrowed (assign) scan from the registry")
        df.groupBy(col("part"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("partitionKey")).as("n_keys"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT pk) AS BIGINT) AS n_keys
        FROM placed WHERE part IN (0, 2, 5, 7, 11) GROUP BY part""")),

    QueryDef(
      "polar_topic_routing",
      // PER-ROW TOPIC ROUTING (Kafka writer parity, reference produce is
      // per-record-topic — internal/producing/server.go:126-132): ONE
      // frame with a `topic` column and NO topic option fans out to its
      // topics in one pass (one exchange clustered by (topic, part), one
      // CAS per topic). Gated: every routed topic's drained content is
      // hash-verified against the oracle's per-topic split.
      (s, dir) => {
        val root = Files.createTempDirectory("graft_polar_routed").toString
        Tables.events(s, dir).select(
            concat(lit("rt"), (col("event_id") % 3).cast("string")).as("topic"),
            col("user_id").cast("string").as("partitionKey"),
            col("ts").as("timestamp"),
            to_json(struct(col("event_id"), col("event_type"))).as("value"))
          .write.format("polar").option("root", root).mode("append").save()
        // read the three topics back through one subscription and verify
        // per-topic counts, key spread and the event-id checksum
        val back = s.read.format("polar")
          .option("root", root).option("topics", "rt0,rt1,rt2").load()
        back
          .withColumn("event_id",
            get_json_object(col("value").cast("string"), "$.event_id").cast("long"))
          .groupBy(col("topic"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("partitionKey")).as("n_keys"),
            sum(col("event_id")).as("sum_ids"))
      },
      Some("""
        SELECT 'rt' || CAST(event_id % 3 AS VARCHAR) AS topic,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids
        FROM events GROUP BY 1""")),

    QueryDef(
      "polar_truncate",
      // TRUNCATE TABLE = delete-records-to-tail (kafka-delete-records at
      // the tail): every segment drops, producer offsets STAY, so the next
      // produce continues the dense numbering — replayed consumers and
      // checkpoints never see an offset reused. Gated: post-truncate
      // emptiness and offset continuity required inline; the re-inserted
      // half replays exactly against the oracle.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        if (!s.conf.getOption("spark.sql.catalog.polar_gate").isDefined) {
          s.conf.set("spark.sql.catalog.polar_gate",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set("spark.sql.catalog.polar_gate.root",
            Files.createTempDirectory("graft_polar_sql").toString)
        }
        val topic = "trunc-" + java.util.UUID.randomUUID().toString.take(12)
        s.sql(s"CREATE TABLE polar_gate.`$topic`")
        Tables.events(s, dir).createOrReplaceTempView("events_trunc_src")
        def insert(parity: Int): Unit = s.sql(s"""
          INSERT INTO polar_gate.`$topic`
          SELECT CAST(user_id AS STRING) AS partitionKey, ts AS timestamp,
                 CAST(props AS BINARY) AS value
          FROM events_trunc_src WHERE event_id % 2 = $parity""")
        insert(0)
        val before = s.sql(s"SELECT count(*) FROM polar_gate.`$topic`")
          .head().getLong(0)
        require(before > 0, "fixture produced nothing")
        val gateCfg = graft.log.TopicConfig(
          s.conf.get("spark.sql.catalog.polar_gate.root"), topic)
        val preTails = graft.log.PolarLog.tails(gateCfg)
        s.sql(s"TRUNCATE TABLE polar_gate.`$topic`")
        require(s.sql(s"SELECT count(*) FROM polar_gate.`$topic`")
          .head().getLong(0) == 0L, "truncate left rows behind")
        insert(1)
        // offsets CONTINUE past the truncated history, per partition (a
        // partition untouched by the first insert legitimately starts at 0)
        val restarts = s.sql(
          s"SELECT part, min(offset) FROM polar_gate.`$topic` GROUP BY 1")
          .collect().filter(r => r.getLong(1) < preTails(r.getInt(0)))
        require(restarts.isEmpty,
          s"offsets restarted after truncate: ${restarts.mkString(",")}")
        s.sql(s"""
          SELECT partitionKey AS pk, count(*) AS n,
                 count(DISTINCT CAST(value AS STRING)) AS n_vals
          FROM polar_gate.`$topic` GROUP BY 1""")
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n,
               COUNT(DISTINCT props) AS n_vals
        FROM events WHERE event_id % 2 = 1 GROUP BY 1""")),

    QueryDef(
      "polar_batch_offsets",
      // Kafka BATCH parity: explicit per-partition offset windows via the
      // startingOffsets / endingOffsets JSON options (sentinels -2/-1 =
      // earliest/tail). Single-partition topic so the window's exact
      // CONTENTS are oracle-replayable: offsets are the global
      // (timestamp, value, key) order, and the read must return precisely
      // rows [5, tail-3) — both edges, not just counts, hash-verified.
      (s, dir) => {
        val root = Files.createTempDirectory("graft_batch_off").toString
        val cfg = TopicConfig(root, "bo", 1, 1)
        val recs = Tables.events(s, dir).filter(col("event_id") < 400)
          .select(col("user_id").cast("string").as("partitionKey"),
            col("ts").as("timestamp"), col("props").as("value"))
        val n = PolarLog.produce(recs, cfg,
          orderBy = Seq(col("timestamp"), col("value"), col("partitionKey")))
          .recordsWritten
        require(n > 10, s"fixture too small: $n")
        s.read.format("polar")
          .option("root", root).option("topic", "bo")
          .option("startingOffsets", """{"0": 5}""")
          .option("endingOffsets", s"""{"0": ${n - 3}}""")
          .load()
          .select(col("offset").as("off"), col("partitionKey").as("pk"),
            col("value").cast("string").as("val"))
      },
      Some("""
        WITH ordered AS (
          SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS TIMESTAMP), props,
                   CAST(user_id AS VARCHAR)) - 1 AS off,
                 CAST(user_id AS VARCHAR) AS pk, props AS val,
                 COUNT(*) OVER () AS total
          FROM events WHERE event_id < 400)
        SELECT off, pk, val FROM ordered
        WHERE off >= 5 AND off < total - 3""")),

    QueryDef(
      "polar_batch_ts_start",
      // batch `startingTimestamp` (Kafka parity, record-exact): the
      // registry ts stats pick each partition's candidate file, one
      // bounded read refines to the FIRST record with ts >= T, and the
      // scan starts exactly there — no compensating filter. Single
      // partition + ts-ordered produce make the cut oracle-replayable as
      // a plain WHERE; the aggregate/ts-top-N pushes refuse under the
      // seek (asserted via the plan).
      (s, dir) => {
        val root = Files.createTempDirectory("graft_batch_ts").toString
        val cfg = TopicConfig(root, "bts", 1, 1)
        val recs = Tables.events(s, dir).filter(col("event_id") < 400)
          .select(col("user_id").cast("string").as("partitionKey"),
            col("ts").as("timestamp"), col("props").as("value"))
        PolarLog.produce(recs, cfg,
          orderBy = Seq(col("timestamp"), col("value"), col("partitionKey")))
        // a mid-log window: median start, 87th-percentile EXCLUSIVE end
        val sorted = Tables.events(s, dir).filter(col("event_id") < 400)
          .select(unix_micros(col("ts"))).sort(col("unix_micros(ts)"))
          .collect().map(_.getLong(0))
        val (cut, cutEnd) = (sorted(199), sorted(349))
        // ISO-8601 carries the full micros precision (epoch-millis would
        // truncate and admit records just under the cut)
        def iso(t: Long) = java.time.Instant.ofEpochSecond(
          t / 1000000L, (t % 1000000L) * 1000L).toString
        val df = s.read.format("polar")
          .option("root", root).option("topic", "bts")
          .option("startingTimestamp", iso(cut))
          // exclusive end: the window stops at the first record with
          // ts >= T2 (Kafka endingTimestamp)
          .option("endingTimestamp", iso(cutEnd))
          .load()
        val aggPlan = df.groupBy().agg(count(lit(1)))
          .queryExecution.executedPlan.toString
        require(!aggPlan.contains("PolarAggScan"),
          s"aggregate push must refuse under a ts seek:\n$aggPlan")
        df.select(col("offset").as("off"), col("partitionKey").as("pk"),
          col("value").cast("string").as("val"))
      },
      Some("""
        WITH ordered AS (
          SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS TIMESTAMP), props,
                   CAST(user_id AS VARCHAR)) - 1 AS off,
                 CAST(user_id AS VARCHAR) AS pk, props AS val, ts
          FROM events WHERE event_id < 400),
        cut AS (
          SELECT ts AS c FROM ordered ORDER BY ts LIMIT 1 OFFSET 199),
        cut2 AS (
          SELECT ts AS c FROM ordered ORDER BY ts LIMIT 1 OFFSET 349)
        SELECT off, pk, val FROM ordered
        WHERE ts >= (SELECT c FROM cut) AND ts < (SELECT c FROM cut2)""")),

    QueryDef(
      "polar_meta_tables",
      // Iceberg-style metadata tables: `polar.<topic>.files | partitions |
      // history` surface the registry as SQL relations (driver-side
      // LocalScan, zero file I/O). Gated over the shared 4-commit fixture:
      // the three views' record arithmetic must agree with each other AND
      // replay against the raw table — files covers per-segment counts,
      // partitions the tails, history the commit ledger.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        val (cfg, versions) = SharedTopics.segmentedEvents(s, dir)
        // one catalog per fixture root (catalog instances are cached by
        // name after first load, so the name carries the root)
        val cat = "polar_meta_" +
          java.lang.Integer.toHexString(cfg.root.hashCode & 0x7fffffff)
        if (!s.conf.getOption(s"spark.sql.catalog.$cat").isDefined) {
          s.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.PolarCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$cat.root", cfg.root)
        }
        val t = cfg.topic
        // write-path ts stats always land: provable in pure SQL
        require(s.sql(s"SELECT count(*) FROM $cat.`$t`.files " +
            "WHERE ts_nulls IS NULL OR ts_nulls > 0").head().getLong(0) == 0L,
          "fixture files must carry exact null-free ts stats")
        require(s.sql(s"SELECT count(*) FROM $cat.`$t`.history").head()
          .getLong(0).toInt == versions.length,
          "history must list one row per commit")
        s.sql(s"""
          SELECT 'files' AS src, sum(records) AS records FROM $cat.`$t`.files
          UNION ALL
          SELECT 'partitions', sum(records) FROM $cat.`$t`.partitions
          UNION ALL
          SELECT 'history_head', max(records) FROM $cat.`$t`.history
          UNION ALL
          SELECT 'versions', count(*) FROM $cat.`$t`.history""")
      },
      Some("""
        SELECT 'files' AS src, COUNT(*) AS records FROM events
        UNION ALL SELECT 'partitions', COUNT(*) FROM events
        UNION ALL SELECT 'history_head', COUNT(*) FROM events
        UNION ALL SELECT 'versions', 4""")),

    QueryDef(
      "polar_http_roundtrip",
      (s, dir) => {
        // the full HTTP serving surface (A1/A15/A19/A32) driven end-to-end:
        // NDJSON bodies produced over the wire (concurrently — the server
        // coalescer batches them), consumed back through register/poll/
        // commit/goodbye, and the polled JSON items parsed into per-range
        // counts the oracle reproduces from the placement kernel.
        import org.apache.spark.sql.types._
        import java.net.http.{HttpClient, HttpRequest, HttpResponse}
        val root = Files.createTempDirectory("graft_polar_http").toString
        val server = new graft.serving.PolarHttpServer(s, root).start()
        try {
          val base = s"http://127.0.0.1:${server.boundPort}"
          val client = HttpClient.newHttpClient()
          val subset = Tables.events(s, dir)
            .select(col("user_id").cast("string").as("pk"), col("props"))
            .filter(col("pk").isin(Tables.events(s, dir)
              .select(col("user_id").cast("string")).distinct()
              .orderBy(col("user_id").cast("string")).limit(24)
              .collect().map(_.getString(0)).toSeq: _*))
            .collect().groupBy(_.getString(0))
          val posts = subset.toSeq.map { case (pk, rows) =>
            val body = rows.map(_.getString(1)).mkString("\n")
            client.sendAsync(
              HttpRequest.newBuilder(java.net.URI.create(
                s"$base/v1/topic/http-rt/messages?partitionKey=$pk&timestamp=1000000"))
                .header("Content-Type", "application/x-ndjson")
                .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
              HttpResponse.BodyHandlers.ofString())
          }
          posts.foreach { f =>
            val r = f.join()
            require(r.statusCode() == 200, s"produce failed: ${r.body()}")
          }
          def send(method: String, path: String, accept: String = "*/*") =
            client.send(HttpRequest.newBuilder(java.net.URI.create(s"$base$path"))
              .method(method, HttpRequest.BodyPublishers.noBody())
              .header("Accept", accept).build(),
              HttpResponse.BodyHandlers.ofString())
          require(send("PUT",
            "/v1/consumer/register?consumerId=c&group=g&topic=http-rt&onNewGroup=startFromEarliest")
            .statusCode() == 200)
          val poll = send("POST", "/v1/consumer/poll?consumerId=c", "application/json")
          require(poll.statusCode() == 200, s"poll: ${poll.statusCode()}")
          val drained = send("POST", "/v1/consumer/poll?consumerId=c").statusCode() == 204
          require(send("POST", "/v1/consumer/goodbye?consumerId=c").statusCode() == 200)
          import s.implicits._
          val itemSchema = StructType(Seq(
            StructField("token", StringType),
            StructField("rangeIndex", LongType),
            StructField("values", ArrayType(StringType))))
          // a top-level JSON array parses as one row per element
          s.read.schema(itemSchema).json(s.createDataset(Seq(poll.body())))
            .withColumn("v", explode(col("values")))
            .groupBy(col("token"), col("rangeIndex"))
            .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("n_distinct"))
            .withColumn("drained", lit(drained))
        } finally server.stop()
      },
      Some {
        val tokens = (0 until 3)
          .map(i => graft.functions.TokenMath.tokenAtIndex(3, i).toString)
        s"""WITH subset AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS pk FROM events
            ORDER BY pk LIMIT 24),
          recs AS (
            SELECT CAST(user_id AS VARCHAR) AS pk, props FROM events
            WHERE CAST(user_id AS VARCHAR) IN (SELECT pk FROM subset)),
          keys AS (SELECT pk FROM subset),
          ${OracleSql.murmur3H1ShortKeyCtes},
          placed AS (
            SELECT r.pk, r.props, CAST($part34Sql AS INTEGER) AS part
            FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
          SELECT CASE part // 4 WHEN 0 THEN '${tokens(0)}'
                                WHEN 1 THEN '${tokens(1)}'
                                ELSE '${tokens(2)}' END AS token,
                 CAST(part % 4 AS BIGINT) AS rangeIndex,
                 COUNT(*) AS n, COUNT(DISTINCT props) AS n_distinct,
                 TRUE AS drained
          FROM placed GROUP BY part"""
      }),

    QueryDef(
      "polar_frames_ingest",
      (s, dir) => {
        // one framed binary body per user — {u32-BE len}{bytes} per event,
        // assembled with pure column expressions (unhex(lpad(hex(len))) is
        // the big-endian length prefix) — split back into records by the
        // polar_frames ingestion path (A5); count proves the round trip
        val root = Files.createTempDirectory("graft_polar_f").toString
        val cfg = TopicConfig(root, "frames")
        val frame = concat(
          // prefix counts BYTES of the UTF-8 body, not characters — length()
          // over the binary cast, so non-ASCII props frame correctly
          unhex(lpad(hex(length(col("props").cast("binary"))), 8, "0")),
          col("props").cast("binary"))
        val bodies = Tables.events(s, dir)
          .select(col("user_id").cast("string").as("partitionKey"), frame.as("f"))
          .groupBy(col("partitionKey"))
          .agg(aggregate(collect_list(col("f")),
            lit(Array.emptyByteArray), (acc, x) => concat(acc, x)).as("body"))
        graft.log.TopicOps.ingestFrames(bodies, cfg)
        PolarLog.consume(s, cfg).agg(count(lit(1)).as("n_records"))
      },
      Some("SELECT COUNT(*) AS n_records FROM events")),

    QueryDef(
      "polar_concurrent_produce",
      (s, dir) => {
        // MANY CONCURRENT PRODUCERS (reference: per-partition coalescer
        // serializes arrivals from any number of producers,
        // internal/producing/coalescer.go:24-27): two produce jobs race on
        // the same topic from two threads; the CAS loser rebases its baked
        // offsets and retries. Regardless of which commit wins, the log
        // must hold BOTH batches with dense per-partition offsets — so the
        // per-partition (count, offset span, distinct offsets) triple is
        // deterministic and oracle-checkable from `events` alone.
        val root = Files.createTempDirectory("graft_polar_cc").toString
        val cfg = TopicConfig(root, "ccprod")
        def half(rem: Int) = Tables.events(s, dir)
          .filter(pmod(col("event_id"), lit(2)) === rem)
          .select(col("user_id").cast("string").as("partitionKey"),
            col("ts").as("timestamp"), col("props").as("value"))
        val start = new java.util.concurrent.CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until 2).map { i =>
          val t = new Thread(() => {
            start.await()
            try PolarLog.produce(half(i), cfg,
              orderBy = Seq(col("timestamp"), col("value"))): Unit
            catch { case e: Throwable => errs.add(e) }
          })
          t.start(); t
        }
        start.countDown()
        threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            countDistinct(col("offset")).as("n_off"))
      },
      Some(s"""
        WITH recs AS (SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) AS n, COUNT(*) AS off_span, COUNT(*) AS n_off
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_retention",
      (s, dir) => {
        // RETENTION GC (A25, internal/data/datalog_cleaner.go): batch A
        // (even event_ids) and batch B (odd) commit with a real time gap;
        // a sweep whose window lands between the two commits
        // unregisters-then-deletes exactly A's segments (file-granularity,
        // CAS visibility). Offsets never renumber, so per partition the
        // survivors must be the window [countA, countA+countB) — n /
        // off_span / min_off are all oracle-computable from `events` plus
        // the placement mirror, proving the cut deleted a dense prefix and
        // nothing else.
        // clone the shared 4-commit fixture (mutating gate); a sweep whose
        // window lands between commits 2 and 3 must delete exactly the
        // first two slices' segments
        val (shared, versions) = SharedTopics.segmentedEvents(s, dir)
        val cfg = SharedTopics.cloneTopic(shared)
        val meta = LogMetadata.read(cfg)
        val v2files = LogMetadata.readAt(cfg, versions(1)).files
          .map(f => (f.part, f.name)).toSet
        val older = meta.files.filter(f => v2files.contains((f.part, f.name)))
          .map(_.createdMs).max
        val newer = meta.files.filterNot(f => v2files.contains((f.part, f.name)))
          .map(_.createdMs).min
        require(older < newer, "fixture commits lack a createdMs gap")
        val cutoff = (older + newer) / 2
        val now = System.currentTimeMillis()
        new RetentionScheduler(cfg.root, retentionMs = now - cutoff).sweep(now)
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            min(col("offset")).as("min_off"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, event_id % 4 AS rem FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, r.rem, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part,
               CAST(SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n,
               COUNT(*) AS off_span,
               CAST(SUM(CASE WHEN rem < 2 THEN 1 ELSE 0 END) AS BIGINT) AS min_off
        FROM placed GROUP BY part
        HAVING SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) > 0""")),

    QueryDef(
      "polar_retention_bytes",
      (s, dir) => {
        // SIZE-BASED RETENTION (Kafka retention.bytes, per partition):
        // clone the shared 4-commit fixture; the cap is chosen from the
        // registry so Kafka's head-delete predicate (delete while the
        // remainder stays at/above the cap) keeps exactly the last two
        // slices in EVERY partition — survivors are the same dense
        // [countA+countB, tail) window polar_retention proves, so the two
        // trim axes (age, size) share one oracle.
        val cfg = SharedTopics.cloneTopic(SharedTopics.segmentedEvents(s, dir)._1)
        val meta = LogMetadata.read(cfg)
        val byPart = meta.filesByPart.collect {
          case (p, v) if v.nonEmpty => p -> v.sortBy(_.minOffset)
        }
        require(byPart.valuesIterator.forall(_.size == 4),
          "fixture must hold one file per slice per partition")
        val cap = byPart.valuesIterator.map(_.takeRight(2).map(_.bytes).sum).min
        require(byPart.valuesIterator.forall(_.last.bytes < cap),
          "fixture skew too high for a two-slice cut")
        graft.log.LogMetadata.updateProps(cfg)(
          _ + (graft.log.TopicProps.RetentionBytes -> cap.toString))
        new RetentionScheduler(cfg.root,
          retentionMs = 365L * 24 * 3600 * 1000).sweep()
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            min(col("offset")).as("min_off"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, event_id % 4 AS rem FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, r.rem, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part,
               CAST(SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n,
               COUNT(*) AS off_span,
               CAST(SUM(CASE WHEN rem < 2 THEN 1 ELSE 0 END) AS BIGINT) AS min_off
        FROM placed GROUP BY part
        HAVING SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) > 0""")),

    QueryDef(
      "polar_file_delete_delay",
      (s, dir) => {
        // file.delete.delay.ms (r12): the reader-protection window between
        // unregistration and physical delete. Clone the shared 4-commit
        // fixture, configure a 1 h delay, and age-trim the first two
        // slices: the trim must (a) hide them from NEW plans immediately
        // (n = the last-two-slices count, polar_retention's oracle), while
        // (b) a plan taken BEFORE the trim still reads everything
        // (pre_n = the full count — the held files keep it executable),
        // and (c) vacuum holds the files inside the window and reclaims
        // them past it, pruning the ledger (protocol_ok). One gate proves
        // visibility, the reader window, and the reclaim deadline at once.
        val (shared, versions) = SharedTopics.segmentedEvents(s, dir)
        val cfg = SharedTopics.cloneTopic(shared)
        graft.log.LogMetadata.updateProps(cfg)(
          _ + (graft.log.TopicProps.FileDeleteDelayMs -> "3600000"))
        val meta = LogMetadata.read(cfg)
        val v2files = LogMetadata.readAt(cfg, versions(1)).files
          .map(f => (f.part, f.name)).toSet
        val doomedFiles = meta.files.filter(f => v2files((f.part, f.name)))
        val doomedPaths = doomedFiles.map(_.path(cfg))
        val older = doomedFiles.map(_.createdMs).max
        val newer = meta.files.filterNot(f => v2files.contains((f.part, f.name)))
          .map(_.createdMs).min
        require(older < newer, "fixture commits lack a createdMs gap")
        val preTrim = PolarLog.consume(s, cfg) // planned pre-trim, lazy
        val now = System.currentTimeMillis()
        new RetentionScheduler(cfg.root,
          retentionMs = now - (older + newer) / 2).sweep(now)
        def onDisk(p: String) = new java.io.File(p).isFile
        // huge manifest grace isolates the DATA-file protocol from routine
        // superseded-manifest reclamation at the shifted clocks below
        val mGrace = Long.MaxValue / 2
        def ledgerPaths = LogMetadata.read(cfg).pendingDeletes
          .map(pd => s"${cfg.dir}/part=${pd.part}/${pd.name}").toSet
        val held = doomedPaths.nonEmpty && doomedPaths.forall(onDisk) &&
          doomedPaths.toSet.subsetOf(ledgerPaths) && {
            PolarLog.vacuum(cfg, manifestGraceMs = mGrace,
              nowMs = now + 3599_000L, dataGraceMs = 0L)
            doomedPaths.forall(onDisk) &&
              doomedPaths.toSet.subsetOf(ledgerPaths)
          }
        // the held files keep the pre-trim plan executable — materialize
        // its per-part counts NOW (bounded: one row per partition), before
        // the reclaim below deletes the files it reads
        val preRows = preTrim.groupBy(col("part"))
          .agg(count(lit(1)).as("pre_n")).collect()
        val pre = s.createDataFrame(
          java.util.Arrays.asList(preRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("part",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("pre_n",
              org.apache.spark.sql.types.LongType))))
        PolarLog.vacuum(cfg, manifestGraceMs = mGrace,
          nowMs = now + 3601_000L, dataGraceMs = 0L)
        val reclaimed = doomedPaths.forall(p => !onDisk(p)) &&
          (ledgerPaths & doomedPaths.toSet).isEmpty
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            min(col("offset")).as("min_off"))
          .join(pre, "part")
          .withColumn("protocol_ok", lit(held && reclaimed))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, event_id % 4 AS rem FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, r.rem, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part,
               CAST(SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n,
               COUNT(*) AS off_span,
               CAST(SUM(CASE WHEN rem < 2 THEN 1 ELSE 0 END) AS BIGINT) AS min_off,
               COUNT(*) AS pre_n,
               TRUE AS protocol_ok
        FROM placed GROUP BY part
        HAVING SUM(CASE WHEN rem >= 2 THEN 1 ELSE 0 END) > 0""")),

    QueryDef(
      "polar_compaction_lag",
      (s, dir) => {
        // min.compaction.lag.ms (r12): one latest-per-key fact per user,
        // superseded once, sealed. A cleaning pass INSIDE the lag removes
        // nothing (young segments are excluded from the pass and the
        // winner map — Kafka's guarantee that a consumer reading within
        // the lag sees the full intermediate history); the same pass
        // clocked past the lag compacts normally.
        val root = Files.createTempDirectory("graft_polar_lag").toString
        val cfg = TopicConfig(root, "clag")
        val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
        // checkpoint the distinct keyset once: both produces consume it
        // (was: two identical distinct-shuffles over events, guide §2.4)
        val users = graft.Materialize.localCheckpoint(Tables.events(s, dir)
          .select(col("user_id").cast("string").as("partitionKey")).distinct())
        PolarLog.produce(users.select(col("partitionKey"),
          t0.as("timestamp"), col("partitionKey").cast("binary").as("value")), cfg)
        PolarLog.produce(users.select(col("partitionKey"), t0.as("timestamp"),
          concat(lit("x"), col("partitionKey")).cast("binary").as("value")), cfg)
        PolarLog.produce(s.range(500).select(
          concat(lit("s"), col("id")).cast("string").as("partitionKey"),
          t0.as("timestamp"), lit("z").cast("binary").as("value")), cfg)
        graft.log.LogMetadata.updateProps(cfg)(
          _ + (graft.log.TopicProps.CleanupPolicy -> "compact")
            + (graft.log.TopicProps.MinCompactionLagMs -> "3600000"))
        val now = System.currentTimeMillis()
        val removedWithin =
          graft.sources.PolarLogCleaner.cleanKeys(s, cfg, nowMs = now)
        val nWithin = PolarLog.consume(s, cfg).count()
        val removedPast = graft.sources.PolarLogCleaner.cleanKeys(
          s, cfg, nowMs = now + 2L * 3600000L)
        val nPast = PolarLog.consume(s, cfg).count()
        val spark2 = s; import spark2.implicits._
        Seq(("within_lag", removedWithin, nWithin),
          ("past_lag", removedPast, nPast))
          .toDF("stage", "removed", "n_raw")
      },
      Some("""
        SELECT 'within_lag' AS stage, CAST(0 AS BIGINT) AS removed,
               CAST(2 * COUNT(DISTINCT user_id) + 500 AS BIGINT) AS n_raw
        FROM events
        UNION ALL
        SELECT 'past_lag' AS stage,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS removed,
               CAST(COUNT(DISTINCT user_id) + 500 AS BIGINT) AS n_raw
        FROM events""")),

    QueryDef(
      "polar_compression",
      (s, dir) => {
        // compression.type (r12): the same frame lands in an uncompressed
        // topic and a default-zstd one — contents identical (both counts
        // replay from events), registered bytes provably larger without
        // compression. The codec is a pure storage property; nothing
        // about offsets, placement or values may change with it.
        val root = Files.createTempDirectory("graft_polar_codec").toString
        val un = TopicConfig(root, "cun")
        val zs = TopicConfig(root, "czs")
        graft.log.LogMetadata.updateProps(un)(
          _ + (graft.log.TopicProps.CompressionType -> "uncompressed"))
        val recs = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        PolarLog.produce(recs, un)
        PolarLog.produce(recs, zs)
        val bytesUn = LogMetadata.read(un).files.map(_.bytes).sum
        val bytesZs = LogMetadata.read(zs).files.map(_.bytes).sum
        val nUn = PolarLog.consume(s, un).count()
        val nZs = PolarLog.consume(s, zs).count()
        val spark2 = s; import spark2.implicits._
        Seq(("uncompressed", nUn, bytesUn > bytesZs),
          ("zstd", nZs, false))
          .toDF("codec", "n", "larger_than_zstd")
      },
      Some("""
        SELECT 'uncompressed' AS codec, COUNT(*) AS n,
               TRUE AS larger_than_zstd FROM events
        UNION ALL
        SELECT 'zstd' AS codec, COUNT(*) AS n,
               FALSE AS larger_than_zstd FROM events""")),

    QueryDef(
      "polar_ts_type",
      (s, dir) => {
        // message.timestamp.type (r12): the same producer frame lands in a
        // CreateTime topic (keeps the 2024 event times) and a
        // LogAppendTime topic (every timestamp forced to the append
        // wall-clock) — the two modes provably diverge on a "timestamp at
        // or after produce start" count, and ts-seek follows the
        // CONFIGURED time: CreateTime seeks past everything (sum of seeks
        // = sum of tails = N), LogAppendTime seeks to each partition's
        // first offset (sum 0).
        val root = Files.createTempDirectory("graft_polar_tst").toString
        val ct = TopicConfig(root, "tsc")
        val la = TopicConfig(root, "tsl")
        graft.log.LogMetadata.updateProps(la)(
          _ + (graft.log.TopicProps.MessageTimestampType -> "LogAppendTime"))
        val t0Ms = System.currentTimeMillis()
        val recs = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        PolarLog.produce(recs, ct)
        PolarLog.produce(recs, la)
        val spark2 = s; import spark2.implicits._
        Seq(ct -> "CreateTime", la -> "LogAppendTime").map { case (cfg, mode) =>
          val log = PolarLog.consume(s, cfg)
          val n = log.count()
          val recent = log.filter(unix_micros(col("timestamp")) >= t0Ms * 1000L)
            .count()
          val seekSum = PolarLog.offsetsForTimestamp(s, cfg, t0Ms * 1000L)
            .values.sum
          (mode, n, recent, seekSum)
        }.toDF("mode", "n", "n_recent", "seek_sum")
      },
      Some("""
        SELECT 'CreateTime' AS mode, COUNT(*) AS n,
               CAST(0 AS BIGINT) AS n_recent, COUNT(*) AS seek_sum
        FROM events
        UNION ALL
        SELECT 'LogAppendTime' AS mode, COUNT(*) AS n,
               COUNT(*) AS n_recent, CAST(0 AS BIGINT) AS seek_sum
        FROM events""")),

    QueryDef(
      "polar_ts_bounds",
      (s, dir) => {
        // KIP-937 timestamp bounds (r12): the same 2024-event-time frame
        // against five topic configurations. A wide before-bound admits
        // the historical timestamps (and proves the finite-bound plan
        // path passes clean data); a tight before-bound rejects the whole
        // produce with NOTHING half-registered; the legacy symmetric
        // difference.max.ms alias rejects a future-shifted frame; a
        // LogAppendTime topic carrying the same tight bounds ignores them
        // (Kafka validates CreateTime only); and a tight after-bound
        // rejects the future-shifted frame on an otherwise-open topic.
        val root = Files.createTempDirectory("graft_polar_tsb").toString
        import graft.log.TopicProps._
        def topic(name: String, props: (String, String)*): TopicConfig = {
          val cfg = TopicConfig(root, name)
          LogMetadata.updateProps(cfg)(_ ++ props.toMap)
          cfg
        }
        val century = 100L * 365 * 24 * 3600 * 1000
        val wide = topic("tbw", MessageTimestampBeforeMaxMs -> (3 * century).toString)
        val tight = topic("tbt", MessageTimestampBeforeMaxMs -> "60000")
        val legacy = topic("tbl", MessageTimestampDifferenceMaxMs -> "60000")
        val la = topic("tba", MessageTimestampType -> "LogAppendTime",
          MessageTimestampBeforeMaxMs -> "60000",
          MessageTimestampAfterMaxMs -> "60000")
        val fut = topic("tbf", MessageTimestampAfterMaxMs -> "60000")
        val recs = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        val futureRecs = recs.withColumn("timestamp",
          col("timestamp") + expr("INTERVAL 100 YEARS"))
        def attempt(df: DataFrame, cfg: TopicConfig): Boolean =
          try { PolarLog.produce(df, cfg); false }
          catch {
            case e: Exception
                if Iterator.iterate(e: Throwable)(_.getCause)
                  .takeWhile(_ != null)
                  .exists(t => Option(t.getMessage).exists(_.contains("out of range"))) =>
              true
          }
        val spark2 = s; import spark2.implicits._
        Seq(
          ("create_wide", attempt(recs, wide), wide),
          ("create_tight", attempt(recs, tight), tight),
          ("legacy_alias_future", attempt(futureRecs, legacy), legacy),
          ("log_append_ignores", attempt(recs, la), la),
          ("after_max_future", attempt(futureRecs, fut), fut))
          .map { case (mode, rejected, cfg) =>
            (mode, rejected, PolarLog.consume(s, cfg).count())
          }.toDF("mode", "rejected", "n")
      },
      Some("""
        SELECT 'create_wide' AS mode, FALSE AS rejected, COUNT(*) AS n FROM events
        UNION ALL
        SELECT 'create_tight' AS mode, TRUE AS rejected, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT 'legacy_alias_future' AS mode, TRUE AS rejected, CAST(0 AS BIGINT) AS n
        UNION ALL
        SELECT 'log_append_ignores' AS mode, FALSE AS rejected, COUNT(*) AS n FROM events
        UNION ALL
        SELECT 'after_max_future' AS mode, TRUE AS rejected, CAST(0 AS BIGINT) AS n""")),

    QueryDef(
      "polar_compact",
      (s, dir) => {
        // SEGMENT COMPACTION: four per-request-sized produces leave four
        // small segments per partition; one compaction pass merges each
        // partition's run into a single full segment — offsets, order and
        // rows preserved exactly (the consume aggregate replays from
        // `events`), and the oracle-checkable n_files column proves every
        // data-bearing partition ended at ONE registered file.
        // clone the shared 4-commit fixture (mutating gate): four small
        // segments per data-bearing partition, compacted to one
        val cfg = SharedTopics.cloneTopic(SharedTopics.segmentedEvents(s, dir)._1)
        val merged = graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2)
        require(merged > 0, "compaction merged nothing")
        val meta = LogMetadata.read(cfg)
        val fileCounts: Map[Int, Long] =
          meta.filesByPart.map { case (p, v) => p -> v.size.toLong }.toMap
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            min(col("offset")).as("min_off"))
          .withColumn("n_files",
            element_at(typedLit(fileCounts), col("part").cast("int")))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) AS n, COUNT(*) AS off_span,
               CAST(0 AS BIGINT) AS min_off, CAST(1 AS BIGINT) AS n_files
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_segment_ms",
      (s, dir) => {
        // segment.ms (r12): the age ceiling of one segment, honored as the
        // maximum createdMs SPAN a compaction run may cover (merged files
        // carry the newest member's stamp forward, so an unbounded merge
        // would delay age/size retention of its oldest records). The
        // cloned 4-commit fixture is restamped as hourly produces; under a
        // 90-minute ceiling every 4-segment partition must compact to
        // EXACTLY 2 segments — neither 4 (no merge) nor 1 (span ignored) —
        // with rows preserved (the consume count replays from `events`).
        val cfg = SharedTopics.cloneTopic(SharedTopics.segmentedEvents(s, dir)._1)
        val hour = 3600L * 1000
        LogMetadata.compareAndSet(cfg, LogMetadata.read(cfg)) { m =>
          m.copy(filesByPart = m.filesByPart.map { case (p, fseq) =>
            p -> fseq.sortBy(_.minOffset).zipWithIndex.map {
              case (fe, i) => fe.copy(createdMs = i * hour)
            }
          })
        }
        LogMetadata.updateProps(cfg)(_ +
          (graft.log.TopicProps.SegmentMs -> (90L * 60 * 1000).toString))
        val quartets = LogMetadata.read(cfg).filesByPart
          .collect { case (p, fseq) if fseq.size == 4 => p }.toSet
        val merged = graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2)
        val after = LogMetadata.read(cfg)
        val splitOk = quartets.nonEmpty && merged > 0 &&
          quartets.forall(p => after.filesByPart(p).size == 2)
        val n = PolarLog.consume(s, cfg).count()
        val spark2 = s; import spark2.implicits._
        Seq(("rows_preserved", n),
          ("quartets_split_in_two", if (splitOk) 1L else 0L))
          .toDF("chk", "n")
      },
      Some("""
        SELECT 'rows_preserved' AS chk, COUNT(*) AS n FROM events
        UNION ALL
        SELECT 'quartets_split_in_two' AS chk, CAST(1 AS BIGINT) AS n""")),

    QueryDef(
      "polar_vacuum",
      (s, dir) => {
        // ORPHAN RECLAMATION: compaction with deleteOriginals=false leaves
        // the superseded segments on disk as unregistered orphans (safe
        // for in-flight readers that planned pre-compaction); vacuum with
        // an expired grace deletes exactly those files and nothing
        // registered. The gate asserts files were merged AND reclaimed,
        // then replays the consume aggregate — registry-planned reads are
        // byte-identical before and after the reclaim.
        // clone the shared 4-commit fixture (mutating gate)
        val cfg = SharedTopics.cloneTopic(SharedTopics.segmentedEvents(s, dir)._1)
        val merged = graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2, deleteOriginals = false)
        require(merged > 0, "compaction merged nothing")
        val deleted = PolarLog.vacuum(cfg, dataGraceMs = 0L)
        require(deleted > 0, "vacuum reclaimed no orphaned segments")
        val meta = LogMetadata.read(cfg)
        // every on-disk parquet must now be registered (no orphans left)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(cfg.dir), s.sparkContext.hadoopConfiguration)
        val registered = meta.files.map(f => s"part=${f.part}/${f.name}").toSet
        val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(cfg.dir))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
          .flatMap(p => fs.listStatus(p.getPath))
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}")
          .toSet
        require(onDisk == registered,
          s"orphans remain or registered files missing: ${onDisk.diff(registered)}")
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), (max(col("offset")) + 1).as("off_span"),
            min(col("offset")).as("min_off"))
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) AS n, COUNT(*) AS off_span,
               CAST(0 AS BIGINT) AS min_off
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_changes_batch",
      // BATCH CHANGE FEED through read options (Delta CDF parity):
      // four produces; the (v1, v3] window via startingVersion +
      // endingVersion must return exactly produces 2 and 3 — excluding
      // both the base (≤ v1) and the post-window produce (> v3). Counts
      // per key hash-verified from the raw table.
      (s, dir) => {
        // reads the SHARED segmented fixture in place (4 commits of the
        // %4 slices): the (v1, v3] window must be exactly slices 1 and 2
        val (cfg, versions) = SharedTopics.segmentedEvents(s, dir)
        s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic)
          .option("startingVersion", versions(0).toString)
          .option("endingVersion", versions(2).toString)
          .load()
          .groupBy(col("partitionKey").as("pk"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n
        FROM events WHERE event_id % 4 IN (1, 2) GROUP BY 1""")),

    QueryDef(
      "polar_sql_tvf",
      // pure-SQL lakehouse reads (table-valued functions): polar_changes
      // replays the (v1, v3] window and polar_compacted the KTable view —
      // both from ONE SQL statement, answers identical to the library API
      // by construction (the TVF embeds its analyzed plan). Window counts
      // and latest-per-key values hash-verified against the raw table.
      (s, dir) => {
        graft.GraftSession.ensureFunctions(s)
        // read-only over the shared 4-commit fixture: polar_changes replays
        // the (v1, head] window (slices 1-3), polar_compacted the latest
        // record per key across all four commits
        val (cfg, versions) = SharedTopics.segmentedEvents(s, dir)
        s.sql(s"""
          SELECT c.pk, c.n_changed, k.last_value FROM
            (SELECT partitionKey AS pk, COUNT(*) AS n_changed
             FROM polar_changes('${cfg.root}', '${cfg.topic}', ${versions(0)})
             GROUP BY 1) c
          JOIN
            (SELECT partitionKey AS pk, CAST(value AS STRING) AS last_value
             FROM polar_compacted('${cfg.root}', '${cfg.topic}')) k
          USING (pk)""")
      },
      Some("""
        WITH ch AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n_changed
          FROM events WHERE event_id % 4 IN (1, 2, 3) GROUP BY 1),
        last AS (
          SELECT pk, last_value FROM (
            SELECT CAST(user_id AS VARCHAR) AS pk, props AS last_value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY event_id % 4 DESC,
                              CAST(ts AS TIMESTAMP) DESC, props DESC) AS rn
            FROM events) WHERE rn = 1)
        SELECT ch.pk AS pk, ch.n_changed, last.last_value
        FROM ch JOIN last ON ch.pk = last.pk""")),

    QueryDef(
      "polar_copartition_join",
      // STORAGE-PARTITIONED JOIN: two topics share the placement layout,
      // so a join on (part, partitionKey) runs with NO exchange under the
      // join — each log partition joins against its twin in place (the
      // Iceberg SPJ shape; at 100 TB this removes both full-topic
      // shuffles). Plan asserted exchange-free below the join; pair
      // counts per key hash-verified against the raw table.
      (s, dir) => {
        val root = Files.createTempDirectory("graft_polar_spj").toString
        def half(rem: Int, name: String): TopicConfig = {
          val c = TopicConfig(root, name)
          PolarLog.produce(Tables.events(s, dir)
            .filter(pmod(col("event_id"), lit(10)) === rem)
            .select(col("user_id").cast("string").as("partitionKey"),
              col("ts").as("timestamp"), col("props").as("value")), c,
            orderBy = Seq(col("timestamp"), col("value")))
          c
        }
        val (ca, cb) = (half(0, "ja"), half(1, "jb"))
        def rd(c: TopicConfig) = s.read.format("polar")
          .option("root", c.root).option("topic", c.topic).load()
          .select(col("part"), col("partitionKey"))
        // the SPJ confs GraftSession sets for deployments, pinned locally so
        // the gate is self-contained under any harness session
        val pins = Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
        val prev = pins.map { case (k, _) =>
          k -> scala.util.Try(s.conf.get(k)).toOption }
        try {
          pins.foreach { case (k, v) => s.conf.set(k, v) }
          val j = rd(ca).join(rd(cb), Seq("part", "partitionKey"))
          val plan = j.queryExecution.executedPlan.toString
          val at = plan.indexOf("SortMergeJoin")
          require(at >= 0 && !plan.substring(at).contains("Exchange"),
            s"expected exchange-free storage-partitioned join:\n$plan")
          j.groupBy(col("partitionKey").as("pk"))
            .agg(count(lit(1)).as("n_pairs"))
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        WITH h0 AS (SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1),
             h1 AS (SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n
                    FROM events WHERE event_id % 10 = 1 GROUP BY 1)
        SELECT h0.pk AS pk, h0.n * h1.n AS n_pairs
        FROM h0 JOIN h1 ON h0.pk = h1.pk""")),

    QueryDef(
      "polar_idempotent_producer",
      // transactional produce: the SAME (producerId, seq) delivered twice
      // registers once — the engine's producer-side exactly-once (the
      // streaming sink's sinkCommits machinery, exposed for batch retries:
      // a job that crashes between produce and its own bookkeeping can
      // blindly re-run). Counts replayed through the placement kernel.
      (s, dir) => {
        val root = Files.createTempDirectory("graft_polar_idem").toString
        val cfg = TopicConfig(root, "idem")
        val recs = Tables.events(s, dir).select(
          col("user_id").cast("string").as("partitionKey"),
          col("ts").as("timestamp"), col("props").as("value"))
        val txn = Some(("producer-A", 0L))
        PolarLog.produce(recs, cfg,
          orderBy = Seq(col("timestamp"), col("value")), txn = txn)
        val r2 = PolarLog.produce(recs, cfg,
          orderBy = Seq(col("timestamp"), col("value")), txn = txn)
        require(r2.recordsWritten == 0L,
          s"replayed txn wrote ${r2.recordsWritten} records")
        // a NEW sequence from the same producer appends normally
        PolarLog.produce(recs.limit(0), cfg, txn = Some(("producer-A", 1L)))
        PolarLog.consume(s, cfg)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n"), countDistinct(col("offset")).as("n_off"))
      },
      Some(s"""
        WITH recs AS (SELECT CAST(user_id AS VARCHAR) AS pk FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk)
        SELECT part, COUNT(*) AS n, COUNT(*) AS n_off
        FROM placed GROUP BY part""")),

    QueryDef(
      "polar_compacted_view",
      // KTable/log-compaction semantics as a query: latest record per key
      // by offset. The shared topic was produced in (timestamp, value)
      // order, so within a key max-offset == max (timestamp, value) — the
      // oracle replays that argmax from the raw table without needing the
      // placement hash. n_versions cross-checks no loss before compaction.
      (s, dir) => {
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val compacted = PolarLog.consumeCompacted(s, cfg)
          .select(col("partitionKey").as("pk"),
            col("value").cast("string").as("last_value"))
        val versions = PolarLog.consume(s, cfg)
          .filter(col("partitionKey").isNotNull)
          .groupBy(col("partitionKey").as("pk"))
          .agg(count(lit(1)).as("n_versions"))
        compacted.join(versions, "pk")
      },
      Some("""
        SELECT pk, last_value, n_versions FROM (
          SELECT CAST(user_id AS VARCHAR) AS pk, props AS last_value,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_versions,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, props DESC) AS rn
          FROM events) WHERE rn = 1""")),

    QueryDef(
      "polar_key_pushdown",
      // key-equality data skipping: partitionKey IN (...) plans only the
      // owning partitions (placement is deterministic), asserted from the
      // executed plan's scan description; the VALUES are verified against
      // the raw table — so both the pruning and its exactness are gated.
      // At 100 TB this is the point-lookup path: 3 keys → ≤3 of 12
      // partitions' files planned, zero I/O on the rest.
      (s, dir) => {
        val (cfg, _) = SharedTopics.eventsProps(s, dir)
        val keys = Seq("1", "2", "3")
        val df = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .filter(col("partitionKey").isin(keys: _*))
        val owners = keys.map(k => graft.functions.TokenMath.partitionForToken(
          graft.functions.Murmur3.hashString(k),
          cfg.clusterSize, cfg.rangesPerToken)).toSet
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("parts=Set("), s"no partition pruning in plan:\n$plan")
        require(owners.forall(p => plan.contains(p.toString)) &&
          !plan.contains("parts=all"),
          s"expected owners $owners pruned into the scan:\n$plan")
        df.groupBy(col("partitionKey").as("pk"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("value").cast("string")).as("n_vals"),
            date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"))
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n,
               COUNT(DISTINCT props) AS n_vals,
               strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1""")),

    QueryDef(
      "polar_key_file_skip",
      // the SECOND pruning tier of a point lookup: beyond the owning-
      // partition skip, the pushed keys ride into every split and become a
      // parquet stats/dictionary/bloom predicate, so segments of the owning
      // partition that provably don't hold the keys never decode. Gated
      // over the 4-commit fixture (four segments per partition) so the
      // pushed predicate must stay exact ACROSS segment boundaries; the
      // plan must carry the keys into the scan; values replay exactly.
      (s, dir) => {
        val (cfg, _) = SharedTopics.segmentedEvents(s, dir)
        val keys = Seq("7", "11", "23")
        val df = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic).load()
          .filter(col("partitionKey").isin(keys: _*))
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("keys=3,"),
          s"pushed keys missing from the scan:\n$plan")
        require(plan.contains("parts=Set("), s"no partition pruning:\n$plan")
        df.groupBy(col("partitionKey").as("pk"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("value").cast("string")).as("n_vals"),
            date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("first_ts"),
            date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_ts"))
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS pk, COUNT(*) AS n,
               COUNT(DISTINCT props) AS n_vals,
               strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
               strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        FROM events WHERE user_id IN (7, 11, 23) GROUP BY 1""")),

    QueryDef(
      "polar_vacuum_dry",
      (s, dir) => {
        // VACUUM DRY RUN (the preflight every table format's VACUUM
        // ships): compaction with originals kept leaves exactly 2
        // superseded segments per data-bearing partition (two produces,
        // one file each, merged to one); the dry run must COUNT them
        // without deleting anything — asserted by re-listing — and the
        // real vacuum must then reclaim exactly the dry-run's number.
        // clone the shared 4-commit fixture (mutating gate): up to four
        // superseded originals per data-bearing partition
        val cfg = SharedTopics.cloneTopic(SharedTopics.segmentedEvents(s, dir)._1)
        require(graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2, deleteOriginals = false) > 0,
          "compaction merged nothing")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(cfg.dir), s.sparkContext.hadoopConfiguration)
        def onDisk(): Long = fs.listStatus(new org.apache.hadoop.fs.Path(cfg.dir))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
          .map(p => fs.listStatus(p.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong)
          .sum
        val before = onDisk()
        val wouldReclaim = PolarLog.vacuum(cfg, dataGraceMs = 0L,
          manifestGraceMs = Long.MaxValue / 2, dryRun = true)
        require(onDisk() == before, "dry run deleted files")
        val reclaimed = PolarLog.vacuum(cfg, dataGraceMs = 0L,
          manifestGraceMs = Long.MaxValue / 2)
        require(reclaimed == wouldReclaim,
          s"dry run promised $wouldReclaim, vacuum reclaimed $reclaimed")
        s.createDataFrame(Seq((wouldReclaim.toLong, onDisk())))
          .toDF("n_reclaimable", "n_files_after")
      },
      Some(s"""
        WITH recs AS (
          SELECT CAST(user_id AS VARCHAR) AS pk, event_id % 4 AS rem
          FROM events),
        keys AS (SELECT DISTINCT pk FROM recs),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT r.pk, r.rem, CAST($part34Sql AS INTEGER) AS part
          FROM recs r JOIN murmur_tok t ON r.pk = t.pk),
        pp AS (
          SELECT part, COUNT(DISTINCT rem) AS nf FROM placed GROUP BY part)
        SELECT CAST(SUM(CASE WHEN nf >= 2 THEN nf ELSE 0 END)
                 AS BIGINT) AS n_reclaimable,
               COUNT(*) AS n_files_after
        FROM pp""")),

    QueryDef(
      "polar_time_travel",
      (s, dir) => {
        // TIME TRAVEL: two produces, one version capture in between. The
        // versionAsOf batch read plans against the retained root snapshot
        // (commit-versioned, reclaimed by vacuum past the manifest grace)
        // and must see EXACTLY the first produce; the head read sees
        // both. Snapshot isolation over the tail-append registry — the
        // lakehouse counterpart of the reference's versioned ownership
        // doc (SURVEY §2 A11/A27).
        // read-only over the shared 4-commit fixture: as-of v1 sees slice
        // 0 exactly, the head sees all four
        val (cfg, versions) = SharedTopics.segmentedEvents(s, dir)
        def rd(asOf: Option[Long]) = {
          val r = s.read.format("polar")
            .option("root", cfg.root).option("topic", cfg.topic)
          asOf.fold(r)(v => r.option("versionAsOf", v.toString)).load()
        }
        rd(Some(versions(0)))
          .select(lit("asof").as("snapshot"), col("partitionKey"))
          .unionAll(rd(None).select(lit("head").as("snapshot"), col("partitionKey")))
          .groupBy(col("snapshot"), col("partitionKey").cast("long").as("user_id"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT 'asof' AS snapshot, user_id, COUNT(*) AS n
        FROM events WHERE event_id % 4 = 0 GROUP BY 2
        UNION ALL
        SELECT 'head' AS snapshot, user_id, COUNT(*) AS n
        FROM events GROUP BY 2""")),

    QueryDef(
      "polar_time_travel_compact",
      (s, dir) => {
        // COMPACTION × TIME TRAVEL: compaction (originals kept) supersedes
        // v1's data files in the head registry but leaves them on disk —
        // the data grace window — so an as-of read of v1 still succeeds
        // and must see EXACTLY the first produce (materialized pre-vacuum).
        // After vacuum reclaims the orphans, the same as-of read fails
        // LOUDLY at scan, never silently partial — the snapshot-isolation
        // contract every table format documents for vacuumed versions.
        // clone the shared 4-commit fixture (mutating gate): as-of v1 is
        // slice 0, materialized before vacuum reclaims its segments
        val (shared, versions) = SharedTopics.segmentedEvents(s, dir)
        val cfg = SharedTopics.cloneTopic(shared)
        val v1 = versions(0)
        val headCount = LogMetadata.read(cfg).producerOffsets.sum
        val merged = graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2, deleteOriginals = false)
        require(merged > 0, "compaction merged nothing")
        def asof = s.read.format("polar")
          .option("root", cfg.root).option("topic", cfg.topic)
          .option("versionAsOf", v1.toString).load()
        val asofRows = asof
          .groupBy(col("partitionKey").cast("long").as("user_id"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val reclaimed = PolarLog.vacuum(cfg, dataGraceMs = 0L)
        require(reclaimed > 0, "vacuum reclaimed no superseded segments")
        require(PolarLog.consume(s, cfg).count() == headCount,
          "head read perturbed")
        // the probe must touch DATA: a bare count(*) is answered from the
        // registry's dense offset stats without file I/O (and stays right)
        val failsLoud = scala.util.Try(asof.select(col("value")).collect()).isFailure
        s.createDataFrame(asofRows).toDF("user_id", "n")
          .withColumn("fails_after_vacuum", lit(failsLoud))
      },
      Some("""
        SELECT user_id, COUNT(*) AS n, TRUE AS fails_after_vacuum
        FROM events WHERE event_id % 4 = 0 GROUP BY 1""")),

    QueryDef(
      "polar_changes",
      (s, dir) => {
        // CHANGE FEED: three produces, versions captured between them; the
        // (v1, v2] delta must be EXACTLY the middle produce — no leakage
        // from the first commit or from appends past v2. Incremental batch
        // consumption via version checkpoints instead of a streaming
        // checkpoint (the Delta-CDF pattern over the append-only log).
        // read-only over the shared 4-commit fixture: the (v1, v2] delta
        // is exactly slice 1 — no leakage from the base or later commits
        val (cfg, versions) = SharedTopics.segmentedEvents(s, dir)
        PolarLog.changesBetween(s, cfg, versions(0), Some(versions(1)))
          .groupBy(col("partitionKey").cast("long").as("user_id"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("value").cast("string")).as("n_vals"))
      },
      Some("""
        SELECT user_id, COUNT(*) AS n, COUNT(DISTINCT props) AS n_vals
        FROM events WHERE event_id % 4 = 1 GROUP BY 1""")),

    QueryDef(
      "polar_history",
      (s, dir) => {
        // COMMIT HISTORY (DESCRIBE HISTORY): three produces leave three
        // retained versions whose cumulative record counts the oracle
        // replays from the raw table; in-doc commit times must be
        // monotone with version order (the versionAt binary-search
        // invariant, asserted in-gate — wall times aren't replayable).
        // read-only over the shared 4-commit fixture: four retained
        // versions with cumulative %4-slice record counts
        val (cfg, _) = SharedTopics.segmentedEvents(s, dir)
        val hist = LogMetadata.history(cfg)
        require(hist.map(_.commitMs) == hist.map(_.commitMs).sorted &&
          hist.forall(_.commitMs > 0), "commit times not monotone with versions")
        s.createDataFrame(hist.map(m => (m.version, m.producerOffsets.sum)))
          .toDF("version", "n_records")
      },
      Some("""
        WITH c AS (SELECT
          CAST(SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN event_id % 4 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          CAST(SUM(CASE WHEN event_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n012,
          COUNT(*) AS nall FROM events)
        SELECT CAST(1 AS BIGINT) AS version, n0 AS n_records FROM c
        UNION ALL SELECT CAST(2 AS BIGINT), n01 FROM c
        UNION ALL SELECT CAST(3 AS BIGINT), n012 FROM c
        UNION ALL SELECT CAST(4 AS BIGINT), nall FROM c""")),

    QueryDef(
      "pipeline_dataset_card_log",
      (s, dir) => {
        // DATASET CARD WITH LOG PROVENANCE — the reproducibility story
        // time travel exists to serve: a corpus release is cut FROM a
        // topic snapshot, and its card records WHICH snapshot (commit
        // version), the physical layout it shipped with (post-compaction
        // segment count), and the registry-retained record count,
        // alongside the content stats. Two produces + one compaction CAS
        // give a deterministic version; compaction leaves exactly one
        // segment per data-bearing partition, which the oracle replays
        // through the placement kernel.
        val root = Files.createTempDirectory("graft_polar_card").toString
        val cfg = TopicConfig(root, "corpus")
        def half(rem: Int) = graft.Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(2)) === rem)
          .select(col("doc_id").cast("string").as("partitionKey"),
            col("text").cast("binary").as("value"))
        PolarLog.produce(half(0), cfg)
        PolarLog.produce(half(1), cfg)
        require(graft.sources.PolarCompaction.compact(s, cfg,
          smallBytes = 1L << 30, minRun = 2) > 0, "compaction merged nothing")
        val meta = LogMetadata.read(cfg)
        PolarLog.consume(s, cfg)
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("value").cast("string"))).as("n_chars"),
            count_distinct(col("value").cast("string")).as("n_distinct"))
          .select(col("n_docs"), col("n_chars"),
            floor(lit(1e6) * (col("n_docs") - col("n_distinct")).cast("double") /
              col("n_docs")).cast("long").as("dup_rate_q"),
            lit(meta.version).as("snapshot_version"),
            lit(meta.files.size.toLong).as("n_segments"),
            lit(meta.files.map(_.count).sum).as("n_registered"))
      },
      Some(s"""
        WITH keys AS (
          SELECT DISTINCT CAST(doc_id AS VARCHAR) AS pk FROM documents),
        ${OracleSql.murmur3H1ShortKeyCtes},
        placed AS (
          SELECT k2.pk, CAST($part34Sql AS INTEGER) AS part
          FROM keys k2 JOIN murmur_tok t ON k2.pk = t.pk)
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(floor(1000000.0 *
                 CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE) /
                 COUNT(*)) AS BIGINT) AS dup_rate_q,
               CAST(3 AS BIGINT) AS snapshot_version,
               (SELECT COUNT(DISTINCT part) FROM placed) AS n_segments,
               COUNT(*) AS n_registered
        FROM documents""")),

    QueryDef(
      "polar_ndjson_ingest",
      (s, dir) => {
        // one NDJSON body per user (lines = that user's props, produce order),
        // split into one record per line by the ingestion path
        val root = Files.createTempDirectory("graft_polar_n").toString
        val cfg = TopicConfig(root, "ndjson")
        val bodies = Tables.events(s, dir)
          .groupBy(col("user_id").cast("string").as("partitionKey"))
          .agg(concat_ws("\n", collect_list(col("props"))).as("body"))
        PolarLog.ingestNdjson(bodies, cfg)
        PolarLog.consume(s, cfg).agg(count(lit(1)).as("n_records"))
      },
      Some("SELECT COUNT(*) AS n_records FROM events")))
}
