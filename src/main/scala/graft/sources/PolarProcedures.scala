package graft.sources

import graft.log.{ConsumerGroups, LogMetadata, PolarLog, TopicConfig, Transactions, TxnJournal}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/**
 * SQL maintenance surface — Iceberg's stored-procedure shape
 * (`CALL polar.system.compact(topic => 'events')`) over the engine's own
 * maintenance APIs, so an operator can run every upkeep task from pure
 * SQL (SURVEY §2 A25/A32: retention cleaner, compaction, vacuum, history,
 * group offset reset — the reference's admin endpoints,
 * `/root/reference/internal/consuming/server.go`):
 *
 * {{{
 *   CALL polar.system.compact(topic => 'events')
 *   CALL polar.system.clean_retention(topic => 'events', retention_ms => 604800000)
 *   CALL polar.system.vacuum(topic => 'events', dry_run => true)
 *   CALL polar.system.history(topic => 'events')
 *   CALL polar.system.reset_offsets(group_id => 'etl', topic => 'events',
 *                                   mode => 'to-timestamp', value => '2024-01-10T00:00:00Z')
 * }}}
 *
 * Each call returns its result as rows (a driver-side [[LocalScan]] — the
 * outputs are O(partitions) or O(versions), never data-sized). All
 * procedures execute driver-side metadata CAS operations exactly like
 * their library twins; `compact` runs the segment copies as Spark jobs.
 */
private[sources] abstract class PolarProcedure(
    procName: String,
    params: Seq[ProcedureParameter],
    outSchema: StructType) extends UnboundProcedure { self =>

  /** Execute with the CALL's resolved argument row (parameter order). */
  def run(spark: SparkSession, args: InternalRow): Seq[InternalRow]

  override def name(): String = procName
  override def description(): String = s"polar maintenance procedure $procName"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = self.name()
    override def description(): String = self.description()
    override def parameters(): Array[ProcedureParameter] = params.toArray
    // maintenance mutates the log — never constant-folded or re-run
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // NB: named so the LocalScan's own `rows()` cannot shadow it
      val produced = run(SparkSession.active, input).toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = produced
        override def readSchema(): StructType = outSchema
        override def description(): String = s"polar.system.${self.name()}"
      }).iterator()
    }
  }
}

private[sources] object PolarProcedures {
  import ProcedureParameter.in

  /** All procedures for a catalog rooted at `root` with default ring
    * geometry — one instance per catalog. */
  def all(root: String, clusterSize: Int, rangesPerToken: Int)
      : Map[String, UnboundProcedure] = {
    // Geometry from the PERSISTED metadata, exactly as loadTable does —
    // a topic created with TBLPROPERTIES overrides (or resized) must not
    // be enumerated with the catalog-default partition count: reset_offsets
    // would cover the wrong partitions and the group-doc REPLACE would drop
    // committed offsets for the rest. Catalog defaults apply only to topics
    // with no metadata yet (nothing to enumerate there anyway).
    def cfgOf(args: InternalRow, idx: Int): TopicConfig = {
      val probe = TopicConfig(root, args.getUTF8String(idx).toString,
        clusterSize, rangesPerToken)
      LogMetadata.readIfExists(probe) match {
        case Some(meta) =>
          probe.copy(clusterSize = meta.clusterSize,
            rangesPerToken = meta.rangesPerToken)
        case None => probe
      }
    }

    val compact = new PolarProcedure(
      "compact",
      Seq(in("topic", StringType).build(),
        in("small_bytes", LongType).defaultValue((64L << 20).toString).build(),
        in("min_run", IntegerType).defaultValue("2").build()),
      StructType(Seq(StructField("merged_runs", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](PolarCompaction.compact(
          spark, cfgOf(a, 0), smallBytes = a.getLong(1), minRun = a.getInt(2)))))
    }

    val cleanRetention = new PolarProcedure(
      "clean_retention",
      Seq(in("topic", StringType).build(),
        in("retention_ms", LongType).build()),
      StructType(Seq(StructField("deleted_files", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](
          PolarLog.cleanRetention(cfgOf(a, 0), retentionMs = a.getLong(1)))))
    }

    val vacuum = new PolarProcedure(
      "vacuum",
      Seq(in("topic", StringType).build(),
        in("dry_run", BooleanType).defaultValue("false").build(),
        in("manifest_grace_ms", LongType)
          .defaultValue((10L * 60 * 1000).toString).build(),
        in("data_grace_ms", LongType).defaultValue("0").build()),
      StructType(Seq(StructField("reclaimed_files", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](PolarLog.vacuum(cfgOf(a, 0),
          manifestGraceMs = a.getLong(2), dataGraceMs = a.getLong(3),
          dryRun = a.getBoolean(1)))))
    }

    val history = new PolarProcedure(
      "history",
      Seq(in("topic", StringType).build()),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("commit_ms", LongType, nullable = false),
        StructField("files", IntegerType, nullable = false),
        StructField("records", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        LogMetadata.history(cfgOf(a, 0)).map(m => new GenericInternalRow(Array[Any](
          m.version, m.commitMs, m.files.size, m.producerOffsets.sum)))
    }

    val resetOffsets = new PolarProcedure(
      "reset_offsets",
      Seq(in("group_id", StringType).build(),
        in("topic", StringType).build(),
        in("mode", StringType)
          .comment("earliest | latest | to-timestamp | shift-by").build(),
        in("value", StringType).defaultValue("CAST(NULL AS STRING)").build()),
      StructType(Seq(
        StructField("part", IntegerType, nullable = false),
        StructField("offset", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        def value: String = {
          if (a.isNullAt(3)) throw new IllegalArgumentException(
            s"mode '${a.getUTF8String(2)}' requires 'value'")
          a.getUTF8String(3).toString.trim
        }
        val mode = a.getUTF8String(2).toString.toLowerCase match {
          case "earliest" | "to-earliest" => ConsumerGroups.ToEarliest
          case "latest" | "to-latest" => ConsumerGroups.ToLatest
          case "to-timestamp" => ConsumerGroups.ToTimestamp(
            // epoch-millis or an ISO-8601 instant, like `startingTimestamp`
            graft.log.PolarLog.epochOrIsoMicros(value))
          case "shift-by" => ConsumerGroups.ShiftBy(value.toLong)
          case other => throw new IllegalArgumentException(
            s"unknown reset mode '$other' " +
              "(earliest | latest | to-timestamp | shift-by)")
        }
        ConsumerGroups.resetOffsets(spark, cfgOf(a, 1),
            a.getUTF8String(0).toString, mode)
          .toSeq.sortBy(_._1)
          .map { case (p, o) => new GenericInternalRow(Array[Any](p, o)) }
      }
    }

    val deleteRecords = new PolarProcedure(
      "delete_records",
      // one global cutoff, or a per-partition JSON map ('{"part":offset}',
      // -1 = that partition's tail) — the kafka-delete-records CLI shape
      Seq(in("topic", StringType).build(),
        in("before_offset", StringType)
          .comment("offset, or '{\"part\":offset,...}' (-1 = tail)").build()),
      StructType(Seq(StructField("deleted_files", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val cfg = cfgOf(a, 0)
        val arg = a.getUTF8String(1).toString.trim
        // deleteRecords resolves -1 = tail natively; this only parses
        val cuts: Map[Int, Long] =
          if (arg.startsWith("{")) ConsumerGroups.parseOffsetMap(arg)
          else
            PolarLog.tails(cfg).keys.map(_ -> arg.toLong).toMap
        Seq(new GenericInternalRow(Array[Any](
          PolarLog.deleteRecords(cfg, cuts))))
      }
    }

    val merge = new PolarProcedure(
      "merge",
      // the SQL face of PolarLog.merge — `MERGE INTO polar.t` itself
      // refuses (engine-assigned offset/token/part make SQL MERGE's
      // column-assignment contract unsound); this procedure carries the
      // same clause matrix with the log's append semantics
      Seq(in("topic", StringType).build(),
        in("source", StringType)
          .comment("table/view with (partitionKey, value[, timestamp]); NULL value = delete").build(),
        in("matched_update", BooleanType).defaultValue("true").build(),
        in("matched_delete", BooleanType).defaultValue("true").build(),
        in("not_matched_insert", BooleanType).defaultValue("true").build()),
      StructType(Seq(StructField("appended", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val res = PolarLog.merge(spark, cfgOf(a, 0),
          spark.table(a.getUTF8String(1).toString),
          matchedUpdate = a.getBoolean(2),
          matchedDelete = a.getBoolean(3),
          notMatchedInsert = a.getBoolean(4))
        Seq(new GenericInternalRow(Array[Any](res.recordsWritten)))
      }
    }

    val cleanKeys = new PolarProcedure(
      "clean_keys",
      // the Kafka log cleaner: physically rewrite clean-region segments of
      // a compacted topic keeping latest-per-key (offsets preserved,
      // survivors sparse); the scheduler runs this automatically for
      // cleanup.policy=compact topics — this is the manual trigger
      Seq(in("topic", StringType).build(),
        in("drop_tombstones", BooleanType).defaultValue("false").build()),
      StructType(Seq(StructField("removed_records", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](PolarLogCleaner.cleanKeys(
          spark, cfgOf(a, 0), dropTombstones = a.getBoolean(1)))))
    }

    val analyze = new PolarProcedure(
      "analyze",
      Seq(in("topic", StringType).build()),
      StructType(Seq(StructField("updated_files", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](
          PolarAnalyze.analyzeTsStats(spark, cfgOf(a, 0)))))
    }

    // transaction observability from pure SQL — the procedure face of
    // `GET /v1/admin/txns`: routed-commit journals (a `failed` row is an
    // operator-action queue whose staged files vacuum protects) and
    // producer transactions with state/epoch/age
    val txns = new PolarProcedure(
      "txns",
      Seq.empty,
      StructType(Seq(
        StructField("kind", StringType, nullable = false),
        StructField("id", StringType, nullable = false),
        StructField("state", StringType, nullable = false),
        StructField("epoch", LongType, nullable = true),
        StructField("age_ms", LongType, nullable = true),
        // consecutive failed recovery sweeps (state reads `failed` once
        // past the escalation threshold — an operator-action queue, the
        // producer-txn analog of a journal's `.failed` marker)
        StructField("sweep_failures", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val now = System.currentTimeMillis()
        val journals = TxnJournal.list(root, includeFailed = true)
          .sortBy(_.path).map { j =>
            val name = new org.apache.hadoop.fs.Path(j.path).getName
            val state =
              if (name.endsWith(".failed")) "failed"
              else if (j.complete) "live" else "incomplete"
            new GenericInternalRow(Array[Any](
              UTF8String.fromString("journal"), UTF8String.fromString(name),
              UTF8String.fromString(state), null,
              math.max(0L, now - j.ageAnchorMs), 0))
          }
        val failures = Transactions.recoveryFailures(root)
        val producers = Transactions.list(root).map { case (id, st) =>
          val (state, epoch, age) = st match {
            case Transactions.Open(e, anchor, _) =>
              ("open", e: java.lang.Long, math.max(0L, now - anchor): java.lang.Long)
            case Transactions.Committed(e) =>
              ("committed", if (e >= 0) e: java.lang.Long else null, null)
            case Transactions.Aborted(e) =>
              ("aborted", if (e >= 0) e: java.lang.Long else null, null)
            case Transactions.Unknown => ("unknown", null, null)
          }
          val (shownState, fails) = failures.get(id) match {
            case Some((n, _)) => ("failed", n)
            case None => (state, 0)
          }
          new GenericInternalRow(Array[Any](
            UTF8String.fromString("producer"), UTF8String.fromString(id),
            UTF8String.fromString(shownState), epoch, age, fails))
        }
        journals ++ producers
      }
    }

    // -- producer-transaction lifecycle from pure SQL (Kafka's
    //    initTransactions/commitTransaction/abortTransaction face): a
    //    SQL-first user runs the EOS loop end-to-end —
    //    CALL polar.system.begin_txn(id => 'etl') → epoch,
    //    transactional produces via the DSv2 write options, then
    //    CALL polar.system.commit_txn(id => 'etl', epoch => <epoch>).
    val beginTxn = new PolarProcedure(
      "begin_txn",
      Seq(in("id", StringType).build(),
        in("timeout_ms", LongType)
          .defaultValue(Transactions.DefaultTimeoutMs.toString)
          .comment("Kafka's transaction.timeout.ms: idle past this, the sweep aborts")
          .build()),
      StructType(Seq(StructField("epoch", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val h = Transactions.begin(root, a.getUTF8String(0).toString, a.getLong(1))
        Seq(new GenericInternalRow(Array[Any](h.epoch)))
      }
    }

    val commitTxn = new PolarProcedure(
      "commit_txn",
      Seq(in("id", StringType).build(),
        in("epoch", LongType)
          .comment("the fencing epoch begin_txn returned").build()),
      StructType(Seq(StructField("committed", BooleanType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        Transactions.commit(Transactions.TxnHandle(
          root, a.getUTF8String(0).toString, a.getLong(1)))
        Seq(new GenericInternalRow(Array[Any](true)))
      }
    }

    val abortTxn = new PolarProcedure(
      "abort_txn",
      Seq(in("id", StringType).build(),
        in("epoch", LongType)
          .comment("the fencing epoch begin_txn returned").build()),
      StructType(Seq(StructField("aborted", BooleanType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        Transactions.abort(Transactions.TxnHandle(
          root, a.getUTF8String(0).toString, a.getLong(1)))
        Seq(new GenericInternalRow(Array[Any](true)))
      }
    }

    // Kafka's sendOffsetsToTransaction: stage `group`'s position on
    // `topic` inside the transaction, so the consume-transform-produce
    // loop commits records AND progress atomically. With no explicit
    // offsets JSON the group's CURRENT committed position is staged —
    // the common pattern after pollAndCommit-style processing is instead
    // to pass the poll's nextOffsets explicitly.
    val sendOffsetsTxn = new PolarProcedure(
      "send_offsets",
      Seq(in("id", StringType).build(),
        in("epoch", LongType).build(),
        in("topic", StringType).build(),
        in("group_id", StringType).build(),
        in("offsets", StringType)
          .defaultValue("''")
          .comment("""per-partition next offsets as {"0":12,...}; '' = the group's committed position""")
          .build()),
      StructType(Seq(StructField("staged_partitions", IntegerType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val cfg = cfgOf(a, 2)
        val group = a.getUTF8String(3).toString
        val json = a.getUTF8String(4).toString
        val offsets =
          if (json.trim.isEmpty)
            ConsumerGroups.committed(cfg, group).getOrElse(
              throw new IllegalArgumentException(
                s"group '$group' has no committed position on ${cfg.topic}; " +
                  "pass offsets explicitly"))
          else ConsumerGroups.parseOffsetMap(json)
        Transactions.sendOffsets(Transactions.TxnHandle(
          root, a.getUTF8String(0).toString, a.getLong(1)), cfg, group, offsets)
        Seq(new GenericInternalRow(Array[Any](offsets.size)))
      }
    }

    // -- writer lease from pure SQL (the r15 single-authority enforcement,
    //    [[graft.log.WriterLease]]): acquire/renew happen implicitly on the
    //    write path once acquired; these procedures are the operator face.
    val acquireLease = new PolarProcedure(
      "acquire_lease",
      Seq(in("holder", StringType).build(),
        in("ttl_ms", LongType)
          .defaultValue(graft.log.WriterLease.DefaultTtlMs.toString)
          .comment("lease TTL; the write path auto-renews at half-TTL")
          .build(),
        in("takeover", BooleanType)
          .defaultValue("false")
          .comment("seize a LIVE foreign lease — only if that driver is dead")
          .build()),
      StructType(Seq(
        StructField("epoch", LongType, nullable = false),
        StructField("deadline_ms", LongType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val l = graft.log.WriterLease.acquire(root,
          a.getUTF8String(0).toString, a.getLong(1), a.getBoolean(2))
        Seq(new GenericInternalRow(Array[Any](l.epoch, l.deadlineMs)))
      }
    }

    val releaseLease = new PolarProcedure(
      "release_lease",
      Seq.empty,
      StructType(Seq(StructField("released", BooleanType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        graft.log.WriterLease.release(root)
        Seq(new GenericInternalRow(Array[Any](true)))
      }
    }

    val leaseInfo = new PolarProcedure(
      "lease",
      Seq.empty,
      StructType(Seq(
        StructField("holder", StringType, nullable = true),
        StructField("epoch", LongType, nullable = true),
        StructField("deadline_ms", LongType, nullable = true),
        StructField("live", BooleanType, nullable = false),
        StructField("held_by_this_driver", BooleanType, nullable = false)))) {
      override def run(spark: SparkSession, a: InternalRow): Seq[InternalRow] = {
        val now = System.currentTimeMillis()
        val standing = graft.log.WriterLease.current(root)
        val mine = graft.log.WriterLease.heldLease(root)
        Seq(new GenericInternalRow(Array[Any](
          standing.map(l => UTF8String.fromString(l.holderId)).orNull,
          standing.map(_.epoch: java.lang.Long).orNull,
          standing.map(_.deadlineMs: java.lang.Long).orNull,
          standing.exists(_.deadlineMs > now),
          mine.isDefined)))
      }
    }

    Seq(compact, cleanRetention, vacuum, history, resetOffsets, analyze,
        deleteRecords, merge, cleanKeys, txns, beginTxn, commitTxn, abortTxn,
        sendOffsetsTxn, acquireLease, releaseLease, leaseInfo)
      .map(p => p.name() -> (p: UnboundProcedure)).toMap
  }
}
