package graft.streaming

import graft.log.{PolarLog, TopicConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/**
 * Streaming facade over the polar log.
 *
 * Consume: `read(spark, cfg)` = `spark.readStream.format("polar")` — each
 * micro-batch is an offset delta per partition (see
 * [[graft.sources.PolarMicroBatchStream]]); the query's checkpoint is the
 * consumer group (offset commit store) of the reference.
 *
 * Produce: `write(df, cfg, checkpoint)` — a foreachBatch sink whose every
 * micro-batch is one [[PolarLog.produce]] call: the batch IS the coalescer
 * group (`/root/reference/internal/producing/coalescer.go:81-172` — greedy
 * grouping with a drain window ≈ the trigger interval), and the produce
 * commit (files + metadata CAS) is the durable-ack boundary, so records
 * become visible to consumers only after their batch commits — the
 * reference's ack-after-replication contract (SURVEY.md §2 A6/A10).
 * Exactly-once: each batch commits with a `(checkpoint, batchId)` txn
 * marker in the topic metadata, so a batch replayed after a crash between
 * produce commit and checkpoint advance is recognized at the CAS authority
 * and dropped — the Delta-style idempotent-sink upgrade over the
 * reference's at-least-once redelivery contract.
 */
object PolarStream {

  /** Streaming consume of a topic. `maxBytesPerTrigger` is the reference's
    * `ConsumerReadThreshold` byte-bounded admission (2 MiB default there,
    * `/root/reference/internal/conf/config.go:278-280`), charged from the
    * file registry's exact byte stats. */
  def read(
      spark: SparkSession,
      cfg: TopicConfig,
      startingOffsets: String = "latest",
      maxRecordsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format("polar")
      .option("root", cfg.root)
      .option("topic", cfg.topic)
      .option("clusterSize", cfg.clusterSize)
      .option("rangesPerToken", cfg.rangesPerToken)
      .option("startingOffsets", startingOffsets)
    maxRecordsPerTrigger.foreach(n => r = r.option("maxRecordsPerTrigger", n))
    maxBytesPerTrigger.foreach(n => r = r.option("maxBytesPerTrigger", n))
    r.load()
  }

  /** Streaming CHANGE FEED: the stream's first micro-batch is exactly the
    * records appended after commit `startingVersion` (the (v, head] version
    * window), and the query then follows the live head — the streaming twin
    * of [[PolarLog.changesBetween]], Delta's `readChangeFeed`/
    * `startingVersion` shape over the append-only log. The version must
    * still be retained (vacuum grace window); a reclaimed version fails
    * loudly at stream start instead of silently starting elsewhere. */
  def readChanges(
      spark: SparkSession,
      cfg: TopicConfig,
      startingVersion: Long,
      maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format("polar")
      .option("root", cfg.root)
      .option("topic", cfg.topic)
      .option("clusterSize", cfg.clusterSize)
      .option("rangesPerToken", cfg.rangesPerToken)
      .option("startingVersion", startingVersion)
    maxRecordsPerTrigger.foreach(n => r = r.option("maxRecordsPerTrigger", n))
    r.load()
  }

  /** Streaming consume of SEVERAL topics in one query — the reference's
    * consumers register for topic lists
    * (`/root/reference/internal/types/models.go:34-39`). All topics must
    * share a root and cluster topology (clusterSize × rangesPerToken is
    * cluster-global in the reference); offsets are tracked per
    * (topic, partition) in the query's checkpoint. */
  def readTopics(
      spark: SparkSession,
      cfgs: Seq[TopicConfig],
      startingOffsets: String = "latest",
      maxRecordsPerTrigger: Option[Long] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    require(cfgs.nonEmpty, "readTopics requires at least one topic")
    require(cfgs.map(_.root).distinct.size == 1,
      "all subscribed topics must share a root")
    require(cfgs.map(c => (c.clusterSize, c.rangesPerToken)).distinct.size == 1,
      "all subscribed topics must share the cluster topology")
    var r = spark.readStream.format("polar")
      .option("root", cfgs.head.root)
      .option("topics", cfgs.map(_.topic).mkString(","))
      .option("clusterSize", cfgs.head.clusterSize)
      .option("rangesPerToken", cfgs.head.rangesPerToken)
      .option("startingOffsets", startingOffsets)
    maxRecordsPerTrigger.foreach(n => r = r.option("maxRecordsPerTrigger", n))
    maxBytesPerTrigger.foreach(n => r = r.option("maxBytesPerTrigger", n))
    r.load()
  }

  /** Streaming consume by TOPIC-NAME PATTERN — Kafka's `subscribePattern`:
    * topics under `root` whose full name matches the regex. The pattern is
    * re-resolved against the root listing EVERY trigger, so a matching
    * topic created mid-stream joins the subscription automatically (from
    * offset 0 — everything in a brand-new topic postdates the
    * subscription); the reference's live topic registration on a running
    * consumer group (`internal/consuming/server.go:203-291`). At least one
    * topic must match at start. */
  def readPattern(
      spark: SparkSession,
      root: String,
      pattern: String,
      startingOffsets: String = "latest",
      maxRecordsPerTrigger: Option[Long] = None,
      clusterSize: Int = 3,
      rangesPerToken: Int = 4): DataFrame = {
    var r = spark.readStream.format("polar")
      .option("root", root)
      .option("topicPattern", pattern)
      .option("clusterSize", clusterSize)
      .option("rangesPerToken", rangesPerToken)
      .option("startingOffsets", startingOffsets)
    maxRecordsPerTrigger.foreach(n => r = r.option("maxRecordsPerTrigger", n))
    r.load()
  }

  /** Streaming produce into a topic (micro-batched appends). */
  def write(
      df: DataFrame,
      cfg: TopicConfig,
      checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    // native DSv2 streaming sink ([[graft.sources.PolarRoutedStreamingWrite]]):
    // per-epoch clustered write + idempotent (queryId, epochId) CAS commit —
    // exactly-once without a driver-side foreachBatch detour
    PolarLog.produceStream(df, cfg)
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .start()
}
