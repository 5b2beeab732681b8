package graft.sources

import graft.GraftSession
import graft.log.{LogMetadata, PolarLog, TopicConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Read-path hardening: exact counts over sparse (compacted) files, the
  * -2 earliest sentinel vs trimmed heads, strict offsets-map parsing,
  * byte-capped admission across offset gaps, and graceful planning when a
  * checkpointed topic no longer resolves. */
class PolarSourceHardeningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("polar_src_hard").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def keyed(cfg: TopicConfig, tag: String, keys: Range): Unit = {
    val s = spark; import s.implicits._
    PolarLog.produce(keys.map(k => (k.toString, s"$tag:$k"))
      .toDF("partitionKey", "v")
      .selectExpr("partitionKey", "current_timestamp() AS timestamp",
        "CAST(v AS BINARY) AS value"), cfg)
  }

  test("count(*) over SPARSE compacted files is exact (assign mode refuses agg pushdown)") {
    val cfg = TopicConfig(root, "hard_sparse")
    keyed(cfg, "v1", 0 until 200)
    keyed(cfg, "v2", 0 until 200) // supersedes all of v1
    keyed(cfg, "seal", 9000 until 9050)
    assert(PolarLogCleaner.cleanKeys(spark, cfg) > 0, "fixture must compact")
    val truth = PolarLog.consume(spark, cfg).count() // 200 survivors + 50 seal
    assert(truth === 250)
    val allParts = (0 until cfg.numPartitions).mkString("[", ",", "]")
    // assign mode refuses aggregate pushdown → the columnar count-only
    // reader answers; span arithmetic over the sparse kc files would
    // overcount the compacted-away rows
    val viaAssign = spark.read.format("polar")
      .option("root", root)
      .option("assign", s"""{"hard_sparse":$allParts}""")
      .load().count()
    assert(viaAssign === truth,
      s"sparse count must match data ($viaAssign vs $truth)")
    // a window cutting INTO sparse files (offset filter) must stay exact
    // too — registry arithmetic cannot answer a partial sparse window
    val cut = spark.read.format("polar")
      .option("root", root)
      .option("assign", s"""{"hard_sparse":$allParts}""")
      .load().filter(col("offset") >= 100)
    val cutTruth = PolarLog.consume(spark, cfg)
      .filter(col("offset") >= 100).count()
    assert(cut.count() === cutTruth)
  }

  test("startingOffsets -2 resolves to the LOG START: no spurious failOnDataLoss after a trim") {
    val cfg = TopicConfig(root, "hard_trim")
    PolarLog.produce(graft.Tables.events(spark, sfDir)
      .filter(col("event_id") < 300)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value")), cfg)
    // trim every partition's head file → logStart > 0 somewhere
    val meta = LogMetadata.read(cfg)
    val cuts = meta.filesByPart.collect {
      case (p, v) if v.nonEmpty => p -> (v.sortBy(_.minOffset).head.maxOffset + 1)
    }
    assert(PolarLog.deleteRecords(cfg, cuts) > 0)
    assert(LogMetadata.read(cfg).materializedLogStarts.exists(_ > 0))
    val survivors = PolarLog.consume(spark, cfg).count()
    val ck = Files.createTempDirectory("hard_trim_ck").toString
    val out = Files.createTempDirectory("hard_trim_out").toString + "/p"
    // explicit -2 for partition 0, everything else UNNAMED — both must
    // resolve to the true log start (a literal 0 would trip
    // failOnDataLoss=true on the trimmed head)
    val q = spark.readStream.format("polar")
      .option("root", root).option("topic", "hard_trim")
      .option("startingOffsets", """{"0":-2}""")
      .load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.drop("value").write.mode("append").parquet(out): Unit
      }.start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === survivors)
  }

  test("byte-capped admission advances across an offset gap (trimmed head, failOnDataLoss=false)") {
    val cfg = TopicConfig(root, "hard_gap")
    PolarLog.produce(graft.Tables.events(spark, sfDir)
      .filter(col("event_id") < 200)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value")), cfg)
    Thread.sleep(50)
    PolarLog.produce(graft.Tables.events(spark, sfDir)
      .filter(col("event_id") >= 200 && col("event_id") < 400)
      .select(col("user_id").cast("string").as("partitionKey"),
        col("ts").as("timestamp"), col("props").as("value")), cfg)
    val meta = LogMetadata.read(cfg)
    val cuts = meta.filesByPart.collect {
      case (p, v) if v.size >= 2 => p -> (v.sortBy(_.minOffset).head.maxOffset + 1)
    }
    assert(cuts.nonEmpty, "fixture needs multi-file partitions")
    PolarLog.deleteRecords(cfg, cuts)
    val survivors = PolarLog.consume(spark, cfg).count()
    val ck = Files.createTempDirectory("hard_gap_ck").toString
    val out = Files.createTempDirectory("hard_gap_out").toString + "/p"
    // explicit start 0 (below the trimmed heads) + a small byte cap: the
    // admission walk previously never admitted past the gap and the
    // stream drained NOTHING, forever
    val q = spark.readStream.format("polar")
      .option("root", root).option("topic", "hard_gap")
      .option("startingOffsets", """{"0":0}""")
      .option("failOnDataLoss", "false")
      .option("maxBytesPerTrigger", "20000")
      .load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.drop("value").write.mode("append").parquet(out): Unit
      }.start()
    q.awaitTermination(180000)
    assert(spark.read.parquet(out).count() === survivors,
      "the drain must consume every surviving record past the gap")
  }

  test("malformed offsets maps refuse instead of silently reading the full log") {
    // quoted offsets
    intercept[IllegalArgumentException] {
      PolarOffsets.parse("""{"0": "5"}""", "t")
    }
    // Kafka's nested per-topic shape
    intercept[IllegalArgumentException] {
      PolarOffsets.parse("""{"topicA":{"0":23}}""", "t")
    }
    // trailing junk
    intercept[IllegalArgumentException] {
      PolarOffsets.parse("""{"0":5} extra""", "t")
    }
    // non-numeric partition
    intercept[IllegalArgumentException] {
      PolarOffsets.parse("""{"t/x":5}""", "t")
    }
    // valid forms still parse
    assert(PolarOffsets.parse("""{"0":5,"t2/3":-1}""", "t1").tails ===
      Map(("t1", 0) -> 5L, ("t2", 3) -> -1L))
    assert(PolarOffsets.parse("{}", "t").tails.isEmpty)
  }

  test("an assign map with any junk entry refuses instead of dropping it") {
    Seq("""{"hard_a":[0,1],"junk":5}""", """{"hard_a":[0,1]} extra""",
      """{"hard_a":[0,"1"]}""", """{"hard_a":{"0":1}}""", """{"hard_a":[]}""",
      """{"hard_a":[0],"hard_a":[1]}""", "{}").foreach { assign =>
      val e = intercept[IllegalArgumentException] {
        PolarSource.configFrom(Map("root" -> root, "assign" -> assign))
      }
      assert(e.getMessage.contains("assign"), s"$assign: ${e.getMessage}")
    }
  }

  test("a checkpointed topic that no longer resolves plans as absent, not key-not-found") {
    val cfg = TopicConfig(root, "hard_alive")
    keyed(cfg, "a", 0 until 20)
    val meta = LogMetadata.read(cfg)
    val parts = PolarMicroBatchStream.plan(
      Map("hard_alive" -> cfg),
      Map("hard_alive" -> meta),
      start = PolarOffsets(Map(("hard_alive", 0) -> 0L, ("hard_gone", 0) -> 0L)),
      end = PolarOffsets(meta.producerOffsets.zipWithIndex.map {
        case (t, p) => ("hard_alive", p) -> t
      }.toMap + (("hard_gone", 0) -> 5L)),
      parts = None)
    // the live topic plans; the vanished one contributes nothing
    assert(parts.nonEmpty)
  }
}
