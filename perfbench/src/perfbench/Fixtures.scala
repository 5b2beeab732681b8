package perfbench

import graft.log.{PolarLog, TopicConfig}
import graft.serving.ProduceCoalescer
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Frozen inputs of the `analytics` workload and the queries run over them.
  *
  * The gate tables are generated here, deterministically (hash-of-row-id
  * expressions, no RNG state), in the schemas of the harness tables at a
  * 0.01 scale: lineitem, orders, supplier, events, documents, embeddings.
  * They never change with `--seed`, so each query's row count and
  * order-insensitive hash can be pinned in `goldens.json`. */
object Fixtures {

  /** The five pinned control gates of `Bench` plus one graph, stream,
    * dedup, similarity and text gate each. */
  val ControlGates: Seq[String] = Seq("q1_agg", "q_sort_limit", "dedup_exact", "sim_topk", "q_window_rank")
  /** Two control gates run on `ingest` and `pubsub` after their traffic
    * stops: a host-drift control measured in the same JVM. */
  val DriftGates: Seq[String] = Seq("q1_agg", "q_sort_limit")
  val Gates: Seq[String] = ControlGates ++ Seq("graph_pagerank", "stream_consume",
    "dedup_minhash_lsh", "sim_ann_hnsw", "text_bm25")

  val LogQueries: Seq[String] = Seq("full_scan_agg", "key_lookup", "offset_window", "ts_window",
    "lag_window", "compacted")

  /** Parameters of the frozen log queries over one topic. */
  final case class LogParams(key: String, part: Int, offLo: Long, offHi: Long, tsLo: Long, tsHi: Long)

  def polarScan(spark: SparkSession, cfg: TopicConfig): DataFrame =
    spark.read.format("polar").option("root", cfg.root).option("topic", cfg.topic).load()

  def logQuery(spark: SparkSession, cfg: TopicConfig, name: String, p: LogParams): DataFrame = {
    val df = polarScan(spark, cfg)
    name match {
      case "full_scan_agg" =>
        df.groupBy(col("part")).agg(count(lit(1)).as("n"),
          sum(length(col("value"))).as("bytes"), max(col("offset")).as("last"))
      case "key_lookup" =>
        df.filter(col("partitionKey") === p.key).select(col("part"), col("offset"), col("value"))
      case "offset_window" =>
        df.filter(col("part") === p.part && col("offset") >= p.offLo && col("offset") < p.offHi)
          .select(col("offset"), col("value"))
      case "ts_window" =>
        df.filter(col("timestamp") >= timestamp_micros(lit(p.tsLo)) &&
            col("timestamp") < timestamp_micros(lit(p.tsHi)))
          .select(col("part"), col("offset"), col("partitionKey"))
      case "lag_window" =>
        val w = Window.partitionBy(col("part")).orderBy(col("offset"))
        df.select(col("part"), col("offset"),
          (unix_micros(col("timestamp")) - unix_micros(lag(col("timestamp"), 1).over(w))).as("gap_us"))
      case "compacted" =>
        PolarLog.consumeCompacted(spark, cfg).select(col("partitionKey"), col("part"), col("offset"))
    }
  }

  /** Row count and order-insensitive hash of a result: the sum, as an
    * exact decimal, of one xxhash64 per row over its columns in name
    * order. Computing it materializes every column of every row. */
  def countAndHash(df: DataFrame): (DataFrame, Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case s: StructType if s.fields.exists(_.dataType.isInstanceOf[MapType]) => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val agg = df.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
    val row = agg.collect()(0)
    (agg, row.getLong(0), row.getDecimal(1).toPlainString)
  }

  // ------------------------------------------------------------ gate tables

  private def h(salt: Int, cols: Column*): Column = xxhash64((cols :+ lit(salt)): _*)
  private def u(salt: Int, m: Long, cols: Column*): Column = pmod(h(salt, cols: _*), lit(m))

  def writeGateTables(spark: SparkSession, dir: String): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val day = 86400000000L

    save(spark.range(60000).select(
      (id / 4).cast("long").as("l_orderkey"),
      u(1, 2000, id).as("l_partkey"),
      u(2, 100, id).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (u(3, 50, id) + 1).cast("double").as("l_quantity"),
      (u(4, 9000000, id) / 100.0 + 900.0).as("l_extendedprice"),
      (u(5, 11, id) / 100.0).as("l_discount"),
      (u(6, 9, id) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(7, 3, id) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (u(8, 2, id) + 1).cast("int")).as("l_linestatus"),
      timestamp_micros(lit(694224000000000L) + u(9, 2500, id) * day).as("l_shipdate")), "lineitem")

    save(spark.range(15000).select(
      id.as("o_orderkey"),
      u(11, 1500, id).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (u(12, 3, id) + 1).cast("int")).as("o_orderstatus"),
      (u(13, 50000000, id) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_micros(lit(694224000000000L) + u(14, 2500, id) * day).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"),
        lit("5-LOW")), (u(15, 5, id) + 1).cast("int")).as("o_orderpriority")), "orders")

    save(spark.range(100).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(21, 25, id).cast("int").as("s_nationkey"),
      (u(22, 1100000, id) / 100.0 - 1000.0).as("s_acctbal")), "supplier")

    save(spark.range(10000).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 259000000L + u(31, 200000000, id)).as("ts"),
      u(32, 150, id).as("user_id"),
      element_at(array(lit("click"), lit("signup"), lit("error"), lit("view"), lit("purchase")),
        (u(33, 5, id) + 1).cast("int")).as("event_type"),
      (u(34, 49000, id) / 100.0 + 0.01).as("value"),
      format_string("{\"k\": %d}", u(35, 100, id)).as("props")), "events")

    val words0 = ("spark query stream table value row scan join key part window batch " +
      "filter group sort order data line column agg hash merge fast slow small big vector " +
      "customer the a index log topic offset").split(' ')
    val vocab = array(words0.map(lit).toIndexedSeq: _*)
    val base = when(id % 7 === 0 && id >= 200, id % 200).otherwise(id)
    val nWords = (u(41, 30, base) + 30).cast("int")
    val words = transform(sequence(lit(0), nWords - 1), j =>
      element_at(vocab, (pmod(xxhash64(base, j, lit(42)), lit(words0.length.toLong)) + 1).cast("int")))
    val text = when(id =!= base && id % 3 === 0,
        array_join(transform(words, (w, j) =>
          when(j === pmod(xxhash64(id, lit(43)), nWords.cast("long")), lit("mutated")).otherwise(w)), " "))
      .otherwise(array_join(words, " "))
    save(spark.range(500).select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")),
          (u(44, 5, col("doc_id")) + 1).cast("int")).as("lang"),
        format_string("src%d", u(45, 20, col("doc_id"))).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")

    save(spark.range(500).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(id, j, lit(51)), lit(2000001L)) - 1000000) / 5000000.0).cast("float")).as("embedding"),
      u(52, 10, id).cast("int").as("label")), "embeddings")
  }

  // -------------------------------------------------------- analytics topic

  val TopicRequests = 500
  val TopicRecordsPerRequest = 16
  val TopicBaseMicros = 1700000000000000L
  val TopicFixtureSeed = 20240501L

  /** Request `r` of the analytics topic: (key, timestamp, records). Half
    * the requests are keyed, 125 keys with two requests each. */
  def analyticsRequest(gen: Payload, r: Int): (String, Long, Seq[Array[Byte]]) = {
    val key = if (r % 2 == 0) f"k-${r / 2 % 125}%04d" else null
    val ts = TopicBaseMicros + r * 1000L
    (key, ts, (0 until TopicRecordsPerRequest).map(i => gen.record(s"a-$r-$i", ts, key)))
  }

  def ndjson(recs: Seq[Array[Byte]]): Array[Byte] =
    recs.map(new String(_, "UTF-8")).mkString("\n").getBytes("UTF-8")

  /** The analytics topic, appended through the shared coalescer from one
    * thread with increasing timestamps, then awaited. The flusher drains
    * its queue in order and the log orders a flush by (timestamp, content
    * hash), so the offsets are the same however the requests split into
    * flushes. */
  def buildAnalyticsTopic(coalescer: ProduceCoalescer, cfg: TopicConfig): Unit = {
    val gen = new Payload(TopicFixtureSeed)
    (0 until TopicRequests).map { r =>
      val (key, ts, recs) = analyticsRequest(gen, r)
      coalescer.append(cfg.topic, Option(key), Some(ts), ProduceCoalescer.NdjsonContentType, ndjson(recs))
    }.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
  }

  val AnalyticsParams: LogParams = LogParams(key = "k-0042", part = 5, offLo = 100, offHi = 400,
    tsLo = TopicBaseMicros + 100 * 1000L, tsHi = TopicBaseMicros + 200 * 1000L)
}
