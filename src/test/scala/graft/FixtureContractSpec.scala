package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/**
 * The fixture contract: every `/root/testdata/sf*` table must load through
 * `Tables` with exactly the column names and (normalized) types the engine
 * was built against. When the driver regenerates the fixtures with a
 * different encoding — as happened between rounds 4 and 5, when `events.ts`
 * moved from TIMESTAMP(NANOS) to plain TIMESTAMP(MICROS) and broke 95 tests
 * across a dozen suites — this spec fails in ONE place with the exact
 * delta, instead of every downstream suite failing at analysis.
 *
 * Timestamp columns normalize TimestampNTZType and TimestampType to one
 * token: which of the two Spark infers depends on the writer's
 * isAdjustedToUTC bit, and the engine accepts both (`Tables.load` pins
 * `events.ts` to TimestampType; relational timestamps flow through
 * comparisons that are TZ-agnostic under the UTC session pin).
 */
class FixtureContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def norm(dt: DataType): String = dt match {
    case TimestampType | TimestampNTZType => "timestamp"
    case ArrayType(e, _)                  => s"array<${norm(e)}>"
    case other                            => other.simpleString
  }

  private val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int")
  )

  private val sfDirs = {
    val root = new java.io.File("/root/testdata")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted.toSeq
  }

  test("at least one sf fixture directory exists") {
    assert(sfDirs.nonEmpty, "/root/testdata has no sf* directories")
  }

  for (dir <- sfDirs; (table, want) <- expected.toSeq.sortBy(_._1)) {
    test(s"$dir/$table matches the fixture contract") {
      val df =
        if (table == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, table)
      val got = df.schema.fields.toSeq.map(f => f.name -> norm(f.dataType))
      assert(got == want,
        s"schema drift in $dir/$table.parquet:\n  got:  $got\n  want: $want\n" +
          "The driver regenerated the fixtures with a new encoding — " +
          "update Tables.load's normalization (and this contract) in one place.")
    }
  }

  test("events.ts normalizes to TimestampType and is readable end-to-end") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir events.ts normalized to ${ev.schema("ts").dataType}")
      // force an actual scan so encoding breaks surface here, not downstream
      val row = ev.selectExpr("min(ts)", "max(ts)", "count(*)").head()
      assert(row.getLong(2) > 0, s"$dir events is empty")
      assert(!row.isNullAt(0) && !row.isNullAt(1), s"$dir events.ts all null")
    }
  }

  test("the Tables schema memo follows the session's parquet inference confs") {
    import org.apache.parquet.schema.MessageTypeParser
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(conf)
    val dir = java.nio.file.Files.createTempDirectory("tables_ntz").toFile
    try {
      // written without Spark's schema metadata, as the fixtures are: the
      // reader then infers the type from the parquet annotation alone
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 ts (TIMESTAMP(MICROS,false)); }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(new java.io.File(dir, "ntz.parquet").getPath))
        .withType(schema).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("ts", 1704164645000000L))
      finally w.close()
      // one JVM, one file, two confs: each load sees its own conf's type
      spark.conf.set(conf, "true")
      assert(Tables.load(spark, dir.getPath, "ntz").schema("ts").dataType == TimestampNTZType)
      spark.conf.set(conf, "false")
      assert(Tables.load(spark, dir.getPath, "ntz").schema("ts").dataType == TimestampType)
    } finally {
      before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }
}
