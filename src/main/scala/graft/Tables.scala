package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Loaders for the harness tables (`/root/testdata/sf*`).
 *
 * `events.parquet` has shipped with two `ts` encodings across fixture
 * generations: TIMESTAMP(NANOS) (which Spark 4 reads as a long of epoch
 * nanos under `spark.sql.legacy.parquet.nanosAsLong`) and plain
 * TIMESTAMP(MICROS) (read as TimestampType or TimestampNTZType). The loader
 * adapts to whichever the file carries and normalizes to the engine's native
 * micros-precision TimestampType (the reference's envelope precision,
 * `/root/reference/internal/producing/models.go:146-150`), matching DuckDB's
 * `CAST(ts AS TIMESTAMP)` on the same file. NTZ→Timestamp is wall-clock
 * reinterpretation in the session timezone; the engine pins the session to
 * UTC (GraftSession) so this equals DuckDB's TZ-naive read — `events()`
 * enforces the pin on sessions the engine did not build.
 */
object Tables {

  /** Schema memo, keyed by (path, mtime, size) and the session confs that
    * change what inference returns: `spark.read.parquet`
    * without an explicit schema runs parquet footer INFERENCE on every
    * call — measured 104-159 ms/call at sf0.1 (it launches a schema-merge
    * job even for one file), paid ~2-4× per gate × ~300 gates per battery,
    * all to re-derive a schema that never changes. Supplying the memoized
    * schema drops resolution to 11-20 ms/call. This caches METADATA only
    * (a StructType — the same thing a catalog table pins); every action
    * still scans the parquet file itself, and the mtime+size key makes a
    * regenerated fixture re-infer, and a session with other schema confs
    * infer its own. Attribute IDs stay fresh per load (each call builds a
    * new relation), so self-joins of two loads of the same table behave
    * exactly as before. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Seq[Option[String]]),
      org.apache.spark.sql.types.StructType]()

  /** Confs under which parquet inference yields a different schema for the
    * same file: nanos timestamps as longs, timestamp NTZ-vs-LTZ, and the
    * case of field names. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val f = new java.io.File(path)
    val df =
      if (f.isFile) {
        val key = (path, f.lastModified(), f.length(), SchemaConfs.map(spark.conf.getOption))
        val schema = schemaCache.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
      } else spark.read.parquet(path) // multi-file dir: infer as before
    name match {
      case "events" =>
        df.schema("ts").dataType match {
          case LongType =>
            // nanos-as-long fixtures: `div` = exact integer division — `/`
            // would go through DOUBLE, and epoch NANOS (~1.7e18) exceed
            // double precision, rounding some micros by ±1 vs DuckDB's
            // truncating CAST(ts AS TIMESTAMP)
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case TimestampType => df
          case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
          case other =>
            throw new IllegalStateException(
              s"unexpected events.ts type $other in $sfDir — fixture contract changed")
        }
      case _ => df
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // the nanos flag is consulted by read TASKS via the session conf, so it
    // cannot be scoped to one read; GraftSession sets it at build time and
    // this guards sessions the engine did not build (the driver's). Same for
    // the UTC pin: NTZ fixtures reinterpret in the session timezone.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    load(spark, sfDir, "events")
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
