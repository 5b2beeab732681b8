package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
        sys.exit(2)
    }
    // contended timings mislead the per-gate profiling lines — warn (or
    // refuse under GRAFT_GUARD=strict) before the battery starts
    tools.ContentionGuard.check("verify"): Unit
    // default 8 (was 4): the battery is wall-clock-bounded by its slowest
    // multi-stage gates (graph BSP rounds, the log cleaner's fixture),
    // which parallelize; the per-gate scheduling overhead doesn't grow
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the SQL rewrite rules (MERGE INTO → log merge) must be present at
      // session build; functions/TVFs alone can be installed lazily
      .withExtensions(new graft.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle map FIRST: if the harness kills this JVM mid-battery (round-10
    // shipped an empty correctness artifact that way), the driver still
    // finds the oracle SQL and can grade every gate dumped so far
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(only))
    val t0 = System.nanoTime()
    var sinceGc = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val s0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same session hygiene as Bench: the full sequential battery in one
      // JVM must not accumulate operator materializations or sink tables.
      // The sweep is session-wide (stops every active stream, clears the
      // whole SQL cache): harness-only, safe because Verify owns the
      // session and runs one query at a time
      Materialize.sweep(spark)
      sinceGc += 1
      if (sinceGc >= 10) { System.gc(); sinceGc = 0 }
      System.err.println(f"[verify] $name done in " +
        f"${(System.nanoTime() - s0) / 1e9}%.1fs " +
        f"(total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
    }
    spark.stop()
  }

  /** The oracle map rendered as one JSON object (shared with
    * OracleDtypeSpec, which feeds it to the DuckDB dtype guard). */
  def oracleJson(only: Option[Set[String]] = None): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.functions.JsonText.quote(s)
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
