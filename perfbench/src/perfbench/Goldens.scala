package perfbench

import graft.log.TopicConfig
import graft.serving.PolarHttpServer
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pinned (row count, order-insensitive hash) per analytics query, read
  * from `goldens.json` beside the benchmark (path in the
  * `perfbench.goldens` system property). Keys are gate names and
  * `log.<query>` for the log queries. */
object Goldens {
  lazy val expected: Map[String, (Long, String)] =
    Option(System.getProperty("perfbench.goldens")).map(Paths.get(_)).filter(Files.exists(_)) match {
      case None => Map.empty
      case Some(p) =>
        Runner.json.readTree(p.toFile).get("queries").fields().asScala.map { e =>
          e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
        }.toMap
    }

  /** Recomputes every golden on the frozen inputs, prints them as JSON and
    * dumps each gate's rows to `<work>/dump/<gate>` with its oracle SQL in
    * `<work>/dump/oracle_sql.json`, for `oracle_check.py`. */
  def write(spark: SparkSession, fixtures: String, work: Path): Unit = {
    graft.GraftSession.ensureFunctions(spark)
    val dump = work.resolve("dump")
    val out = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    Fixtures.Gates.foreach { g =>
      val df = graft.SparkEntry.queries(g)(spark, fixtures)
      df.write.mode("overwrite").parquet(dump.resolve(g).toString)
      val (_, n, h) = Fixtures.countAndHash(graft.SparkEntry.queries(g)(spark, fixtures))
      out(g) = (n, h)
      graft.Materialize.sweep(spark)
    }
    val root = work.resolve("goldens-root").toString
    val http = new PolarHttpServer(spark, root).start()
    try {
      val cfg = TopicConfig(root, "analytics")
      Fixtures.buildAnalyticsTopic(http.coalescer, cfg)
      Fixtures.LogQueries.foreach { q =>
        val (_, n, h) = Fixtures.countAndHash(Fixtures.logQuery(spark, cfg, q, Fixtures.AnalyticsParams))
        out(s"log.$q") = (n, h)
      }
    } finally http.stop()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Fixtures.Gates.contains(k) }
    Files.writeString(dump.resolve("oracle_sql.json"), oracle.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${Runner.json.writeValueAsString(v)}""" }.mkString("{\n", ",\n", "\n}\n"))
    println(out.map { case (k, (n, h)) => s"""    "$k": {"rows": $n, "hash": "$h"}""" }
      .mkString("{\n  \"queries\": {\n", ",\n", "\n  }\n}"))
  }
}
