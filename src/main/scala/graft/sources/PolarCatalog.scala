package graft.sources

import graft.log.{LogMetadata, TopicConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/**
 * DSv2 `TableCatalog` exposing topics as SQL tables — the full SQL surface
 * over the log, which is SURVEY §2's own mapping of the produce/consume
 * protocol onto Spark (`INSERT INTO polar_topic SELECT …`, A2 row):
 *
 * {{{
 *   spark.sql.catalog.polar      = graft.sources.PolarCatalog
 *   spark.sql.catalog.polar.root = /data/polar
 *
 *   CREATE TABLE polar.clicks;
 *   INSERT INTO polar.clicks SELECT key AS partitionKey, ts AS timestamp, payload AS value FROM src;
 *   SELECT part, count(*) FROM polar.clicks GROUP BY part;
 *   DROP TABLE polar.clicks;
 * }}}
 *
 * Topics are single-namespace (`polar.<topic>`); the envelope schema is
 * engine-owned, so `CREATE TABLE` takes no columns (any supplied schema is
 * rejected) and INSERT accepts the PRODUCER shape — `value` plus optional
 * `partitionKey`/`timestamp` (ACCEPT_ANY_SCHEMA; the write path builds the
 * envelope: token, partition placement, commit-time dense offsets).
 * Re-inserting a full envelope re-produces the records: offsets are
 * engine-assigned, never client-supplied — exactly the reference's contract.
 *
 * Ring geometry comes from catalog options (`clusterSize`,
 * `rangesPerToken`) with per-table overrides via `TBLPROPERTIES`.
 */
class PolarCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var defaultClusterSize = 3
  private var defaultRangesPerToken = 4

  /** `CALL polar.system.<proc>(...)` — the SQL maintenance surface
    * (compact / clean_retention / vacuum / history / reset_offsets);
    * Iceberg's stored-procedure shape over the engine's own APIs. */
  private lazy val procedures
      : Map[String, org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    PolarProcedures.all(root, defaultClusterSize, defaultRangesPerToken)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system"))))
      throw new NoSuchNamespaceException(ident.namespace())
    procedures.getOrElse(ident.name(), throw new RuntimeException(
      s"undefined procedure: system.${ident.name()} " +
        s"(available: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
    defaultClusterSize = Option(options.get("clusterSize")).map(_.toInt).getOrElse(3)
    defaultRangesPerToken = Option(options.get("rangesPerToken")).map(_.toInt).getOrElse(4)
  }

  override def name(): String = catalogName

  /** Topics are single-namespace. An empty namespace is the normal form;
    * a single segment equal to the catalog name is tolerated because
    * `ALTER TABLE … RENAME TO catalog.name` ships the catalog-qualified
    * target through as a namespace. */
  private def requireTopLevel(namespace: Array[String]): Unit =
    if (namespace.nonEmpty &&
        !(namespace.length == 1 && namespace.head == catalogName))
      throw new NoSuchNamespaceException(namespace)

  private def cfgOf(ident: Identifier, props: Map[String, String] = Map.empty): TopicConfig =
    TopicConfig(root, ident.name(),
      props.get("clusterSize").map(_.toInt).getOrElse(defaultClusterSize),
      props.get("rangesPerToken").map(_.toInt).getOrElse(defaultRangesPerToken))

  private def fs(p: Path) = p.getFileSystem(graft.log.HadoopConf.shared)

  private def exists(cfg: TopicConfig): Boolean = {
    val p = new Path(cfg.metadataPath)
    fs(p).exists(p)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireTopLevel(namespace)
    val rootPath = new Path(root)
    val f = fs(rootPath)
    if (!f.exists(rootPath)) return Array.empty
    f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => TopicConfig.validTopicName(t) &&
        f.exists(new Path(s"$root/$t/_polar_metadata.json")))
      .sorted
      .map(t => Identifier.of(Array.empty, t))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: `polar.<topic>.files|history|partitions` — the
    // one-level "namespace" is the topic, the leaf the registry view
    if (ident.namespace().length == 1 &&
        PolarMetaTables.Names.contains(ident.name().toLowerCase)) {
      val probe = TopicConfig(root, ident.namespace()(0))
      if (exists(probe)) {
        val meta = LogMetadata.read(probe)
        return PolarMetaTables(TopicConfig(root, probe.topic,
          meta.clusterSize, meta.rangesPerToken), ident.name().toLowerCase)
      }
    }
    requireTopLevel(ident.namespace())
    // geometry from the persisted metadata, not the catalog defaults — a
    // topic resized to another ring keeps reading correctly
    val probe = TopicConfig(root, ident.name())
    if (!exists(probe)) throw new NoSuchTableException(ident)
    val meta = LogMetadata.read(probe)
    val cfg = TopicConfig(root, ident.name(), meta.clusterSize, meta.rangesPerToken)
    new PolarTable(PolarSourceConfig(cfg, "latest", None), null,
      sqlInsertable = true, tableProps = meta.props)
  }

  /** SQL time travel: `SELECT … FROM cat.topic VERSION AS OF n` — the
    * catalog face of the DSv2 `versionAsOf` read option (retained root
    * snapshots; see [[graft.log.LogMetadata.readAt]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    // time-traveled metadata views: the layout the topic HAD at a commit
    // (`SELECT * FROM polar.t.files VERSION AS OF 3`)
    if (ident.namespace().length == 1 &&
        PolarMetaTables.Names.contains(ident.name().toLowerCase)) {
      val probe = TopicConfig(root, ident.namespace()(0))
      if (exists(probe)) {
        val v = scala.util.Try(version.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"polar VERSION AS OF takes a commit version number, got '$version'"))
        val meta = LogMetadata.readAt(probe, v)
        return PolarMetaTables(TopicConfig(root, probe.topic,
          meta.clusterSize, meta.rangesPerToken),
          ident.name().toLowerCase, Some(v))
      }
    }
    requireTopLevel(ident.namespace())
    val probe = TopicConfig(root, ident.name())
    if (!exists(probe)) throw new NoSuchTableException(ident)
    val v = scala.util.Try(version.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"polar VERSION AS OF takes a commit version number, got '$version'"))
    val meta = LogMetadata.readAt(probe, v)
    val cfg = TopicConfig(root, ident.name(), meta.clusterSize, meta.rangesPerToken)
    new PolarTable(
      PolarSourceConfig(Seq(cfg), "latest", None, versionAsOf = Some(v)))
  }

  /** SQL time travel: `… TIMESTAMP AS OF t` (micros since epoch) — the
    * newest retained commit whose snapshot landed at or before `t`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    requireTopLevel(ident.namespace())
    val probe = TopicConfig(root, ident.name())
    if (!exists(probe)) throw new NoSuchTableException(ident)
    loadTable(ident, LogMetadata.versionAt(probe, timestamp).toString)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireTopLevel(ident.namespace())
    require(schema == null || schema.isEmpty ||
        schema.fieldNames.sameElements(PolarSource.FullSchema.fieldNames),
      "polar topics own their envelope schema; CREATE TABLE takes no columns")
    require(partitions == null || partitions.isEmpty,
      "polar topics are partitioned by the token ring, not by CREATE TABLE clauses")
    import scala.jdk.CollectionConverters._
    val given = properties.asScala.toMap
    val cfg = cfgOf(ident, given)
    if (exists(cfg)) throw new TableAlreadyExistsException(ident)
    require(TopicConfig.validNewTopicName(cfg.topic),
      s"Invalid new topic name '${cfg.topic}' (max 248 chars)")
    // persist recognized per-topic configs (Kafka topic-config names:
    // retention.ms, cleanup.policy) in the root doc; geometry rides its
    // own doc fields, Spark-reserved keys pass through unpersisted
    LogMetadata.write(cfg, LogMetadata.empty(cfg)
      .copy(props = graft.log.TopicProps.recognized(given)))
    new PolarTable(PolarSourceConfig(cfg, "latest", None), null, sqlInsertable = true)
  }

  /** `ALTER TABLE polar.t SET/UNSET TBLPROPERTIES` for the recognized
    * per-topic configs (retention.ms, cleanup.policy) — one metadata CAS;
    * schema/ring changes stay refused (engine-owned / TopicOps). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireTopLevel(ident.namespace())
    val probe = TopicConfig(root, ident.name())
    if (!exists(probe)) throw new NoSuchTableException(ident)
    val meta0 = LogMetadata.read(probe)
    val cfg = TopicConfig(root, ident.name(),
      meta0.clusterSize, meta0.rangesPerToken)
    val updates: Seq[Map[String, String] => Map[String, String]] = changes.map {
      case set: TableChange.SetProperty =>
        require(graft.log.TopicProps.validate(set.property(), set.value()),
          s"unsupported table property '${set.property()}' (recognized: " +
            s"${graft.log.TopicProps.Recognized.toSeq.sorted.mkString(", ")}; " +
            "ring geometry is fixed at creation — use TopicOps.repartitionTopic)")
        (p: Map[String, String]) => p + (set.property() ->
          graft.log.TopicProps.normalize(set.property(), set.value()))
      case rm: TableChange.RemoveProperty =>
        require(graft.log.TopicProps.Recognized.contains(rm.property()),
          s"unsupported table property '${rm.property()}'")
        (p: Map[String, String]) => p - rm.property()
      case other => throw new UnsupportedOperationException(
        s"polar topics have an engine-owned schema; $other is not supported " +
          "(use TopicOps.repartitionTopic for ring changes)")
    }
    LogMetadata.updateProps(cfg)(p => updates.foldLeft(p)((acc, f) => f(acc)))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireTopLevel(ident.namespace())
    val cfg = TopicConfig(root, ident.name())
    if (!exists(cfg)) return false
    val dir = new Path(cfg.dir)
    fs(dir).delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireTopLevel(oldIdent.namespace())
    requireTopLevel(newIdent.namespace())
    val from = TopicConfig(root, oldIdent.name())
    val to = TopicConfig(root, newIdent.name()) // validates the new name
    if (!exists(from)) throw new NoSuchTableException(oldIdent)
    if (exists(to)) throw new TableAlreadyExistsException(newIdent)
    val f = fs(new Path(from.dir))
    if (!f.rename(new Path(from.dir), new Path(to.dir)))
      throw new IllegalStateException(
        s"rename ${from.topic} -> ${to.topic} failed")
  }
}
