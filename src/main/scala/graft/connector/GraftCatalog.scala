// DSv2 catalog connector (SURVEY §2.1 S11): the SQL-facing surface of the
// engine, mirroring the reference's Spark connector
// (fluss-spark/fluss-spark-common/src/main/scala/org/apache/fluss/spark/
// SparkCatalog.scala:37, SparkConnectorOptions.scala:24-47).
//
// Architecture: the catalog plugs graft.core.Catalog into Spark's
// TableCatalog API so `CREATE TABLE ... USING graft`, `INSERT INTO` and
// `SELECT` work as plain SQL against a configured catalog:
//
//   spark.sql.catalog.graft           = graft.connector.GraftCatalog
//   spark.sql.catalog.graft.warehouse = /path/to/warehouse
//
// Read and write go through the official V1 bridge interfaces
// (connector.read.V1Scan / connector.write.V1Write): the relation's
// buildScan IS `GraftTable.scan()` — the same DataFrame plan every other
// entry point uses (merge-on-read materialization, bucket pruning,
// parquet pushdowns), so the SQL path inherits the whole engine instead
// of duplicating a parquet reader. At 100 TB the scan stays fully
// distributed: the bridge only passes an RDD plan, never rows through
// the driver.
package graft.connector

import java.util
import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Catalog => CoreCatalog, _}

/** Option / property keys — same spellings as the reference's
  * SparkConnectorOptions (primary.key, bucket.key, bucket.num) and its
  * DDL table options (table.merge-engine, fields.&lt;col&gt;.agg — website/docs/
  * table-design/merge-engines/aggregation.md:44-60).
  */
object GraftOptions {
  val PrimaryKey = "primary.key"
  val BucketKey = "bucket.key"
  val BucketNum = "bucket.num"
  val MergeEngine = "table.merge-engine"
  val VersionColumn = "table.merge-engine.versioned.ver-column"
  val DeleteBehavior = "table.delete-behavior"
  val ChangelogImage = "table.changelog.image"
  val AutoIncrement = "table.auto-increment.column"
  val AggPrefix = "fields."
  val AggSuffix = ".agg"

  /** DDL CHAR(n)/VARCHAR(n) columns (SURVEY §1.2): stored as STRING with
    * the raw type recorded under Spark's own `__CHAR_VARCHAR_TYPE_STRING`
    * metadata key — the same replacement Spark's session catalog performs —
    * which [[graft.core.TableDescriptor.charLengths]] turns into the
    * write-time length check. Top-level fields only (the reference's type
    * system has no nested CHAR).
    */
  private def stringifyCharVarchar(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      def withRaw(raw: String) = f.copy(
        dataType = org.apache.spark.sql.types.StringType,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(TableDescriptor.CharVarcharTypeKey, raw).build())
      f.dataType match {
        case c: org.apache.spark.sql.types.CharType => withRaw(s"char(${c.length})")
        case v: org.apache.spark.sql.types.VarcharType => withRaw(s"varchar(${v.length})")
        case _ => f
      }
    })

  def toDescriptor(schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): TableDescriptor = {
    val props = properties.asScala
    def csv(k: String): Seq[String] =
      props.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // identity transforms -> partition keys; bucket transform -> bucketing
    val partCols = partitions.collect {
      case t if t.name == "identity" => t.references.head.fieldNames.mkString(".")
    }.toSeq
    val (bucketCols, bucketNum) = partitions.collectFirst {
      case t if t.name == "bucket" =>
        val n = t.arguments.head.asInstanceOf[
          org.apache.spark.sql.connector.expressions.Literal[_]].value
          .asInstanceOf[Number].intValue
        (t.references.map(_.fieldNames.mkString(".")).toSeq, n)
    }.getOrElse((csv(BucketKey), props.get(BucketNum).map(_.toInt).getOrElse(32)))
    val aggs = props.collect {
      case (k, v) if k.startsWith(AggPrefix) && k.endsWith(AggSuffix) =>
        k.stripPrefix(AggPrefix).stripSuffix(AggSuffix) -> v
    }.toMap
    val engine = props.get(MergeEngine).map(_.toLowerCase) match {
      case Some("first_row") => graft.core.MergeEngine.FirstRow
      case Some("versioned") => graft.core.MergeEngine.Versioned(
        props.getOrElse(VersionColumn,
          throw new IllegalArgumentException(s"$VersionColumn required")))
      case Some("aggregation") => graft.core.MergeEngine.Aggregation(aggs)
      case Some("default") | None =>
        if (aggs.nonEmpty) graft.core.MergeEngine.Aggregation(aggs)
        else graft.core.MergeEngine.Default
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown merge engine $other")
    }
    TableDescriptor(
      schema = stringifyCharVarchar(schema),
      primaryKey = csv(PrimaryKey),
      bucketKeys = bucketCols,
      numBuckets = bucketNum,
      partitionKeys = partCols,
      mergeEngine = engine,
      deleteBehavior = props.get(DeleteBehavior).map(_.toLowerCase) match {
        case Some("ignore") => graft.core.DeleteBehavior.Ignore
        case _ => graft.core.DeleteBehavior.Allow
      },
      changelogImage = props.get(ChangelogImage).map(_.toLowerCase) match {
        case Some("wal") => graft.core.ChangelogImage.Wal
        case _ => graft.core.ChangelogImage.Full
      },
      autoIncrementColumn = props.get(AutoIncrement),
      properties = (props.toMap -- structuralKeys -- sparkReserved)
        .filterNot { case (k, _) => isAggKey(k) })
  }

  /** Options fixed at CREATE TABLE time (ALTER ... SET rejects them). */
  val structuralKeys: Set[String] = Set(
    PrimaryKey, BucketKey, BucketNum, MergeEngine, VersionColumn,
    DeleteBehavior, ChangelogImage, AutoIncrement)

  /** Keys Spark itself stamps onto v2 createTable properties — catalog
    * bookkeeping, not user table options.
    */
  private val sparkReserved: Set[String] = Set(
    "provider", "owner", "comment", "location", "external",
    "option.path", "path")

  private def isAggKey(k: String): Boolean =
    k.startsWith(AggPrefix) && k.endsWith(AggSuffix)

  def isStructural(k: String): Boolean =
    structuralKeys.contains(k) || isAggKey(k)

  /** Descriptor -> DDL properties (round-trips toDescriptor). */
  def toProperties(d: TableDescriptor): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (d.primaryKey.nonEmpty) m.put(PrimaryKey, d.primaryKey.mkString(","))
    if (d.bucketKeys.nonEmpty) m.put(BucketKey, d.bucketKeys.mkString(","))
    m.put(BucketNum, d.numBuckets.toString)
    d.mergeEngine match {
      case graft.core.MergeEngine.Default => ()
      case graft.core.MergeEngine.FirstRow => m.put(MergeEngine, "first_row")
      case graft.core.MergeEngine.Versioned(c) =>
        m.put(MergeEngine, "versioned"); m.put(VersionColumn, c)
      case graft.core.MergeEngine.Aggregation(aggs) =>
        m.put(MergeEngine, "aggregation")
        aggs.foreach { case (c, f) => m.put(s"$AggPrefix$c$AggSuffix", f) }
    }
    if (d.deleteBehavior == graft.core.DeleteBehavior.Ignore)
      m.put(DeleteBehavior, "ignore")
    if (d.changelogImage == graft.core.ChangelogImage.Wal)
      m.put(ChangelogImage, "wal")
    d.autoIncrementColumn.foreach(m.put(AutoIncrement, _))
    d.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

/** Spark TableCatalog over the directory-backed graft catalog. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def core: CoreCatalog = new CoreCatalog(warehouse, spark)

  // ---- maintenance procedures (CALL <cat>.system.<proc>(...)) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(GraftProcedures.Namespace),
      s"procedures live under ${GraftProcedures.Namespace.mkString(".")}; got $ident")
    GraftProcedures.load(this, ident.name).getOrElse(
      throw new IllegalArgumentException(s"unknown procedure ${ident.name} " +
        s"(known: ${GraftProcedures.names.mkString(", ")})"))
  }

  /** Resolve a procedure's `'db.tbl'` argument to the engine table. */
  private[connector] def coreCatalog: CoreCatalog = core

  private[connector] def tableForProcedure(qualified: String): GraftTable = {
    val parts = qualified.split('.')
    require(parts.length == 2, s"expected 'db.table', got '$qualified'")
    core.getTable(parts(0), parts(1))
  }
  private def db(ident: Identifier): String = {
    require(ident.namespace.length == 1,
      s"graft tables are <db>.<table>; got ${ident.namespace.mkString(".")}")
    ident.namespace.head
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse is required"))
    // catalog sessions get the engine's optimizer rules without a
    // separate install step: point-query bucket pruning, V1 stats
    // forwarding, and (under preserve-data-grouping) the PK collapse
    // substitution. Best-effort here — initialize can run on a thread
    // with no active session (or a different one than later queries), so
    // loadTable re-installs against the QUERYING session, where
    // SparkSession.active is always the right one.
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.plans.BucketPruning.install)
  }

  override def name(): String = catalogName

  // ---- FunctionCatalog: the engine's bucket assignment as a V2
  // function, resolvable from any namespace (Spark's transform
  // resolution looks `bucket` up when a scan reports
  // KeyGroupedPartitioning over it — GraftKeyGroupedScan) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    core.listTables(namespace.head)
      .map(t => Identifier.of(namespace, t)).toArray

  override def loadTable(ident: Identifier): Table = {
    // re-install the optimizer rules against the session that is
    // actually QUERYING (initialize's best-effort install can land on a
    // different session, or none — the rules would then silently never
    // run and catalog SQL would lose bucket pruning / the grouped
    // collapse while staying correct via the V1 bridge). Idempotent and
    // cheap: a contains() check per rule.
    graft.plans.BucketPruning.install(spark)
    // metadata / virtual tables: SELECT * FROM <cat>.<db>.<tbl>.<meta> —
    // the reference's `t$changelog`/`t$binlog` virtual tables
    // (website/docs/table-design/virtual-tables.md:14-16) plus the
    // lakehouse `history`/`partitions` metadata tables
    if (ident.namespace().length == 2) {
      // a 2-level namespace is ONLY ever a metadata-table reference, so a
      // missing base table is a (clean) table-not-found, not a fall
      // -through to the <db>.<table> shape check
      if (!core.tableExists(ident.namespace()(0), ident.namespace()(1)))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      val t = core.getTable(ident.namespace()(0), ident.namespace()(1))
      // virtual tables surface row data, not just metadata: READ-gated
      core.authorize("READ", ident.namespace().toSeq)
      val qualified = s"${ident.namespace().mkString(".")}.${ident.name}"
      ident.name match {
        case "changelog" => return new GraftMetaTable(qualified, () => t.changelog())
        case "binlog" => return new GraftMetaTable(qualified, () => t.binlog())
        case "history" => return new GraftMetaTable(qualified, () => t.history())
        case "files" => return new GraftMetaTable(qualified, () => t.filesMeta())
        // the reference Admin's listOffsets (earliest/latest per bucket):
        // earliest = retained floor after vacuum/TTL, next = the offset
        // the next append receives (= row count high watermark)
        case "offsets" => return new GraftMetaTable(qualified, () => {
          val latest = t.latestOffsets
          val floor = t.retainedFloorOffsets.getOrElse(Map.empty[Int, Long])
          val rows = latest.toSeq.sortBy(_._1).map { case (b, next) =>
            Row(b, floor.getOrElse(b, 0L), next)
          }
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("earliest_offset",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("next_offset",
              org.apache.spark.sql.types.LongType, nullable = false))))
        })
        // per-bucket load (the reference's `sys.list_rebalance`-shaped
        // observability, library form): files/bytes from the same one-
        // listing walk sys.suggest_rebucket uses (bytes = LIVE estimate
        // — snapshot tier + post-cutoff log tail), log rows from
        // manifest arithmetic (offsets are dense per bucket — free).
        // The SQL surface an operator joins/sorts to find hot buckets
        // before a CALL sys.rebucket.
        case "buckets" => return new GraftMetaTable(qualified, () => {
          val load = t.bucketLoadStats()
          val latest = t.latestOffsets
          val floor = t.retainedFloorOffsets.getOrElse(Map.empty[Int, Long])
          val ids = (load.keySet ++ latest.keySet).toSeq.sorted
          val rows = ids.map { b =>
            val (files, bytes) = load.getOrElse(b, (0L, 0L))
            Row(b, files, bytes,
              math.max(0L, latest.getOrElse(b, 0L) - floor.getOrElse(b, 0L)))
          }
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("num_files",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("bytes",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("log_rows",
              org.apache.spark.sql.types.LongType, nullable = false))))
        })
        // schema history (the reference's SchemaInfo ids,
        // Admin.getTableSchema(path, schemaId)): one row per recorded
        // schema version, ascending
        case "schemas" => return new GraftMetaTable(qualified, () => {
          val rows = core.listTableSchemas(
            ident.namespace()(0), ident.namespace()(1)).map {
            case (id, schema, at) => Row(id, schema.toDDL,
              if (at > 0) new java.sql.Timestamp(at) else null)
          }
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("schema_id",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("columns",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("registered_at",
              org.apache.spark.sql.types.TimestampType, nullable = true))))
        })
        case "partitions" => return new GraftMetaTable(qualified, () => {
          import org.apache.spark.sql.functions.col
          val rows = t.partitionValues().map(vs =>
            Row(t.desc.partitionKeys.zip(vs)
              .map { case (k, v) => s"$k=$v" }.mkString("/")))
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("partition",
              org.apache.spark.sql.types.StringType, nullable = false))))
            .select(col("partition"))
        })
        // DESCRIBE DETAIL analog: one row of table-level facts an
        // operator reaches for first (Delta's `detail` surface)
        case "detail" => return new GraftMetaTable(qualified, () => {
          val (bytes, rowsOpt) = t.plannerStats()
          val files = t.logFileCount // driver listing, no Spark job
          spark.createDataFrame(Seq(Row(
            "graft", t.path, t.desc.isPrimaryKeyTable,
            t.desc.primaryKey.mkString(","),
            t.desc.effectiveBucketKeys.mkString(","), t.desc.numBuckets,
            t.desc.partitionKeys.mkString(","), files, bytes,
            rowsOpt.map(Long.box).orNull,
            t.latestVersion.map(Long.box).orNull,
            t.rollbackEpoch)).asJava,
            StructType(Seq(
              org.apache.spark.sql.types.StructField("format",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("location",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("is_primary_key",
                org.apache.spark.sql.types.BooleanType, nullable = false),
              org.apache.spark.sql.types.StructField("primary_key",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("bucket_keys",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("num_buckets",
                org.apache.spark.sql.types.IntegerType, nullable = false),
              org.apache.spark.sql.types.StructField("partition_keys",
                org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField("num_log_files",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("size_bytes",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("num_rows",
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField("version",
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField("rollback_epoch",
                org.apache.spark.sql.types.LongType, nullable = false))))
        })
        // durable poll-consumer groups (the Kafka listConsumerGroups
        // analog for the LogPoller surface). committed_position is the
        // sum of per-bucket NEXT offsets — an absolute position, not a
        // consumed-record count (a Latest-mode group that consumed
        // nothing commits the tail position); lag is records committed
        // to the log that the group has not yet polled (per-bucket
        // latest-next minus committed-next, floored at 0, summed).
        case "consumer_groups" => return new GraftMetaTable(qualified, () => {
          val latest = t.latestOffsets
          val rows = graft.streaming.LogPoller.listGroups(t).map { g =>
            val pos = graft.streaming.LogPoller.committedOffsets(t, g)
            val lag = pos.map(p => latest.map { case (b, hi) =>
              math.max(0L, hi - p.getOrElse(b, 0L))
            }.sum)
            Row(g, pos.map(_.values.sum).map(Long.box).orNull,
              lag.map(Long.box).orNull)
          }
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("group",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("committed_position",
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField("lag",
              org.apache.spark.sql.types.LongType, nullable = true))))
        })
        // lake tier state of a table.datalake.*-enabled table — the
        // reference Admin's getLatestLakeSnapshot surface (fluss-client
        // Admin.java): where the lake is, what it last committed, and
        // how far the log has moved past it (lag, the tiering-freshness
        // signal a scheduler watches)
        case "lake" => return new GraftMetaTable(qualified, () => {
          val schema = StructType(Seq(
            org.apache.spark.sql.types.StructField("enabled",
              org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("dir",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("format",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("latest_snapshot",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("pinned_offsets",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("lag",
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField("live_files",
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField("tiered_at_millis",
              org.apache.spark.sql.types.LongType, nullable = true)))
          val row = graft.core.LakeMaintenance.policyOf(t.desc.properties)
            match {
            case None =>
              Row(false, null, null, null, null, null, null, null)
            case Some(p) =>
              val fmt = graft.core.LakeFormatOps.of(p.format)
              if (!fmt.hasMetadata(p.dir))
                Row(true, p.dir, p.format, null, null, null, null, null)
              else {
                val pinnedJson = fmt.committedTierTags(p.dir)
                  .get(graft.core.GraftTable.TierOffsetsKey)
                val pinned: Map[Int, Long] = pinnedJson
                  .map(graft.core.GraftTable.parseTierOffsets)
                  .getOrElse(Map.empty)
                val lag = t.latestOffsets.map { case (b, hi) =>
                  math.max(0L, hi - pinned.getOrElse(b, 0L))
                }.sum
                Row(true, p.dir, p.format, fmt.latestVersion(p.dir).orNull,
                  pinnedJson.orNull, Long.box(lag),
                  Long.box(fmt.liveFiles(spark, p.dir).size.toLong),
                  graft.core.LakeMaintenance.exportedAtMillis(p.dir)
                    .map(Long.box).orNull)
              }
          }
          spark.createDataFrame(Seq(row).asJava, schema)
        })
        // this process's engine counters for the table ([[GraftMetrics]]
        // — the reference's per-table metrics registry through SQL)
        case "metrics" => return new GraftMetaTable(qualified, () => {
          val rows = graft.core.GraftMetrics.snapshot(t.path).toSeq.sorted
            .map { case (m, v) => Row(m, v) }
          spark.createDataFrame(rows.asJava, StructType(Seq(
            org.apache.spark.sql.types.StructField("metric",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.LongType, nullable = false))))
        })
        case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      }
    }
    if (!core.tableExists(db(ident), ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftDsTable(core.getTable(db(ident), ident.name), ident,
      authz = op => core.authorize(op, Seq(db(ident), ident.name)))
  }

  /** `TIMESTAMP AS OF` time travel: Spark hands micros since epoch; the
    * returned table reads the state as of that commit time (scanAsOf) and
    * is read-only.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!core.tableExists(db(ident), ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftDsTable(core.getTable(db(ident), ident.name), ident,
      asOf = Some(new java.sql.Timestamp(timestampMicros / 1000L)),
      authz = op => core.authorize(op, Seq(db(ident), ident.name)))
  }

  /** `VERSION AS OF` version travel: versions are the engine's recorded
    * commit versions (see `GraftTable.history`); the returned table reads
    * `scanAtVersion` and is read-only.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!core.tableExists(db(ident), ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF expects a numeric commit version, got '$version'")
    }
    new GraftDsTable(core.getTable(db(ident), ident.name), ident,
      atVersion = Some(v),
      authz = op => core.authorize(op, Seq(db(ident), ident.name)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val desc = GraftOptions.toDescriptor(schema, partitions, properties)
    new GraftDsTable(core.createTable(db(ident), ident.name, desc), ident,
      authz = op => core.authorize(op, Seq(db(ident), ident.name)))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val sets = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
    }.toMap
    val unsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }
    (sets.keys ++ unsets).foreach(k => require(!GraftOptions.isStructural(k),
      s"'$k' is fixed at CREATE TABLE time (like the reference's schema/" +
        "key/merge-engine options) — create a new table instead"))
    if (sets.nonEmpty || unsets.nonEmpty)
      core.updateProperties(db(ident), ident.name, sets, unsets)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1, "nested ADD COLUMN unsupported")
        core.addColumn(db(ident), ident.name,
          org.apache.spark.sql.types.StructField(
            add.fieldNames.head, add.dataType, add.isNullable))
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case other =>
        throw new UnsupportedOperationException(s"table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val exists = core.tableExists(db(ident), ident.name)
    if (exists) core.dropTable(db(ident), ident.name)
    exists
  }

  /** Rename within the source database (one atomic directory move). The
    * new identifier's namespace is ignored: Spark's RENAME TO passes it
    * in several shapes (bare, db-qualified, catalog-qualified) and
    * cross-database moves are unsupported anyway.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    core.renameTable(db(oldIdent), oldIdent.name, newIdent.name)
    ()
  }

  // ---- namespaces (one level = database directory) ----

  override def listNamespaces(): Array[Array[String]] =
    graft.core.WarehouseIO.listDir(warehouse)
      .filter(_.isDir).map(e => Array(e.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    // DatabaseInfo: descriptor properties (incl. `comment`) + timestamps
    val (props, created, modified) = core.getDatabaseInfo(namespace.head)
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    if (created > 0) m.put("createdTimeMillis", created.toString)
    if (modified > 0) m.put("modifiedTimeMillis", modified.toString)
    m
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      graft.core.WarehouseIO.isDirectory(s"$warehouse/${namespace.head}")

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "graft namespaces are one level (<db>)")
    core.createDatabase(namespace.head, metadata.asScala.toMap,
      ignoreIfExists = true)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    require(namespaceExists(namespace),
      s"no such namespace ${namespace.mkString(".")}")
    val (props, _, _) = core.getDatabaseInfo(namespace.head)
    val updated = changes.foldLeft(props) {
      case (acc, set: NamespaceChange.SetProperty) =>
        acc + (set.property() -> set.value())
      case (acc, rm: NamespaceChange.RemoveProperty) => acc - rm.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"namespace change $other")
    }
    core.alterDatabase(namespace.head, updated)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    core.dropDatabase(namespace.head, ignoreIfNotExists = true,
      cascade = cascade)
}

/** DSv2 table over a GraftTable: batch read = `scan()` (PK tables
  * materialize current state, log tables read the log), batch write =
  * `upsert()` / `append()` via the V1 write bridge.
  */
class GraftDsTable(val table: GraftTable, ident: Identifier,
    asOf: Option[java.sql.Timestamp] = None,
    atVersion: Option[Long] = None,
    authz: String => Unit = _ => ())
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with SupportsPartitionManagement {

  /** SQL UPDATE / MERGE INTO / subquery DELETE on PK tables — the
    * delta-based row-level framework ([[GraftRowLevelOperation]]: the
    * delta IS a CDC batch, applied as one atomic mixed merge commit).
    * Plain translatable DELETEs still take the metadata path: Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` converts the rewritten plan
    * back to [[deleteWhere]] when every predicate pushes down.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    authz("WRITE")
    val cmd = info.command
    require(isCurrentStateRead,
      s"$cmd cannot target a time-travel read")
    require(table.desc.isPrimaryKeyTable,
      s"$cmd requires a primary-key table; ${ident.toString} is append-only")
    // UPDATE rides delete+reinsert and MERGE can delete, so every
    // command needs honest delete semantics: engines that fold deletes
    // away (FIRST_ROW keeps the first row, VERSIONED ignores
    // unversioned intents) or tables configured to IGNORE deletes must
    // reject the statement rather than report success while changing
    // nothing — the same posture as canDeleteWhere. DELETE additionally
    // admits AGGREGATION tables (delete intents clear the aggregate
    // state, canDeleteWhere's contract); UPDATE/MERGE must not — their
    // reinserts would be re-AGGREGATED into what they meant to replace.
    val engineOk = table.desc.mergeEngine match {
      case graft.core.MergeEngine.Default => true
      case graft.core.MergeEngine.Aggregation(_) =>
        cmd == org.apache.spark.sql.connector.write
          .RowLevelOperation.Command.DELETE
      case _ => false
    }
    require(engineOk,
      s"$cmd is not supported under merge engine " +
        s"${table.desc.mergeEngine} on ${ident.toString}")
    require(table.desc.deleteBehavior == graft.core.DeleteBehavior.Allow,
      s"$cmd on ${ident.toString} is disabled by table.delete-behavior")
    () => new GraftRowLevelOperation(this, cmd)
  }

  /** A plain current-state handle (no time travel) — what
    * [[graft.plans.PkCollapseRule]] may substitute with the grouped
    * collapse plan.
    */
  private[graft] def isCurrentStateRead: Boolean =
    asOf.isEmpty && atVersion.isEmpty

  // Streaming through the catalog table — `spark.readStream.table(
  // "cat.db.t")` and `df.writeStream.toTable("cat.db.t")`, the API the
  // reference documents (website/docs/engine-spark/structured-streaming
  // .md) — is NATIVE DSv2: MICRO_BATCH_READ below routes the read to
  // GraftMicroBatchStream (the FlussMicroBatchStream.scala:43 shape;
  // offset semantics shared with the format("graft") V1 source), and
  // STREAMING_WRITE routes the write to GraftStreamingWrite. The
  // streamed schema is the table's declared columns, per the DSv2
  // contract; reader options (scan.startup.mode, maxOffsetsPerTrigger)
  // reach the stream directly — the earlier V2TableWithV1Fallback
  // bridge dropped them.

  // ----- partition management (SHOW PARTITIONS / ALTER TABLE ADD|DROP
  // PARTITION — the reference's partition admin surface, Admin
  // .createPartition/dropPartition, fluss-client/.../admin/Admin.java;
  // data dirs are the source of truth, same as the engine API) -----------

  override def partitionSchema(): StructType =
    StructType(table.desc.partitionKeys.map(k =>
      table.desc.schema(table.desc.schema.fieldIndex(k))).toArray)

  private def partValues(id: org.apache.spark.sql.catalyst.InternalRow): Seq[String] = {
    val ps = partitionSchema()
    require(ps.nonEmpty, s"table ${ident.toString} is not partitioned")
    ps.fields.zipWithIndex.map { case (f, i) =>
      require(!id.isNullAt(i), "null partition values are unsupported")
      f.dataType match {
        // DATE arrives as epoch-day; the hive dir name (what the write
        // path produces) is yyyy-MM-dd — the inverse of toIdent
        case org.apache.spark.sql.types.DateType =>
          java.time.LocalDate.ofEpochDay(
            id.get(i, f.dataType).asInstanceOf[Int].toLong).toString
        case dt => String.valueOf(id.get(i, dt))
      }
    }.toSeq
  }

  private def toIdent(values: Seq[String]): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      partitionSchema().fields.zip(values).map { case (f, v) =>
        f.dataType match {
          case org.apache.spark.sql.types.StringType =>
            org.apache.spark.unsafe.types.UTF8String.fromString(v)
          case org.apache.spark.sql.types.IntegerType => v.toInt
          case org.apache.spark.sql.types.LongType => v.toLong
          case org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.parse(v).toEpochDay.toInt
          case other =>
            throw new UnsupportedOperationException(s"partition key type $other")
        }
      }.toIndexedSeq)

  override def createPartition(id: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit = {
    authz("ALTER")
    if (!table.createPartition(partValues(id)))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        ident.toString, id, partitionSchema())
  }

  override def dropPartition(id: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    authz("ALTER")
    table.dropPartition(partValues(id))
  }

  override def partitionExists(id: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    table.partitionExists(partValues(id))

  override def replacePartitionMetadata(id: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("partition metadata")

  override def loadPartitionMetadata(id: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
      id: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val idx = names.map(ps.fieldIndex)
    val wanted = names.indices.map(i =>
      String.valueOf(id.get(i, ps(idx(i)).dataType)))
    table.partitionValues()
      .filter(vs => idx.zip(wanted).forall { case (fi, w) => vs(fi) == w })
      .map(toIdent).toArray
  }

  /** `DELETE FROM` (SURVEY §4 row-level ops through SQL): routed through
    * the merge path — emits `-D` change rows like any other delete, so
    * the changelog stays consistent. PK tables only; predicates that
    * don't translate are rejected up front (canDeleteWhere), making
    * Spark fall back to an error rather than a wrong partial delete.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    table.desc.isPrimaryKeyTable && asOf.isEmpty && atVersion.isEmpty &&
      // engines that treat deletes as no-ops (FIRST_ROW, VERSIONED) or
      // tables configured to ignore them must REJECT the statement —
      // accepting it would report success while deleting nothing
      (table.desc.mergeEngine match {
        case graft.core.MergeEngine.Default |
             graft.core.MergeEngine.Aggregation(_) => true
        case _ => false
      }) &&
      table.desc.deleteBehavior == graft.core.DeleteBehavior.Allow &&
      filters.forall(f => GraftScanBuilder.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    authz("WRITE") // row-level delete is a write, not a scan
    require(canDeleteWhere(filters), "untranslatable DELETE predicate")
    val cond = filters.flatMap(GraftScanBuilder.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.deleteWhere(cond)
  }

  override def name(): String = ident.toString
  /** PRIMARY KEY columns surface as non-nullable: the merge identity
    * can never be null (the write path hashes and groups by it), and
    * Spark's row-level rewrites REQUIRE non-null row ids
    * (NULLABLE_ROW_ID_ATTRIBUTES).
    */
  override def schema(): StructType = StructType(
    table.desc.schema.fields.map(f =>
      if (table.desc.primaryKey.contains(f.name)) f.copy(nullable = false)
      else f))
  override def columns(): Array[Column] =
    schema().fields.map(f =>
      Column.create(f.name, f.dataType, f.nullable))

  override def partitioning(): Array[Transform] = {
    val parts = table.desc.partitionKeys.map(Expressions.identity)
    val bucket =
      if (table.desc.effectiveBucketKeys.nonEmpty)
        Seq(Expressions.bucket(table.desc.numBuckets,
          table.desc.effectiveBucketKeys: _*))
      else Nil
    (parts ++ bucket).toArray
  }

  override def properties(): util.Map[String, String] =
    GraftOptions.toProperties(table.desc)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    authz("READ")
    // scan.kv.snapshot.lease.{id,duration}: a batch read acquires its
    // lease at plan time, pinning the history it is about to consume
    // against vacuum/expiry (engine-flink/options.md:106-107; remnants
    // are released via sys.drop_kv_snapshot_lease)
    Option(options.get("scan.kv.snapshot.lease.id")).foreach { id =>
      val dur = Option(options.get("scan.kv.snapshot.lease.duration"))
        .map(GraftProcedures.leaseDurationMillis).getOrElse(86400000L) // 1d
      table.acquireKvSnapshotLease(id, dur)
    }
    import scala.jdk.CollectionConverters._
    new GraftScanBuilder(table, asOf, atVersion,
      GraftScanBuilder.startupMode(options),
      options.asCaseSensitiveMap().asScala.toMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    authz("WRITE")
    // StreamingUpdateAsAppend: Update-mode plans write as appends — the
    // merge engine folds them, like the V1 sink's Append/Update contract
    new WriteBuilder with org.apache.spark.sql.graftshim.StreamingUpdateAsAppend {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite, "INSERT OVERWRITE unsupported; use upsert semantics")
              if (table.desc.isPrimaryKeyTable) table.upsert(data)
              else table.append(data)
            }
          }
        // df.writeStream.toTable: a real DSv2 streaming write (staged
        // parquet + tagged commit), so no .format() call is needed —
        // the reference's documented usage works verbatim
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftStreamingWrite(table, info.queryId(), info.schema(),
            org.apache.spark.sql.SparkSession.active)
      }
    }
  }
}

/** Filter + column pushdown into the engine scan. Translated filters are
  * applied inside `buildScan` (so partition pruning / parquet pushdown /
  * bucket pruning fire beneath the materialization) AND returned as
  * residuals for Spark to re-apply — the same safety-net contract as the
  * reference (FlinkTableSource.java:658-662: "engine re-applies
  * everything; storage skipping is best-effort").
  */
class GraftScanBuilder(table: GraftTable,
    asOf: Option[java.sql.Timestamp] = None,
    atVersion: Option[Long] = None,
    startup: Option[GraftScanBuilder.Startup] = None,
    streamParams: Map[String, String] = Map.empty) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = table.desc.schema
  private var pushedAgg: Option[Aggregation] = None

  /** A6 metadata-aggregate pushdown: on an append-only unpartitioned log
    * table, `count(*)` is answered from the offset manifest (the
    * reference's `countTable`, PushdownUtils.java:348-440) and
    * `min(c)`/`max(c)` from parquet FOOTER statistics
    * ([[GraftTable.fastMinMax]]) — zero data files scanned. Any
    * combination of the three in one SELECT pushes as a whole; PK
    * tables, time travel and filtered scans fall back to the real scan.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    canPushAgg(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = canPushAgg(aggregation)
    pushedAgg = if (ok) Some(aggregation) else None
    ok
  }

  private val statsTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.FloatType,
    org.apache.spark.sql.types.DoubleType,
    org.apache.spark.sql.types.StringType)

  private def fieldOf(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }

  private def statsColumn(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    fieldOf(e).filter(c => table.desc.schema.fieldNames.contains(c) &&
      // partition keys live in directory names, not parquet footers
      !table.desc.partitionKeys.contains(c) &&
      statsTypes.contains(table.desc.schema(c).dataType))

  /** The supported pushdown shapes, resolved ONCE from the connector
    * expressions — eligibility, output schema, metadata evaluation and
    * the scan fallback all consume this, so they can't drift.
    */
  private sealed trait PushedAggExpr
  private case object Cnt extends PushedAggExpr
  private case class Mn(col: String) extends PushedAggExpr
  private case class Mx(col: String) extends PushedAggExpr

  private def pushedExprs(aggregation: Aggregation)
      : Option[Seq[PushedAggExpr]] = {
    val resolved = aggregation.aggregateExpressions.toIndexedSeq.map {
      // count(*) comes from the offset manifest, which expirePartitions
      // skews on partitioned tables — those must scan. Footer min/max
      // reads the VISIBLE files directly, so partitioning is fine.
      case _: CountStar if table.desc.partitionKeys.isEmpty => Some(Cnt)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        statsColumn(m.column).map(Mn.apply)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        statsColumn(m.column).map(Mx.apply)
      case _ => None
    }
    if (resolved.nonEmpty && resolved.forall(_.isDefined))
      Some(resolved.flatten) else None
  }

  private def canPushAgg(aggregation: Aggregation): Boolean =
    !table.desc.isPrimaryKeyTable &&
      asOf.isEmpty && atVersion.isEmpty && startup.isEmpty && pushed.isEmpty &&
      aggregation.groupByExpressions.isEmpty &&
      pushedExprs(aggregation).isDefined

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.toColumn(f).isDefined)
    filters // all residual (best-effort pushdown, Spark re-applies)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // empty projection (e.g. count(*)) still needs one column to scan
    required = if (requiredSchema.isEmpty)
      StructType(table.desc.schema.fields.take(1)) else requiredSchema
  }

  /** The key-grouped (storage-partitioned-join) scan, when eligible:
    * opted in via `spark.sql.graft.read.preserve-data-grouping`
    * (key-grouped planning caps scan parallelism at the bucket count —
    * right for co-located joins, wrong as a default), key-bucketed
    * table, plain current-state read (no time travel / startup replay /
    * metadata aggregate / lake union), and the bucket keys surviving
    * column pruning (the reported `bucket(n, keys...)` transform must
    * resolve against the scan output). Append tables read the gated log;
    * PK tables qualify only in read-optimized mode with a snapshot tier
    * (the default PK read is a MERGE — grouping the inputs wouldn't make
    * its output co-partitioned rows).
    */
  private def keyGroupedScan(): Option[Scan] = {
    val spark = org.apache.spark.sql.SparkSession.active
    def conf(k: String): Boolean =
      graft.core.DynamicConfigs.readFlag(spark, table.path, k)
    val keys = table.desc.effectiveBucketKeys
    // the session's lake-union mode only binds tables that HAVE a lake
    // (PkCollapseRule substitutes the grouped scanLakeUnion for those);
    // for every other table the mode is inert and the native grouped
    // scan still applies
    def lakeUnionBinds: Boolean =
      conf("spark.sql.graft.read.lake-union") &&
        graft.core.LakeMaintenance.policyOf(table.desc.properties)
          .exists(p => graft.core.LakeFormatOps.of(p.format)
            .hasMetadata(p.dir))
    if (!graft.core.GroupedReads.enabled(spark, table.path,
      table.desc.numBuckets, table.plannerBytesCached)) None
    else if (keys.isEmpty || startup.isDefined || asOf.isDefined ||
      atVersion.isDefined || pushedAgg.isDefined || lakeUnionBinds) None
    else if (!keys.forall(required.fieldNames.contains)) None
    else if (!table.desc.isPrimaryKeyTable)
      Some(new GraftKeyGroupedScan(table, required, pushed,
        GraftScanTier.AppendLog, streamParams))
    else if (conf("spark.sql.graft.read.optimized") && table.hasSnapshotTier)
      Some(new GraftKeyGroupedScan(table, required, pushed,
        GraftScanTier.SnapshotOnly, streamParams))
    else None
  }

  override def build(): Scan = keyGroupedScan().getOrElse(new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    private def aggSchema(exprs: Seq[PushedAggExpr]): StructType = StructType(
      exprs.map {
        case Cnt => org.apache.spark.sql.types.StructField(
          "count(*)", org.apache.spark.sql.types.LongType, nullable = false)
        case Mn(c) => org.apache.spark.sql.types.StructField(
          s"min($c)", table.desc.schema(c).dataType, nullable = true)
        case Mx(c) => org.apache.spark.sql.types.StructField(
          s"max($c)", table.desc.schema(c).dataType, nullable = true)
      })

    override def readSchema(): StructType =
      pushedAgg.flatMap(pushedExprs).map(aggSchema).getOrElse(required)

    /** `spark.readStream.table(...)` — the native DSv2 streaming read
      * (MICRO_BATCH_READ). Filter/aggregate pushdown never applies to
      * streaming scans (and `pushFilters` returns everything as
      * residual regardless, so Spark re-applies any filter above the
      * scan); column pruning, if Spark ever prunes a streaming scan,
      * is honored through `required`.
      */
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      require(asOf.isEmpty && atVersion.isEmpty,
        "time-travel reads cannot stream: drop TIMESTAMP/VERSION AS OF")
      require(pushedAgg.isEmpty,
        "aggregate pushdown cannot apply to a streaming scan")
      new graft.streaming.GraftMicroBatchStream(table, required, streamParams,
        Some(checkpointLocation))
    }

    /** CBO input ([[GraftTable.plannerStats]]): visible-file bytes + the
      * manifest row count when free — a small dimension table becomes
      * broadcast-eligible instead of defaulting to never-broadcast —
      * plus per-column footer stats ([[GraftColumnStats]]) so a
      * SELECTIVE filter shrinks the estimate and flips the join at plan
      * time (V1StatsRule forwards this whole surface across Spark's V1
      * bridge wrapper).
      */
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
      val (bytes, rows) = table.plannerStats()
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(math.max(bytes, 1L))
        override def numRows(): java.util.OptionalLong =
          rows.map(java.util.OptionalLong.of)
            .getOrElse(java.util.OptionalLong.empty())
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          GraftColumnStats.of(table)
      }
    }

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      pushedAgg.flatMap(pushedExprs).foreach { exprs =>
        val outSchema = aggSchema(exprs)
        return new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = outSchema
          // evaluation happens HERE, at execution — planning (EXPLAIN,
          // executedPlan inspection) must stay job-free
          override def buildScan(): RDD[Row] = {
            // one fastMinMax per distinct column; a footer without stats
            // throws (driver-side) -> fall back to an engine aggregate
            // (still the exact answer, just not metadata-only)
            val values: Seq[Any] =
              try {
                val mm = scala.collection.mutable.HashMap[String, Option[(Any, Any)]]()
                def rangeOf(c: String) = mm.getOrElseUpdate(c, table.fastMinMax(c))
                exprs.map {
                  case Cnt => table.fastCount // manifest read, no scan
                  case Mn(c) => rangeOf(c).map(_._1).orNull
                  case Mx(c) => rangeOf(c).map(_._2).orNull
                }
              } catch {
                case _: IllegalArgumentException =>
                  import org.apache.spark.sql.functions.{count => fcount, lit, col => fcol, min => fmin, max => fmax}
                  val aggCols = exprs.map {
                    case Cnt => fcount(lit(1))
                    case Mn(c) => fmin(fcol(c))
                    case Mx(c) => fmax(fcol(c))
                  }
                  table.scan().agg(aggCols.head, aggCols.tail: _*).head()
                    .toSeq
              }
            context.sparkSession.sparkContext
              .parallelize(Seq(Row(values: _*)), 1)
          }
        }.asInstanceOf[T]
      }
      val filters = pushed
      val schema = required
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          // P5 through SQL: equality predicates pinning all bucket keys
          // prune the scan to one bucket's partition dirs (snapshot+log)
          val eqs = GraftScanBuilder.equalities(filters)
          val dataCols = table.desc.schema.fieldNames.toIndexedSeq
            .map(org.apache.spark.sql.functions.col)
          val source = (asOf, atVersion, startup) match {
            case (Some(ts), _, _) => table.scanAsOf(ts)
            case (_, Some(v), _) => table.scanAtVersion(v)
            // T1 startup modes through reader options (the reference's
            // scan.startup.mode connector option): log RECORDS, not
            // merged state
            case (_, _, Some(GraftScanBuilder.Earliest)) =>
              table.scanRange(Map.empty, table.latestOffsets).select(dataCols: _*)
            case (_, _, Some(GraftScanBuilder.Latest)) =>
              table.scanFromOffsets(table.latestOffsets)
            case (_, _, Some(GraftScanBuilder.FromTimestamp(ms))) =>
              table.scanFromTimestamp(new java.sql.Timestamp(ms))
            case (_, _, Some(GraftScanBuilder.FromVersion(v))) =>
              table.scanFromOffsets(table.offsetsAtVersion(v))
            // read-optimized mode (reference option spark.sql.fluss.read
            // .optimized): snapshot tier only, log merge skipped — faster,
            // possibly stale; session-scoped like the reference's SET
            case _ if graft.core.DynamicConfigs.effective(
                context.sparkSession,
                graft.core.WarehouseIO.warehouseOf(table.path),
                "spark.sql.graft.read.optimized", "false").toBoolean =>
              table.scanReadOptimized()
            // lake union read (the reference unions lake snapshot +
            // fresh log tail for lake-enabled tables, fluss-spark/.../
            // read/lake/FlussLakeUtils.scala): cold state from the
            // table.datalake.* lake dir, merge work only on the
            // un-tiered tail — session-scoped opt-in
            case _ if graft.core.DynamicConfigs.effective(
                context.sparkSession,
                graft.core.WarehouseIO.warehouseOf(table.path),
                "spark.sql.graft.read.lake-union", "false").toBoolean =>
              graft.core.LakeMaintenance.policyOf(table.desc.properties)
                .filter(p => graft.core.LakeFormatOps.of(p.format)
                  .hasMetadata(p.dir))
                .map(p => table.scanLakeUnion(p.dir, p.format))
                .getOrElse(table.scanPruned(eqs))
            case _ => table.scanPruned(eqs)
          }
          val base = filters.flatMap(GraftScanBuilder.toColumn)
            .foldLeft(source)(_.filter(_))
          base.select(schema.fieldNames.toIndexedSeq.map(
            org.apache.spark.sql.functions.col): _*).rdd
        }
      }.asInstanceOf[T]
    }
  })
}

object GraftScanBuilder {
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{Column => SCol}

  /** T1 startup modes as DataFrameReader options — the reference's
    * `scan.startup.mode` / `scan.startup.timestamp` connector options
    * (FlinkConnectorOptions.java:304-316), batch form:
    *
    *   spark.read.option("scan.startup.mode", "timestamp")
    *     .option("scan.startup.timestamp-millis", ts)
    *     .table("gfs.db.t")
    *
    * `initial` (or no option) keeps the default read — merged current
    * state; `earliest`/`latest`/`timestamp` read log RECORDS from the
    * resolved position (changelog semantics, like the reference's
    * non-initial modes).
    */
  sealed trait Startup
  case object Earliest extends Startup
  case object Latest extends Startup
  final case class FromTimestamp(ms: Long) extends Startup
  final case class FromVersion(v: Long) extends Startup

  def startupMode(options: CaseInsensitiveStringMap): Option[Startup] =
    Option(options.get("scan.startup.mode")).map(_.toLowerCase).flatMap {
      case "initial" | "full" => None
      case "earliest" => Some(Earliest)
      case "latest" => Some(Latest)
      case "timestamp" => Some(FromTimestamp(
        Option(options.get("scan.startup.timestamp-millis"))
          .map(_.toLong).getOrElse(throw new IllegalArgumentException(
            "scan.startup.mode=timestamp requires scan.startup.timestamp-millis"))))
      case "version" => Some(FromVersion(
        Option(options.get("scan.startup.version"))
          .map(_.toLong).getOrElse(throw new IllegalArgumentException(
            "scan.startup.mode=version requires scan.startup.version"))))
      case other => throw new IllegalArgumentException(
        s"unknown scan.startup.mode '$other' (initial/earliest/latest/timestamp/version)")
    }

  /** Top-level equality constraints (column -> value) from a pushed
    * filter set — the bucket-pruning input (conjuncts only; an OR can't
    * pin a bucket).
    */
  def equalities(fs: Array[Filter]): Map[String, Any] = fs.flatMap {
    case EqualTo(a, v) => Seq(a -> v)
    case And(l, r) => equalities(Array(l, r))
    case _ => Nil
  }.toMap

  /** sources.Filter -> Column for the reference's 15 leaf predicates
    * (SURVEY §2.2 P2) plus And/Or/Not. None = untranslatable (left to
    * Spark's residual evaluation).
    */
  def toColumn(f: Filter): Option[SCol] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for {lc <- toColumn(l); rc <- toColumn(r)} yield lc && rc
    case Or(l, r) => for {lc <- toColumn(l); rc <- toColumn(r)} yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** Read-only metadata / virtual table (`<db>.<tbl>.changelog|binlog|
  * history|partitions`): a thin V1Scan over an engine DataFrame thunk,
  * re-planned per query so it always reflects current table state. The
  * changelog/binlog forms stay fully distributed (they are the engine's
  * own log scans); history/partitions are driver-size by construction.
  */
class GraftMetaTable(qualified: String,
    frame: () => DataFrame) extends Table with SupportsRead {

  override def name(): String = qualified
  // Spark calls schema() repeatedly during analysis; plan the frame once
  // for it (the data itself is still re-planned per query in buildScan)
  private lazy val cachedSchema: StructType = frame().schema
  override def schema(): StructType = cachedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema()
        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
            context: SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = readSchema()
            override def buildScan(): RDD[Row] = frame().rdd
          }.asInstanceOf[T]
      }
    }
}
