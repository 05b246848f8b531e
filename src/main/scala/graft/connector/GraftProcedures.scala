package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{AutoPartitionPolicy, AutoPartitionUnit, GraftTable, LakeFormatOps}

/** SQL stored procedures for table maintenance (Spark 4 DSv2
  * ProcedureCatalog — the iceberg `CALL catalog.system.…` surface; the
  * reference exposes the same operations through its Admin RPC,
  * fluss-client/.../admin/Admin.java):
  *
  *   CALL gfs.system.compact('db.tbl')            -- KV snapshot (S3/S7)
  *   CALL gfs.system.vacuum_log('db.tbl')         -- drop snapshot-covered log (S13)
  *   CALL gfs.system.rewrite_files('db.tbl')      -- small-file compaction
  *   CALL gfs.system.expire_partitions('db.tbl', 'dt', '2024-02-01')
  *   CALL gfs.system.maintain_partitions('db.tbl', 'day', 2, 7)
  *
  * Each call runs the same engine method the Scala API exposes and
  * returns a one-row summary via a LocalScan (driver-side result; the
  * heavy lifting inside — snapshot writes, log rewrites — is distributed
  * Spark jobs like any other engine operation).
  */
object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  def names: Seq[String] = Seq("compact", "vacuum_log", "export_snapshot") ++
    LakeFormatOps.all.flatMap(f =>
      Seq(s"export_snapshot_${f.name}", s"tier_snapshot_${f.name}")) ++ Seq(
    "expire_lake_snapshots", "rollback_to_version",
    "rewrite_files", "expire_partitions",
    "maintain_partitions", "maintain_indexes", "maintain_lake", "expire_log",
    "remove_orphan_files",
    "create_index", "refresh_index",
    "create_vector_index", "refresh_vector_index", "get_configs",
    "acquire_kv_snapshot_lease", "drop_kv_snapshot_lease",
    "list_kv_snapshot_leases", "add_acl", "drop_acl", "list_acl",
    "set_cluster_configs", "append_cluster_configs",
    "subtract_cluster_configs", "reset_cluster_configs",
    "register_producer_offsets", "get_producer_offsets",
    "delete_producer_offsets", "recover_producer",
    "rebucket", "suggest_rebucket")

  /** `<prefix><format>` procedure names → the lake format they target:
    * one export and one tier procedure per [[LakeFormatOps]] face.
    */
  private final class LakeProc(prefix: String) {
    def unapply(name: String): Option[LakeFormatOps] =
      LakeFormatOps.all.find(f => name == prefix + f.name)
  }
  private val ExportLake = new LakeProc("export_snapshot_")
  private val TierLake = new LakeProc("tier_snapshot_")

  /** `'k1=v1;k2=v2'` → pairs (the reference passes variadic
    * 'key','value' pairs; Spark procedure parameters are fixed-arity, so
    * the pairs ride in one string).
    */
  private def parsePairs(s: String): Map[String, String] =
    s.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"bad config pair '$kv' (expected key=value)")
      kv.substring(0, i).trim -> kv.substring(i + 1).trim
    }.toMap

  /** 'db.table' → (db, table), with a usable error on any other shape
    * (a bare destructure would throw MatchError on a 1- or 3-part name).
    */
  private def splitTableName(qualified: String): (String, String) = {
    val parts = qualified.split('.')
    require(parts.length == 2,
      s"expected a two-part table name 'db.table', got '$qualified'")
    (parts(0), parts(1))
  }

  /** 'CLUSTER' / 'db' / 'db.table' → resource path for the authorizer
    * ('ANY' spans everything, so its authorization scope is the cluster).
    */
  private def resourceParts(resource: String): Seq[String] =
    resource.toLowerCase match {
      case "cluster" | "any" => Nil
      case _ => resource.split('.').toSeq
    }

  /** Session-scoped engine configuration keys and their defaults — the
    * registry behind `CALL <cat>.system.get_configs()` (the reference's
    * `sys.get_cluster_configs`, website/docs/engine-spark/procedures
    * .md:62-99; source DEFAULT vs DYNAMIC maps to DEFAULT vs SESSION
    * here, since a library engine's dynamic scope IS the Spark session).
    */
  val configDefaults: Map[String, String] =
    graft.core.DynamicConfigs.registry.map { case (k, (d, _)) => k -> d }

  /** '7d' / '12h' / '30m' / '45s' / plain milliseconds → millis (the
    * reference's Duration-typed `table.log.ttl`). One implementation for
    * procedures and property policies: [[graft.core.Durations]].
    */
  private[connector] def parseTtlMillis(s: String): Long =
    graft.core.Durations.parseMillis(s)

  def load(catalog: GraftCatalog, name: String): Option[UnboundProcedure] =
    name match {
      case "compact" => Some(proc(catalog, "compact",
        Seq(in("table", StringType)),
        out("result", StringType)) { (t, _) =>
        t.compact(); s"snapshot written at offsets ${t.latestOffsets}"
      })
      case "vacuum_log" => Some(proc(catalog, "vacuum_log",
        Seq(in("table", StringType)),
        out("result", StringType)) { (t, _) =>
        t.vacuumLog(); "log vacuumed to the snapshot cutoff"
      })
      // the reference's CALL sys.rebalance moves replicas across tablet
      // servers (procedures.md:432); a library engine has no replicas —
      // the Spark-meaningful twin is changing the storage bucket count
      // that SPJ / auto grouping / pruning / lookups key off
      case "rebucket" => Some(proc(catalog, "rebucket",
        Seq(in("table", StringType), in("buckets", IntegerType),
          // opt-in for VACUUMED PK tables: re-hash current state, fresh
          // history (changelog restarts as +I; streams must restart)
          in("state_seeded", BooleanType, Some("false"))),
        out("result", StringType)) { (_, row) =>
        val (tdb, tname) = splitTableName(row.getUTF8String(0).toString)
        val n = row.getInt(1)
        val seeded = !row.isNullAt(2) && row.getBoolean(2)
        catalog.coreCatalog.rebucket(tdb, tname, n, seeded)
        s"table rebucketed to $n buckets" +
          (if (seeded) " from current state (history restarted)" else "") +
          " (derived indexes refuse and must be rebuilt; re-open any " +
          "cached handles)"
      })
      // measurement + advisory half of the same twin: per-bucket load
      // from one listing, suggested count for a target bytes/bucket —
      // the library form of the reference's rebalance goal optimizer
      case "suggest_rebucket" => Some(proc(catalog, "suggest_rebucket",
        Seq(in("table", StringType), in("target_bytes", LongType)),
        out("result", StringType)) { (t, row) =>
        val target = row.getLong(1)
        val load = t.bucketLoadStats()
        val bytes = load.values.map(_._2).toSeq.sorted
        val total = bytes.sum
        val suggested = t.suggestBucketCount(target)
        val mean = total.toDouble / t.desc.numBuckets
        val p99 =
          if (bytes.isEmpty) 0L
          else bytes(math.min(bytes.size - 1,
            math.ceil(0.99 * bytes.size).toInt - 1))
        val skew = if (load.isEmpty || total == 0L) 1.0 else p99 / mean
        // NDV ceiling: a volume-based suggestion past the bucket key's
        // distinct count manufactures empty buckets — warn, don't just
        // silently cap, so the operator knows WHY the number is low
        val byVolume = math.max(1,
          math.ceil(total.toDouble / target).toInt)
        val ndvNote = t.bucketKeyNdv() match {
          case Some(ndv) if ndv < byVolume =>
            s" WARNING: bucket-key NDV ~$ndv is below the volume-based " +
              s"suggestion $byVolume — more buckets than distinct keys " +
              "cannot spread load; suggestion capped at the NDV"
          case _ => ""
        }
        f"buckets=${t.desc.numBuckets} populated=${load.size} " +
          f"total_bytes=$total max_bucket_bytes=${if (bytes.isEmpty) 0L else bytes.max} " +
          f"p99_bucket_bytes=$p99 mean_bucket_bytes=${mean.toLong} " +
          f"skew=$skew%.2f suggested=$suggested" +
          (if (suggested != t.desc.numBuckets)
            s" — CALL sys.rebucket(table, $suggested)" else " — balanced") +
          ndvNote
      })
      case "rollback_to_version" => Some(proc(catalog, "rollback_to_version",
        Seq(in("table", StringType), in("version", LongType)),
        out("result", StringType)) { (t, row) =>
        val v = row.getLong(1)
        t.rollbackTo(v)
        s"table restored to version $v (later commits undone)"
      })
      case "export_snapshot" => Some(proc(catalog, "export_snapshot",
        Seq(in("table", StringType), in("dir", StringType)),
        out("result", StringType)) { (t, row) =>
        // data egress: gate on READ, not the DESCRIBE that table
        // resolution already checked — a DESCRIBE-only principal must
        // not dump table contents to a directory of their choosing
        val (tdb, tname) = splitTableName(row.getUTF8String(0).toString)
        catalog.coreCatalog.authorize("READ", Seq(tdb, tname))
        val dir = row.getUTF8String(1).toString
        t.exportSnapshot(dir)
        s"exported current state to $dir (open parquet + _export_manifest.json)"
      })
      case ExportLake(fmt) => Some(proc(catalog, name,
        Seq(in("table", StringType), in("dir", StringType)),
        out("result", StringType)) { (t, row) =>
        // same egress gate as export_snapshot
        val (tdb, tname) = splitTableName(row.getUTF8String(0).toString)
        catalog.coreCatalog.authorize("READ", Seq(tdb, tname))
        val dir = row.getUTF8String(1).toString
        t.exportSnapshot(dir, Some(fmt.name))
        s"exported current state to $dir ${fmt.exportShape}"
      })
      case TierLake(fmt) => Some(proc(catalog, name,
        Seq(in("table", StringType), in("dir", StringType)),
        out("result", StringType)) { (t, row) =>
        // same egress gate as export_snapshot; repeated calls move only
        // the delta since the last one (incremental lake tiering)
        val (tdb, tname) = splitTableName(row.getUTF8String(0).toString)
        catalog.coreCatalog.authorize("READ", Seq(tdb, tname))
        t.tierSnapshot(row.getUTF8String(1).toString, fmt.name)
      })
      case "expire_lake_snapshots" => Some(localProc(catalog,
        "expire_lake_snapshots",
        Seq(in("dir", StringType), in("keep_last", IntegerType, Some("1")),
          in("format", StringType, Some("'iceberg'"))),
        out("result", StringType)) { row =>
        // destructive, dir-scoped (the dir is a lake surface, not a
        // catalog table): warehouse-admin authorization, the
        // set_cluster_configs posture
        catalog.coreCatalog.authorize("ALTER", Nil)
        val dir = row.getUTF8String(0).toString
        val fmt = LakeFormatOps.of(row.getUTF8String(2).toString)
        val deleted = fmt.expireHistory(
          org.apache.spark.sql.SparkSession.active, dir, row.getInt(1))
        Seq(utf8Row(s"expired ${deleted.size} file(s); retained " +
          s"${fmt.historyNoun}(s) ${fmt.retainedVersions(dir).mkString(", ")}"))
      })
      case "maintain_indexes" => Some(proc(catalog, "maintain_indexes",
        Seq(in("table", StringType)),
        out("result", StringType)) { (t, _) =>
        // the index-freshness half of a maintenance tick: refresh every
        // index registered against this base table (discovered from the
        // index tables' properties, no per-index arguments). When the
        // base table carries a `table.index.*` policy the tick is
        // freshness-gated like maintain_lake; otherwise it refreshes
        // unconditionally (the explicit-call posture)
        graft.core.IndexMaintenance.maintainIndexes(
          catalog.coreCatalog, t, System.currentTimeMillis()).getOrElse {
          val refreshed = graft.core.IndexMaintenance.refreshAll(
            catalog.coreCatalog, t)
          if (refreshed.isEmpty) "no registered indexes"
          else refreshed.map { case (qn, kind, v) =>
            s"$qn ($kind) refreshed to base version $v"
          }.mkString("; ")
        }
      })
      case "maintain_lake" => Some(proc(catalog, "maintain_lake",
        Seq(in("table", StringType)),
        out("result", StringType)) { (t, row) =>
        // the lake-tiering half of a maintenance tick: policy from the
        // table's table.datalake.* properties (reference option names).
        // Same egress gate as export_snapshot/tier_snapshot_* — the tick
        // moves table data out; the expiry half runs under a policy the
        // table's admin set (property writes already required ALTER)
        val (tdb, tname) = splitTableName(row.getUTF8String(0).toString)
        catalog.coreCatalog.authorize("READ", Seq(tdb, tname))
        graft.core.LakeMaintenance.maintainLake(t, System.currentTimeMillis())
          .getOrElse("datalake tiering disabled: set " +
            "'table.datalake.enabled'='true' and 'table.datalake.dir' " +
            "on the table")
      })
      case "rewrite_files" => Some(proc(catalog, "rewrite_files",
        Seq(in("table", StringType),
          in("max_records_per_file", LongType, Some("0")),
          in("zorder_by", StringType, Some("''"))),
        out("result", StringType)) { (t, row) =>
        // zorder_by 'table' reads the table's own `table.rewrite.zorder-by`
        // property (settable via ALTER TABLE ... SET TBLPROPERTIES) — the
        // shape a maintenance loop over many tables uses
        val spec = row.getUTF8String(2).toString match {
          case "table" => t.desc.properties.getOrElse(
            "table.rewrite.zorder-by", throw new IllegalArgumentException(
              "table.rewrite.zorder-by is not set on this table; pass " +
                "explicit columns like 'c1,c2' or set the property"))
          case explicit => explicit
        }
        val zcols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        t.rewriteLogFiles(row.getLong(1), zorderBy = zcols)
        if (zcols.isEmpty) "log rewritten to one file per (partition, bucket)"
        else s"log rewritten, z-ordered by ${zcols.mkString(",")}"
      })
      case "create_index" => Some(proc(catalog, "create_index",
        Seq(in("table", StringType), in("index_table", StringType),
          in("columns", StringType)),
        out("result", StringType)) { (t, row) =>
        val qualified = row.getUTF8String(1).toString
        val parts = qualified.split('.')
        require(parts.length == 2, s"index_table must be 'db.name', got '$qualified'")
        val cols = row.getUTF8String(2).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val si = graft.core.SecondaryIndex.create(
          catalog.coreCatalog, parts(0), parts(1), t, cols)
        s"index $qualified on (${cols.mkString(",")}) built at base version " +
          s"${si.appliedVersion}"
      })
      case "create_vector_index" => Some(proc(catalog, "create_vector_index",
        Seq(in("table", StringType), in("index_table", StringType),
          in("vector_column", StringType), in("nlist", IntegerType),
          // pq_m > 0 additionally stores product-quantization codes
          // (pq_m subspaces × pq_ksub centroids) for ADC probes
          in("pq_m", IntegerType, Some("0")),
          in("pq_ksub", IntegerType, Some("16"))),
        out("result", StringType)) { (t, row) =>
        val qualified = row.getUTF8String(1).toString
        val parts = qualified.split('.')
        require(parts.length == 2, s"index_table must be 'db.name', got '$qualified'")
        val vecCol = row.getUTF8String(2).toString
        val nlist = row.getInt(3)
        val pq = if (row.getInt(4) > 0) Some((row.getInt(4), row.getInt(5)))
          else None
        require(t.desc.primaryKey.size == 1,
          "vector index requires a single-column-PK base table")
        val vi = graft.core.VectorIndex.create(catalog.coreCatalog,
          parts(0), parts(1), t, t.desc.primaryKey.head, vecCol, nlist,
          pq = pq)
        s"vector index $qualified on $vecCol built " +
          s"(${nlist} lists${pq.map { case (m, ks) =>
            s", PQ $m x $ks" }.getOrElse("")}) at base version ${
            vi.appliedVersion}"
      })
      case "refresh_vector_index" => Some(proc(catalog, "refresh_vector_index",
        Seq(in("table", StringType), in("index_table", StringType)),
        out("result", StringType)) { (t, row) =>
        val idx = catalog.tableForProcedure(row.getUTF8String(1).toString)
        require(t.desc.primaryKey.size == 1,
          "vector index requires a single-column-PK base table")
        // index schema: (ivf_list, <pk>, <vecCol>, _src_offset)
        val vi = graft.core.VectorIndex.open(t, t.desc.primaryKey.head,
          idx.desc.schema.fieldNames(2), idx)
        vi.refresh()
        s"vector index refreshed to base version ${vi.appliedVersion}"
      })
      case "refresh_index" => Some(proc(catalog, "refresh_index",
        Seq(in("table", StringType), in("index_table", StringType)),
        out("result", StringType)) { (t, row) =>
        val idx = catalog.tableForProcedure(row.getUTF8String(1).toString)
        // the index's bucket keys ARE its index columns (SecondaryIndex.create)
        val si = graft.core.SecondaryIndex.open(t, idx, idx.desc.bucketKeys)
        si.refresh()
        s"index refreshed to base version ${si.appliedVersion}"
      })
      case "analyze_column_stats" => Some(proc(catalog, "analyze_column_stats",
        Seq(in("table", StringType)),
        out("result", StringType)) { (t, _) =>
        // the ANALYZE analog: one distributed pass over the visible
        // state rebuilds the manifest column-stats blob (min/max/nulls/
        // HLL NDV) so plan-time CBO stats hold at any table size — the
        // arming path for tables whose history predates write-time stats
        t.analyzeColumnStats()
        val cols = t.tableLog.read().colStats.map(_.cols.size).getOrElse(0)
        s"column stats rebuilt into the manifest ($cols columns)"
      })
      case "remove_orphan_files" => Some(proc(catalog, "remove_orphan_files",
        Seq(in("table", StringType),
          in("staging_older_than", StringType, Some("'24h'"))),
        out("result", StringType)) { (t, row) =>
        t.removeOrphanFiles(parseTtlMillis(row.getUTF8String(1).toString))
        "orphan files removed"
      })
      case "expire_log" => Some(proc(catalog, "expire_log",
        Seq(in("table", StringType),
          in("ttl", StringType, Some("'table'"))),
        out("dropped", LongType)) { (t, row) =>
        // ttl 'table' reads the table's own `table.log.ttl` property
        // (ConfigOptions.java:1814), settable via ALTER TABLE ... SET
        val ttl = row.getUTF8String(1).toString match {
          case "table" => parseTtlMillis(t.desc.properties.getOrElse(
            "table.log.ttl", throw new IllegalArgumentException(
              "table.log.ttl is not set on this table; pass an explicit " +
                "ttl like '7d' or set the property")))
          case explicit => parseTtlMillis(explicit)
        }
        Long.box(t.expireLog(ttl))
      })
      case "expire_partitions" => Some(proc(catalog, "expire_partitions",
        Seq(in("table", StringType), in("partition_col", StringType),
          in("cutoff", StringType)),
        out("expired", IntegerType)) { (t, row) =>
        Int.box(t.expirePartitions(
          row.getUTF8String(1).toString, row.getUTF8String(2).toString))
      })
      case "maintain_partitions" => Some(proc(catalog, "maintain_partitions",
        Seq(in("table", StringType),
          in("time_unit", StringType, Some("'day'")),
          in("pre_create", IntegerType, Some("2")),
          in("retain", IntegerType, Some("7"))),
        out("result", StringType)) { (t, row) =>
        // time_unit 'table' reads the policy from the table's own
        // `table.auto-partition.*` properties (the reference's per-table
        // options, set via ALTER TABLE ... SET TBLPROPERTIES) — the shape
        // a scheduler loop over all tables uses
        val policy = row.getUTF8String(1).toString.toLowerCase match {
          case "table" => AutoPartitionPolicy.fromProperties(t.desc.properties)
            .getOrElse(throw new IllegalArgumentException(
              "table.auto-partition.enabled is not 'true' on this table"))
          case unit => AutoPartitionPolicy(
            timeUnit = AutoPartitionPolicy.unitOf(unit),
            numPreCreate = row.getInt(2), numToRetain = row.getInt(3))
        }
        val (created, expired) = t.maintainPartitions(policy,
          java.time.Instant.now())
        s"pre-created ${created.mkString("[", ",", "]")}, " +
          s"expired ${expired.mkString("[", ",", "]")}"
      })
      // KV snapshot leases (engine-flink/procedures.md "kv snapshot
      // lease"): a batch job pins the history it is reading; drop cleans
      // up lease remnants after an abnormal termination. Per-table here —
      // a library engine's lease scope is the table, not a cluster.
      case "acquire_kv_snapshot_lease" => Some(proc(catalog,
        "acquire_kv_snapshot_lease",
        Seq(in("table", StringType), in("lease_id", StringType),
          in("duration", StringType, Some("'1d'"))),
        out("result", StringType)) { (t, row) =>
        val floors = t.acquireKvSnapshotLease(
          row.getUTF8String(1).toString,
          parseTtlMillis(row.getUTF8String(2).toString))
        s"leased log floor ${floors.toList.sortBy(_._1)
          .map { case (b, o) => s"$b:$o" }.mkString("[", ",", "]")}"
      })
      case "drop_kv_snapshot_lease" => Some(proc(catalog,
        "drop_kv_snapshot_lease",
        Seq(in("table", StringType), in("lease_id", StringType)),
        out("result", StringType)) { (t, row) =>
        t.dropKvSnapshotLease(row.getUTF8String(1).toString)
        "success" // the reference returns 'success' unconditionally too
      })
      case "list_kv_snapshot_leases" => Some(proc(catalog,
        "list_kv_snapshot_leases",
        Seq(in("table", StringType)),
        out("leases", StringType)) { (t, _) =>
        t.kvSnapshotLeases().toList.sortBy(_._1).map {
          case (id, (floors, exp)) =>
            s"$id expires=$exp floor=${floors.toList.sortBy(_._1)
              .map { case (b, o) => s"$b:$o" }.mkString("[", ",", "]")}"
        }.mkString("; ")
      })
      // Dynamic cluster configs (engine-flink/procedures.md "Cluster
      // Configuration Procedures"): validated, persisted at the warehouse
      // root, visible to every session — the ZK-persisted dynamic scope.
      // Changing cluster state is a cluster-level ALTER.
      case "set_cluster_configs" => Some(localProc(catalog,
        "set_cluster_configs",
        Seq(in("config_pairs", StringType)),
        out("result", StringType)) { row =>
        catalog.coreCatalog.authorize("ALTER", Nil)
        val pairs = parsePairs(row.getUTF8String(0).toString)
        graft.core.DynamicConfigs.set(catalog.coreCatalog.warehouse, pairs)
        Seq(utf8Row(s"set ${pairs.keys.toSeq.sorted.mkString(",")}"))
      })
      case "append_cluster_configs" => Some(localProc(catalog,
        "append_cluster_configs",
        Seq(in("config_pairs", StringType)),
        out("result", StringType)) { row =>
        catalog.coreCatalog.authorize("ALTER", Nil)
        val pairs = parsePairs(row.getUTF8String(0).toString)
        graft.core.DynamicConfigs.append(catalog.coreCatalog.warehouse, pairs)
        Seq(utf8Row(s"appended to ${pairs.keys.toSeq.sorted.mkString(",")}"))
      })
      case "subtract_cluster_configs" => Some(localProc(catalog,
        "subtract_cluster_configs",
        Seq(in("config_pairs", StringType)),
        out("result", StringType)) { row =>
        catalog.coreCatalog.authorize("ALTER", Nil)
        val pairs = parsePairs(row.getUTF8String(0).toString)
        graft.core.DynamicConfigs.subtract(catalog.coreCatalog.warehouse, pairs)
        Seq(utf8Row(s"subtracted from ${pairs.keys.toSeq.sorted.mkString(",")}"))
      })
      case "reset_cluster_configs" => Some(localProc(catalog,
        "reset_cluster_configs",
        Seq(in("config_keys", StringType)),
        out("result", StringType)) { row =>
        catalog.coreCatalog.authorize("ALTER", Nil)
        val keys = row.getUTF8String(0).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val n = graft.core.DynamicConfigs.reset(
          catalog.coreCatalog.warehouse, keys)
        Seq(utf8Row(s"reset $n"))
      })
      // ACL procedures (engine-flink/procedures.md "Access Control
      // Procedures"; model in security/authorization.md). Mutations
      // require ALL on the target resource, listing requires DESCRIBE —
      // the reference's CREATE_ACLS/DROP_ACLS/LIST_ACLS gates.
      case "add_acl" => Some(localProc(catalog, "add_acl",
        Seq(in("resource", StringType), in("permission", StringType),
          in("principal", StringType), in("operation", StringType),
          in("host", StringType, Some("'*'"))),
        out("result", StringType)) { row =>
        def s(i: Int) = row.getUTF8String(i).toString
        val resource = if (s(0).equalsIgnoreCase("cluster")) "cluster" else s(0)
        catalog.coreCatalog.authorize("ALL", resourceParts(resource))
        catalog.coreCatalog.acls.add(graft.core.AclEntry(
          resource, s(1).toUpperCase, s(2), s(3).toUpperCase, s(4)))
        Seq(utf8Row("success"))
      })
      case "drop_acl" => Some(localProc(catalog, "drop_acl",
        Seq(in("resource", StringType), in("permission", StringType),
          in("principal", StringType), in("operation", StringType),
          in("host", StringType, Some("'ANY'"))),
        out("result", StringType)) { row =>
        def s(i: Int) = row.getUTF8String(i).toString
        val resource =
          if (s(0).equalsIgnoreCase("cluster")) "cluster"
          else if (s(0).equalsIgnoreCase("any")) "ANY" else s(0)
        catalog.coreCatalog.authorize("ALL", resourceParts(resource))
        val n = catalog.coreCatalog.acls.drop(graft.core.AclEntry(
          resource, s(1).toUpperCase, s(2), s(3).toUpperCase, s(4)))
        Seq(utf8Row(s"dropped $n"))
      })
      case "list_acl" => Some(localProc(catalog, "list_acl",
        Seq(in("resource", StringType, Some("'ANY'")),
          in("permission", StringType, Some("'ANY'")),
          in("principal", StringType, Some("'ANY'")),
          in("operation", StringType, Some("'ANY'")),
          in("host", StringType, Some("'ANY'"))),
        out("acl", StringType)) { row =>
        def s(i: Int) = row.getUTF8String(i).toString
        val resource =
          if (s(0).equalsIgnoreCase("cluster")) "cluster"
          else if (s(0).equalsIgnoreCase("any")) "ANY" else s(0)
        catalog.coreCatalog.authorize("DESCRIBE", resourceParts(resource))
        catalog.coreCatalog.acls.list(graft.core.AclEntry(
          resource, s(1).toUpperCase, s(2), s(3).toUpperCase, s(4)))
          .sortBy(_.render).map(e => utf8Row(e.render))
      })
      // Producer offset snapshots — the reference's exactly-once undo-
      // recovery admin surface (Admin.registerProducerOffsets /
      // getProducerOffsets / deleteProducerOffsets, Admin.java:745),
      // plus the recovery flow itself as a procedure.
      case "register_producer_offsets" => Some(localProc(catalog,
        "register_producer_offsets",
        Seq(in("producer_id", StringType), in("tables", StringType),
          in("ttl", StringType, Some("'24h'"))),
        out("result", StringType)) { row =>
        def s(i: Int) = row.getUTF8String(i).toString
        val names = s(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(names.nonEmpty, "tables must name at least one 'db.table'")
        val snap = catalog.coreCatalog.currentOffsetsFor(names)
        val r = catalog.coreCatalog.registerProducerOffsets(
          s(0), snap, parseTtlMillis(s(2)))
        Seq(utf8Row(r match {
          case graft.core.ProducerOffsets.Created => "CREATED"
          case graft.core.ProducerOffsets.AlreadyExists => "ALREADY_EXISTS"
        }))
      })
      case "get_producer_offsets" => Some(localProc(catalog,
        "get_producer_offsets",
        Seq(in("producer_id", StringType)),
        out("offsets", StringType)) { row =>
        val id = row.getUTF8String(0).toString
        catalog.coreCatalog.getProducerOffsets(id) match {
          case None => Seq.empty
          case Some(snap) => snap.tables.toSeq.sortBy(_._1).map {
            case (qn, offs) => utf8Row(qn + " " + offs.toSeq.sorted
              .map { case (b, o) => s"$b:$o" }.mkString("{", ",", "}"))
          }
        }
      })
      case "delete_producer_offsets" => Some(localProc(catalog,
        "delete_producer_offsets",
        Seq(in("producer_id", StringType)),
        out("result", StringType)) { row =>
        val id = row.getUTF8String(0).toString
        Seq(utf8Row(
          if (catalog.coreCatalog.deleteProducerOffsets(id)) "deleted"
          else "not found"))
      })
      case "recover_producer" => Some(localProc(catalog,
        "recover_producer",
        Seq(in("producer_id", StringType)),
        out("result", StringType)) { row =>
        val id = row.getUTF8String(0).toString
        catalog.coreCatalog.recoverProducer(id).toSeq.sortBy(_._1).map {
          case (qn, n) => utf8Row(s"$qn undone=$n")
        }
      })
      case "get_configs" => Some(new UnboundProcedure with BoundProcedure {
        private val schema = StructType(Seq(
          StructField("config_key", StringType, nullable = false),
          StructField("config_value", StringType, nullable = false),
          StructField("config_source", StringType, nullable = false)))
        override def name(): String = "get_configs"
        override def description(): String =
          "engine configuration values (key, value, DEFAULT|SESSION)"
        override def bind(inputType: StructType): BoundProcedure = this
        override def parameters(): Array[ProcedureParameter] =
          Array(in("config_keys", StringType, Some("''")))
        override def isDeterministic: Boolean = false // reflects session state
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = org.apache.spark.sql.SparkSession.active
          val wanted = input.getUTF8String(0).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSet
          // SESSION > DYNAMIC (warehouse-persisted, set_cluster_configs)
          // > DEFAULT — the reference's DYNAMIC vs DEFAULT source column
          val sessionGraft = spark.conf.getAll.filter {
            case (k, _) => k.startsWith("spark.sql.graft.") }
          val dynamic = graft.core.DynamicConfigs.read(
            catalog.coreCatalog.warehouse)
          val resultRows = (configDefaults.keySet ++ sessionGraft.keySet ++
              dynamic.keySet).toSeq.sorted
            .filter(k => wanted.isEmpty || wanted.contains(k))
            .map { k =>
              val session = sessionGraft.get(k)
              val value = session.orElse(dynamic.get(k))
                .orElse(configDefaults.get(k)).getOrElse("")
              val source =
                if (session.isDefined) "SESSION"
                else if (dynamic.contains(k)) "DYNAMIC" else "DEFAULT"
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(k),
                UTF8String.fromString(value),
                UTF8String.fromString(source)))
            }
          val scan: Scan = new LocalScan {
            override def readSchema(): StructType = schema
            override def rows(): Array[InternalRow] = resultRows.toArray
          }
          java.util.Collections.singletonList(scan).iterator()
        }
      })
      case _ => None
    }

  /** Public alias for reader options that carry durations. */
  def leaseDurationMillis(s: String): Long = parseTtlMillis(s)

  private def utf8Row(s: String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(s)))

  /** Driver-local procedure (no table arg): body maps the input row to
    * result rows — the shape of the ACL procedures, whose state is the
    * warehouse-level store, not a table.
    */
  private def localProc(catalog: GraftCatalog, procName: String,
      params: Seq[ProcedureParameter], outSchema: StructType)(
      body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val resultRows = body(input)
        val scan: Scan = new LocalScan {
          override def readSchema(): StructType = outSchema
          override def rows(): Array[InternalRow] = resultRows.toArray
        }
        java.util.Collections.singletonList(scan).iterator()
      }
    }

  private def in(name: String, dt: DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private def out(name: String, dt: DataType): StructType =
    StructType(Seq(StructField(name, dt, nullable = false)))

  /** Bound+unbound in one: our procedures take literal maintenance args,
    * so bind() has nothing to specialize.
    */
  private def proc(catalog: GraftCatalog, procName: String,
      params: Seq[ProcedureParameter], outSchema: StructType)(
      body: (GraftTable, InternalRow) => Any): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false // mutates table state
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = catalog.tableForProcedure(input.getUTF8String(0).toString)
        val result = body(table, input) match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }
        val scan: Scan = new LocalScan {
          override def readSchema(): StructType = outSchema
          override def rows(): Array[InternalRow] =
            Array(new GenericInternalRow(Array[Any](result)))
        }
        java.util.Collections.singletonList(scan).iterator()
      }
    }
}
