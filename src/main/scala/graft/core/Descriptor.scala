package graft.core

import org.apache.spark.sql.types.StructType

/** Merge engine selection for primary-key tables.
  *
  * Capability model from the reference (apache/fluss
  * fluss-server/.../kv/rowmerger/RowMerger.java:84-110 and
  * fluss-common/.../metadata/MergeEngineType.java): DEFAULT last-write-wins
  * upsert, FIRST_ROW keep-first, VERSIONED keep-max-version, AGGREGATION
  * per-column aggregate on PK collision.
  */
sealed trait MergeEngine
object MergeEngine {
  /** Last-write-wins full-row upsert (DefaultRowMerger.java:38). */
  case object Default extends MergeEngine

  /** Keep first row per PK, ignore later writes (FirstRowRowMerger.java:32). */
  case object FirstRow extends MergeEngine

  /** Keep row with max version column; null version = -inf; ties broken by
    * arrival order, later wins (VersionedRowMerger.java:43,110-140).
    */
  final case class Versioned(versionColumn: String) extends MergeEngine

  /** Per-column aggregate on PK collision; `aggs` maps column name ->
    * function name from [[AggFunction]] (AggregateRowMerger.java:57,
    * metadata/AggFunctionType.java:39-58). Columns absent from `aggs`
    * default to last_value.
    */
  final case class Aggregation(aggs: Map[String, String]) extends MergeEngine
}

/** The 13 per-column aggregate functions of the AGGREGATION merge engine
  * (fluss-common/.../metadata/AggFunctionType.java:39-58).
  */
object AggFunction {
  val Sum = "sum"
  val Product = "product"
  val Max = "max"
  val Min = "min"
  val LastValue = "last_value"
  val LastValueIgnoreNulls = "last_value_ignore_nulls"
  val FirstValue = "first_value"
  val FirstValueIgnoreNulls = "first_value_ignore_nulls"
  val ListAgg = "listagg" // delimiter via "listagg:<delim>"
  val BoolAnd = "bool_and"
  val BoolOr = "bool_or"
  val Rb32 = "rb32"
  val Rb64 = "rb64"
}

/** DELETE handling for PK tables (metadata/DeleteBehavior.java:28-41). */
sealed trait DeleteBehavior
object DeleteBehavior {
  case object Allow extends DeleteBehavior
  case object Ignore extends DeleteBehavior
}

/** Changelog image: FULL emits -U before images, WAL suppresses them
  * (metadata/ChangelogImage.java:29-46).
  */
sealed trait ChangelogImage
object ChangelogImage {
  case object Full extends ChangelogImage
  case object Wal extends ChangelogImage
}

object TableDescriptor {
  /** Spark's raw-type metadata key for char/varchar columns analyzed to
    * STRING (CharVarcharUtils.CHAR_VARCHAR_TYPE_STRING_METADATA_KEY —
    * private[sql], so the literal is mirrored here, in ONE place).
    */
  val CharVarcharTypeKey = "__CHAR_VARCHAR_TYPE_STRING"
}

/** Table descriptor — the engine's schema + layout + merge configuration.
  *
  * Mirrors the reference's TableDescriptor (fluss-common/.../metadata/
  * TableDescriptor.java:56): a table is a LOG table (no primary key,
  * append-only) or a PK table (upsert/delete by key, merge engine applies).
  * Bucketing = hash distribution (TableDescriptor.java:457-473); partitions
  * are coarse pruning units (TableDescriptor.java:74).
  */
final case class TableDescriptor(
    schema: StructType,
    primaryKey: Seq[String] = Nil,
    bucketKeys: Seq[String] = Nil,
    numBuckets: Int = 32,
    partitionKeys: Seq[String] = Nil,
    mergeEngine: MergeEngine = MergeEngine.Default,
    deleteBehavior: DeleteBehavior = DeleteBehavior.Allow,
    changelogImage: ChangelogImage = ChangelogImage.Full,
    autoIncrementColumn: Option[String] = None,
    properties: Map[String, String] = Map.empty) {

  def isPrimaryKeyTable: Boolean = primaryKey.nonEmpty

  /** Declared CHAR(n)/VARCHAR(n) length constraints (SURVEY §1.2; the
    * reference's fixed-length CHAR, fluss-common/.../types/DataTypeRoot
    * .java:49). Spark analyzes char/varchar columns to STRING and records
    * the raw type in StructField metadata under
    * `__CHAR_VARCHAR_TYPE_STRING` — DDL-created schemas carry it already;
    * programmatic schemas opt in by setting the same key. The write path
    * enforces these ([[GraftTable]] rejects over-length values; the
    * reference's IndexedRowWriter.writeChar encodes into a fixed n-char
    * buffer, so an over-length value is a write error, never a silent
    * truncation).
    */
  lazy val charLengths: Map[String, Int] = {
    val raw = "(?i)^(?:char|varchar)\\s*\\((\\d+)\\)$".r
    schema.fields.iterator.flatMap { f =>
      if (!f.metadata.contains(TableDescriptor.CharVarcharTypeKey)) None
      else f.metadata.getString(TableDescriptor.CharVarcharTypeKey) match {
        case raw(n) => Some(f.name -> n.toInt)
        case _ => None
      }
    }.toMap
  }

  /** Effective bucket keys: explicit, else the PK minus partition keys
    * (the reference's default, TableDescriptor.java:188).
    */
  def effectiveBucketKeys: Seq[String] =
    if (bucketKeys.nonEmpty) bucketKeys
    else primaryKey.filterNot(partitionKeys.contains)

  require(primaryKey.forall(schema.fieldNames.contains),
    s"primary key $primaryKey not in schema")
  require(partitionKeys.forall(schema.fieldNames.contains),
    s"partition keys $partitionKeys not in schema")
  require(numBuckets > 0, "numBuckets must be positive")
  autoIncrementColumn.foreach { c =>
    require(schema.fieldNames.contains(c), s"auto-increment column $c not in schema")
    require(schema(c).dataType == org.apache.spark.sql.types.LongType,
      s"auto-increment column $c must be BIGINT (Schema.java:154)")
  }
  mergeEngine match {
    case MergeEngine.Versioned(c) =>
      require(schema.fieldNames.contains(c), s"version column $c not in schema")
    case MergeEngine.Aggregation(aggs) =>
      require(aggs.keys.forall(schema.fieldNames.contains),
        "agg columns must be in schema")
      require(aggs.keys.forall(c => !primaryKey.contains(c)),
        "agg columns must not be PK columns")
    case _ =>
  }
}
