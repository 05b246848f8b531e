package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The catalog-exposed `bucket` V2 function — the engine's row→bucket
  * assignment ([[graft.core.Buckets]], the reference's key hashing in
  * fluss-client/.../write/HashBucketAssigner.java) published through
  * Spark's `FunctionCatalog` so the planner can PROVE two scans are
  * co-partitioned: a reported `KeyGroupedPartitioning` over
  * `bucket(numBuckets, keys...)` resolves here, and two graft tables
  * bucketed with the same key types and bucket count compare as the SAME
  * function (`canonicalName`), which is what lets a storage-partitioned
  * join elide both exchanges.
  *
  * Also callable directly from SQL (`SELECT cat.bucket(16, k)`), where it
  * must — and does — reproduce the writer's assignment exactly: it runs
  * the same fold.
  */
object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(numBuckets, key[, key...]): the engine's bucket id for a key " +
      "(the positive modulus of Spark's Murmur3 hash() of the keys)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket takes (numBuckets, key[, key...]); got $inputType")
    require(inputType.fields.head.dataType == IntegerType,
      s"bucket's first argument is the INT bucket count; got " +
        s"${inputType.fields.head.dataType.catalogString}")
    GraftBucketBound(inputType.fields.drop(1).map(_.dataType))
  }
}

/** Bound form: hashes the key columns exactly like the write path.
  * `canonicalName` carries the key TYPES — Murmur3 hashes an int and a
  * long to different values, so buckets computed over different key
  * types must never satisfy each other's co-partitioning.
  */
final case class GraftBucketBound(keyTypes: Array[DataType])
    extends ScalarFunction[Integer] {

  override def inputTypes(): Array[DataType] = IntegerType +: keyTypes

  override def resultType(): DataType = IntegerType

  // a NULL bucket count yields NULL (SQL-callable surface); key NULLs
  // fold as no-ops like the write path, never nulling the result
  override def isResultNullable: Boolean = true

  override def name(): String = "bucket"

  override def canonicalName(): String =
    s"graft.bucket(${keyTypes.map(_.catalogString).mkString(",")})"

  private val types = keyTypes.toIndexedSeq

  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else Int.box(graft.core.Buckets.ofCatalyst(
      types.indices.map(i =>
        if (input.isNullAt(i + 1)) null else input.get(i + 1, types(i))),
      types, input.getInt(0)))
}
