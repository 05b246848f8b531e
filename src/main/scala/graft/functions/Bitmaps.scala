package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream, ByteArrayInputStream, DataInputStream}

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Roaring-bitmap function library.
  *
  * Same surface as the reference's Flink bitmap functions
  * (fluss-flink/fluss-flink-common/src/main/java/org/apache/fluss/flink/
  * functions/bitmap/: RbBuildFunction, RbCardinalityFunction,
  * RbContainsFunction, RbToArrayFunction, RbBuildAggFunction,
  * RbAndAggFunction, RbOrAggFunction), re-expressed as
  * Spark UDFs + typed `Aggregator`s over a serialized `Roaring64Bitmap`
  * BINARY column. RoaringBitmap ships with Spark itself, so the format is
  * a public, portable one.
  */
object Bitmaps {

  private def ser(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream()
    bm.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  private def deser(b: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(b)))
    bm
  }

  /** Build a serialized bitmap from values (driver/executor-side). */
  def build(xs: Seq[Long]): Array[Byte] = {
    val bm = new Roaring64Bitmap()
    xs.foreach(bm.addLong)
    ser(bm)
  }

  /** Decode a serialized bitmap to its ascending values. */
  def toValues(b: Array[Byte]): Seq[Long] =
    if (b == null) Nil else deser(b).toArray.toSeq

  /** Driver/executor-side bitmap union over the serialized form — the
    * sequential-fold step of the rb32/rb64 AGGREGATION merge engine
    * (FieldRb32Agg/FieldRb64Agg union the old and new bitmap BYTES).
    */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null) b else if (b == null) a
    else { val x = deser(a); x.or(deser(b)); ser(x) }

  // ----- scalar functions ------------------------------------------------

  import org.apache.spark.sql.functions.udf

  /** rb_build(array<bigint>) -> binary bitmap. */
  val rbBuild = udf { (xs: Seq[Long]) =>
    val bm = new Roaring64Bitmap()
    if (xs != null) xs.foreach(bm.addLong)
    ser(bm)
  }

  /** rb_cardinality(bm) -> bigint. */
  val rbCardinality = udf { (a: Array[Byte]) =>
    if (a == null) null else java.lang.Long.valueOf(deser(a).getLongCardinality)
  }

  /** rb_contains(bm, v) -> boolean. */
  val rbContains = udf { (a: Array[Byte], v: java.lang.Long) =>
    if (a == null || v == null) null
    else java.lang.Boolean.valueOf(deser(a).contains(v.longValue()))
  }

  /** rb_to_array(bm) -> array<bigint> (ascending). */
  val rbToArray = udf { (a: Array[Byte]) =>
    if (a == null) null else deser(a).toArray
  }

  // ----- aggregate functions ---------------------------------------------

  private implicit val bmEnc: Encoder[Roaring64Bitmap] =
    Encoders.kryo[Roaring64Bitmap]

  private object BuildAgg extends Aggregator[java.lang.Long, Roaring64Bitmap, Array[Byte]] {
    def zero: Roaring64Bitmap = new Roaring64Bitmap()
    def reduce(b: Roaring64Bitmap, a: java.lang.Long): Roaring64Bitmap = {
      if (a != null) b.addLong(a.longValue()); b
    }
    def merge(x: Roaring64Bitmap, y: Roaring64Bitmap): Roaring64Bitmap = {
      x.or(y); x
    }
    def finish(b: Roaring64Bitmap): Array[Byte] = ser(b)
    def bufferEncoder: Encoder[Roaring64Bitmap] = bmEnc
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private final class CombineAgg(and: Boolean)
      extends Aggregator[Array[Byte], Option[Roaring64Bitmap], Array[Byte]] {
    def zero: Option[Roaring64Bitmap] = None
    def reduce(b: Option[Roaring64Bitmap], a: Array[Byte]): Option[Roaring64Bitmap] =
      if (a == null) b else b match {
        case None => Some(deser(a))
        case Some(x) => if (and) x.and(deser(a)) else x.or(deser(a)); Some(x)
      }
    def merge(x: Option[Roaring64Bitmap], y: Option[Roaring64Bitmap]) =
      (x, y) match {
        case (Some(a), Some(b)) => if (and) a.and(b) else a.or(b); Some(a)
        case (a, None) => a
        case (None, b) => b
      }
    def finish(b: Option[Roaring64Bitmap]): Array[Byte] = b.map(ser).orNull
    def bufferEncoder: Encoder[Option[Roaring64Bitmap]] =
      Encoders.kryo[Option[Roaring64Bitmap]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private lazy val buildUdaf = udaf(BuildAgg)
  private lazy val andUdaf = udaf(new CombineAgg(and = true))
  private lazy val orUdaf = udaf(new CombineAgg(and = false))

  /** rb_build_agg(bigint) -> binary bitmap of all values in the group. */
  def rb_build_agg(c: Column): Column = buildUdaf(c.cast("long"))

  /** rb_and_agg(binary) -> intersection of all bitmaps in the group. */
  def rb_and_agg(c: Column): Column = andUdaf(c)

  /** rb_or_agg(binary) -> union of all bitmaps in the group. */
  def rb_or_agg(c: Column): Column = orUdaf(c)
}
