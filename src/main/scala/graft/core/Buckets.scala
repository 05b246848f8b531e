package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3HashFunction}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** The engine's one key→bucket assignment (the reference's
  * fluss-client/.../write/HashBucketAssigner.java): Spark's Murmur3
  * `hash()` fold (seed 42, null keys skipped) taken positive modulo the
  * bucket count. The writer, the rebucket, lookups, pruning and the
  * catalog `bucket` function all route through here, so a key hashes to
  * the same bucket on every path.
  */
object Buckets {

  /** The bucket of each row, as a Catalyst column over its key columns. */
  def column(keys: Seq[Column], n: Int): Column =
    pmod(hash(keys: _*), lit(n))

  /** The bucket of one key given as driver-side values: Scala values or
    * Catalyst [[Literal]]s, one per key column. `types` are the DECLARED
    * key column types; a value of another type is cast to it first
    * (session time zone, like the writer's cast), because the writer
    * hashed the stored type: an Int 7 for a BIGINT key hashes to a
    * different bucket than the Long 7 the log holds.
    */
  def ofValues(values: Seq[Any], types: Seq[DataType], n: Int): Int = {
    val cast = values.lazyZip(types).map { (v, dt) =>
      val l = v match {
        case l: Literal => l
        case _ => Literal(v)
      }
      if (l.value == null || l.dataType == dt) l.value
      else Cast(l, dt, Some(SQLConf.get.sessionLocalTimeZone)).eval(null)
    }
    ofCatalyst(cast, types, n)
  }

  /** [[ofValues]] over Catalyst-internal values already of `types` (null
    * = SQL NULL): the Murmur3 fold itself, with no per-value conversion.
    */
  private[graft] def ofCatalyst(values: Seq[Any], types: Seq[DataType],
      n: Int): Int = {
    require(n > 0, s"bucket count must be positive; got $n")
    var h = 42L // Spark's hash() seed; null inputs leave the fold unchanged
    var i = 0
    while (i < types.length) {
      val v = values(i)
      if (v != null) h = Murmur3HashFunction.hash(v, types(i), h)
      i += 1
    }
    val r = h.toInt % n
    if (r < 0) r + n else r
  }
}
