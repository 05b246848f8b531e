package graftbench

import scala.collection.mutable

/** Driver-side model of a PK table's current state. `agg` selects the
  * aggregation merge engine the bulk workload declares (v: sum,
  * ver: max, cat: last_value); otherwise a batch row replaces the key's
  * row (default engine). Within a batch rows apply in `ver` order, the
  * order the workload passes to `upsert`.
  */
final class PkModel(agg: Boolean) {
  val state = mutable.HashMap[Long, PkRow]()

  def apply(batch: Seq[PkRow]): Unit =
    batch.sortBy(_.ver).foreach { r =>
      state(r.k) = state.get(r.k) match {
        case Some(o) if agg => PkRow(r.k, r.cat, o.v + r.v, math.max(o.ver, r.ver))
        case _ => r
      }
    }

  /** A lookup result is right when every requested key the model holds
    * comes back exactly once with the model's values, and no other row
    * comes back.
    */
  def lookupMismatch(keys: Seq[Long], got: Seq[PkRow]): Option[String] = {
    val want = keys.distinct.flatMap(state.get).sortBy(_.k)
    val have = got.sortBy(_.k)
    if (want == have) None
    else Some(s"lookup of ${keys.size} keys: expected ${want.size} rows, " +
      s"got ${have.size}; first difference ${want.diff(have).headOption.orElse(have.diff(want).headOption)}")
  }

  /** A poll after one batch must hold a change row for exactly the
    * batch's keys, and each key's last after-image must equal the model.
    * `afterImages` are (offset, bucket, row) of the +I/+U/+A rows.
    */
  def pollMismatch(batchKeys: Set[Long],
      afterImages: Seq[(Long, Int, PkRow)]): Option[String] = {
    val last = afterImages.groupBy(_._3.k).map { case (k, rs) => k -> rs.maxBy(_._1)._3 }
    if (last.keySet != batchKeys)
      Some(s"poll returned changes for ${last.size} keys, batch had ${batchKeys.size}")
    else last.values.find(r => !state.get(r.k).contains(r))
      .map(r => s"poll after-image $r differs from model ${state.get(r.k)}")
  }

  /** (sum v, max ver, count) per cat — the SQL aggregate's model. */
  def aggregate: Map[String, (Long, Long, Long)] =
    state.values.groupBy(_.cat).map { case (c, rs) =>
      c -> (rs.iterator.map(_.v).sum, rs.iterator.map(_.ver).max, rs.size.toLong) }

  def queryMismatch(got: Map[String, (Long, Long, Long)]): Option[String] = {
    val want = aggregate
    if (want == got) None
    else Some(s"aggregate differs on ${(want.keySet ++ got.keySet).count(c => want.get(c) != got.get(c))} cats")
  }
}

/** What the dedup stages must do to one generated corpus: drop every
  * exact copy, every junk document, and every near copy that its
  * family (an original plus its copies) links to a smaller id through
  * pairs whose shingle Jaccard reaches the threshold; keep every other
  * document. Pairs within `slack` above the threshold may be found or
  * missed: MinHash banding finds them only with high probability, while
  * anything the engine drops must really be a duplicate or junk.
  */
final class CorpusModel(docs: Seq[Doc], shingle: Int, threshold: Double,
    slack: Double) {
  private val ids: Set[Long] = docs.iterator.map(_.id).toSet
  private val (mustDrop, mayDrop) = {
    val drop = mutable.Set[Long](); val may = mutable.Set[Long]()
    docs.foreach(d => if (d.junk || d.exact) drop += d.id)
    val byId = docs.iterator.map(d => d.id -> d).toMap
    docs.filter(d => d.copyOf >= 0 && !d.exact).groupBy(_.copyOf).foreach {
      case (orig, copies) =>
        val fam = (byId(orig) +: copies).sortBy(_.id)
        val pairs = for (a <- fam; b <- fam if a.id < b.id)
          yield (a.id, b.id, Gen.jaccard(a.text, b.text, shingle))
        // members linked to the family's smallest id by pairs of at
        // least `minJ`
        def reach(minJ: Double): Set[Long] = {
          var seen = Set(fam.head.id)
          var grew = true
          while (grew) {
            val add = pairs.collect { case (a, b, s) if s >= minJ &&
              (seen(a) ^ seen(b)) => if (seen(a)) b else a }
            grew = add.nonEmpty
            seen ++= add
          }
          seen
        }
        val sure = reach(threshold + slack) - fam.head.id
        val maybe = reach(threshold) - fam.head.id
        // a member linked only to another copy may go either way
        fam.tail.foreach { d =>
          if (sure(d.id)) drop += d.id
          else if (maybe(d.id) || pairs.exists { case (a, b, s) =>
            b == d.id && s >= threshold }) may += d.id
        }
    }
    (drop.toSet, may.toSet)
  }
  val mustKeep: Set[Long] = ids -- mustDrop -- mayDrop

  def mismatch(kept: Set[Long]): Option[String] = {
    val wronglyKept = kept intersect mustDrop
    val wronglyDropped = mustKeep -- kept
    val unknown = kept -- ids
    if (wronglyKept.isEmpty && wronglyDropped.isEmpty && unknown.isEmpty) None
    else Some(s"dedup kept ${wronglyKept.size} planted copies/junk, dropped " +
      s"${wronglyDropped.size} unique docs, invented ${unknown.size} ids")
  }
}
