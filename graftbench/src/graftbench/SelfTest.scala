package graftbench

import java.util.SplittableRandom

/** The benchmark's own checks of its models and generators; needs no
  * Spark session. Exits non-zero on the first failed check.
  *
  * Usage: `graftbench.SelfTest`
  */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    // default engine: a later row in ver order replaces the key's row
    val m = new PkModel(agg = false)
    m.apply(Seq(PkRow(1, "a", 5, 2), PkRow(1, "b", 7, 1), PkRow(2, "c", 1, 3)))
    expect(m.state(1L) == PkRow(1, "a", 5, 2), "last ver wins within a batch")
    val right = Seq(PkRow(1, "a", 5, 2), PkRow(2, "c", 1, 3))
    expect(m.lookupMismatch(Seq(1L, 2L, 9L), right).isEmpty, "correct lookup passes")
    expect(m.lookupMismatch(Seq(1L, 2L), Seq(PkRow(1, "a", 6, 2), PkRow(2, "c", 1, 3))).nonEmpty,
      "a wrong value fails the lookup")
    expect(m.lookupMismatch(Seq(1L, 2L), right.take(1)).nonEmpty, "a missing row fails")
    expect(m.lookupMismatch(Seq(1L), right).nonEmpty, "an extra row fails")

    // a wrong lookup is a failed op in the ledger, hence in ok_ratio
    val ledger = new Ledger
    ledger.record(Right(right))(m.lookupMismatch(Seq(1L, 2L), _))
    ledger.record(Right(Seq(PkRow(1, "a", 6, 2), PkRow(2, "c", 1, 3))))(m.lookupMismatch(Seq(1L, 2L), _))
    ledger.record[Unit](Left("threw"))(_ => None)
    expect(ledger.attempted == 3 && ledger.failed == 2, "ledger counts wrong results and throws")

    // aggregation engine: v sums, ver keeps its max, cat the last value
    val a = new PkModel(agg = true)
    a.apply(Seq(PkRow(1, "a", 5, 4)))
    a.apply(Seq(PkRow(1, "b", 7, 6), PkRow(1, "c", 1, 5)))
    expect(a.state(1L) == PkRow(1, "b", 13, 6), "aggregation merge")
    expect(a.queryMismatch(Map("b" -> (13L, 6L, 1L))).isEmpty, "aggregate query passes")
    expect(a.queryMismatch(Map("b" -> (13L, 6L, 2L))).nonEmpty, "a wrong count fails")

    // poll: exactly the batch's keys; the last after-image per key counts
    expect(m.pollMismatch(Set(1L, 2L), Seq((0L, 0, PkRow(1, "b", 7, 1)),
      (1L, 0, PkRow(1, "a", 5, 2)), (0L, 1, PkRow(2, "c", 1, 3)))).isEmpty, "poll passes")
    expect(m.pollMismatch(Set(1L, 2L), Seq((0L, 0, PkRow(1, "a", 5, 2)))).nonEmpty,
      "a poll missing a key fails")
    expect(m.pollMismatch(Set(1L), Seq((0L, 0, PkRow(1, "a", 5, 9)))).nonEmpty,
      "a poll with a stale image fails")

    // generators are a function of the seed
    def corpus(seed: Long) = {
      val r = new SplittableRandom(seed)
      Gen.corpus(r, Gen.vocabulary(r, 500), 0L, 300, 300, 0.03, 0.10, 0.05, 0.02)
    }
    expect(corpus(7) == corpus(7), "same seed, same corpus")
    expect(corpus(7) != corpus(8), "another seed, another corpus")
    val z1 = new Zipf(1000, 1.1, new SplittableRandom(3))
    val z2 = new Zipf(1000, 1.1, new SplittableRandom(3))
    expect(Seq.fill(100)(z1.next()) == Seq.fill(100)(z2.next()), "same seed, same Zipf draws")

    val bulk = Gen.Bulk(n = 1000, fresh = 10, live = 500, ver0 = 7, kSalt = 1, catSalt = 2, vSalt = 3)
    expect(bulk.rows == bulk.copy().rows, "same parameters, same bulk batch")
    expect(bulk.rows.take(10).map(_.k) == (500L until 510L) &&
      bulk.rows.drop(10).forall(r => r.k >= 0 && r.k < 500), "bulk keys: fresh first, then existing")
    expect(bulk.rows.map(_.ver) == (7L until 1007L), "bulk versions count up")

    // corpus model: the planted copies and junk must go, the rest stay
    val docs = corpus(7)
    val cm = new CorpusModel(docs, 5, 0.8, 0.05)
    expect(cm.mismatch(cm.mustKeep).isEmpty, "keeping exactly the unique docs passes")
    val exactCopy = docs.find(_.exact).get.id
    expect(cm.mismatch(cm.mustKeep + exactCopy).nonEmpty, "keeping an exact copy fails")
    expect(cm.mismatch(cm.mustKeep - cm.mustKeep.head).nonEmpty, "dropping a unique doc fails")
    val junk = docs.find(_.junk).get.id
    expect(!cm.mustKeep.contains(junk), "junk is never a keeper")
    expect(Gen.jaccard("abcdefgh", "abcdefgh", 5) == 1.0, "jaccard of equal texts")

    println(s"SelfTest: $checks checks passed")
  }
}
