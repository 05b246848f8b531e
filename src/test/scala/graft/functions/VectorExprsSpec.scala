package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Native codegen expressions vs their HOF reference formulations. */
class VectorExprsSpec extends SparkTestBase {

  test("DotProduct matches aggregate(zip_with) incl. empty and null rows") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(0.5), Seq(-2.0))).toDF("a", "b")
      .union(Seq((null, null)).asInstanceOf[Seq[(Seq[Double], Seq[Double])]]
        .toDF("a", "b"))
    val got = df.select(
      VectorExprs.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("ref")).collect()
    got.foreach { r =>
      assert((r.isNullAt(0) && r.isNullAt(1)) || r.getDouble(0) == r.getDouble(1))
    }
  }

  test("SortedIntersectCount matches size(array_intersect) on sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    }
    val got = rows.toDF("a", "b").select(
      VectorExprs.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ShingleHashes matches the declarative substr+xxhash64 formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde 日本語中文ü€"
    val texts = Seq("", "ab", "abcd", "abcde", "aaaaaaaaaa", "日本語中文字符串测试") ++
      (0 until 30).map(_ => (0 until rnd.nextInt(200))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = texts.toDF("t")
    val n = 5
    val got = df.select(
      VectorExprs.shingleHashes(col("t"), n).as("fast"),
      array_sort(transform(array_distinct(transform(
        sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
        i => col("t").substr(i, lit(n)))), g => xxhash64(g))).as("ref")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}"))
  }

  test("SimHashSig matches explode + per-bit majority aggregate (both hashes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val words = Seq("the", "cat", "sat", "日本", "ü", "x1", "", "longerword")
    val docs = (1L to 25L).map(i =>
      (i, (0 until rnd.nextInt(40) + 1).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    for ((md560, nBits) <- Seq((true, 60), (false, 64))) {
      val fast = graft.pipeline.Dedup.simhash(df, "doc_id", "text", nBits, md560)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: the former declarative formulation
      val hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (md560) graft.pipeline.Dedup.md5Hash60 else xxhash64(_)
      val tok = df.select(col("doc_id").as("id"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("t"))
        .withColumn("h", hashFn(col("t")))
      val bitSums = (0 until nBits).map { j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
      }
      val ref = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
        .select(col("id"),
          (0 until nBits).map(j => when(col(s"b$j") > 0,
            shiftleft(lit(1L), j)).otherwise(lit(0L)))
            .reduce(_.bitwiseOR(_)).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == ref, s"md560=$md560")
    }
  }

  test("native kernels are callable from SQL after registration") {
    import spark.implicits._
    NativeFunctions.register(spark)
    Seq((1L, "the cat sat on the mat")).toDF("id", "text")
      .createOrReplaceTempView("nf_docs")
    val r = spark.sql("""
      SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
             graft_sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS c,
             size(graft_shingle_hashes(text, 5)) AS nsh,
             graft_simhash_sig(split(trim(text), '\\s+'), 60, true) AS sh,
             size(graft_winnow_hashes(text, 12, 5)) AS nwh,
             size(graft_minhash_sig(graft_shingle_hashes(text, 5), 16)) AS nmh
      FROM nf_docs""").head
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 2L)
    assert(r.getInt(2) > 0)
    // SQL result equals the Scala-API result
    val scalaSh = graft.pipeline.Dedup.simhash(
      Seq((1L, "the cat sat on the mat")).toDF("id", "text"),
      "id", "text", 60, md560 = true).head.getLong(1)
    assert(r.getLong(3) == scalaSh)
    assert(r.getInt(4) > 0)  // winnow fingerprints
    assert(r.getInt(5) == 16)
  }

  test("text-analysis scalars are callable from SQL and match the Scala API") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    NativeFunctions.register(spark)
    val text = "The cat and the dog went to a house of friends. It is old."
    val df = Seq((1L, text)).toDF("id", "text")
    df.createOrReplaceTempView("nf_text")
    val r = spark.sql("""
      SELECT graft_token_count(text) AS tc,
             graft_bpeish_count(text) AS bc,
             graft_lang_id(text) AS lang,
             graft_quality_score(text) AS q,
             graft_repetition_score(text) AS rep,
             graft_fingerprint(text) AS fp,
             graft_normalize(text) AS norm,
             size(graft_word_ngrams(text, 3)) AS n3
      FROM nf_text""").head
    val api = df.select(
      graft.pipeline.TextAnalysis.tokenCount(col("text")),
      graft.pipeline.TextAnalysis.bpeishTokenCount(col("text")),
      graft.pipeline.TextAnalysis.langId(col("text")),
      graft.pipeline.TextAnalysis.qualityScore(col("text")),
      graft.pipeline.TextAnalysis.repetitionScore(col("text")),
      graft.pipeline.TextAnalysis.fingerprint(col("text")),
      graft.pipeline.TextAnalysis.normalize(col("text"))).head
    assert(r.getInt(0) == api.getInt(0))
    assert(r.getInt(1) == api.getInt(1))
    assert(r.getString(2) == api.getString(2) && r.getString(2) == "en")
    assert(r.getDouble(3) == api.getDouble(3)) // bit-identical, shared tree
    assert(r.getDouble(4) == api.getDouble(4))
    assert(r.getLong(5) == api.getLong(5))
    assert(r.getString(6) == api.getString(6))
    assert(r.getInt(7) == r.getInt(0) - 2)
  }

  test("simhash/minhash sigs skip null array elements instead of crashing") {
    import spark.implicits._
    NativeFunctions.register(spark)
    // arrays with null elements can reach the SQL-registered forms; nulls
    // must be skipped like the exploded declarative twin would drop them
    val r = spark.sql("""
      SELECT graft_simhash_sig(array('cat', CAST(NULL AS STRING), 'mat'), 60, true) AS sh_n,
             graft_simhash_sig(array('cat', 'mat'), 60, true) AS sh,
             graft_simhash_sig(array(CAST(NULL AS STRING)), 60, true) AS sh_all_null,
             graft_minhash_sig(array(1L, CAST(NULL AS BIGINT), 7L), 16) AS mh_n,
             graft_minhash_sig(array(1L, 7L), 16) AS mh,
             graft_minhash_sig(array(CAST(NULL AS BIGINT)), 16) AS mh_all_null
      """).head
    assert(r.getLong(0) == r.getLong(1))
    assert(r.isNullAt(2))
    assert(r.getSeq[Long](3) == r.getSeq[Long](4))
    assert(r.isNullAt(5))
    // interpreted (non-codegen) path agrees
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r2 = spark.sql(
        """SELECT graft_simhash_sig(array('cat', CAST(NULL AS STRING), 'mat'), 60, true),
                  graft_minhash_sig(array(1L, CAST(NULL AS BIGINT), 7L), 16)""").head
      assert(r2.getLong(0) == r.getLong(1))
      assert(r2.getSeq[Long](1) == r.getSeq[Long](4))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("WinnowHashes matches the declarative hash-array + window-min form") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val alphabet = "abcd efgh 字符 .x"
    val texts = Seq("", "ab", "abcdefghijk", "日本語中文字符串测试の長い文") ++
      (0 until 20).map(_ => (0 until rnd.nextInt(120))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = texts.toDF("t")
    val (k, w) = (12, 5)
    // reference: the O(n²) declarative formulation — fine at test size
    val hs = transform(
      sequence(lit(1), greatest(length(col("t")) - (k - 1), lit(1))),
      i => graft.pipeline.Dedup.md5Hash60(col("t").substr(i, lit(k))))
    val ref = array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
      j => array_min(slice(hs, j, lit(w))))))
    val got = df.select(
      VectorExprs.winnowHashes(col("t"), k, w).as("fast"), ref.as("ref")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      s"${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}"))
  }

  test("MinHashSig matches explode + min-aggregate universal hashing") {
    import spark.implicits._
    val p = 2147483647L
    val rnd = new scala.util.Random(42)
    val k = 8
    val params = Array.fill(k)(
      (math.abs(rnd.nextLong()) % (p - 1) + 1, math.abs(rnd.nextLong()) % p))
    val rows = (0 until 20).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(50) + 1)(rnd.nextLong()).distinct.sorted))
    val df = rows.toDF("id", "gs")
    val fast = df.select(col("id"), VectorExprs.minhashSig(col("gs"),
        params.map(_._1), params.map(_._2), p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sh = df.select(col("id"), explode(col("gs")).as("g"))
      .withColumn("h", pmod(col("g"), lit(p)))
    val minExprs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(p))).as(s"m$i")
    }
    val ref = sh.groupBy(col("id")).agg(minExprs.head, minExprs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast == ref)
  }

  test("SigAgreeCount matches size(filter(zip_with(a,b,===)))") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { i =>
      val a = Array.fill(60)(rnd.nextInt(8).toLong)
      val b = Array.fill(60)(rnd.nextInt(8).toLong)
      (i.toLong, a, b)
    } :+ ((300L, Array(1L, 2L, 3L), Array(1L, 9L))) // unequal lengths
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        VectorExprs.sigAgreeCount(col("a"), col("b")).as("c"),
        size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          m => m)).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
    // null slots never count (zip_with: null === x is null, dropped);
    // the local relation folds through eval, the repartitioned copy runs
    // the generated code
    val nulls = Seq((Seq(Some(1L), None, Some(3L), None, Some(5L)),
        Seq(Some(1L), Some(2L), None, None, Some(5L))))
      .toDF("a", "b")
    Seq(nulls, nulls.repartition(1)).foreach { d =>
      val r = d.select(VectorExprs.sigAgreeCount(col("a"), col("b")),
        size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          m => m))).head
      assert(r.getInt(0) == 2 && r.getInt(1) == 2, r.toString)
    }
  }

  test("JaccardGeCoeff: exact for kept rows, admissible early exit below") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random sorted distinct long arrays with controlled overlap levels
    val rows = (0 until 400).map { i =>
      val base = Seq.fill(40 + rnd.nextInt(160))(rnd.nextLong()).distinct
      val shared = (0 until rnd.nextInt(base.size + 1)).map(base)
      val other = Seq.fill(base.size - shared.size)(rnd.nextLong()).distinct
      (i.toLong, base.sorted.toArray, (shared ++ other).distinct.sorted.toArray)
    }
    val df = rows.toDF("id", "a", "b")
    Seq(0.2, 0.5, 0.8).foreach { t =>
      // the declarative reference form the kernel replaced
      val ref = df.withColumn("inter",
          VectorExprs.sortedIntersectCount(col("a"), col("b")))
        .withColumn("j", col("inter").cast("double") /
          (size(col("a")) + size(col("b")) - col("inter")).cast("double"))
        .filter(col("j") >= t).select(col("id"), col("j"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = df.withColumn("j", VectorExprs.jaccardGe(col("a"), col("b"), t))
        .filter(col("j") >= t).select(col("id"), col("j"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == ref.keySet, s"kept-row set at t=$t")
      // bit-identical coefficients for every kept row
      got.foreach { case (id, j) =>
        assert(java.lang.Double.doubleToLongBits(j) ==
          java.lang.Double.doubleToLongBits(ref(id)), s"id=$id t=$t")
      }
      // every early-exited (dropped) row's value stays strictly below t
      val below = df.withColumn("j", VectorExprs.jaccardGe(col("a"), col("b"), t))
        .filter(!(col("j") >= t)).select(col("j")).collect().map(_.getDouble(0))
      below.foreach(j => assert(j.isNaN || j < t))
    }
    // NULL array in, NULL out
    val nul = Seq((1L, Option.empty[Seq[Long]], Option(Seq(1L, 2L))))
      .toDF("id", "a", "b")
      .select(VectorExprs.jaccardGe(col("a"), col("b"), 0.5)).head
    assert(nul.isNullAt(0))
    // two EMPTY arrays: impossible in the verify path (candidates share
    // ≥1 gram, so the union is never empty), pinned anyway: 0/0 → NaN in
    // the kernel (Java double division — never raises, ANSI included)
    val empty = Seq((1L, Seq.empty[Long], Seq.empty[Long])).toDF("id", "a", "b")
      .select(VectorExprs.jaccardGe(col("a"), col("b"), 0.5))
      .head.getDouble(0)
    assert(empty.isNaN)
    // a non-finite threshold is refused before it reaches generated code
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach { t =>
        intercept[IllegalArgumentException](
          VectorExprs.jaccardGe(col("a"), col("b"), t))
      }
  }

  test("IvfArgmax matches greatest(struct(score, i)) incl. zero vectors and ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 8
    val centroids = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 200).map(_ => Seq.fill(dim)(rnd.nextGaussian())) ++
      Seq(centroids(2).toSeq, // exact centroid hit
        centroids(2).map(_ * 3.0).toSeq) // same direction, scaled (cosine tie shape)
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // the struct-greatest reference formulation IvfArgmax replaced
    def ref(v: org.apache.spark.sql.Column) = {
      val best = centroids.zipWithIndex.map { case (c, i) =>
        struct((VectorExprs.dot(v, typedlit(c.toSeq)) /
          (sqrt(VectorExprs.dot(v, v)) *
            lit(math.sqrt(c.map(x => x * x).sum)))).as("s"),
          lit(i).as("i"))
      }
      greatest(best.toIndexedSeq: _*)("i")
    }
    val got = df.select(
      VectorExprs.ivfArgmax(col("v"), centroids, divide = true).as("fast"),
      ref(col("v")).as("slow")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // divide=false scores by raw dot (the k-means iteration form)
    def refDot(v: org.apache.spark.sql.Column) =
      greatest(centroids.zipWithIndex.map { case (c, i) =>
        struct(VectorExprs.dot(v, typedlit(c.toSeq)).as("s"), lit(i).as("i"))
      }.toIndexedSeq: _*)("i")
    val gotDot = df.select(
      VectorExprs.ivfArgmax(col("v"), centroids, divide = false).as("fast"),
      refDot(col("v")).as("slow")).collect()
    gotDot.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // zero vector: every cosine score is NaN (0/0) in the kernel's Java
    // double division — the nan-safe tie rule picks the LARGEST index.
    // The struct-greatest reference can't be compared on this row:
    // MEASURED (round 17, Spark 4.1.2, ansi=true session default):
    // Spark's `/` raises DIVIDE_BY_ZERO for DOUBLES too under ANSI, so
    // the old formulation would have errored on a zero vector.
    val zero = Seq((0L, Seq.fill(dim)(0.0))).toDF("id", "v")
      .select(VectorExprs.ivfArgmax(col("v"), centroids, divide = true))
      .head.getInt(0)
    assert(zero == centroids.length - 1)
    // NULL vector: the kernel is null-safe — NULL in, NULL out. This is a
    // DOCUMENTED divergence from the struct-greatest form (whose struct
    // ordering over null scores yielded the largest index): no fixture
    // carries null embeddings (oracles re-gated round 16), and NULL is
    // the saner contract for a missing vector.
    val nul = Seq((0L, Option.empty[Seq[Double]])).toDF("id", "v")
      .select(VectorExprs.ivfArgmax(col("v"), centroids, divide = true))
      .head
    assert(nul.isNullAt(0))
  }
}
