package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native vector expressions with whole-stage codegen.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) allocates an intermediate
  * array and evaluates a lambda per element; for all-pairs similarity that
  * dominates the runtime. These expressions compile to a tight primitive
  * loop inside the generated code — the prompt's preference order (native
  * `Expression` > UDF) applied to the one genuinely hot scalar kernel in
  * the engine.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be array<double> (callers cast); AbstractDataType
  // is private[sql], so ExpectsInputTypes is not available here
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $s = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $s += $a.getDouble($i) * $b.getDouble($i);
        |}
        |${ev.value} = $s;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Argmax-centroid assignment against a FIXED centroid matrix in one
  * codegen'd pass: index i maximizing `dot(v, c_i) / (‖v‖ · ‖c_i‖)`
  * (`divide = true`; `false` scores by the raw dot — the spherical
  * k-means iteration form over unit vectors), ties to the LARGER index.
  *
  * Replaces the `greatest(struct(score_0, 0), …, struct(score_k, k))("i")`
  * formulation, which re-evaluates the `cast(vec as array<double>)` child
  * and the `sqrt(dot(v,v))` norm once PER CENTROID when the optimizer
  * inlines it into a Filter (predicate pushdown substitutes aliases with
  * no cost check, and FilterExec does no subexpression elimination) —
  * measured 34 dot-products and 33 array casts per row in sim3's probe
  * filter. Arithmetic is bit-identical to the struct form: same
  * sequential dot loops, same `dot / (nv * cn)` evaluation order, same
  * nan-safe double comparison (NaN greatest, NaN == NaN), so existing
  * oracles replay unchanged.
  *
  * NULL contract: null vector in, NULL out (standard null-safe unary
  * expression). This deliberately diverges from the struct-greatest
  * form, whose struct ordering over null scores returned the largest
  * centroid index — no fixture carries null embeddings (oracles
  * re-gated), and NULL is the saner answer for a missing vector.
  * Pinned by VectorExprsSpec.
  */
case class IvfArgmax(child: Expression, centroids: Array[Array[Double]],
    divide: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_ivf_argmax"

  // ‖c_i‖ exactly as the struct form's driver-side literal:
  // sqrt(sum of squares, sequential left fold)
  private lazy val cnorms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var nv = 0.0
    if (divide) {
      var i = 0
      var s = 0.0
      while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
      nv = math.sqrt(s)
    }
    var bestI = 0
    var bestS = Double.NaN
    var k = 0
    while (k < centroids.length) {
      val c = centroids(k)
      val m = math.min(n, c.length)
      var d = 0.0
      var i = 0
      while (i < m) { d += v.getDouble(i) * c(i); i += 1 }
      val s = if (divide) d / (nv * cnorms(k)) else d
      // ties to the larger index; NaN greatest, NaN == NaN (Spark's
      // nan-safe double ordering == java.lang.Double.compare)
      if (k == 0 || java.lang.Double.compare(s, bestS) >= 0) {
        bestS = s; bestI = k
      }
      k += 1
    }
    bestI
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("ivfCnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val nv = ctx.freshName("nv")
      val m = ctx.freshName("m"); val c = ctx.freshName("c")
      val bestI = ctx.freshName("bestI"); val bestS = ctx.freshName("bestS")
      val sq = ctx.freshName("sq"); val x = ctx.freshName("x")
      val divNv = if (divide) s"$d / ($nv * $nRef[$k])" else d
      val nvCalc = if (!divide) "" else s"""
        |double $sq = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $x = $v.getDouble($i); $sq += $x * $x;
        |}
        |$nv = java.lang.Math.sqrt($sq);
      """.stripMargin
      s"""
        |int $n = $v.numElements();
        |double $nv = 0.0;
        |$nvCalc
        |int $bestI = 0;
        |double $bestS = Double.NaN;
        |for (int $k = 0; $k < $cRef.length; $k++) {
        |  double[] $c = $cRef[$k];
        |  int $m = java.lang.Math.min($n, $c.length);
        |  double $d = 0.0;
        |  for (int $i = 0; $i < $m; $i++) {
        |    $d += $v.getDouble($i) * $c[$i];
        |  }
        |  double $s = $divNv;
        |  if ($k == 0 || java.lang.Double.compare($s, $bestS) >= 0) {
        |    $bestS = $s; $bestI = $k;
        |  }
        |}
        |${ev.value} = $bestI;
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of common elements of two SORTED, duplicate-free array<bigint>
  * columns — a merge walk with no allocation, vs `size(array_intersect)`
  * which builds a hash set and a result array per row. Used by the exact
  * verification stage of the set-similarity join.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c"); val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
        |int $n = $a.numElements(); int $m = $b.numElements();
        |int $i = 0; int $j = 0; long $c = 0L;
        |while ($i < $n && $j < $m) {
        |  long $u = $a.getLong($i); long $v = $b.getLong($j);
        |  if ($u == $v) { $c++; $i++; $j++; }
        |  else if ($u < $v) { $i++; } else { $j++; }
        |}
        |${ev.value} = $c;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two array<bigint> columns agree — the MinHash
  * signature-agreement estimator's counting step in one allocation-free
  * loop. Replaces `size(filter(zip_with(a, b, (x,y) => x === y), m => m))`,
  * which materializes a boolean array AND a filtered copy per row — pure
  * allocation churn on the LSH prescreen's candidate stream. Identical
  * semantics for the signature tables (equal-length non-null arrays);
  * for unequal lengths both forms count agreements up to the shorter
  * array (zip_with pads with null, null === x is null, filter drops it),
  * and a position where either element is null never counts.
  */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sig_agree_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |int $i = 0; int $c = 0;
        |while ($i < $n) {
        |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
        |      $a.getLong($i) == $b.getLong($i)) { $c++; }
        |  $i++;
        |}
        |${ev.value} = $c;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact Jaccard coefficient |A∩B| / |A∪B| of two SORTED duplicate-free
  * array<bigint> columns in ONE merge pass, with an ADMISSIBLE early
  * exit at `threshold`: while merging, once even a perfect remainder
  * (inter + min(remaining)) cannot reach `threshold`, the walk stops and
  * returns that upper bound (a deterministic value strictly below
  * `threshold`). Rows at or above the threshold never trigger the exit —
  * the bound is ≥ the true coefficient throughout — so for every
  * surviving row of a `>= threshold` filter the result is the EXACT
  * coefficient, bit-identical to the declarative
  * `cast(inter as double) / cast((cast((sa+sb) as bigint) - inter) as
  * double)` form (the whole computation is exact integer arithmetic
  * until the one final division; sa/sb are the array lengths by the
  * [[graft.pipeline.Dedup.hashedShingleDocs]] contract, sz = size(gs)).
  *
  * Exists because the declarative form referenced `inter` TWICE
  * (numerator and denominator); when the verify filter is pushed into a
  * join condition — where there is no subexpression elimination — every
  * candidate pair paid the O(sa+sb) merge walk twice (measured: the d10
  * verify join condition evaluated graft_sorted_intersect_count 2×1.6M
  * times). One call per pair, and the early exit trims the walks of the
  * overwhelming below-threshold majority.
  */
case class JaccardGeCoeff(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {

  // the threshold is spliced into generated Java as a literal: NaN or
  // Infinity would print as an identifier that does not compile
  require(!threshold.isNaN && !threshold.isInfinite,
    s"graft_jaccard_ge threshold must be finite, got $threshold")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_jaccard_ge"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    val tot = (n + m).toLong
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else {
        if (u < v) i += 1 else j += 1
        // upper bound on the final intersection from here on
        val best = c + math.min(n - i, m - j)
        val bj = best.toDouble / (tot - best).toDouble
        if (bj < threshold) return bj
      }
    }
    c.toDouble / (tot - c).toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c"); val u = ctx.freshName("u")
      val v = ctx.freshName("v"); val tot = ctx.freshName("tot")
      val best = ctx.freshName("best"); val bj = ctx.freshName("bj")
      val res = ctx.freshName("res"); val done = ctx.freshName("done")
      s"""
        |int $n = $a.numElements(); int $m = $b.numElements();
        |long $tot = (long) ($n + $m);
        |int $i = 0; int $j = 0; long $c = 0L;
        |boolean $done = false; double $res = 0.0;
        |while ($i < $n && $j < $m) {
        |  long $u = $a.getLong($i); long $v = $b.getLong($j);
        |  if ($u == $v) { $c++; $i++; $j++; }
        |  else {
        |    if ($u < $v) { $i++; } else { $j++; }
        |    long $best = $c + (long) java.lang.Math.min($n - $i, $m - $j);
        |    double $bj = (double) $best / (double) ($tot - $best);
        |    if ($bj < $threshold) { $res = $bj; $done = true; break; }
        |  }
        |}
        |${ev.value} = $done ? $res : ((double) $c / (double) ($tot - $c));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Dot product of two array<double> columns (codegen'd tight loop). */
  def dot(a: Column, b: Column): Column =
    GraftColumn.of(DotProduct(
      GraftColumn.expressionOf(a), GraftColumn.expressionOf(b)))

  /** |A ∩ B| for sorted duplicate-free array<bigint> columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumn.of(SortedIntersectCount(
      GraftColumn.expressionOf(a), GraftColumn.expressionOf(b)))

  /** Exact Jaccard of sorted duplicate-free array<bigint> columns in one
    * merge pass, early-exiting (admissibly) below `threshold` — exact for
    * every row a `>= threshold` filter keeps.
    */
  def jaccardGe(a: Column, b: Column, threshold: Double): Column =
    GraftColumn.of(JaccardGeCoeff(
      GraftColumn.expressionOf(a), GraftColumn.expressionOf(b), threshold))

  /** Count of agreeing positions of two array<bigint> columns (the
    * MinHash signature-agreement counter), allocation-free.
    */
  def sigAgreeCount(a: Column, b: Column): Column =
    GraftColumn.of(SigAgreeCount(
      GraftColumn.expressionOf(a), GraftColumn.expressionOf(b)))

  /** Argmax-centroid index of an array<double> column against a fixed
    * centroid matrix (cosine when divide=true, raw dot when false), ties
    * to the larger index — one pass, one cast, one norm per row.
    */
  def ivfArgmax(v: Column, centroids: Array[Array[Double]],
      divide: Boolean): Column =
    GraftColumn.of(IvfArgmax(GraftColumn.expressionOf(v), centroids, divide))

  /** Full MinHash signature of an array<bigint> shingle-hash column in one
    * pass (k universal hashes (a_i·h + b_i) mod p, elementwise min).
    */
  def minhashSig(gs: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    GraftColumn.of(MinHashSig(GraftColumn.expressionOf(gs), a, b, p))

  /** Sorted distinct xxhash64 values of a string's character n-gram
    * windows, in one pass over the UTF-8 bytes.
    */
  def shingleHashes(text: Column, n: Int): Column =
    GraftColumn.of(ShingleHashes(GraftColumn.expressionOf(text), n))

  /** SimHash fingerprint of an array<string> token column in one pass:
    * per-bit majority vote of per-token hashes. `md560 = true` hashes
    * each token to the top 60 bits of its md5 (the cross-engine-
    * replicable variant); false uses xxhash64.
    */
  def simhashSig(tokens: Column, nBits: Int, md560: Boolean): Column =
    GraftColumn.of(SimHashSig(GraftColumn.expressionOf(tokens), nBits, md560))

  /** Distinct winnowing fingerprints of a string (Schleimer et al.
    * SIGMOD'03): md5-top-60-bit hash per character k-gram, min per
    * w-hash sliding window, deduplicated.
    */
  def winnowHashes(text: Column, k: Int, w: Int): Column =
    GraftColumn.of(WinnowHashes(GraftColumn.expressionOf(text), k, w))
}

/** Winnowing fingerprints in one pass over the UTF-8 bytes.
  *
  * The declarative two-projection form (hash array, then window-min
  * transform) is a trap: CollapseProject merges the projections, inlining
  * the WHOLE hash-array computation into the window lambda — every window
  * re-hashes the entire document, O(n²·k) md5 calls per row (measured:
  * minutes for a 5k-doc corpus). This kernel hashes each k-gram window
  * once (md5 of the byte range — identical to the SQL twin
  * `('0x'||substr(md5(substr(text,i,k)),1,15))::BIGINT`), takes sliding
  * minima with an O(n·w) scan over primitive longs, and dedups after a
  * sort. Matches the declarative form bit for bit, including the short-
  * text clamps (one k-gram when len < k; one window when nH < w).
  */
case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "graft_winnow_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WinnowHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.WinnowHashes.compute($t, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowHashes {
  import org.apache.spark.unsafe.types.UTF8String

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val numBytes = s.numBytes()
    val starts = new Array[Int](s.numChars() + 1)
    var b = 0; var c = 0
    while (b < numBytes) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      c += 1
    }
    starts(c) = numBytes
    val numChars = c
    val nH = math.max(numChars - (k - 1), 1)
    val digest = md.get()
    val all = s.getBytes // one copy per row; k-grams hash byte ranges of it
    val hs = new Array[Long](nH)
    var i = 0
    while (i < nH) {
      val s0 = starts(i)
      val s1 = starts(math.min(i + k, numChars))
      digest.reset()
      digest.update(all, s0, s1 - s0)
      // top 60 bits = first 15 hex chars of the digest
      val dig = digest.digest()
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
      hs(i) = (v << 4) | ((dig(7) >> 4) & 0xfL)
      i += 1
    }
    // sliding min over windows of w consecutive hashes (clamped at end)
    val nW = math.max(nH - (w - 1), 1)
    val fps = new Array[Long](nW)
    var j = 0
    while (j < nW) {
      var m = hs(j)
      var t = j + 1
      val end = math.min(j + w, nH)
      while (t < end) { if (hs(t) < m) m = hs(t); t += 1 }
      fps(j) = m
      j += 1
    }
    java.util.Arrays.sort(fps)
    var wr = 0; var rd = 1
    while (rd < nW) {
      if (fps(rd) != fps(wr)) { wr += 1; fps(wr) = fps(rd) }
      rd += 1
    }
    val out = if (wr + 1 == nW) fps else java.util.Arrays.copyOf(fps, wr + 1)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** SimHash fingerprint in a single pass over the token array.
  *
  * Replaces explode → per-token hash → nBits `sum(when(bit, 1, -1))`
  * aggregate columns → bit reassembly: the declarative form walks every
  * (token, bit) pair through aggregation buffers and shuffles the
  * exploded tokens; this kernel votes all bits in a tight loop per
  * document. Hash parity: md560 = top 60 bits of md5(token) — identical
  * to `conv(substring(md5(t),1,15),16,10)` and DuckDB's
  * `('0x'||substr(md5(t),1,15))::BIGINT` — else xxhash64(token).
  * Empty token arrays yield null (the exploded form emits no group).
  */
case class SimHashSig(child: Expression, nBits: Int, md560: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(nBits >= 1 && nBits <= (if (md560) 60 else 64),
    s"nBits $nBits out of range for ${if (md560) "md5-60" else "xxhash64"}")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[ArrayData], nBits, md560)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val r = ctx.freshName("shRes")
      s"""
        |Object $r = graft.functions.SimHashSig.compute($t, $nBits, $md560);
        |if ($r == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = ((Long) $r).longValue(); }
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Mersenne prime 2^31-1: (a·h + b) stays under 2^63. */
  val P: Long = 2147483647L

  /** Deterministic universal-hash parameters (a_i in [1,p), b_i in [0,p)).
    * floorMod, not abs-then-mod: abs(Long.MinValue) is negative, which
    * would yield an out-of-range param for unlucky seeds.
    */
  def params(numHashes: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val ps = Array.fill(numHashes)(
      (java.lang.Math.floorMod(rnd.nextLong(), P - 1) + 1,
        java.lang.Math.floorMod(rnd.nextLong(), P)))
    (ps.map(_._1), ps.map(_._2))
  }
}

object SimHashSig {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Returns java.lang.Long (null for an empty array) — shared by
    * interpreted eval and generated code.
    */
  def compute(tokens: ArrayData, nBits: Int, md560: Boolean): java.lang.Long = {
    val n = tokens.numElements()
    if (n == 0) return null
    val votes = new Array[Int](nBits)
    var any = false
    var i = 0
    while (i < n) {
      // SQL-registered form can receive arrays with null elements; skip
      // them like the exploded declarative twin (md5(null) joins nothing)
      if (tokens.isNullAt(i)) { i += 1 }
      else {
      any = true
      val t = tokens.getUTF8String(i)
      val h =
        if (md560) {
          val d = md.get()
          d.reset()
          val dig = d.digest(t.getBytes)
          // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
          var v = 0L
          var b = 0
          while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
          (v << 4) | ((dig(7) >> 4) & 0xfL)
        } else {
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
        }
      var j = 0
      while (j < nBits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
      }
    }
    if (!any) return null // all-null array, like empty
    var fp = 0L
    var j = 0
    while (j < nBits) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }
}

/** Sorted distinct xxhash64 hashes of character n-gram windows.
  *
  * Bit-equal to `array_sort(transform(array_distinct(transform(
  * sequence(1, greatest(len-n+1, 1)), i -> substr(text, i, n))),
  * xxhash64))` — the declarative form materializes an array of substring
  * copies, walks them through two interpreted higher-order lambdas and a
  * string hash set; this expression walks the UTF-8 bytes once, hashes
  * each window in place (no substring allocation; xxhash64 of a substring
  * IS the hash of its byte range), and dedups after an O(w log w) sort of
  * primitive longs. Shingling is the widest scalar stage of every
  * set-similarity job, so this is the scan-speed path at corpus scale.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"shingle width $n must be >= 1")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  import org.apache.spark.unsafe.types.UTF8String

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes()
    // char-start byte offsets (UTF-8 windows are per CHARACTER, matching
    // substr semantics on multibyte text)
    val starts = new Array[Int](s.numChars() + 1)
    var b = 0; var c = 0
    while (b < numBytes) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      c += 1
    }
    starts(c) = numBytes
    val numChars = c
    val nWin = math.max(numChars - (n - 1), 1)
    val hs = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      val s0 = starts(i)
      val s1 = starts(math.min(i + n, numChars))
      // matches xxhash64(substr): Spark's XxHash64 seed is 42
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + s0, s1 - s0, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted hashes
    var w = 0; var r = 1
    while (r < nWin) {
      if (hs(r) != hs(w)) { w += 1; hs(w) = hs(r) }
      r += 1
    }
    val out = if (w + 1 == nWin) hs else java.util.Arrays.copyOf(hs, w + 1)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** MinHash signature in a single pass over the shingle array.
  *
  * The declarative formulation — explode(gs) then a hash-aggregate with k
  * `min(pmod(h·a_i + b_i, p))` columns — walks every (row, hash) pair
  * through the aggregation buffer machinery and shuffles the exploded
  * occurrences. This expression computes the identical k mins in a tight
  * generated loop per document: no explode, no aggregate, no shuffle —
  * signature building becomes a scan-speed map stage at any corpus size.
  * Semantics match the aggregate version bit for bit: h = pmod(g, p),
  * slot j = min over g of pmod(h·a(j) + b(j), p); empty input → null.
  */
case class MinHashSig(child: Expression, a: Array[Long], b: Array[Long], p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(a.length == b.length && a.nonEmpty, "need matching non-empty a/b")
  require(a.forall(x => x >= 1 && x < p) && b.forall(x => x >= 0 && x < p),
    "universal-hash params outside [1,p) / [0,p)")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  // empty input maps to null even when the child is non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val gs = input.asInstanceOf[ArrayData]
    val n = gs.numElements()
    if (n == 0) return null
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      // skip null elements (SQL-supplied arrays may contain them);
      // getLong on a null slot reads garbage
      if (!gs.isNullAt(i)) {
        any = true
        val g = gs.getLong(i)
        val h = ((g % p) + p) % p
        var j = 0
        while (j < k) {
          val v = (h * a(j) + b(j)) % p
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) return null // all-null array, like empty
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", a, "long[]")
    val bRef = ctx.addReferenceObj("mhB", b, "long[]")
    nullSafeCodeGen(ctx, ev, gs => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val h = ctx.freshName("h")
      val g = ctx.freshName("g"); val v = ctx.freshName("v")
      val out = ctx.freshName("out"); val k = ctx.freshName("k")
      val any = ctx.freshName("any")
      s"""
        |int $n = $gs.numElements();
        |if ($n == 0) {
        |  ${ev.isNull} = true;
        |} else {
        |  int $k = $aRef.length;
        |  long[] $out = new long[$k];
        |  java.util.Arrays.fill($out, Long.MAX_VALUE);
        |  boolean $any = false;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($gs.isNullAt($i)) continue;
        |    $any = true;
        |    long $g = $gs.getLong($i);
        |    long $h = (($g % ${p}L) + ${p}L) % ${p}L;
        |    for (int $j = 0; $j < $k; $j++) {
        |      long $v = ($h * $aRef[$j] + $bRef[$j]) % ${p}L;
        |      if ($v < $out[$j]) $out[$j] = $v;
        |    }
        |  }
        |  if (!$any) {
        |    ${ev.isNull} = true;
        |  } else {
        |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        |  }
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
