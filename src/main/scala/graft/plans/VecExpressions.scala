package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

import org.apache.spark.unsafe.types.UTF8String

import graft.data.Dedup

/**
 * Native Catalyst expression for the hot loop of similarity search: the
 * dot product of two `array<double>` columns.
 *
 * The composable spelling — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
 * allocates an intermediate 64-element array per row pair and evaluates
 * three higher-order functions interpretively. At ~12M candidate pairs
 * (sf0.1 near-dup scan) that dominates the query. This expression compiles
 * to a tight unboxed `for` loop inside whole-stage codegen: no
 * allocation, no virtual calls.
 *
 * Summation is sequential left-to-right — bit-identical to both the
 * composable spelling and DuckDB's `list_dot_product`, so oracle parity
 * is preserved.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // ExpectsInputTypes is unusable outside org.apache.spark.sql in 4.x
  // (AbstractDataType went private[sql]) — check types directly instead.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

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

object DotProduct {
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
    (children: Seq[Expression]) => DotProduct(children(0), children(1)))
}

/**
 * Jaccard similarity of two SORTED, de-duplicated `array<long>` columns,
 * via a linear merge scan — no per-pair hash-set build, no allocation.
 *
 * `array_intersect`/`array_union` cost a hash-set construction per pair;
 * on a 1M-candidate-pair near-dup scan that is the whole query. Inputs
 * must be sorted distinct (`sort_array(array_distinct(...))` — sortedness
 * does not change set semantics, so external oracles using generic
 * intersect/union counts agree exactly).
 */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_jaccard_sorted"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    SortedJaccard.jaccard(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${SortedJaccard.getClass.getName.stripSuffix("$")}.jaccard($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedJaccard {
  /** Merge-scan |A∩B| / |A∪B| for sorted distinct arrays. */
  def jaccard(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var common = 0
    while (i < nx && j < ny) {
      val a = x.getLong(i)
      val b = y.getLong(j)
      if (a == b) { common += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    val union = nx + ny - common
    if (union == 0) 0.0 else common.toDouble / union
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_jaccard_sorted"),
    new ExpressionInfo(classOf[SortedJaccard].getName, "vec_jaccard_sorted"),
    (children: Seq[Expression]) => SortedJaccard(children(0), children(1)))
}

/**
 * BANDED Levenshtein distance via Myers' bit-parallel algorithm
 * (Myers 1999, JACM 46(3); multi-word blocked formulation per Hyyrö
 * 2003) — the hot kernel of the edit-distance near-dup verify tier.
 * Semantics are EXACTLY Spark's 3-arg `levenshtein(a, b, max)`: the
 * code-point edit distance when ≤ `max`, else −1 (spec-pinned by
 * random parity against the built-in, including surrogate pairs).
 *
 * Why: the banded DP costs O(n·max) cell ops per pair; the bit-vector
 * core advances 64 DP cells per word op — O(⌈m/64⌉·n). At the q105
 * shape (~2k-char docs, max = 500) that is ~16× fewer operations for
 * identical output. The SCALING.md measurement showed EVERY LSH
 * candidate on that corpus passes the verify (median lev 300), so no
 * sound pre-filter can prune anything — making the exact kernel
 * cheaper is the only honest lever. The degenerate regime where the
 * band is narrower than the bit-vector (m > 64·(2·max+1), i.e. book-
 * length docs with a tight bound) falls back to a conventional banded
 * DP, still O(n·max).
 */
case class EditDistanceBand(left: Expression, right: Expression, max: Int)
    extends BinaryExpression {

  require(max >= 0, s"max must be >= 0, got $max")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "lev_banded"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt == org.apache.spark.sql.types.StringType
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceBand.dist(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], max)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.EditDistanceBand.dist($a, $b, $max);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EditDistanceBand {

  /** `levenshtein(a, b, max)` semantics: code-point edit distance if
   * ≤ max, else −1. Shorter side becomes the bit-vector pattern. */
  def dist(a: UTF8String, b: UTF8String, max: Int): Int = {
    val x = a.toString.codePoints().toArray
    val y = b.toString.codePoints().toArray
    val p = if (x.length <= y.length) x else y
    val t = if (x.length <= y.length) y else x
    if (t.length - p.length > max) return -1
    if (p.length == 0) return if (t.length <= max) t.length else -1
    if (p.length.toLong > 64L * (2L * max + 1L)) bandedDp(p, t, max)
    else myers(p, t, max)
  }

  /** Blocked Myers: ⌈m/64⌉ words of (VP, VN) advance one text char per
   * outer step; horizontal deltas carry between blocks through bit 63,
   * the score rides the (m−1 mod 64) bit of the last block. */
  private def myers(p: Array[Int], t: Array[Int], max: Int): Int = {
    val m = p.length
    val n = t.length
    val b = (m + 63) >>> 6
    // Peq: pattern-position bitmask per character; dense ASCII fast
    // path, boxed map only for the rare wide code points
    val peqAscii = new Array[Array[Long]](128)
    var peqOther: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    while (i < m) {
      val c = p(i)
      var arr: Array[Long] = null
      if (c < 128) {
        arr = peqAscii(c)
        if (arr == null) { arr = new Array[Long](b); peqAscii(c) = arr }
      } else {
        if (peqOther == null)
          peqOther = new java.util.HashMap[Integer, Array[Long]]()
        arr = peqOther.get(c)
        if (arr == null) { arr = new Array[Long](b); peqOther.put(c, arr) }
      }
      arr(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    val vp = new Array[Long](b)
    java.util.Arrays.fill(vp, -1L)
    val vn = new Array[Long](b)
    val zeros = new Array[Long](b)
    var score = m
    val lastMask = 1L << ((m - 1) & 63)
    var j = 0
    while (j < n) {
      val c = t(j)
      val eqs =
        if (c < 128) { val e = peqAscii(c); if (e == null) zeros else e }
        else if (peqOther != null) {
          val e = peqOther.get(c); if (e == null) zeros else e
        } else zeros
      var hin = 1 // row 0 of the DP grows by one per text char
      var k = 0
      while (k < b) {
        val eq0 = eqs(k)
        val pv = vp(k)
        val mv = vn(k)
        val xv = eq0 | mv
        val eq = if (hin < 0) eq0 | 1L else eq0
        val xh = (((eq & pv) + pv) ^ pv) | eq
        var ph = mv | ~(xh | pv)
        var mh = pv & xh
        val msk = if (k == b - 1) lastMask else java.lang.Long.MIN_VALUE
        val hout =
          if ((ph & msk) != 0L) 1 else if ((mh & msk) != 0L) -1 else 0
        ph <<= 1
        mh <<= 1
        if (hin > 0) ph |= 1L else if (hin < 0) mh |= 1L
        vp(k) = mh | ~(xv | ph)
        vn(k) = ph & xv
        hin = hout
        k += 1
      }
      score += hin
      j += 1
    }
    if (score <= max) score else -1
  }

  /** Ukkonen-banded two-row DP for the m > 64·(2·max+1) regime: only
   * cells within `max` of the diagonal are touched (plus one INF
   * sentinel on each side of the band). */
  private def bandedDp(p: Array[Int], t: Array[Int], max: Int): Int = {
    val m = p.length
    val n = t.length
    val inf = max + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i <= m && i <= max + 1) { prev(i) = if (i <= max) i else inf; i += 1 }
    var j = 1
    while (j <= n) {
      val lo = math.max(1, j - max)
      val hi = math.min(m, j + max)
      var k = lo - 1
      while (k <= math.min(m, hi + 1)) { cur(k) = inf; k += 1 }
      if (lo == 1 && j <= max) cur(0) = j
      var rowMin = cur(lo - 1)
      k = lo
      while (k <= hi) {
        var v = prev(k - 1) + (if (p(k - 1) == t(j - 1)) 0 else 1)
        val d = cur(k - 1) + 1
        if (d < v) v = d
        val u = prev(k) + 1
        if (u < v) v = u
        if (v > inf) v = inf
        cur(k) = v
        if (v < rowMin) rowMin = v
        k += 1
      }
      if (rowMin >= inf) return -1
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    if (prev(m) <= max) prev(m) else -1
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("lev_banded"),
    new ExpressionInfo(classOf[EditDistanceBand].getName, "lev_banded"),
    (children: Seq[Expression]) => {
      // validate the SQL-surface arguments up front: a wrong arity or a
      // non-literal/NULL/negative max must fail analysis with a clear
      // message, not an NPE/ClassCastException from a blind eval()
      def bad(msg: String): Nothing =
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION", Map("errorMessage" -> s"lev_banded: $msg"))
      if (children.size != 3)
        bad(s"expects exactly 3 arguments (str, str, max), got ${children.size}")
      val m = children(2)
      if (!m.foldable)
        bad("max must be a foldable integer literal, got " + m.sql)
      val v = try m.eval() catch {
        case e: Exception => bad(s"max failed to evaluate: ${e.getMessage}")
      }
      val max = v match {
        case null => bad("max must be a non-null integer literal")
        case n: java.lang.Byte => n.longValue()
        case n: java.lang.Short => n.longValue()
        case n: java.lang.Integer => n.longValue()
        case n: java.lang.Long => n.longValue()
        case other => bad("max must be an integer literal, got " +
          s"${other.getClass.getSimpleName} ${m.sql}")
      }
      if (max < 0 || max > Int.MaxValue)
        bad(s"max must be in [0, ${Int.MaxValue}], got $max")
      EditDistanceBand(children(0), children(1), max.toInt)
    })
}

/**
 * One-pass k-function MinHash signature of an `array<long>` of 28-bit
 * element hashes: `sig[i] = min over h of (h·(2i+1) + (7919i+13)) mod
 * (2^31−1)`.
 *
 * The composable spelling (k separate `array_min(transform(...))`) walks
 * the array k times through interpreted lambdas with boxed longs; this is
 * one tight unboxed n×k loop. Integer math — bit-identical to the
 * composable spelling and to the SQL oracle's (`SparkEntry.sigSql`).
 */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k)

  // Real codegen matters beyond speed of the loop itself: a
  // CodegenFallback here would knock the whole projection out of
  // whole-stage codegen AND out of subexpression elimination, so a plan
  // that fans `sig` into 16 band-key references would recompute the
  // entire minhash+md5 chain 16× per row (measured: 8.5s → 0.4s at sf0.1).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinHashSig.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** One-pass n×k signature loop (shared by eval and codegen). */
  def compute(xs: ArrayData, k: Int): ArrayData = {
    val n = xs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var f = 0
      while (f < k) {
        val v = (h * (2L * f + 1) + (7919L * f + 13)) % Dedup.P
        if (v < sig(f)) sig(f) = v
        f += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  // SQL surface takes k as a literal second argument
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_minhash"),
    new ExpressionInfo(classOf[MinHashSig].getName, "vec_minhash"),
    (children: Seq[Expression]) => MinHashSig(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * 64-bit one-pass k-function MinHash signature — the SCALE spelling of
 * [[MinHashSig]]: `sig[f] = min over h of xxhash64(h, f)` (Spark's
 * builtin two-argument xxhash64: seed 42 folded over the element hash
 * then the function index, both as longs). The 28-bit universal-hash
 * family lives in a 2³¹−1 space, so at whole-corpus cardinalities
 * DIFFERENT shingles collide in hash space (birthday bound ≈ 2¹⁴·⁵
 * distinct shingles per 50% collision) and false candidate mass grows
 * with N; the 64-bit family keeps collisions negligible at any real
 * corpus size. Not DuckDB-reproducible (no portable xxhash64 there) —
 * parity is pinned against the composable
 * `array_min(transform(hashes, h => xxhash64(h, f)))` twin instead,
 * and the signed `array_min` ordering is the same signed min here.
 */
case class MinHashSig64(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_minhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig64.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinHashSig64.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig64 {
  /** One-pass n×k loop; `hashLong(h, 42)` then `hashLong(f, ·)` is
   * exactly Spark's `xxhash64(h, CAST(f AS BIGINT))` fold. */
  def compute(xs: ArrayData, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.hashLong
    val n = xs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s0 = hashLong(xs.getLong(i), 42L)
      var f = 0
      while (f < k) {
        val v = hashLong(f.toLong, s0)
        if (v < sig(f)) sig(f) = v
        f += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_minhash64"),
    new ExpressionInfo(classOf[MinHashSig64].getName, "vec_minhash64"),
    (children: Seq[Expression]) => MinHashSig64(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Deterministic hash embedding: fan an `array<bigint>` of token hashes
 * out to `dim` double coordinates — per dimension `j` the exact integer
 * sum over hashes of `(h·(2j+1) + (7919j+13)) mod 2001 − 1000`, divided
 * by 1000 once (the same decorrelation permutation family as
 * [[MinHashSig]]). Native twin of `Similarity.hashEmbed`'s composable
 * aggregate/zip_with spelling: the interpreted HOF chain allocates a
 * dim-array per token and boxes every lambda step — this is one unboxed
 * n×dim loop inside whole-stage codegen. Values are identical (integer
 * arithmetic), so SQL oracles keep the list_transform spelling.
 */
case class HashEmbed(child: Expression, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "hash_embed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashEmbed.compute(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashEmbed.compute($c, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashEmbed {
  /** One-pass n×dim accumulation (shared by eval and codegen). */
  def compute(xs: ArrayData, dim: Int): ArrayData = {
    val n = xs.numElements()
    val sums = new Array[Long](dim)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var j = 0
      while (j < dim) {
        sums(j) += (h * (2L * j + 1) + (7919L * j + 13)) % 2001L - 1000L
        j += 1
      }
      i += 1
    }
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) { out(j) = sums(j) / 1000.0; j += 1 }
    new GenericArrayData(out)
  }

  // SQL surface takes dim as a literal second argument
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hash_embed"),
    new ExpressionInfo(classOf[HashEmbed].getName, "hash_embed"),
    (children: Seq[Expression]) => HashEmbed(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Long hash from the first `nibbles` hex chars of MD5 — the native twin of
 * `conv(substr(md5(s),1,nibbles),16,10)`.
 *
 * The composable chain costs ~30µs per value interpreted: a fresh
 * MessageDigest per call, a 32-char hex string, a substring, and a
 * string→long radix parse. This computes the same number straight from
 * the digest bytes with a thread-local digest (~0.5µs). Values are
 * identical, so SQL oracles keep using the conv() spelling.
 */
case class Md5PrefixHash(child: Expression, nibbles: Int)
    extends UnaryExpression {

  require(nibbles > 0 && nibbles <= 15, "nibbles must be 1..15 to fit a signed long")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_hash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5PrefixHash.hash(input.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Md5PrefixHash.hash($c, $nibbles);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixHash {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First `nibbles` hex chars of md5(s) as a long (big-endian nibbles). */
  def hash(s: UTF8String, nibbles: Int): Long = {
    val md = digest.get()
    md.reset()
    hashBytes(md.digest(s.getBytes), nibbles)
  }

  def hashBytes(d: Array[Byte], nibbles: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val b = d(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_prefix_hash"),
    new ExpressionInfo(classOf[Md5PrefixHash].getName, "md5_prefix_hash"),
    (children: Seq[Expression]) => Md5PrefixHash(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Fused shingle hasher: `array<string>` tokens → sorted distinct
 * `array<long>` of 28-bit MD5-prefix hashes of space-joined word
 * `n`-grams. One pass, no per-shingle string churn, no interpreted
 * lambdas — replaces the
 * `sort_array(array_distinct(transform(shingles(...), md5...)))` chain
 * that dominated the near-dup queries. Bit-identical to the composable
 * spelling (same UTF-8 bytes are digested).
 */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ShingleHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val SPACE = Array[Byte](' ')

  def compute(toks: ArrayData, n: Int): ArrayData = {
    val nTok = toks.numElements()
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](nTok - n + 1)
    var i = 0
    while (i <= nTok - n) {
      md.reset()
      var k = 0
      while (k < n) {
        if (k > 0) md.update(SPACE)
        md.update(toks.getUTF8String(i + k).getBytes)
        k += 1
      }
      out(i) = Md5PrefixHash.hashBytes(md.digest(), 7)
      i += 1
    }
    // sorted distinct
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
    (children: Seq[Expression]) => ShingleHashes(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * 64-bit fused shingle hasher — the SCALE spelling of [[ShingleHashes]]:
 * `array<string>` tokens → sorted distinct `array<long>` of xxhash64
 * (seed 42) hashes of space-joined word `n`-grams. 28-bit MD5-prefix
 * shingle hashes collide between DIFFERENT shingles at whole-corpus
 * cardinalities, silently inflating Jaccard estimates AND the verify
 * stage's "exact" Jaccard (it compares hash sets); 64 bits keep the hash
 * space collision-free at any real shingle count. Bit-identical to the
 * composable `sort_array(array_distinct(transform(shingles, xxhash64)))`
 * twin (same UTF-8 bytes hashed, same signed sort); not
 * DuckDB-reproducible, so oracle queries keep the 28-bit spelling.
 */
case class ShingleHashes64(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes64.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ShingleHashes64.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes64 {
  private val SPACE = UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String
    val nTok = toks.numElements()
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nTok - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= nTok - n) {
      var k = 0
      while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
      // concatWs builds the identical UTF-8 byte string the composable
      // concat_ws(" ", ...) spelling hashes, so parity is byte-exact
      out(i) = hashUTF8String(UTF8String.concatWs(SPACE, parts: _*), 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes64"),
    new ExpressionInfo(classOf[ShingleHashes64].getName, "shingle_hashes64"),
    (children: Seq[Expression]) => ShingleHashes64(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Fused SimHash: `array<string>` (distinct) tokens → `bits`-wide simhash
 * long. Per token: 28-bit MD5-prefix hash; per bit: majority vote across
 * tokens. Replaces `bits × size(filter(...))` interpreted array scans with
 * one pass. Bit-identical to the composable spelling (same hashes, same
 * strict-majority rule `2·ones > n`), which the SQL oracle's
 * `SparkEntry.simhashSql` spells out.
 */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits > 0 && bits <= 28, "bits must be 1..28 (28-bit token hashes)")

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash.compute($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 64-bit fused SimHash: `array<string>` (distinct) tokens → full-width
 * simhash long, per-token hash = Spark's builtin `xxhash64` (seed 42),
 * majority vote per bit. The SCALE spelling of [[SimHash]]: pigeonhole
 * Hamming-ball chunking over a 64-bit hash gives 16-bit chunks at
 * `maxHamming = 3` (candidate volume N²/16384 vs the 28-bit form's
 * N²/32 — see `Dedup.simhashNearDups`). Not DuckDB-reproducible (no
 * portable xxhash64 there), so oracle queries keep the 28-bit MD5
 * spelling; parity here is pinned against the composable
 * `transform(toks, xxhash64)` twin instead.
 */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Seed of Spark's SQL `xxhash64` function — keeps the fused hash
   * bit-identical to the composable `transform(toks, t => xxhash64(t))`
   * spelling. */
  val Seed = 42L

  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(toks.getUTF8String(i), Seed)
      var j = 0
      while (j < 64) {
        ones(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < 64) {
      if (2L * ones(j) > n) v |= 1L << j
      j += 1
    }
    v
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "vec_simhash64"),
    (children: Seq[Expression]) => SimHash64(children(0)))
}

object SimHash {
  def compute(toks: ArrayData, bits: Int): Long = {
    val n = toks.numElements()
    val ones = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = Md5PrefixHash.hash(toks.getUTF8String(i), 7)
      var j = 0
      while (j < bits) {
        ones(j) += ((h >> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < bits) {
      if (2 * ones(j) > n) v |= 1L << j
      j += 1
    }
    v
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_simhash"),
    new ExpressionInfo(classOf[SimHash].getName, "vec_simhash"),
    (children: Seq[Expression]) => SimHash(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Fused non-linear scoring: `ŷ = w₀ + Σⱼ w·[x, sign(x)x², x³, sign(x)√|x|]`
 * over raw `array<double>` factors — the reference's `predict_non_linears
 * (non_linear_features(x))` (`utils/var_utils.py:47-62`) in one pass.
 *
 * The composable spelling (`predictLinear(weights, nonLinearFeatures(f))`)
 * allocates the 4k-element expanded array per row and folds it through
 * three interpreted higher-order functions; at 45M scored returns
 * (reference-scale Monte Carlo) that is the hot loop. FP evaluation order
 * matches the composable twin exactly: terms accumulate from 0.0 in
 * expansion order, then w₀ is added last.
 */
case class PredictNonLinear(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "predict_nonlinear"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double> weights, array<double> features), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(w: Any, f: Any): Any =
    PredictNonLinear.score(w.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, f) =>
      s"${ev.value} = graft.plans.PredictNonLinear.score($w, $f);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PredictNonLinear {
  /** weights = [w0, 4 per raw factor…]; features = raw factors. */
  def score(w: ArrayData, f: ArrayData): Double = {
    val k = f.numElements()
    var s = 0.0
    var j = 0
    while (j < k) {
      val x = f.getDouble(j)
      val sg = math.signum(x)
      val b = 4 * j
      // mirror functions.nonLinearFeatures term order and association:
      s += w.getDouble(b + 1) * x
      s += w.getDouble(b + 2) * (sg * x * x)
      s += w.getDouble(b + 3) * (x * x * x)
      s += w.getDouble(b + 4) * (sg * math.sqrt(math.abs(x)))
      j += 1
    }
    w.getDouble(0) + s
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("predict_nonlinear"),
    new ExpressionInfo(classOf[PredictNonLinear].getName, "predict_nonlinear"),
    (children: Seq[Expression]) => PredictNonLinear(children(0), children(1)))
}

/**
 * Fused winnowing fingerprint over a NORMALIZED text column: character
 * k-gram MD5-prefix hashes → monotonic-deque sliding-window minima →
 * sorted distinct selection, all in one pass per document.
 *
 * The composable spelling (`transform(sequence(...), j ->
 * array_min(slice(hs, j, w)))` over a materialized hash array) evaluates
 * interpreted lambdas and allocates a w-element GenericArrayData per
 * window — and if `hs` is NOT materialized first, higher-order functions
 * get no subexpression elimination, so every window re-runs the whole
 * MD5 chain: O(n²) hashing per doc. This expression is O(n): each
 * k-gram hashed once (thread-local digest, char-based substring = same
 * UTF-8 bytes as `Column.substr`), window minima via a deque, then
 * sort+dedupe. Bit-identical to
 * `sort_array(array_distinct(TextFunctions.winnowFromKgrams(...)))`'s
 * output, so the DuckDB oracle keeps the composable spelling.
 */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k > 0 && w > 0, "k and w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprint.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WinnowFingerprint.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprint {
  def compute(norm: UTF8String, k: Int, w: Int): ArrayData = {
    val n = norm.numChars()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = Md5PrefixHash.hash(norm.substring(i, i + k), 7)
      i += 1
    }
    val eff = if (m < w) m else w      // degenerate: one window over all
    val nw = m - eff + 1
    val mins = new Array[Long](nw)
    // monotonic deque of indices, front = min of current window
    val dq = new Array[Int](m)
    var head = 0; var tail = 0         // [head, tail) live
    i = 0
    while (i < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - eff) head += 1
      if (i >= eff - 1) mins(i - eff + 1) = hs(dq(head))
      i += 1
    }
    java.util.Arrays.sort(mins)
    var uniq = 0
    i = 0
    while (i < nw) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(uniq) = mins(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, uniq))
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow_fingerprint"),
    new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
    (children: Seq[Expression]) => WinnowFingerprint(children(0),
      children(1).eval().asInstanceOf[Number].intValue(),
      children(2).eval().asInstanceOf[Number].intValue()))
}

/**
 * Positional k-gram hash stream: `out[i] = md5_prefix(text[i, i+k))` for
 * every character position — the input both winnowing and the
 * duplicate-substring span join consume. The composable spelling
 * (`transform(sequence(...), i -> md5_prefix(substr(...)))`) evaluates an
 * interpreted higher-order lambda per position (~5× the hashing cost
 * itself at sf0.1); this is the same tight loop
 * [[WinnowFingerprint.compute]] runs, minus the windowing. Bit-identical
 * to the composable spelling, so DuckDB oracles keep the substr+md5 form.
 */
case class KgramHashStream(child: Expression, k: Int, nibbles: Int)
    extends UnaryExpression {

  require(k > 0 && nibbles > 0 && nibbles <= 15, "need k > 0, 0 < nibbles <= 15")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kgram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    KgramHashStream.compute(input.asInstanceOf[UTF8String], k, nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.KgramHashStream.compute($c, $k, $nibbles);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KgramHashStream {
  def compute(text: UTF8String, k: Int, nibbles: Int): ArrayData = {
    val n = text.numChars()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = Md5PrefixHash.hash(text.substring(i, i + k), nibbles)
      i += 1
    }
    new GenericArrayData(hs)
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kgram_hashes"),
    new ExpressionInfo(classOf[KgramHashStream].getName, "kgram_hashes"),
    (children: Seq[Expression]) => KgramHashStream(children(0),
      children(1).eval().asInstanceOf[Number].intValue(),
      children(2).eval().asInstanceOf[Number].intValue()))
}

/**
 * Top word-n-gram frequency fraction (Gopher §A1.2): the share of all
 * n-grams taken by the single most frequent one, from a pre-split token
 * array. The composable spelling
 * (`transform(array_distinct(grams), g -> size(filter(grams, _ === g)))`)
 * re-evaluates the whole shingle expression per distinct gram — lambdas
 * get no subexpression elimination — which is O(distinct × grams ×
 * shingle-cost) interpreted work per document (q68 at sf0.1: minutes).
 * One hash-map pass here. Counting is exact, the output a single integer
 * division — value-identical to the composable spelling and any SQL
 * mirror by construction.
 */
case class TopNgramFrac(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, "n must be positive")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "top_ngram_frac"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TopNgramFrac.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TopNgramFrac.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopNgramFrac {
  def compute(toks: ArrayData, n: Int): Double = {
    val t = toks.numElements()
    val m = t - n + 1
    if (m <= 0) return 0.0
    val counts = new java.util.HashMap[String, Integer](m * 2)
    var best = 0
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        // null tokens (possible when the caller passes a hand-built
        // array rather than split() output) are skipped ALONG WITH their
        // separator — exactly concat_ws(' ', ...)'s null handling, so the
        // composable spelling stays value-identical on null-bearing input
        val u = toks.getUTF8String(i + k)
        if (u != null) {
          if (sb.length > 0) sb.append(' ')
          sb.append(u.toString)
        }
        k += 1
      }
      val key = sb.toString
      val c = counts.merge(key, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best / m.toDouble
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("top_ngram_frac"),
    new ExpressionInfo(classOf[TopNgramFrac].getName, "top_ngram_frac"),
    (children: Seq[Expression]) => TopNgramFrac(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * ADC (asymmetric distance computation) lookup-sum for product
 * quantization: `sum over sub of lut[sub][codes[sub]]` — the hot loop of
 * `graft.data.Pq.pqTopK`/`ivfPqTopK`, run once per (query, corpus-row)
 * pair. The composable spelling
 * (`aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)), ...)`)
 * pays three interpreted higher-order functions and an Integer boxing per
 * subspace per pair; this compiles to `m` array reads + adds inside
 * whole-stage codegen. Summation is sequential over sub = 0..m-1 —
 * bit-identical to an external oracle's explicit left-to-right addition
 * chain.
 */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
          ArrayType(ArrayType(DoubleType, _), _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int> codes, array<array<double>> lut), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), lut.numElements())
    var s = 0.0
    var i = 0
    // null code slots and null LUT rows contribute nothing (getInt /
    // getArray on a null slot would silently read garbage — skip
    // explicitly instead)
    while (i < m) {
      if (!codes.isNullAt(i) && !lut.isNullAt(i)) {
        val row = lut.getArray(i)
        val code = codes.getInt(i)
        // a code outside the LUT row means codes were encoded against a
        // DIFFERENT codebook than the query's (or a corrupted persisted
        // index): with UnsafeArrayData an unchecked read returns silent
        // garbage scores — fail loudly instead
        if (code < 0 || code >= row.numElements()) PqAdc.badCode(code, row.numElements(), i)
        s += row.getDouble(code)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val row = ctx.freshName("row")
      val code = ctx.freshName("code")
      s"""
         |int $m = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($i);
         |    int $code = $a.getInt($i);
         |    if ($code < 0 || $code >= $row.numElements()) {
         |      graft.plans.PqAdc.badCode($code, $row.numElements(), $i);
         |    }
         |    $s += $row.getDouble($code);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  /** Shared by interpreted and generated code paths. */
  def badCode(code: Int, rowLen: Int, sub: Int): Nothing =
    throw new IllegalArgumentException(
      s"pq_adc: code $code out of range for a $rowLen-entry LUT row at " +
        s"subspace $sub — codes and query LUT were built from different " +
        "codebooks (or the persisted index is corrupted)")

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_adc"),
    new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
    (children: Seq[Expression]) => PqAdc(children(0), children(1)))
}

/**
 * Product-quantization ENCODE: per subspace, the argmin-squared-L2 code
 * against a (literal) codebook — `graft.data.Pq.encode`'s hot path. The
 * composable spelling builds `m × ksub` struct expressions, each with its
 * own `vec_dot` calls; at m=8, ksub=16 that expression tree exceeds
 * Janino's 64 KB method limit, so the whole stage silently falls back to
 * interpreted evaluation (observed on q62's sf0.1 bench). This compiles
 * to one tight loop via a reference object.
 *
 * Bit parity: distances are `|x|² − 2<x,c> + |c|²` with every dot summed
 * sequentially and |c|² precomputed exactly as `Pq.norm2` — identical to
 * the composable spelling and to the DuckDB oracle; ties take the LOWER
 * code (strict `<` while scanning codes in ascending order, matching
 * `sort_array` lexicographic-ascending semantics).
 *
 * The codebook arrives as a FOLDABLE second argument (nested array
 * literal, `typedLit`) and is decoded once at construction. It is held
 * as nested Seq — NOT Array — so case-class equality is structural:
 * two textually identical `pq_encode` calls in one projection compare
 * equal and subexpression elimination dedupes the argmin scan (Array
 * fields compare by reference and would defeat CSE).
 */
case class PqEncodeExpr(child: Expression, cbSeq: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType,
    containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${dt.simpleString}")
  }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    cbSeq.map(_.map(_.toArray).toArray).toArray

  @transient private lazy val norms: Array[Array[Double]] =
    cb.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })

  def compute(a: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    val m = cb.length
    val subDim = cb(0)(0).length
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val off = sub * subDim
      var xx = 0.0
      var i = 0
      while (i < subDim) { val x = v.getDouble(off + i); xx += x * x; i += 1 }
      var best = 0
      var bestD = Double.PositiveInfinity
      var code = 0
      val codes = cb(sub)
      while (code < codes.length) {
        val c = codes(code)
        var xc = 0.0
        i = 0
        while (i < subDim) { xc += v.getDouble(off + i) * c(i); i += 1 }
        val d = xx - 2.0 * xc + norms(sub)(code)
        if (d < bestD) { bestD = d; best = code }
        code += 1
      }
      out(sub) = best
      sub += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqEncode", this, classOf[PqEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncodeExpr {
  /** Decode a foldable nested-array literal into the codebook shape. */
  private def toCb(value: Any): Seq[Seq[Seq[Double]]] =
    value.asInstanceOf[ArrayData].toObjectArray(ArrayType(ArrayType(DoubleType)))
      .map(_.asInstanceOf[ArrayData].toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq).toSeq).toSeq

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_encode"),
    new ExpressionInfo(classOf[PqEncodeExpr].getName, "pq_encode"),
    (children: Seq[Expression]) => PqEncodeExpr(children(0), toCb(children(1).eval())))
}

/**
 * HDR log-histogram bucket index — the native twin of
 * `Sketches.logBucket`'s portable `length(bin(v))` spelling. The
 * composable chain allocates a binary STRING (up to 64 chars) per row
 * to read off the exponent; this computes the identical value with one
 * `Long.numberOfLeadingZeros` intrinsic (bit-identical by the spec's
 * equality pin, so SQL oracles keep the `bin()` spelling). Negative
 * inputs clamp to bucket 0, matching the kernel contract.
 */
case class LogBucketExpr(child: Expression, subBits: Int)
    extends UnaryExpression {

  require(subBits >= 1 && subBits <= 16, "subBits must be 1..16")

  override def dataType: DataType = LongType
  override def prettyName: String = "log_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    LogBucketExpr.bucket(input.asInstanceOf[Long], subBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.LogBucketExpr.bucket($c, $subBits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LogBucketExpr {
  /** Bucket of `v`: exact identity below 2^(subBits+1), then
   * (e − subBits)·2^subBits + (v >> (e − subBits)) with e the bit
   * length − 1. Pure arithmetic, branch-light, codegen-inlined. */
  def bucket(v0: Long, subBits: Int): Long = {
    val v = if (v0 < 0L) 0L else v0
    val sub = 1L << subBits
    if (v < (sub << 1)) v
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      (e - subBits).toLong * sub + (v >>> (e - subBits))
    }
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("log_bucket"),
    new ExpressionInfo(classOf[LogBucketExpr].getName, "log_bucket"),
    (children: Seq[Expression]) => LogBucketExpr(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * TRUE Hilbert-curve index of a d-dimensional point (Skilling 2004,
 * "Programming the Hilbert curve", AIP Conf. Proc. 707) — the layout
 * key behind `Sinks.writeHilbertOrdered`. Unlike the Morton/z-order
 * interleave ([[graft.risk.Sinks.zorderKey]]), CONSECUTIVE Hilbert
 * indices are always grid-neighbors (no diagonal jumps across half the
 * space), so range-partitioned files cut the curve into d-dimensional
 * blobs with strictly better per-dimension min/max pruning — which is
 * why Delta/Iceberg OPTIMIZE cluster by Hilbert, not Morton. The
 * adjacency property and bijectivity are spec-pinned over full grids.
 *
 * Input: `array<bigint>` of coordinates (low `bits` bits each), plus a
 * literal `bits`. `bits·d` must fit 62 bits. Loops make this genuinely
 * inexpressible in portable SQL, so its query pins are goldens.
 */
case class HilbertIndexExpr(child: Expression, bits: Int)
    extends UnaryExpression {

  require(bits >= 1 && bits <= 31, "bits must be 1..31")

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HilbertIndexExpr.index(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HilbertIndexExpr.index($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HilbertIndexExpr {
  /** Skilling's AxesToTranspose, in place: undo excess rotations from
   * the highest bit plane down, then Gray-encode across dimensions. */
  private def axesToTranspose(x: Array[Long], b: Int): Unit = {
    val n = x.length
    var q = 1L << (b - 1)
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (b - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
  }

  /** Hilbert index: transpose, then MSB-first bit interleave across
   * dimensions (bit j of the index block = bit j of each transposed
   * coordinate, dimension-major). */
  def index(coords: ArrayData, bits: Int): Long = {
    val n = coords.numElements()
    require(n >= 1 && n * bits <= 62, s"$n dims x $bits bits exceeds a long")
    val x = new Array[Long](n)
    var i = 0
    val mask = (1L << bits) - 1
    while (i < n) { x(i) = coords.getLong(i) & mask; i += 1 }
    axesToTranspose(x, bits)
    var idx = 0L
    var j = bits - 1
    while (j >= 0) {
      var k = 0
      while (k < n) { idx = (idx << 1) | ((x(k) >>> j) & 1L); k += 1 }
      j -= 1
    }
    idx
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hilbert_index"),
    new ExpressionInfo(classOf[HilbertIndexExpr].getName, "hilbert_index"),
    (children: Seq[Expression]) => HilbertIndexExpr(children(0),
      children(1).eval().asInstanceOf[Number].intValue()))
}

/**
 * Session extension registering graft's native expressions; enable with
 * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
 */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** THE registration list — `SqlSurfaceSpec` enumerates this and calls
   * every entry through `spark.sql`, so a function can't silently drop
   * off the SQL surface (or get added without SQL-level coverage). */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      DotProduct.descriptor,
      SortedJaccard.descriptor,
      MinHashSig.descriptor,
      MinHashSig64.descriptor,
      Md5PrefixHash.descriptor,
      ShingleHashes.descriptor,
      ShingleHashes64.descriptor,
      SimHash.descriptor,
      SimHash64.descriptor,
      PredictNonLinear.descriptor,
      WinnowFingerprint.descriptor,
      PqAdc.descriptor,
      PqEncodeExpr.descriptor,
      KgramHashStream.descriptor,
      TopNgramFrac.descriptor,
      HashEmbed.descriptor,
      LogBucketExpr.descriptor,
      HilbertIndexExpr.descriptor,
      EditDistanceBand.descriptor)

  /** Registered SQL function names, in registration order. */
  def functionNames: Seq[String] = descriptors.map(_._1.funcName)
}
