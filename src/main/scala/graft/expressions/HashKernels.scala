package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Single-pass codegen'd hash-sketch kernels.
  *
  * The Column-expression forms (MinHashDedup.signature, SimHash.simhash,
  * SignLsh.bucket) evaluate k × |array| interpreted lambda passes per row
  * (one aggregate() per hash function / bit / plane). These expressions make
  * ONE pass over the input array updating all k accumulators in a primitive
  * loop — identical arithmetic, so signatures/buckets are bit-identical — and
  * run inside whole-stage codegen. Sketch computation is the map-side cost of
  * dedup at 100 TB; this is the difference between scan-bound and CPU-bound.
  *
  * [[ShingleHashes]] and [[BandHashes]] keep the MinHash sketch free of
  * higher-order functions. CollapseProject inlines the projections beneath a
  * lambda into its body, where nothing is shared: a band lambda over the
  * signature tokenizes, shingles, hashes and signs every document once PER
  * BAND, interpreted (`ArrayTransform` is CodegenFallback). Without a
  * lambda each row is sketched once, in generated code. Both replay Spark's
  * `xxhash64` (seed 42) exactly; HashKernelsSpec pins them against the
  * lambda forms under CODEGEN_ONLY and NO_CODEGEN, and PlanShapeSpec keeps
  * lambdas out of the sketch plan.
  */

/** All-k MinHash signature over 31-bit-reduced shingle hashes:
  * sig[k] = min over h of (a_k·h + b_k) mod p. Inputs are in [0, p), so the
  * product stays < 2^62 (no overflow) — same domain argument as
  * [[graft.dedup.MinHashDedup]]. */
case class MinHashSignature(child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
    extends UnaryExpression {
  require(as.length == bs.length)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val k = as.length
    val out = Array.fill(k)(p)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("as", as.toArray, "long[]")
    val bRef = ctx.addReferenceObj("bs", bs.toArray, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val k = ctx.freshName("k"); val out = ctx.freshName("out")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val h = ctx.freshName("h"); val j = ctx.freshName("j"); val v = ctx.freshName("v")
      s"""
      int $k = $aRef.length;
      long[] $out = new long[$k];
      java.util.Arrays.fill($out, ${p}L);
      int $n = $c.numElements();
      for (int $i = 0; $i < $n; $i++) {
        long $h = $c.getLong($i);
        for (int $j = 0; $j < $k; $j++) {
          long $v = ($aRef[$j] * $h + $bRef[$j]) % ${p}L;
          if ($v < $out[$j]) $out[$j] = $v;
        }
      }
      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);"""
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct `xxhash64` of each element of a string array (the w-token
  * shingles), optionally reduced `pmod p`, in first-occurrence order — the
  * lambda-free `array_distinct(transform(grams, s => pmod(xxhash64(s), p)))`
  * (`p` = None drops the `pmod`). Element nullability follows the lambda
  * form (Spark's `pmod` is nullable, `xxhash64` is not), so the column type
  * is unchanged; no element is ever null. */
case class ShingleHashes(child: Expression, p: Option[Long]) extends UnaryExpression {
  require(p.forall(_ > 0))
  override def dataType: DataType = ArrayType(LongType, containsNull = p.isDefined)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.eval(input.asInstanceOf[ArrayData], p.getOrElse(0L))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ShingleHashes$$.MODULE$$.eval($c, ${p.getOrElse(0L)}L);""")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleHashes {

  /** `p` = 0 means no reduction. A null element hashes to the seed, as in
    * `xxhash64(null)`. */
  def eval(grams: ArrayData, p: Long): ArrayData = {
    val n = grams.numElements()
    val out = new Array[Long](n)
    // open addressing over a power-of-two table at most half full
    var cap = 4
    while (cap < 2 * n) cap <<= 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var k = 0
    var i = 0
    while (i < n) {
      var h = 42L
      if (!grams.isNullAt(i)) {
        val s = grams.getUTF8String(i)
        h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      }
      if (p > 0) { val r = h % p; h = if (r < 0) (r + p) % p else r }
      var slot = (h ^ (h >>> 32)).toInt & (cap - 1)
      while (used(slot) && keys(slot) != h) slot = (slot + 1) & (cap - 1)
      if (!used(slot)) {
        used(slot) = true; keys(slot) = h
        out(k) = h; k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }
}

/** Banded-LSH bucket keys of a signature: `bands` rows `(band, bh)` where
  * `bh` is Spark's `xxhash64` of the band's slice `sig[band·r, band·r + r)`
  * (clipped to the array, as `slice` is): `h = 42; h = XXH64.hashLong(x, h)`
  * per non-null element. The lambda-free form of
  * `transform(sequence(0, bands-1), b => struct(b, xxhash64(slice(sig, b·r+1, r))))`,
  * with its exact type and null behaviour: never null, and a null signature
  * hashes every band to the seed 42. */
case class BandHashes(child: Expression, bands: Int, r: Int) extends UnaryExpression {
  require(bands >= 1 && r >= 0)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_band_hashes"

  override def eval(input: InternalRow): Any =
    BandHashes.eval(child.eval(input).asInstanceOf[ArrayData], bands, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.expressions.BandHashes$$.MODULE$$.eval(
        ${c.isNull} ? null : ${c.value}, $bands, $r);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BandHashes {

  def eval(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * r
      val end = math.min(i + r, n)
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, h))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash from pre-hashed tokens: bit j of the result is the sign of
  * Σ_tokens (bit j of hash ? +1 : −1). Identical votes to the per-bit
  * aggregate() form. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val j = ctx.freshName("j"); val j2 = ctx.freshName("j2")
      val sig = ctx.freshName("sig")
      s"""
      int[] $votes = new int[64];
      int $n = $c.numElements();
      for (int $i = 0; $i < $n; $i++) {
        long $h = $c.getLong($i);
        for (int $j = 0; $j < 64; $j++) {
          if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
        }
      }
      long $sig = 0L;
      for (int $j2 = 0; $j2 < 64; $j2++) { if ($votes[$j2] > 0) $sig |= (1L << $j2); }
      ${ev.value} = $sig;"""
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sign-LSH bucket id over an array<double> embedding: bit j = sign of the
  * left-fold dot with plane j. Same per-plane fold order as SignLsh.bucket. */
case class SignLshBucket(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_signlsh_bucket"

  private lazy val flat: Array[Double] = planes.flatten.toArray
  private lazy val dim: Int = if (planes.isEmpty) 0 else planes.head.length

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    var bucket = 0L
    var j = 0
    while (j < planes.length) {
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * flat(j * dim + i); i += 1 }
      if (s > 0.0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", flat, "double[]")
    val nPlanes = planes.length
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val bucket = ctx.freshName("bucket")
      val j = ctx.freshName("j"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
      int $n = Math.min($c.numElements(), $dim);
      long $bucket = 0L;
      for (int $j = 0; $j < $nPlanes; $j++) {
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) { $s += $c.getDouble($i) * $pRef[$j * $dim + $i]; }
        if ($s > 0.0) $bucket |= (1L << $j);
      }
      ${ev.value} = $bucket;"""
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Set Jaccard (scaled 0-100) of two array<long> columns in ONE hash-set
  * pass: builds a set from the left array, streams the right array counting
  * distinct intersections, derives |∪| = |A| + |B| − |∩|. Duplicate input
  * elements are collapsed (set semantics) so the result matches
  * `size(array_intersect)/size(array_union)` on any input, with one pass
  * instead of two O(n) builtin passes — the verify-step kernel of the dedup
  * family. Both arrays empty → 0.0 (empty sets are near-dups of nothing).
  * Arithmetic is ((double) |∩| * 100.0) / (double) |∪| — the exact op order
  * of the DuckDB oracles.
  *
  * `assumeDistinct` is a caller PROMISE, not a behavior switch: evaluation is
  * identical, but it marks the inputs as duplicate-free so the
  * [[graft.plans.JaccardPrefilter]] rewrite may treat `size(a)` as the true
  * set cardinality and inject its header-only size-ratio prune. The
  * SQL-registered `graft_jaccard` never sets it (its documented semantics
  * hold on any input, with no rewrite); `graft_jaccard_sets` and the dedup
  * pipelines (whose shingle arrays are array_distinct-ed at birth) do. */
case class ArraySetJaccard(left: Expression,
    right: Expression,
    assumeDistinct: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String =
    if (assumeDistinct) "graft_jaccard_sets" else "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val setA = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < x.numElements()) { setA.add(x.getLong(i)); i += 1 }
    val seenB = new java.util.HashSet[java.lang.Long]()
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      val v = java.lang.Long.valueOf(y.getLong(i))
      if (seenB.add(v) && setA.contains(v)) inter += 1
      i += 1
    }
    val union = setA.size() + seenB.size() - inter
    if (union > 0) inter.toDouble * 100.0 / union.toDouble else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val setA = ctx.freshName("setA"); val seenB = ctx.freshName("seenB")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val v = ctx.freshName("v"); val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      s"""
      java.util.HashSet $setA = new java.util.HashSet();
      for (int $i = 0; $i < $a.numElements(); $i++) {
        $setA.add(java.lang.Long.valueOf($a.getLong($i)));
      }
      java.util.HashSet $seenB = new java.util.HashSet();
      int $inter = 0;
      for (int $j = 0; $j < $b.numElements(); $j++) {
        java.lang.Long $v = java.lang.Long.valueOf($b.getLong($j));
        if ($seenB.add($v) && $setA.contains($v)) $inter++;
      }
      int $union = $setA.size() + $seenB.size() - $inter;
      ${ev.value} = $union > 0 ? ((double) $inter * 100.0) / (double) $union : 0.0;"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
