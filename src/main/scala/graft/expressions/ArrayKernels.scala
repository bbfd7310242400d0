package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd similarity kernels over array<double> columns.
  *
  * The Column-expression versions in [[graft.similarity.ArrayOps]] use
  * Catalyst higher-order functions (aggregate / zip_with), which evaluate on
  * the INTERPRETED path — per-element lambda dispatch with boxing. These
  * expressions compute the identical left-fold results (same IEEE op order,
  * so DuckDB-oracle hashes are unchanged) inside whole-stage codegen: a tight
  * primitive loop over the unsafe array data, no boxing, no virtual calls.
  * This is the 100 TB hot path: brute-force ANN does |probes|·|corpus| kernel
  * evaluations per scan.
  *
  * Registered as SQL functions (graft_dot / graft_l1 / graft_cosine_parts /
  * graft_support_stats) through [[GraftExtensions]]
  * (SparkSessionExtensions.injectFunction) and exposed as Columns by ArrayOps.
  */
abstract class ArrayPairFold extends BinaryExpression {
  override def nullIntolerant: Boolean = true

  /** Scala body: fold over min(len(a), len(b)) elements. */
  protected def fold(a: ArrayData, b: ArrayData): Any

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
}

/** Σ aᵢ·bᵢ in index order (== aggregate(zip_with(a,b,_*_),0.0,_+_)). */
case class ArrayDot(left: Expression, right: Expression) extends ArrayPairFold {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  protected def fold(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName on every local: two kernel expressions in one codegen
      // function must not redeclare the same Java variable
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
      int $n = Math.min($a.numElements(), $b.numElements());
      double $s = 0.0;
      for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
      ${ev.value} = $s;"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ |aᵢ−bᵢ| in index order. */
case class ArrayL1(left: Expression, right: Expression) extends ArrayPairFold {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l1"

  protected def fold(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += math.abs(a.getDouble(i) - b.getDouble(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
      int $n = Math.min($a.numElements(), $b.numElements());
      double $s = 0.0;
      for (int $i = 0; $i < $n; $i++) { $s += Math.abs($a.getDouble($i) - $b.getDouble($i)); }
      ${ev.value} = $s;"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² in index order — squared Euclidean distance (the BRP-LSH
  * verify kernel). Term shape is d·d with d = aᵢ−bᵢ, matching the DuckDB
  * oracle's `(x[i]-y[i])*(x[i]-y[i])` fold bit-for-bit. */
case class ArrayL2Sq(left: Expression, right: Expression) extends ArrayPairFold {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  protected def fold(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      s"""
      int $n = Math.min($a.numElements(), $b.numElements());
      double $s = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        double $d = $a.getDouble($i) - $b.getDouble($i);
        $s += $d * $d;
      }
      ${ev.value} = $s;"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** One-pass (dot, ‖a‖², ‖b‖²) as array<double> of length 3 — cosine without
  * three separate scans; each sum is the same left fold as the HOF version. */
case class ArrayCosineParts(left: Expression, right: Expression) extends ArrayPairFold {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_cosine_parts"

  protected def fold(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var naa = 0.0; var nbb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; naa += x * x; nbb += y * y
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(dot, naa, nbb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val naa = ctx.freshName("naa")
      val nbb = ctx.freshName("nbb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
      int $n = Math.min($a.numElements(), $b.numElements());
      double $dot = 0.0, $naa = 0.0, $nbb = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        double $x = $a.getDouble($i); double $y = $b.getDouble($i);
        $dot += $x * $y; $naa += $x * $x; $nbb += $y * $y;
      }
      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new double[] {$dot, $naa, $nbb});"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** One-pass support stats at threshold t: [|supp(a)|, |supp(b)|, |∩|,
  * mismatches] as array<long> — the set-kernel inputs of SURVEY §2.10. */
case class ArraySupportStats(left: Expression, right: Expression, threshold: Double)
    extends ArrayPairFold {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_support_stats"

  protected def fold(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var sa = 0L; var sb = 0L; var inter = 0L; var mism = 0L
    var i = 0
    while (i < n) {
      val x = a.getDouble(i) > threshold
      val y = b.getDouble(i) > threshold
      if (x) sa += 1
      if (y) sb += 1
      if (x && y) inter += 1
      if (x != y) mism += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(sa, sb, inter, mism))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val sa = ctx.freshName("sa"); val sb = ctx.freshName("sb")
      val inter = ctx.freshName("inter"); val mism = ctx.freshName("mism")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
      int $n = Math.min($a.numElements(), $b.numElements());
      long $sa = 0L, $sb = 0L, $inter = 0L, $mism = 0L;
      for (int $i = 0; $i < $n; $i++) {
        boolean $x = $a.getDouble($i) > $threshold;
        boolean $y = $b.getDouble($i) > $threshold;
        if ($x) $sa++;
        if ($y) $sb++;
        if ($x && $y) $inter++;
        if ($x != $y) $mism++;
      }
      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new long[] {$sa, $sb, $inter, $mism});"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** |∩| of two SORTED-ASCENDING, duplicate-free array<long> columns by linear
  * merge — the verify-step primitive of the LSH join family (r9). Sortedness
  * and distinctness are a CALLER PROMISE (ml `Vector.toSparse.indices` and
  * `array_distinct`+`array_sort` outputs satisfy it; unsorted input
  * undercounts) — the merge is O(|a|+|b|) with zero allocation, vs the
  * hash-set pass of [[ArraySetJaccard]] which must tolerate duplicates.
  * From the count and the two (known) set sizes, Jaccard, containment and
  * the reference's left/right asymmetric kernels are all scalar arithmetic,
  * so ONE array pass per candidate pair serves every reported distance. */
case class SortedLongInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_inter_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    var i = 0; var j = 0; var inter = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val inter = ctx.freshName("inter")
      s"""
      int $i = 0, $j = 0;
      int $nx = $a.numElements(), $ny = $b.numElements();
      long $inter = 0L;
      while ($i < $nx && $j < $ny) {
        long $xv = $a.getLong($i); long $yv = $b.getLong($j);
        if ($xv == $yv) { $inter++; $i++; $j++; }
        else if ($xv < $yv) $i++;
        else $j++;
      }
      ${ev.value} = $inter;"""
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
