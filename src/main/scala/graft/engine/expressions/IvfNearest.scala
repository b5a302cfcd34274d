package graft.engine.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Coarse-quantizer assignment: vector → the `n` nearest centroid ids,
  * best-first (ties on the LOWER centroid id). Two scoring modes,
  * chosen to replicate [[graft.llm.KMeans]]'s assign arithmetic
  * BIT-FOR-BIT (same sequential dot fold as VectorMath.dot, same
  * norm/score expression shapes), so swapping the crossJoin+min_by
  * assign for this projection cannot move a single centroid:
  *
  *  - cosine (l2=false): minimize −(dot(x,c) / ||c||) — the IVF coarse
  *    quantizer's argmax of cosine (row norm constant under argmax)
  *  - L2 (l2=true): minimize ||c||² − 2·dot(x,c) — product-quantization
  *    codebook assignment (row norm constant under argmin)
  *
  * This is the zero-shuffle spelling of "nearest lists": the
  * corpus × centroids cross join + per-row argmin that KMeans/
  * nn_ivf_topk otherwise materialize copies corpus×k wide rows per
  * round (28 GB/iteration at the 512-list tier — measured 73 s/iter)
  * just to rank a per-row array that fits in registers; here the whole
  * assignment is ONE projection node inside whole-stage codegen. The
  * centroid matrix rides as a REFERENCE OBJECT, not literal
  * sub-expressions, for the same reasons as [[PqEncode]] (driver-side
  * analysis cost, codegen method-size limits) — and, like PqEncode,
  * plan equality (CacheOnce hits) is reference equality on the arrays:
  * memoize them per dataset.
  *
  * `cents(i)` is the RAW centroid for id `i`; `cn(i)` its L2 norm
  * (driver-precomputed with the same sequential fold + sqrt the engine
  * uses). Selection is repeated argmin with exclusion — n is
  * nprobe-sized (≤ tens), so n·k beats a sort.
  */
case class IvfNearest(child: Expression, cents: Array[Array[Double]],
    cn: Array[Double], l2: Boolean, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"ivf_nearest needs n >= 1, got $n")

  private val k = cents.length
  private val dim = if (k == 0) 0 else cents(0).length
  private val outN = math.min(n, k)

  override def prettyName: String = "ivf_nearest"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_nearest requires array<float>/array<double>, got ${other.simpleString}")
    }

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any): Any = {
    val x = IvfNearest.toDoubles(a.asInstanceOf[ArrayData], dim, isFloat,
      elemNullable)
    new GenericArrayData(IvfNearest.assign(x, cents, cn, l2, 0, k, outN))
  }

  // both paths call the SAME static hot loop (IvfNearest.assign) —
  // see its scaladoc for why it is not inlined into the WSCG method
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
      val cnRef = ctx.addReferenceObj("ivfNorms", cn, "double[]")
      val xv = ctx.freshName("xv")
      s"""
         |double[] $xv = graft.engine.expressions.IvfNearest.toDoubles(
         |  $x, $dim, $isFloat, $elemNullable);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.engine.expressions.IvfNearest.assign(
         |    $xv, $centsRef, $cnRef, $l2, 0, $k, $outN));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfNearest {
  /** Driver-side L2 norms with the engine's exact fold order
    * (sequential += then sqrt — matches sqrt(VectorMath.dot(c, c))).
    */
  def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      var s = 0.0
      var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      math.sqrt(s)
    }

  /** The assignment hot loop as ONE static method, shared by the
    * interpreted eval and the generated code (r12). Two reasons it is
    * NOT inlined into the whole-stage-codegen method: (a) the giant
    * generated method blows the JIT inlining/compile budget — measured
    * 4.2 dot-Gflop/s inside WSCG vs 10.4 on the plain eval path for
    * the same loop (ProbeKernel, 2M × 5102 × 32); a small static
    * method JITs once and stays hot from every call site; (b) the
    * caller copies the vector out of ArrayData ONCE, so the k×dim
    * inner loop runs on raw double[] with no accessor calls.
    *
    * Selection is an exact insertion top-n over (score, local id)
    * ascending — the SAME total order as the former n-pass repeated
    * argmin with strict-< (ties land on the lower id), at k + n·inserts
    * ops instead of n·k. NaN scores sort after everything (comparisons
    * false → never inserted); when fewer than outN finite scores
    * exist, the remaining slots fill with the lowest ids not already
    * taken — exactly the old all-NaN fallback. Returns GLOBAL ids
    * (base + local).
    */
  def assign(x: Array[Double], cents: Array[Array[Double]],
      cn: Array[Double], l2: Boolean, base: Int, blockLen: Int,
      outN: Int): Array[Int] = {
    // outN == 0 would index scores(-1) in the displacement arm below;
    // the pre-r12 repeated-argmin loop returned an empty array here
    if (outN <= 0) return Array.emptyIntArray
    val dim = x.length
    val scores = new Array[Double](outN)
    val ids = new Array[Int](outN)
    var filled = 0
    var ci = 0
    while (ci < blockLen) {
      val c = cents(base + ci)
      var d = 0.0
      var j = 0
      while (j < dim) { d += x(j) * c(j); j += 1 }
      val s =
        if (l2) cn(base + ci) * cn(base + ci) - 2.0 * d
        else -(d / cn(base + ci))
      // insert (s, ci) if it beats the current worst (strict: equal
      // score with a HIGHER id never displaces — matches the repeated
      // argmin's lower-id tie-break); NaN comparisons are false on
      // both arms, so NaN scores are never inserted
      if (filled < outN) {
        if (!(s != s)) { // skip NaN
          var p = filled
          while (p > 0 && (scores(p - 1) > s)) {
            scores(p) = scores(p - 1); ids(p) = ids(p - 1); p -= 1
          }
          scores(p) = s; ids(p) = ci; filled += 1
        }
      } else if (s < scores(outN - 1)) {
        var p = outN - 1
        while (p > 0 && (scores(p - 1) > s)) {
          scores(p) = scores(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        scores(p) = s; ids(p) = ci
      }
      ci += 1
    }
    val out = new Array[Int](outN)
    var oi = 0
    while (oi < filled) { out(oi) = base + ids(oi); oi += 1 }
    if (filled < outN) {
      // all-NaN remainder: lowest untaken local ids, ascending
      val taken = new Array[Boolean](blockLen)
      var t = 0
      while (t < filled) { taken(ids(t)) = true; t += 1 }
      var f = 0
      while (oi < outN) {
        while (taken(f)) f += 1
        out(oi) = base + f; taken(f) = true; oi += 1
      }
    }
    out
  }

  /** ArrayData → double[] copy (float arrays widen exactly); the one
    * place per row that touches the Spark representation.
    */
  def toDoubles(x: org.apache.spark.sql.catalyst.util.ArrayData,
      dim: Int, isFloat: Boolean, checkNulls: Boolean): Array[Double] = {
    PqEncode.checkLen(x.numElements(), dim)
    val out = new Array[Double](dim)
    var j = 0
    if (checkNulls) {
      while (j < dim) {
        if (x.isNullAt(j)) PqEncode.nullElement()
        out(j) = if (isFloat) x.getFloat(j).toDouble else x.getDouble(j)
        j += 1
      }
    } else {
      while (j < dim) {
        out(j) = if (isFloat) x.getFloat(j).toDouble else x.getDouble(j)
        j += 1
      }
    }
    out
  }

  def apply(v: Column, cents: Array[Array[Double]], cn: Array[Double],
      l2: Boolean, n: Int): Column =
    GraftColumn.column(IvfNearest(GraftColumn.expression(v), cents, cn, l2, n))

  /** Runtime guard for the blocked variant: a block index outside the
    * concatenated matrix means the label→block map and the centroid
    * build disagree — fail loudly, never rank a foreign slice.
    */
  def checkBlock(b: Int, blockLen: Int, k: Int): Unit =
    if (b < 0 || (b.toLong + 1L) * blockLen > k)
      throw new IllegalStateException(
        s"ivf_nearest_block: block $b out of range for $k centroids of block length $blockLen")

  /** [[assign]] restricted to an explicit candidate id list (ascending):
    * same score formula, same insertion top-n, same strict-< displacement
    * (so ties land on the LOWER global id — the list is pre-sorted), and
    * the same all-NaN remainder rule confined to the candidates (lowest
    * untaken candidate ids, ascending). `outN` is capped by the
    * candidate count.
    */
  def assignOver(x: Array[Double], cents: Array[Array[Double]],
      cn: Array[Double], l2: Boolean, ids: Array[Int], outN0: Int)
      : Array[Int] = {
    val outN = math.min(outN0, ids.length)
    if (outN <= 0) return Array.emptyIntArray
    val dim = x.length
    val scores = new Array[Double](outN)
    val out = new Array[Int](outN)
    var filled = 0
    var ii = 0
    while (ii < ids.length) {
      val id = ids(ii)
      val c = cents(id)
      var d = 0.0
      var j = 0
      while (j < dim) { d += x(j) * c(j); j += 1 }
      val s =
        if (l2) cn(id) * cn(id) - 2.0 * d
        else -(d / cn(id))
      if (filled < outN) {
        if (!(s != s)) { // skip NaN
          var p = filled
          while (p > 0 && (scores(p - 1) > s)) {
            scores(p) = scores(p - 1); out(p) = out(p - 1); p -= 1
          }
          scores(p) = s; out(p) = id; filled += 1
        }
      } else if (s < scores(outN - 1)) {
        var p = outN - 1
        while (p > 0 && (scores(p - 1) > s)) {
          scores(p) = scores(p - 1); out(p) = out(p - 1); p -= 1
        }
        scores(p) = s; out(p) = id
      }
      ii += 1
    }
    if (filled < outN) {
      // all-NaN remainder: lowest untaken CANDIDATE ids, ascending
      val taken = new java.util.HashSet[Integer](filled * 2)
      var t = 0
      while (t < filled) { taken.add(out(t)); t += 1 }
      var f = 0
      var oi = filled
      while (oi < outN) {
        while (taken.contains(ids(f))) f += 1
        out(oi) = ids(f); f += 1; oi += 1
      }
    }
    out
  }

  /** Quantizer-assisted assignment (VERDICT r17 missing-#1 — the faiss
    * IVF-on-coarse layout): rank the GROUP centers first (`gCents`,
    * spherical k-means over the centroids, [[groupCentroids]]), then
    * run the exact insertion top-n only over the probed groups' member
    * centroids. Per-vector cost drops from k dot-folds to
    * G + gProbes·(k/G) ≈ (1 + gProbes)·√k with G = ⌈√k⌉ — sublinear in
    * k — at the price that the true argmax can sit in an un-probed
    * group (the measured equality knob; gProbes == G is exhaustive and
    * provably equal to the brute [[assign]], because candidates are
    * sorted ascending and scored with the identical fold + tie-break).
    * Cosine only (the corpus-assignment metric); candidate shortfall
    * (outN exceeds the probed population) falls back to the brute scan
    * so the result is always well-defined.
    */
  def assignVia(x: Array[Double], cents: Array[Array[Double]],
      cn: Array[Double], gCents: Array[Array[Double]], gNorms: Array[Double],
      members: Array[Array[Int]], gProbes: Int, outN: Int): Array[Int] = {
    val g = gCents.length
    val gp = math.min(math.max(1, gProbes), g)
    val gs = assign(x, gCents, gNorms, false, 0, g, gp)
    var cnt = 0
    var i = 0
    while (i < gs.length) { cnt += members(gs(i)).length; i += 1 }
    if (cnt < outN)
      return assign(x, cents, cn, false, 0, cents.length, outN)
    val ids = new Array[Int](cnt)
    var o = 0
    i = 0
    while (i < gs.length) {
      val m = members(gs(i))
      System.arraycopy(m, 0, ids, o, m.length)
      o += m.length; i += 1
    }
    // ascending global ids reproduce the brute tie-break (lower id wins)
    java.util.Arrays.sort(ids)
    assignOver(x, cents, cn, l2 = false, ids, outN)
  }

  /** Driver-side spherical k-means over the CENTROIDS — the offline
    * grouping [[assignVia]] probes. Deterministic: strided seeds over
    * the id order, fixed iteration count, argmax ties to the lower
    * group id, empty groups keep their previous center. Cost is
    * k·G·dim·iters driver flops — ~30M at the 4096-list cap, microsec
    * class next to the Lloyd's rounds that produced the centroids.
    * Returns (group centers, their norms, member ids per group sorted
    * ascending); every centroid id appears in exactly one group.
    */
  def groupCentroids(cents: Array[Array[Double]], g0: Int, iters: Int = 10)
      : (Array[Array[Double]], Array[Double], Array[Array[Int]]) = {
    val k = cents.length
    val g = math.max(1, math.min(g0, k))
    val dim = cents(0).length
    // unit directions; zero-norm centroids stay zero (dot 0 everywhere,
    // deterministically landing in the first best group)
    val unit = cents.map { c =>
      var s = 0.0; var j = 0
      while (j < dim) { s += c(j) * c(j); j += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) new Array[Double](dim) else c.map(_ / n)
    }
    var centers = Array.tabulate(g)(i => unit((i.toLong * k / g).toInt).clone())
    val asg = new Array[Int](k)
    var it = 0
    while (it < iters) {
      var ci = 0
      while (ci < k) {
        var best = 0; var bestD = Double.NegativeInfinity
        var gi = 0
        while (gi < g) {
          var d = 0.0; var j = 0
          val gc = centers(gi)
          val u = unit(ci)
          while (j < dim) { d += u(j) * gc(j); j += 1 }
          if (d > bestD) { bestD = d; best = gi }
          gi += 1
        }
        asg(ci) = best
        ci += 1
      }
      // recompute: renormalized member mean; empty group keeps center
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnts = new Array[Int](g)
      var ci2 = 0
      while (ci2 < k) {
        val s = sums(asg(ci2)); val u = unit(ci2)
        var j = 0
        while (j < dim) { s(j) += u(j); j += 1 }
        cnts(asg(ci2)) += 1
        ci2 += 1
      }
      centers = Array.tabulate(g) { gi =>
        if (cnts(gi) == 0) centers(gi)
        else {
          val s = sums(gi)
          var n2 = 0.0; var j = 0
          while (j < dim) { n2 += s(j) * s(j); j += 1 }
          val n = math.sqrt(n2)
          if (n == 0.0) centers(gi) else s.map(_ / n)
        }
      }
      it += 1
    }
    val members = Array.tabulate(g) { gi =>
      val b = new scala.collection.mutable.ArrayBuilder.ofInt
      var ci = 0
      while (ci < k) { if (asg(ci) == gi) b += ci; ci += 1 }
      b.result() // ascending by construction
    }
    (centers, norms(centers), members)
  }
}

/** [[IvfNearest]] with quantizer-assisted candidate generation — the
  * corpus-assignment expression for LARGE list counts (the √n-class
  * SemDeDup / IVF builds past ~10³ lists, VERDICT r17 missing-#1):
  * group centers are ranked first and only the probed groups' member
  * centroids are scored, (1 + gProbes)·√k dot-folds per row instead of
  * k. Same reference-object transport, same static-hot-loop codegen
  * discipline as [[IvfNearest]]; `gProbes == gCents.length` is provably
  * brute-equal (the spec pins it), smaller widths are a measured
  * equality knob. Cosine mode only — the one metric corpus assignment
  * uses; PQ's L2 codebooks are 256-wide and never need this.
  */
case class IvfNearestCoarse(child: Expression, cents: Array[Array[Double]],
    cn: Array[Double], gCents: Array[Array[Double]], gNorms: Array[Double],
    members: Array[Array[Int]], gProbes: Int, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"ivf_nearest_coarse needs n >= 1, got $n")
  require(gProbes >= 1, s"ivf_nearest_coarse needs gProbes >= 1, got $gProbes")

  private val k = cents.length
  private val dim = if (k == 0) 0 else cents(0).length
  private val outN = math.min(n, k)

  override def prettyName: String = "ivf_nearest_coarse"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_nearest_coarse requires array<float>/array<double>, got ${other.simpleString}")
    }

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any): Any = {
    val x = IvfNearest.toDoubles(a.asInstanceOf[ArrayData], dim, isFloat,
      elemNullable)
    new GenericArrayData(
      IvfNearest.assignVia(x, cents, cn, gCents, gNorms, members, gProbes, outN))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
      val cnRef = ctx.addReferenceObj("ivfNorms", cn, "double[]")
      val gcRef = ctx.addReferenceObj("ivfGroupCents", gCents, "double[][]")
      val gnRef = ctx.addReferenceObj("ivfGroupNorms", gNorms, "double[]")
      val memRef = ctx.addReferenceObj("ivfGroupMembers", members, "int[][]")
      val xv = ctx.freshName("xv")
      s"""
         |double[] $xv = graft.engine.expressions.IvfNearest.toDoubles(
         |  $x, $dim, $isFloat, $elemNullable);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.engine.expressions.IvfNearest.assignVia(
         |    $xv, $centsRef, $cnRef, $gcRef, $gnRef, $memRef, $gProbes, $outN));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfNearestCoarse {
  def apply(v: Column, cents: Array[Array[Double]], cn: Array[Double],
      gCents: Array[Array[Double]], gNorms: Array[Double],
      members: Array[Array[Int]], gProbes: Int, n: Int): Column =
    GraftColumn.column(IvfNearestCoarse(GraftColumn.expression(v),
      cents, cn, gCents, gNorms, members, gProbes, n))
}

/** [[IvfNearest]] restricted to one BLOCK of a concatenated per-group
  * centroid matrix: ranks only the `blockLen` centroids at
  * `[block·blockLen, (block+1)·blockLen)` and returns GLOBAL centroid
  * ids. This is the per-label coarse quantizer's assignment: label-
  * correlated embeddings make a global quantizer's lists label-pure,
  * so probe budget ranked globally is wasted on other labels' lists —
  * ranking within the row's own label block makes every probed list
  * in-label by construction at the same budget. Same scoring
  * arithmetic, tie-break (lower id within the block), and reference-
  * object centroid transport as [[IvfNearest]]; one extra int child
  * selects the block.
  */
case class IvfNearestBlock(vec: Expression, block: Expression,
    cents: Array[Array[Double]], cn: Array[Double], l2: Boolean, n: Int,
    blockLen: Int) extends BinaryExpression {

  require(blockLen >= 1, s"blockLen must be >= 1, got $blockLen")
  require(n >= 1, s"ivf_nearest_block needs n >= 1, got $n")

  private val k = cents.length
  private val dim = if (k == 0) 0 else cents(0).length
  private val outN = math.min(n, blockLen)

  override def left: Expression = vec
  override def right: Expression = block
  override def prettyName: String = "ivf_nearest_block"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, block.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (v, b) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_nearest_block requires (array<float|double>, int), got " +
            s"(${v.simpleString}, ${b.simpleString})")
    }

  private lazy val isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val elemNullable: Boolean =
    vec.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, blk: Any): Any = {
    val b = blk.asInstanceOf[Int]
    IvfNearest.checkBlock(b, blockLen, k)
    val x = IvfNearest.toDoubles(a.asInstanceOf[ArrayData], dim, isFloat,
      elemNullable)
    new GenericArrayData(
      IvfNearest.assign(x, cents, cn, l2, b * blockLen, blockLen, outN))
  }

  // both paths call the SAME static hot loop (IvfNearest.assign) —
  // see its scaladoc for why it is not inlined into the WSCG method
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, blk) => {
      val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
      val cnRef = ctx.addReferenceObj("ivfNorms", cn, "double[]")
      val xv = ctx.freshName("xv")
      s"""
         |graft.engine.expressions.IvfNearest.checkBlock($blk, $blockLen, $k);
         |double[] $xv = graft.engine.expressions.IvfNearest.toDoubles(
         |  $x, $dim, $isFloat, $elemNullable);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.engine.expressions.IvfNearest.assign(
         |    $xv, $centsRef, $cnRef, $l2, $blk * $blockLen, $blockLen, $outN));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, block = newRight)
}

object IvfNearestBlock {
  def apply(v: Column, block: Column, cents: Array[Array[Double]],
      cn: Array[Double], l2: Boolean, n: Int, blockLen: Int): Column =
    GraftColumn.column(IvfNearestBlock(GraftColumn.expression(v),
      GraftColumn.expression(block), cents, cn, l2, n, blockLen))
}
