package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the embedding-similarity hot paths.
  *
  * The declarative forms (`aggregate(zip_with(...))`) are correct but
  * run through the interpreted higher-order-function path — one lambda
  * evaluation per vector element. At 100 TB that interpretive overhead
  * dominates the actual multiply-adds, so the two innermost kernels are
  * native expressions with `doGenCode`: a tight scalar loop inside
  * whole-stage codegen, no virtual calls per element.
  *
  * Numeric parity: both kernels accumulate left-to-right over the
  * element index in plain IEEE doubles — bit-identical to the
  * `aggregate` fold they replace AND to the DuckDB oracle's
  * `list_sum(list_transform(...))`, so oracle-checked results are
  * unchanged.
  */
object VectorExpressions {

  private[expressions] def elementReader(dt: DataType,
      arr: String, i: String): String = dt match {
    case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
    case ArrayType(DoubleType, _) => s"$arr.getDouble($i)"
    case other => throw new IllegalArgumentException(
      s"vector expression expects array<float|double>, got $other")
  }

  private[expressions] def elementAt(dt: DataType,
      arr: ArrayData, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"vector expression expects array<float|double>, got $other")
  }
}

/** Value equality for kernel expressions carrying Array constructor
  * parameters (codebooks, centroid tables, merge tables). Case-class
  * equality on an Array field is REFERENCE equality, so two
  * semantically identical kernel instances never compare equal and
  * Catalyst canonicalization / common-subexpression elimination cannot
  * dedup them. This replaces the synthetic equals/hashCode with a deep
  * comparison that unwraps (nested) arrays and tuples to value-compared
  * sequences — the convention value-equality expressions already follow
  * (`Literal` special-cases arrays the same way). Declared `final` so
  * the compiler errors rather than silently re-synthesizing if a case
  * class ever shadowed them.
  */
trait ArrayParamValueEquality { self: Product =>
  private def norm(x: Any): Any = x match {
    case a: Array[_]  => a.toIndexedSeq.map(norm)
    case s: Seq[_]    => s.toIndexedSeq.map(norm)
    case (p, q)       => (norm(p), norm(q))
    case other        => other
  }
  @transient private lazy val normParams: IndexedSeq[Any] =
    productIterator.map(norm).toIndexedSeq
  final override def equals(o: Any): Boolean = o match {
    case that: ArrayParamValueEquality =>
      (this eq that) ||
        (getClass == that.getClass && normParams == that.normParams)
    case _ => false
  }
  final override def hashCode(): Int =
    31 * getClass.hashCode + normParams.hashCode
}

/** Dot product of two float/double array columns as one codegen'd loop.
  * Null if either side is null, either side has a null element, or the
  * lengths differ (mirrors `zip_with` null-padding semantics).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<float|double> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    val n = av.numElements()
    if (n != bv.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (av.isNullAt(i) || bv.isNullAt(i)) return null
      s += VectorExpressions.elementAt(left.dataType, av, i) *
        VectorExpressions.elementAt(right.dataType, bv, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val la = VectorExpressions.elementReader(left.dataType, a, i)
      val rb = VectorExpressions.elementReader(right.dataType, b, i)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $la * $rb;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(left = newLeft, right = newRight)
}

/** All hyperplane sign bits of a vector as one '0'/'1' string: bit p is
  * the sign of the projection onto plane p. One codegen'd double loop
  * per row replaces `planes` separate interpreted aggregate passes.
  * Band signatures are then cheap substrings of the result.
  *
  * Throws on a dimensionality mismatch or null element instead of
  * degrading every vector into one bucket (same contract as the
  * declarative signBits it replaces).
  */
case class SignBits(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with ArrayParamValueEquality {

  private val numPlanes = planes.length
  private val dims = if (planes.isEmpty) 0 else planes(0).length

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sign_bits"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_bits expects array<float|double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"signBits: vector dims != $dims")
    val bits = new Array[Char](numPlanes)
    var p = 0
    while (p < numPlanes) {
      val plane = planes(p)
      var s = 0.0
      var d = 0
      while (d < dims) {
        if (vec.isNullAt(d))
          throw new RuntimeException(s"signBits: vector dims != $dims")
        s += VectorExpressions.elementAt(child.dataType, vec, d) * plane(d)
        d += 1
      }
      bits(p) = if (s >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromString(new String(bits))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val bits = ctx.freshName("bits")
      val elem = VectorExpressions.elementReader(child.dataType, v, d)
      s"""
         |if ($v.numElements() != $dims) {
         |  throw new RuntimeException("signBits: vector dims != $dims");
         |}
         |char[] $bits = new char[$numPlanes];
         |for (int $p = 0; $p < $numPlanes; $p++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    if ($v.isNullAt($d)) {
         |      throw new RuntimeException("signBits: vector dims != $dims");
         |    }
         |    $s += $elem * $planesRef[$p][$d];
         |  }
         |  $bits[$p] = ($s >= 0) ? '1' : '0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(new String($bits));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

/** Dense matrix–vector projection: out[j] = (Σ_d vec[d]·planes[j][d])
  * / divisor, as one codegen'd double loop per row. Replaces the
  * interpreted `transform(…, aggregate(…))` nesting in
  * `Similarity.randomProject`, which cost k·dims lambda evaluations
  * per row (1024 boxed steps for k=16, dims=64 — it was ~85% of the
  * projection-recall probe's wall time).
  *
  * Numeric parity: accumulates left-to-right over the element index in
  * plain IEEE doubles, then divides the finished sum — the exact
  * association of the declarative fold and of the oracle's SQL replay,
  * so every projected value is bit-identical to both.
  *
  * Throws on a dimensionality mismatch or null element (same contract
  * as SignBits); the declarative twin instead yields null elements,
  * which silently poison downstream cosines — failing loudly is the
  * behavior you want at 100 TB.
  */
case class MatProject(child: Expression, planes: Array[Array[Double]],
    divisor: Double) extends UnaryExpression with ArrayParamValueEquality {

  private val numPlanes = planes.length
  private val dims = if (planes.isEmpty) 0 else planes(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "mat_project"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mat_project expects array<float|double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"matProject: vector dims != $dims")
    val out = new Array[Double](numPlanes)
    var p = 0
    while (p < numPlanes) {
      val plane = planes(p)
      var s = 0.0
      var d = 0
      while (d < dims) {
        if (vec.isNullAt(d))
          throw new RuntimeException(s"matProject: null element at $d")
        s += VectorExpressions.elementAt(child.dataType, vec, d) * plane(d)
        d += 1
      }
      out(p) = s / divisor
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val elem = VectorExpressions.elementReader(child.dataType, v, d)
      s"""
         |if ($v.numElements() != $dims) {
         |  throw new RuntimeException("matProject: vector dims != $dims");
         |}
         |double[] $out = new double[$numPlanes];
         |for (int $p = 0; $p < $numPlanes; $p++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    if ($v.isNullAt($d)) {
         |      throw new RuntimeException("matProject: null element at " + $d);
         |    }
         |    $s += $elem * $planesRef[$p][$d];
         |  }
         |  $out[$p] = $s / $divisor;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MatProject =
    copy(child = newChild)
}

/** Fused IVF cell assignment: argmin over centroids p of
  * `‖c_p‖² − 2·v·c_p` (the ‖v‖² term is constant in p), as ONE
  * codegen'd double loop — numCents × dims multiply-adds per row with
  * no per-centroid expression overhead. Replaces an
  * `array_min(array(struct(score, cell), …))` over numCents separate
  * VecDot expressions on the corpus hot path.
  *
  * Parity with the declarative form it replaces: each dot accumulates
  * left-to-right in IEEE doubles (identical to VecDot), the score is
  * `normSq − 2.0·dot` (same association), and the argmin compares with
  * `Double.compare` — the exact total order (`-0.0 < 0.0`, NaN
  * greatest) Spark's struct ordering gives `array_min`, with ties on
  * the score keeping the smallest cell index.
  *
  * Throws on dimensionality mismatch or null element (same fail-loud
  * contract as MatProject/SignBits).
  */
case class NearestCell(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ArrayParamValueEquality {

  private val numCents = centroids.length
  private val dims = if (centroids.isEmpty) 0 else centroids(0).length
  private val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_cell"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cell expects array<float|double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"nearestCell: vector dims != $dims")
    var best = Double.PositiveInfinity
    var cell = 0
    var p = 0
    while (p < numCents) {
      val cent = centroids(p)
      var s = 0.0
      var d = 0
      while (d < dims) {
        if (vec.isNullAt(d))
          throw new RuntimeException(s"nearestCell: null element at $d")
        s += VectorExpressions.elementAt(child.dataType, vec, d) * cent(d)
        d += 1
      }
      val score = normSq(p) - 2.0 * s
      if (java.lang.Double.compare(score, best) < 0) { best = score; cell = p }
      p += 1
    }
    cell
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val normsRef = ctx.addReferenceObj("normSq", normSq, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val score = ctx.freshName("score")
      val elem = VectorExpressions.elementReader(child.dataType, v, d)
      s"""
         |if ($v.numElements() != $dims) {
         |  throw new RuntimeException("nearestCell: vector dims != $dims");
         |}
         |double $best = Double.POSITIVE_INFINITY;
         |${ev.value} = 0;
         |for (int $p = 0; $p < $numCents; $p++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    if ($v.isNullAt($d)) {
         |      throw new RuntimeException("nearestCell: null element at " + $d);
         |    }
         |    $s += $elem * $centsRef[$p][$d];
         |  }
         |  double $score = $normsRef[$p] - 2.0 * $s;
         |  if (java.lang.Double.compare($score, $best) < 0) {
         |    $best = $score;
         |    ${ev.value} = $p;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** Two-level (hierarchical) nearest-centroid assignment — the IVF
  * coarse quantizer's own scale path. Flat [[NearestCell]] costs
  * O(nlist·dims) per vector; with the contract nlist ∝ corpus that
  * term turns corpus-quadratic. Here the nlist centroids are
  * pre-grouped under `ngroups ≈ √nlist` super-centroids: a vector
  * scores the super-centroids first, then only the member centroids
  * of its `wprobe` nearest groups — O((ngroups + wprobe·nlist/ngroups)
  * ·dims) ≈ O(√nlist·dims). This is the standard two-level k-means /
  * IMI construction (Babenko & Lempitsky 2012's inverted multi-index
  * is the product-space version of the same idea).
  *
  * Exactness contract: with `wprobe == ngroups` every centroid is
  * scanned and the result — including ties, which break to the LOWER
  * GLOBAL cell id — is identical to flat [[NearestCell]] (flat's
  * strict `<` keeps the first = lowest index on ties; here the
  * explicit (score, id) order restores that under any group
  * visitation order). With small wprobe the assignment is
  * approximate in exactly the IVF sense: wrong only when the true
  * cell's group is not among the wprobe nearest by super-centroid.
  */
case class NearestCellTwoLevel(child: Expression,
    superCents: Array[Array[Double]], members: Array[Array[Int]],
    centroids: Array[Array[Double]], wprobe: Int)
    extends UnaryExpression with ArrayParamValueEquality {
  require(superCents.length == members.length,
    "one member list per super-centroid")
  require(wprobe >= 1 && wprobe <= superCents.length,
    "wprobe must be in [1, ngroups]")

  private val ngroups = superCents.length
  private val dims = if (centroids.isEmpty) 0 else centroids(0).length
  private val superNormSq: Array[Double] =
    superCents.map(c => c.map(x => x * x).sum)
  private val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)
  // per-thread scratch: assign() runs once per corpus row on the hot
  // path — allocating x/superScore/taken per row measurably drags the
  // Lloyd sweep (ThreadLocal because codegen may share this reference
  // object across a task thread pool)
  @transient private lazy val scratch =
    new ThreadLocal[(Array[Double], Array[Double], Array[Boolean])] {
      override def initialValue() = (new Array[Double](dims),
        new Array[Double](ngroups), new Array[Boolean](ngroups))
    }
  @transient private lazy val isFloat =
    child.dataType == ArrayType(FloatType, containsNull = true) ||
    child.dataType == ArrayType(FloatType, containsNull = false)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_cell_two_level"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cell_two_level expects array<float|double>, got $other")
    }

  def assign(v: Any): Int = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"nearestCellTwoLevel: vector dims != $dims")
    val (x, superScore, taken) = scratch.get()
    java.util.Arrays.fill(taken, false)
    var d = 0
    while (d < dims) {
      if (vec.isNullAt(d))
        throw new RuntimeException(s"nearestCellTwoLevel: null element at $d")
      x(d) = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      d += 1
    }
    // level 1: score super-centroids
    var g = 0
    while (g < ngroups) {
      val c = superCents(g)
      var s = 0.0; var i = 0
      while (i < dims) { s += x(i) * c(i); i += 1 }
      superScore(g) = superNormSq(g) - 2.0 * s
      g += 1
    }
    // wprobe nearest groups by (score, group id): selection pass per
    // probe — wprobe is small by construction
    var best = Double.PositiveInfinity
    var bestCell = Int.MaxValue
    var p = 0
    while (p < wprobe) {
      var bg = -1
      var bgs = Double.PositiveInfinity
      g = 0
      while (g < ngroups) {
        if (!taken(g) && java.lang.Double.compare(superScore(g), bgs) < 0) {
          bgs = superScore(g); bg = g
        }
        g += 1
      }
      taken(bg) = true
      // level 2: scan this group's member cells
      val mem = members(bg)
      var m = 0
      while (m < mem.length) {
        val cellId = mem(m)
        val c = centroids(cellId)
        var s = 0.0; var i = 0
        while (i < dims) { s += x(i) * c(i); i += 1 }
        val score = normSq(cellId) - 2.0 * s
        val cmp = java.lang.Double.compare(score, best)
        if (cmp < 0 || (cmp == 0 && cellId < bestCell)) {
          best = score; bestCell = cellId
        }
        m += 1
      }
      p += 1
    }
    bestCell
  }

  override def nullSafeEval(input: Any): Any = assign(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCellTwoLevel", this,
      classOf[NearestCellTwoLevel].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.assign($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCellTwoLevel = copy(child = newChild)
}

/** IMI probe-cell selection (Babenko & Lempitsky 2012, "The Inverted
  * Multi-Index" — public paper): the product-space twin of the IVF
  * probe. The coarse quantizer is a PAIR of codebooks, one per vector
  * half; a cell is a (code₀, code₁) pair (K² cells from 2K
  * centroids). A query's probe order is by d₀(i) + d₁(j) — each half
  * distance computed ONCE (2K sub-distances), then the K² pair sums
  * ranked. Returns the `nprobe` cell ids `i·K + j` ordered by
  * (distance asc, cell asc).
  *
  * Arithmetic parity: each half distance accumulates (x−c)² left to
  * right in IEEE doubles and floor-quantizes to nano-unit longs —
  * exactly [[graft.functions.Similarity]]'s `subDistNano`, so the
  * SQL oracle replays probe selection bit-for-bit; pair distances are
  * exact long sums. A native kernel (not a declarative
  * sort-of-structs) because the probe array feeds a Generate — the
  * interpreted-Generate trap (the plan lint) — and because K² pair structs
  * would bloat codegen past the 64 KB method limit the PQ LUT
  * already hit.
  */
case class ImiProbeCells(child: Expression,
    books: Array[Array[Array[Double]]], nprobe: Int)
    extends UnaryExpression with ArrayParamValueEquality {
  require(books.length == 2, "IMI needs exactly 2 coarse codebooks")
  require(books(0).length == books(1).length,
    "both halves need the same K")
  require(books(0).nonEmpty, "coarse codebooks must be non-empty")
  require(books.forall(_.forall(_.length == books(0)(0).length)),
    "every coarse centroid must have the same sub-vector dims " +
      "(shorter throws per row; longer would silently truncate)")
  require(nprobe >= 1 && nprobe <= books(0).length * books(0).length,
    "nprobe must be in [1, K^2]")

  private val bigK = books(0).length
  private val sub = books(0)(0).length
  private val dims = 2 * sub

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "imi_probe_cells"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"imi_probe_cells expects array<float|double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def probes(v: Any): ArrayData = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"imiProbeCells: vector dims != $dims")
    // half distances: d(h)(c) = floor(Σ (x−c)² · 1e9), accumulated
    // left to right like subDistNano
    val d = Array.ofDim[Long](2, bigK)
    var h = 0
    while (h < 2) {
      var c = 0
      while (c < bigK) {
        val cent = books(h)(c)
        var s = 0.0
        var i = 0
        while (i < sub) {
          val xi = h * sub + i
          if (vec.isNullAt(xi))
            throw new RuntimeException(
              s"imiProbeCells: null element at $xi")
          val x = if (isFloat) vec.getFloat(xi).toDouble
                  else vec.getDouble(xi)
          val diff = x - cent(i)
          s += diff * diff
          i += 1
        }
        d(h)(c) = math.floor(s * 1e9).toLong
        c += 1
      }
      h += 1
    }
    // pair ranking by (dist, cell): full sort of the K² sums for
    // small K (the gate-scale coarse codebooks — trivial), the LAZY
    // MULTI-SEQUENCE frontier walk past the threshold — at the
    // billion-scale K (2¹⁴ halves → 2²⁸ cells) materializing K² pairs
    // per query is exactly the cost IMI exists to avoid. Both paths
    // return the identical (dist asc, cell asc) prefix (spec-pinned,
    // including tie plateaus).
    val sel = if (bigK * bigK <= 4096) ImiProbeCells.pairsSorted(d, nprobe)
              else ImiProbeCells.pairsMultiSeq(d, nprobe)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sel.map(c => c: Any))
  }

  override def nullSafeEval(input: Any): Any = probes(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imiProbeCells", this,
      classOf[ImiProbeCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.probes($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ImiProbeCells = copy(child = newChild)
}

object ImiProbeCells {

  /** Small-K path: materialize and sort all K² pair sums. */
  private[graft] def pairsSorted(d: Array[Array[Long]],
      nprobe: Int): Array[Int] = {
    val k = d(0).length
    val cells = new Array[Int](k * k)
    val dist = new Array[Long](k * k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) {
        val idx = i * k + j
        cells(idx) = idx
        dist(idx) = d(0)(i) + d(1)(j)
        j += 1
      }
      i += 1
    }
    cells.indices.sortBy(idx => (dist(idx), cells(idx)))
      .take(nprobe).map(cells(_)).toArray
  }

  /** Large-K path: the multi-sequence algorithm (Babenko & Lempitsky
    * 2012, §"multi-sequence algorithm"). Each half's distances sort
    * once (K log K); a frontier heap over SORTED-RANK pairs starts at
    * (0,0) and pops in nondecreasing pair distance, pushing the two
    * rank successors of each popped pair — O(K log K +
    * nprobe·log nprobe) total instead of K² log K.
    *
    * Exact-order contract: the heap pops in nondecreasing DIST but
    * equal-dist pairs can surface in frontier order, not (dist, cell)
    * order — so the walk keeps draining while the heap minimum still
    * EQUALS the current boundary distance (the frontier property
    * guarantees every pair with dist ≤ boundary has been generated by
    * then), then the drained prefix sorts by (dist, cell) and
    * truncates. Result is bit-identical to [[pairsSorted]], ties and
    * all (spec-pinned on tie-plateau fixtures).
    */
  private[graft] def pairsMultiSeq(d: Array[Array[Long]],
      nprobe: Int): Array[Int] = {
    val k = d(0).length
    // sort each half once; rank -> original code
    val ord0 = d(0).indices.sortBy(c => (d(0)(c), c)).toArray
    val ord1 = d(1).indices.sortBy(c => (d(1)(c), c)).toArray
    // heap over (dist, r0, r1) in sorted-rank space
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int, Int)](
      Ordering.by[(Long, Int, Int), Long](_._1).reverse)
    val seen = new java.util.HashSet[Long]()
    def push(r0: Int, r1: Int): Unit =
      if (r0 < k && r1 < k) {
        val key = r0.toLong * k + r1
        if (seen.add(key))
          heap.enqueue((d(0)(ord0(r0)) + d(1)(ord1(r1)), r0, r1))
      }
    push(0, 0)
    val outDist = scala.collection.mutable.ArrayBuffer.empty[Long]
    val outCell = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (heap.nonEmpty &&
        (outDist.length < nprobe ||
          heap.head._1 == outDist(outDist.length - 1))) {
      val (dist, r0, r1) = heap.dequeue()
      outDist += dist
      outCell += ord0(r0) * k + ord1(r1)
      push(r0 + 1, r1)
      push(r0, r1 + 1)
    }
    outCell.indices.sortBy(i => (outDist(i), outCell(i)))
      .take(nprobe).map(outCell(_)).toArray
  }
}

/** Native IMI coarse cell assignment — the corpus-side twin of
  * [[ImiProbeCells]]: the same two half-distance loops, but instead of
  * ranking all K² pairs it takes the per-half argmin and returns
  * cell = code₀·K + code₁ as one int. This is the encode that runs on
  * EVERY corpus row (the probe kernel runs once per query), so it is
  * the kernel that matters at corpus scale: at K=128 the declarative
  * `imiCells` composition (`aggregate(pqEncode(...))`) walks
  * 2·128 centroids × 32 dims per row through the interpreted-HOF path
  * (measured: the K=128 gate corpus encode dominated a 16.9 s gate;
  * this kernel is a tight codegen'd loop).
  *
  * Parity (oracle-pinned): each sub-distance accumulates (x−c)² LEFT
  * TO RIGHT in doubles and floor-quantizes to nano longs — the exact
  * [[ImiProbeCells]] loop — and the argmin breaks ties to the SMALLER
  * code, the `pqEncode` `array_min(struct(d, c))` rule. Bit-identical
  * to `Similarity.imiCells` (spec-pinned, tie fixtures included), so
  * the DuckDB oracle replay is unchanged.
  */
case class ImiCellAssign(child: Expression,
    books: Array[Array[Array[Double]]])
    extends UnaryExpression with ArrayParamValueEquality {
  require(books.length == 2, "IMI needs exactly 2 coarse codebooks")
  require(books(0).length == books(1).length,
    "both halves need the same K")
  require(books(0).nonEmpty, "coarse codebooks must be non-empty")
  require(books.forall(_.forall(_.length == books(0)(0).length)),
    "every coarse centroid must have the same sub-vector dims")

  private val bigK = books(0).length
  private val sub = books(0)(0).length
  private val dims = 2 * sub

  override def dataType: DataType = IntegerType
  // a null ELEMENT degrades the row to a null cell (the declarative
  // `imiCells` HOF propagated element nulls the same way; callers
  // coalesce to the -1 join-key convention) — so the output is
  // nullable whenever elements can be null, not only the whole array
  override def nullable: Boolean = child.nullable ||
    (child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  override def prettyName: String = "imi_cell_assign"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"imi_cell_assign expects array<float|double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def cell(v: Any): java.lang.Integer = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"imiCellAssign: vector dims != $dims")
    var cell = 0
    var h = 0
    while (h < 2) {
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < bigK) {
        val cent = books(h)(c)
        var s = 0.0
        var i = 0
        while (i < sub) {
          val xi = h * sub + i
          if (vec.isNullAt(xi)) return null // degrade, don't fail the job
          val x = if (isFloat) vec.getFloat(xi).toDouble
                  else vec.getDouble(xi)
          val diff = x - cent(i)
          s += diff * diff
          i += 1
        }
        val dNano = math.floor(s * 1e9).toLong
        if (dNano < bestD) { bestD = dNano; bestC = c } // tie → lower c
        c += 1
      }
      cell = cell * bigK + bestC
      h += 1
    }
    cell
  }

  override def nullSafeEval(input: Any): Any = cell(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imiCellAssign", this,
      classOf[ImiCellAssign].getName)
    val r = ctx.freshName("cellRes")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Integer $r = $ref.cell($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.intValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ImiCellAssign = copy(child = newChild)
}

/** A node of the log-depth centroid tree (hierarchical k-means index):
  * inner nodes carry their children's representative centroids;
  * leaves carry GLOBAL cell ids into the flat quantizer. `ord` is the
  * build-time preorder id — the deterministic tie-break for beam
  * selection. Built on the driver by
  * [[graft.functions.Similarity.ivfTree]]; KB-sized (one rep per
  * internal edge), ships in the task closure like the flat quantizer.
  */
final class CentroidTreeNode(
    val reps: Array[Array[Double]],
    val children: Array[CentroidTreeNode],
    val cells: Array[Int],
    val ord: Int) extends Serializable {
  def isLeaf: Boolean = children.isEmpty
  def countNodes: Int = 1 + children.map(_.countNodes).sum
  // rep norms once at build — recomputing ‖rep‖² per corpus row would
  // double the rep-scoring flops on the hot path (leaf scans already
  // use the precomputed flat normSq)
  val repNormSq: Array[Double] = reps.map(c => c.map(x => x * x).sum)
}

/** Beam-searched nearest-cell assignment through a centroid TREE —
  * the log-depth deepening of [[NearestCellTwoLevel]]: per row
  * O(beam·fanout·depth·dims) rep scores + the surviving leaves'
  * member scans, i.e. O(log nlist) per row at fixed fanout/beam
  * instead of two-level's O(√nlist). This is what makes Lloyd
  * training O(n·log nlist) per sweep — near-linear under the
  * nlist ∝ corpus contract where flat is quadratic and two-level
  * is n^1.5.
  *
  * Exactness contract (the NearestCellTwoLevel convention): with
  * `beam` ≥ the tree's node count every leaf is scanned and the
  * result — including ties, which break to the LOWER GLOBAL cell id —
  * is identical to flat [[NearestCell]] (spec-pinned). Small beam is
  * the standard hierarchical-k-means approximation: wrong only when
  * the true cell's ancestor falls out of the beam.
  *
  * Scoring parity: rep and cell scores are `‖c‖² − 2·v·c` with
  * left-to-right double accumulation — the same arithmetic as
  * NearestCell/NearestCellTwoLevel. Beam selection orders candidates
  * by (score, preorder id) — fully deterministic for any tree shape.
  */
case class NearestCellTree(child: Expression,
    root: CentroidTreeNode, centroids: Array[Array[Double]], beam: Int)
    extends UnaryExpression with ArrayParamValueEquality {
  require(beam >= 1, "beam must be >= 1")

  private val dims = if (centroids.isEmpty) 0 else centroids(0).length
  private val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_cell_tree"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cell_tree expects array<float|double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val scratchX =
    new ThreadLocal[Array[Double]] {
      override def initialValue() = new Array[Double](dims)
    }
  // per-thread beam-selection scratch: (scores, ords, nodes, frontier).
  // Sized by the TRUE candidate bound min(beam, node count) — the
  // exactness contract passes beam = huge to force a full scan, and a
  // beam-sized array would be a multi-GB allocation there.
  @transient private lazy val effBeam: Int =
    math.min(beam.toLong, root.countNodes.toLong).toInt
  @transient private lazy val scratchBeam =
    new ThreadLocal[(Array[Double], Array[Int],
        Array[CentroidTreeNode], Array[CentroidTreeNode])] {
      override def initialValue() =
        (new Array[Double](effBeam), new Array[Int](effBeam),
          new Array[CentroidTreeNode](effBeam),
          new Array[CentroidTreeNode](effBeam))
    }

  def assign(v: Any): Int = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"nearestCellTree: vector dims != $dims")
    val x = scratchX.get()
    var d = 0
    while (d < dims) {
      if (vec.isNullAt(d))
        throw new RuntimeException(s"nearestCellTree: null element at $d")
      x(d) = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      d += 1
    }
    def repScore(node: CentroidTreeNode, g: Int): Double = {
      val c = node.reps(g)
      var s = 0.0; var i = 0
      while (i < dims) { s += x(i) * c(i); i += 1 }
      node.repNormSq(g) - 2.0 * s
    }
    var best = Double.PositiveInfinity
    var bestCell = Int.MaxValue
    def scanLeaf(node: CentroidTreeNode): Unit = {
      var m = 0
      while (m < node.cells.length) {
        val cellId = node.cells(m)
        val c = centroids(cellId)
        var s = 0.0; var i = 0
        while (i < dims) { s += x(i) * c(i); i += 1 }
        val score = normSq(cellId) - 2.0 * s
        val cmp = java.lang.Double.compare(score, best)
        if (cmp < 0 || (cmp == 0 && cellId < bestCell)) {
          best = score; bestCell = cellId
        }
        m += 1
      }
    }
    // beam selection via insertion into fixed scratch arrays — the
    // first version built an ArrayBuffer of boxed (Double, Int, node)
    // tuples and sortBy'd it PER LEVEL PER ROW; that allocation churn
    // was the whole constant-factor gap to two-level in the ScaleSmoke
    // `trees` sweep (the asymptotic win was invisible under it).
    // Ordering is identical: ascending (Double.compare(score), ord) —
    // the total order sortBy used (ords are unique, so no further tie).
    val (ks, ko, kn, fr) = scratchBeam.get()
    var frLen = 0
    if (root.isLeaf) scanLeaf(root) else { fr(0) = root; frLen = 1 }
    while (frLen > 0) {
      var nKept = 0
      var fi = 0
      while (fi < frLen) {
        val node = fr(fi)
        var g = 0
        while (g < node.children.length) {
          val s = repScore(node, g)
          val o = node.children(g).ord
          val full = nKept == effBeam
          val cmpLast = if (nKept == 0) -1
            else {
              val c = java.lang.Double.compare(s, ks(nKept - 1))
              if (c != 0) c else Integer.compare(o, ko(nKept - 1))
            }
          if (!full || cmpLast < 0) {
            var pos = if (full) effBeam - 1 else nKept
            while (pos > 0 && {
              val c = java.lang.Double.compare(ks(pos - 1), s)
              c > 0 || (c == 0 && ko(pos - 1) > o)
            }) {
              ks(pos) = ks(pos - 1); ko(pos) = ko(pos - 1)
              kn(pos) = kn(pos - 1)
              pos -= 1
            }
            ks(pos) = s; ko(pos) = o; kn(pos) = node.children(g)
            if (!full) nKept += 1
          }
          g += 1
        }
        fi += 1
      }
      frLen = 0
      var ki = 0
      while (ki < nKept) {
        val n = kn(ki)
        if (n.isLeaf) scanLeaf(n) else { fr(frLen) = n; frLen += 1 }
        ki += 1
      }
    }
    bestCell
  }

  override def nullSafeEval(input: Any): Any = assign(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCellTree", this,
      classOf[NearestCellTree].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.assign($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCellTree = copy(child = newChild)
}

/** One-pass IVFADC corpus encoding: nearest coarse cell, residual
  * v − c(cell), and the per-subspace PQ codes of that residual — as a
  * single native kernel returning struct(cell, codes).
  *
  * Why not compose the declarative pieces: Spark's higher-order
  * functions evaluate INTERPRETED, and `pqEncode(residual)` accesses
  * its child via element_at m·k·sub times — each access re-evaluates
  * the entire residual expression (zip_with + centroid lookup + the
  * coarse argmin), ~1024 full re-evaluations per row (measured: the
  * residual gate at 35 s vs ~1.5 s for raw-attribute PQ). The kernel
  * computes cell, residual and codes once per row.
  *
  * Float parity (oracle-pinned): the coarse argmin is NearestCell's
  * `‖c‖² − 2·v·c` with Double.compare and first-wins ties; residual
  * elements are the single IEEE subtraction v[i] − c[i]; each
  * sub-distance accumulates (r[js+i] − b[c][i])² LEFT TO RIGHT in
  * doubles and floor-quantizes to nano longs; code ties break to the
  * smaller code — exactly the declarative subDistNano/pqEncode
  * formulas the DuckDB oracle replays.
  */
case class PqEncodeResidual(child: Expression,
    centroids: Array[Array[Double]],
    books: Array[Array[Array[Double]]])
    extends UnaryExpression with ArrayParamValueEquality {
  require(books.nonEmpty && books(0).nonEmpty, "books must be non-empty")
  private val m = books.length
  private val bigK = books(0).length
  private val sub = books(0)(0).length
  private val dims = m * sub
  require(centroids.forall(_.length == dims),
    "centroid dims must equal m*sub")
  require(books.forall(_.forall(_.length == sub)),
    "every codebook centroid must have sub dims")
  private val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_encode_residual"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_residual expects array<float|double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val scratch =
    new ThreadLocal[(Array[Double], Array[Double])] {
      override def initialValue() =
        (new Array[Double](dims), new Array[Double](dims))
    }

  def encode(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"pqEncodeResidual: vector dims != $dims")
    val (x, r) = scratch.get()
    var d = 0
    while (d < dims) {
      if (vec.isNullAt(d))
        throw new RuntimeException(s"pqEncodeResidual: null element at $d")
      x(d) = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      d += 1
    }
    // coarse argmin (NearestCell parity: strict <, first wins)
    var best = Double.PositiveInfinity
    var cell = 0
    var p = 0
    while (p < centroids.length) {
      val c = centroids(p)
      var s = 0.0; var i = 0
      while (i < dims) { s += x(i) * c(i); i += 1 }
      val score = normSq(p) - 2.0 * s
      if (java.lang.Double.compare(score, best) < 0) { best = score; cell = p }
      p += 1
    }
    val cent = centroids(cell)
    d = 0
    while (d < dims) { r(d) = x(d) - cent(d); d += 1 }
    // per-subspace argmin over nano-quantized residual sub-distances
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      var bd = Long.MaxValue
      var bc = 0
      var c = 0
      while (c < bigK) {
        val b = books(j)(c)
        var s = 0.0; var i = 0
        while (i < sub) {
          val diff = r(j * sub + i) - b(i)
          s += diff * diff
          i += 1
        }
        val dn = math.floor(s * 1e9).toLong
        if (dn < bd) { bd = dn; bc = c } // ties -> smaller code
        c += 1
      }
      codes(j) = bc
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cell,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }

  override def nullSafeEval(input: Any): Any = encode(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeResidual", this,
      classOf[PqEncodeResidual].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.encode($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeResidual = copy(child = newChild)
}

/** Native flat PQ encode — the raw-vector twin of
  * [[PqEncodeResidual]]: per-subspace argmin over nano-quantized
  * sub-distances, no coarse/residual step. Exists because the
  * declarative `pqEncode` is an interpreted HOF that re-evaluates its
  * NON-ATTRIBUTE child per element access — and the gates feed it
  * `transform(embedding, cast)` (the float→double projection), so an
  * m=8/k=16 encode re-ran the 64-element cast ~1024× per row
  * (measured: the K=128 IMI gate spent its whole 8.8 s residue here
  * after the coarse kernel landed; this kernel evaluates the child
  * ONCE per row inside whole-stage codegen).
  *
  * Parity (oracle-pinned): each sub-distance accumulates (x−c)² LEFT
  * TO RIGHT in doubles and floor-quantizes to nano longs; ties break
  * to the smaller code — exactly the declarative `pqEncode` formula
  * the DuckDB oracle replays (spec-pinned, tie fixtures included).
  */
case class PqEncodeFlat(child: Expression,
    books: Array[Array[Array[Double]]])
    extends UnaryExpression with ArrayParamValueEquality {
  require(books.nonEmpty && books(0).nonEmpty, "books must be non-empty")
  private val m = books.length
  private val bigK = books(0).length
  private val sub = books(0)(0).length
  private val dims = m * sub
  require(books.forall(_.forall(_.length == sub)),
    "every codebook centroid must have sub dims")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  // a null ELEMENT degrades the row to null codes (the declarative
  // `pqEncode` HOF propagated element nulls; see ImiCellAssign)
  override def nullable: Boolean = child.nullable ||
    (child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  override def prettyName: String = "pq_encode_flat"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_flat expects array<float|double>, got $other")
    }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def encode(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"pqEncodeFlat: vector dims != $dims")
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      var bd = Long.MaxValue
      var bc = 0
      var c = 0
      while (c < bigK) {
        val b = books(j)(c)
        var s = 0.0; var i = 0
        while (i < sub) {
          val xi = j * sub + i
          if (vec.isNullAt(xi)) return null // degrade, don't fail the job
          val x = if (isFloat) vec.getFloat(xi).toDouble
                  else vec.getDouble(xi)
          val diff = x - b(i)
          s += diff * diff
          i += 1
        }
        val dn = math.floor(s * 1e9).toLong
        if (dn < bd) { bd = dn; bc = c } // ties -> smaller code
        c += 1
      }
      codes(j) = bc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override def nullSafeEval(input: Any): Any = encode(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeFlat", this,
      classOf[PqEncodeFlat].getName)
    val r = ctx.freshName("encRes")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |Object $r = $ref.encode($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeFlat = copy(child = newChild)
}

/** One-pass IVFADC query LUT: the nano-quantized sub-distances of the
  * query RESIDUAL q − c(cell) to every codebook centroid, for a given
  * probed cell — array<array<long>> of shape m×k. Same rationale and
  * float parity as [[PqEncodeResidual]] (the declarative
  * `pqLut(residual)` re-evaluates the residual per element access).
  */
case class PqLutResidual(left: Expression, right: Expression,
    centroids: Array[Array[Double]],
    books: Array[Array[Array[Double]]])
    extends BinaryExpression with ArrayParamValueEquality {
  require(books.nonEmpty && books(0).nonEmpty, "books must be non-empty")
  private val m = books.length
  private val bigK = books(0).length
  private val sub = books(0)(0).length
  private val dims = m * sub
  require(centroids.forall(_.length == dims),
    "centroid dims must equal m*sub")
  require(books.forall(_.forall(_.length == sub)),
    "every codebook centroid must have sub dims")

  override def dataType: DataType = ArrayType(
    ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "pq_lut_residual"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
          IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_lut_residual expects (array<float|double>, int), got $other")
    }

  @transient private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def lut(v: Any, cellAny: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cell = cellAny.asInstanceOf[Int]
    if (vec.numElements() != dims)
      throw new RuntimeException(s"pqLutResidual: vector dims != $dims")
    if (cell < 0 || cell >= centroids.length)
      throw new RuntimeException(s"pqLutResidual: cell $cell out of range")
    val cent = centroids(cell)
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val row = new Array[Any](bigK)
      var c = 0
      while (c < bigK) {
        val b = books(j)(c)
        var s = 0.0; var i = 0
        while (i < sub) {
          val xi = j * sub + i
          if (vec.isNullAt(xi))
            throw new RuntimeException(s"pqLutResidual: null element at $xi")
          val x = if (isFloat) vec.getFloat(xi).toDouble
                  else vec.getDouble(xi)
          val diff = (x - cent(xi)) - b(i)
          s += diff * diff
          i += 1
        }
        row(c) = math.floor(s * 1e9).toLong
        c += 1
      }
      out(j) = new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any = lut(a, b)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLutResidual", this,
      classOf[PqLutResidual].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.lut($a, (Integer) $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqLutResidual =
    copy(left = newLeft, right = newRight)
}
