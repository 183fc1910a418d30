package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native cosine similarity for embedding columns (SURVEY.md §2c X2/X3).
  *
  * The higher-order-function formulation ([[graft.functions.Vectors.cosine]])
  * evaluates its lambdas interpreted per ELEMENT — fine for scoring a few
  * thousand candidates, ruinous for pairwise passes (an exact self-join at
  * 2k vectors is 2M pairs × 64 dims × 3 lambda calls). This expression makes
  * one call per row and folds in a primitive loop.
  *
  * Fold order is left-to-right in double precision — bit-identical to the
  * HOF form AND to DuckDB's `list_sum(list_transform(...))`, so oracle
  * queries can compare exact values (VectorExprSpec pins both equivalences).
  * NULL semantics also mirror the HOF form: a NULL array, mismatched
  * lengths (zip_with null-pads → null product), or any NULL element all
  * yield NULL.
  */
case class CosineSimilarityExpr(a: Expression, b: Expression)
  extends BinaryExpression {

  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecArgs.isVector(a.dataType) && VecArgs.isVector(b.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${a.dataType.simpleString} and ${b.dataType.simpleString}")

  @transient private lazy val aFloat = VecArgs.isFloat(a.dataType)
  @transient private lazy val bFloat = VecArgs.isFloat(b.dataType)

  override def nullSafeEval(x: Any, y: Any): Any = {
    val va = x.asInstanceOf[ArrayData]
    val vb = y.asInstanceOf[ArrayData]
    val n = va.numElements()
    if (vb.numElements() != n) return null // zip_with would null-pad → null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (va.isNullAt(i) || vb.isNullAt(i)) return null // HOF fold: acc + null → null
      val xa = if (aFloat) va.getFloat(i).toDouble else va.getDouble(i)
      val xb = if (bFloat) vb.getFloat(i).toDouble else vb.getDouble(i)
      dot += xa * xb
      na += xa * xa
      nb += xb * xb
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Inlined into whole-stage codegen (the exact pair scans evaluate this on
    * millions of candidate rows — a CodegenFallback would pay a virtual call
    * + boxing per row). Same loop, same fold order as nullSafeEval. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (va, vb) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xa = ctx.freshName("xa")
      val xb = ctx.freshName("xb")
      val denom = ctx.freshName("denom")
      val getA = if (aFloat) s"(double) $va.getFloat($i)" else s"$va.getDouble($i)"
      val getB = if (bFloat) s"(double) $vb.getFloat($i)" else s"$vb.getDouble($i)"
      s"""
         |final int $n = $va.numElements();
         |if ($vb.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($va.isNullAt($i) || $vb.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xa = $getA;
         |    final double $xb = $getB;
         |    $dot += $xa * $xb;
         |    $na += $xa * $xa;
         |    $nb += $xb * $xb;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimilarityExpr = copy(a = l, b = r)
}

/** `graft_lsh_bucket(vec, planes)` → BIGINT: random-hyperplane LSH bucket —
  * bit i of the result is `sign(vec · planes[i]) >= 0`. `planes` must be a
  * FOLDABLE nested-array literal (driver-built, seeded), evaluated once and
  * cached; per-row cost is one primitive planes×dim loop. Replaces the HOF
  * formulation (`aggregate`/`zip_with` dot per plane — planes×dim
  * interpreted lambda calls per row); the fold is the same left-to-right
  * double sum, so bucket assignments are bit-identical (pinned in
  * ExtensionsSpec).
  */
case class HyperplaneBucketExpr(vec: Expression, planes: Expression)
  extends BinaryExpression with CodegenFallback with VectorArg {

  override def left: Expression = vec
  override def right: Expression = planes
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_bucket"

  override def checkInputDataTypes(): TypeCheckResult = checkVec {
    if (!VecArgs.isMatrix(planes.dataType) || !planes.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: planes must be a foldable ARRAY<ARRAY<FLOAT|DOUBLE>>")
    else {
      // the bucket is a 64-bit sign pattern: `1L << p` wraps at p = 64, which
      // would silently fold plane p onto plane p−64 and collide buckets
      val pv = planes.eval(null)
      if (pv == null)
        TypeCheckResult.TypeCheckFailure(s"$prettyName: planes must not be NULL")
      else if (pv.asInstanceOf[ArrayData].numElements() > 64)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: at most 64 planes fit a 64-bit bucket, " +
            s"got ${pv.asInstanceOf[ArrayData].numElements()}")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val mat: Array[Array[Double]] = VecArgs.matrix(planes)

  // Override eval so the foldable planes literal is never re-built per row.
  override def eval(input: InternalRow): Any = {
    val x = evalVec(input)
    if (x == null) return null
    val dim = x.length
    var bucket = 0L
    var p = 0
    while (p < mat.length) {
      val plane = mat(p)
      // a dim mismatch (caller passed the wrong `dim`) must surface as NULL
      // (like the HOF zip_with form), not silently truncate the dot product
      if (plane.length != dim) return null
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += x(j) * plane(j); j += 1 }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HyperplaneBucketExpr =
    copy(vec = l, planes = r)
}

/** `graft_nearest_cells(vec, centroids, n)` → `ARRAY<INT>`: the indices of
  * the `n` centroids nearest to `vec` by L2 distance, ordered nearest-first
  * (ties broken by index). `centroids` and `n` must be FOLDABLE (literal
  * arrays built on the driver) — they are evaluated ONCE and cached, so the
  * per-row cost is one primitive nlist×dim loop.
  *
  * This replaces the interpreted formulation (an `array` of per-centroid
  * HOF `aggregate` distances + `array_sort`/`array_min`), which evaluated
  * nlist × dim interpreted lambda calls per row — the round-1 HOF lesson
  * applied to IVF cell assignment. Ordering matches the HOF form exactly:
  * sorting by squared L2 equals sorting by `sqrt` of the same left-to-right
  * fold, and the (distance, index) tie-break mirrors the struct sort.
  */
case class NearestCentroidsExpr(vec: Expression, centroids: Expression, n: Expression)
  extends TernaryExpression with CodegenFallback with VectorArg {

  override def first: Expression = vec
  override def second: Expression = centroids
  override def third: Expression = n
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = checkVec {
    if (!VecArgs.isMatrix(centroids.dataType) || !centroids.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: centroids must be a foldable ARRAY<ARRAY<FLOAT|DOUBLE>>")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be a foldable INT")
    else {
      // a foldable NULL or non-positive n would pass the type check but blow
      // up at eval (null cast / negative array size) — reject at analysis
      val nv = n.eval(null)
      if (nv == null || nv.asInstanceOf[Int] <= 0)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: n must be a non-null positive INT, got $nv")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  // centroids/n are foldable: evaluate once per task, not per row.
  @transient private lazy val cents: Array[Array[Double]] = VecArgs.matrix(centroids)
  @transient private lazy val topN: Int = n.eval(null).asInstanceOf[Int]

  // Override eval (not nullSafeEval) so the centroid literal is never
  // re-evaluated per row.
  override def eval(input: InternalRow): Any = {
    val x = evalVec(input)
    if (x == null) return null
    val dim = x.length
    val m = cents.length
    val d2 = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cent = cents(c)
      if (cent.length != dim) return null // dim mismatch → NULL, not truncation
      var s = 0.0
      var j = 0
      while (j < dim) { val d = x(j) - cent(j); s += d * d; j += 1 }
      d2(c) = s
      c += 1
    }
    val k = math.min(topN, m)
    val out = new Array[Int](k)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < k) { // selection over a small nlist — O(k·m), no alloc
      var best = -1
      var bestD = Double.PositiveInfinity
      var c2 = 0
      while (c2 < m) {
        if (!used(c2) && (best == -1 || d2(c2) < bestD)) { best = c2; bestD = d2(c2) }
        c2 += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): NearestCentroidsExpr =
    copy(vec = f, centroids = s, n = t)
}

/** `graft_nearest_dist(vec, centroids)` → DOUBLE: SQUARED L2 distance from
  * `vec` to its nearest centroid — the per-row term of the k-means objective
  * ([[graft.operators.SimilaritySearch.quantizationError]]). Selection and
  * fold order match [[NearestCentroidsExpr]] exactly (same left-to-right
  * `d*d` accumulation, ties by index), so the value is bit-identical to
  * "distance to the cell graft_nearest_cells(v, c, 1) assigns" computed by
  * the interpreted HOF fold it replaces — pinned in ExtensionsSpec.
  * `centroids` must be a foldable literal (evaluated once per task). */
case class NearestCentroidDistExpr(vec: Expression, centroids: Expression)
  extends BinaryExpression with CodegenFallback with VectorArg {

  override def left: Expression = vec
  override def right: Expression = centroids
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_dist"

  override def checkInputDataTypes(): TypeCheckResult = checkVec {
    if (!VecArgs.isMatrix(centroids.dataType) || !centroids.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: centroids must be a foldable ARRAY<ARRAY<FLOAT|DOUBLE>>")
    else if (centroids.eval(null) == null ||
      centroids.eval(null).asInstanceOf[ArrayData].numElements() == 0)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: centroids must be a non-null non-empty literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val cents: Array[Array[Double]] = VecArgs.matrix(centroids)

  override def eval(input: InternalRow): Any = {
    val x = evalVec(input)
    if (x == null) return null
    val dim = x.length
    var best = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length != dim) return null // dim mismatch → NULL, not truncation
      var s = 0.0
      var j = 0
      while (j < dim) { val d = x(j) - cent(j); s += d * d; j += 1 }
      if (s < best) best = s // strict < keeps the lowest-index tie, like argmin
      c += 1
    }
    java.lang.Double.valueOf(best)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NearestCentroidDistExpr =
    copy(vec = l, centroids = r)
}

/** Product quantization [Jégou et al., TPAMI 2011] — the memory-compression
  * rung of the ANN ladder: a D-dim float vector (D·4 bytes) becomes m byte
  * codes (m bytes, 32× smaller at D=64, m=8), so a 100 TB embedding corpus'
  * index fits a cluster's memory and candidate scoring never touches the
  * raw vectors. Three native expressions (same zero-UDF discipline as the
  * rest of `plans/`): encode at index-build, LUT once per query, ADC per
  * (query, code) pair — the hot loop is m array lookups, no float math.
  *
  * `graft_pq_encode(vec, codebooks)` → ARRAY<INT> (length m): per subspace,
  * the index of the nearest sub-centroid (squared L2, lowest-index ties —
  * the same selection discipline as `graft_nearest_cells`). `codebooks` is a
  * foldable m × ksub × dsub literal; m·dsub must equal the vector dim, else
  * NULL (not truncation). */
case class PqEncodeExpr(vec: Expression, codebooks: Expression)
  extends BinaryExpression with CodegenFallback with VectorArg {

  override def left: Expression = vec
  override def right: Expression = codebooks
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = checkVec {
    if (!VecArgs.isCodebooks(codebooks.dataType) || !codebooks.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codebooks must be a foldable ARRAY<ARRAY<ARRAY<FLOAT|DOUBLE>>>")
    else TypeCheckResult.TypeCheckSuccess
  }

  // (m)(ksub)(dsub), evaluated once per task — foldable literal.
  @transient private lazy val cb: Array[Array[Array[Double]]] =
    VecArgs.codebooks(codebooks)

  override def eval(input: InternalRow): Any = {
    val x = evalVec(input)
    if (x == null) return null
    val dim = x.length
    val m = cb.length
    if (m == 0 || cb(0).length == 0) return null
    val dsub = cb(0)(0).length
    if (m * dsub != dim) return null // dim mismatch → NULL, not truncation
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val book = cb(mi)
      val off = mi * dsub
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var s = 0.0
        var j = 0
        while (j < dsub) { val d = x(off + j) - cent(j); s += d * d; j += 1 }
        if (best == -1 || s < bestD) { best = c; bestD = s } // lowest-index tie
        c += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqEncodeExpr =
    copy(vec = l, codebooks = r)
}

/** `graft_pq_lut(vec, codebooks)` → ARRAY<DOUBLE> (length m·ksub): the
  * query-side asymmetric-distance lookup table — entry mi·ksub + c is the
  * squared L2 distance from the query's mi-th subvector to sub-centroid c.
  * Computed ONCE per query row; after that every candidate's distance is m
  * lookups ([[PqAdcExpr]]). Same NULL/dim rules as [[PqEncodeExpr]]. */
case class PqLutExpr(vec: Expression, codebooks: Expression)
  extends BinaryExpression with CodegenFallback with VectorArg {

  override def left: Expression = vec
  override def right: Expression = codebooks
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = checkVec {
    if (!VecArgs.isCodebooks(codebooks.dataType) || !codebooks.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codebooks must be a foldable ARRAY<ARRAY<ARRAY<FLOAT|DOUBLE>>>")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    VecArgs.codebooks(codebooks)

  override def eval(input: InternalRow): Any = {
    val x = evalVec(input)
    if (x == null) return null
    val dim = x.length
    val m = cb.length
    if (m == 0 || cb(0).length == 0) return null
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    if (m * dsub != dim) return null
    val lut = new Array[Double](m * ksub)
    var mi = 0
    while (mi < m) {
      val book = cb(mi)
      val off = mi * dsub
      var c = 0
      while (c < ksub) {
        val cent = book(c)
        var s = 0.0
        var j = 0
        while (j < dsub) { val d = x(off + j) - cent(j); s += d * d; j += 1 }
        lut(mi * ksub + c) = s
        c += 1
      }
      mi += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqLutExpr =
    copy(vec = l, codebooks = r)
}

/** `graft_pq_adc(codes, lut)` → DOUBLE: asymmetric distance — Σ over
  * subspaces of lut[mi·ksub + codes[mi]] (ksub inferred as lut.len/codes.len).
  * This is the candidate-scoring hot loop: m integer lookups and adds per
  * row, no per-dimension float math, no vector deserialization. */
case class PqAdcExpr(codes: Expression, lut: Expression)
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = codes
  override def right: Expression = lut
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val lutOk = lut.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!codesOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codes must be ARRAY<INT>, got ${codes.dataType.simpleString}")
    else if (!lutOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: lut must be ARRAY<DOUBLE>, got ${lut.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(c: Any, l: Any): Any = {
    val ca = c.asInstanceOf[ArrayData]
    val la = l.asInstanceOf[ArrayData]
    val m = ca.numElements()
    val n = la.numElements()
    if (m == 0 || n % m != 0) return null // lut/codes shape mismatch
    val ksub = n / m
    var s = 0.0
    var mi = 0
    while (mi < m) {
      if (ca.isNullAt(mi)) return null
      val code = ca.getInt(mi)
      if (code < 0 || code >= ksub) return null
      if (la.isNullAt(mi * ksub + code)) return null
      s += la.getDouble(mi * ksub + code)
      mi += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcExpr =
    copy(codes = l, lut = r)
}

/** Native PCA/OPQ projection y = W·(x − μ) ([[graft.operators.Pca.project]]):
  * k·D multiply-adds in one primitive loop per row. The HOF formulation
  * (`transform`/`aggregate` over foldable literals) evaluates its lambdas
  * INTERPRETED per element — 4096 lambda calls per row at D=64, which
  * multiplies up wherever the projection is re-evaluated (OPQ training,
  * encode, query rotation). Fold order is j-ascending `acc + (x_j − μ_j)·w_kj`
  * in double precision — bit-identical to the HOF form (pinned in PcaSpec).
  * NULL vector or length ≠ D yields NULL, same contract as the HOF wrapper. */
case class PcaProjectExpr(vec: Expression, mean: Expression, comps: Expression)
  extends TernaryExpression with CodegenFallback with VectorArg {

  override def first: Expression = vec
  override def second: Expression = mean
  override def third: Expression = comps
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pca_project"

  override def checkInputDataTypes(): TypeCheckResult = {
    val meanOk = mean.dataType match {
      case ArrayType(DoubleType, _) => mean.foldable
      case _ => false
    }
    val compsOk = comps.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => comps.foldable
      case _ => false
    }
    checkVec {
      if (!meanOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: mean must be a foldable ARRAY<DOUBLE>")
      else if (!compsOk) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: components must be a foldable ARRAY<ARRAY<DOUBLE>>")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val mu: Array[Double] = {
    val ad = mean.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(ad.getDouble)
  }
  @transient private lazy val w: Array[Array[Double]] = VecArgs.matrix(comps)

  override def nullSafeEval(v: Any, m: Any, c: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val dim = mu.length
    if (x.numElements() != dim) return null
    val centered = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (x.isNullAt(j)) return null
      centered(j) = (if (vecFloat) x.getFloat(j).toDouble else x.getDouble(j)) - mu(j)
      j += 1
    }
    val out = new Array[Double](w.length)
    var k = 0
    while (k < w.length) {
      val wk = w(k)
      var acc = 0.0
      j = 0
      while (j < dim) { acc += centered(j) * wk(j); j += 1 }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PcaProjectExpr =
    copy(vec = f, mean = s, comps = t)
}

/** The `vec ARRAY<FLOAT|DOUBLE>` first argument of the vector expressions:
  * its type check and its per-row decode to doubles. */
private[plans] trait VectorArg { self: Expression =>
  def vec: Expression

  @transient protected lazy val vecFloat: Boolean = VecArgs.isFloat(vec.dataType)

  /** Fails unless `vec` is ARRAY<FLOAT|DOUBLE>; otherwise the expression's
    * own checks. */
  protected def checkVec(rest: => TypeCheckResult): TypeCheckResult =
    if (VecArgs.isVector(vec.dataType)) rest
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName: vec must be ARRAY<FLOAT|DOUBLE>, got ${vec.dataType.simpleString}")

  /** `vec` widened to doubles, or null for a NULL vector or any NULL element
    * (the HOF fold's `acc + null → null`). */
  protected def evalVec(input: InternalRow): Array[Double] =
    VecArgs.decode(vec.eval(input), vecFloat)
}

private[plans] object VecArgs {
  def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  def isMatrix(t: DataType): Boolean = t match {
    case ArrayType(row, _) => isVector(row)
    case _ => false
  }
  def isCodebooks(t: DataType): Boolean = t match {
    case ArrayType(book, _) => isMatrix(book)
    case _ => false
  }

  /** Whether the innermost element type is FLOAT (else DOUBLE). */
  @scala.annotation.tailrec
  def isFloat(t: DataType): Boolean = t match {
    case ArrayType(e, _) => isFloat(e)
    case other => other == FloatType
  }

  /** An ARRAY<FLOAT|DOUBLE> value widened to doubles, or null for a NULL
    * vector or any NULL element (the HOF fold's `acc + null → null`). */
  def decode(v: Any, float: Boolean): Array[Double] = {
    if (v == null) return null
    val va = v.asInstanceOf[ArrayData]
    val x = new Array[Double](va.numElements())
    var i = 0
    while (i < x.length) {
      if (va.isNullAt(i)) return null
      x(i) = if (float) va.getFloat(i).toDouble else va.getDouble(i)
      i += 1
    }
    x
  }

  /** Σ x² folded left to right, as [[CosineSimilarityExpr]] folds a norm. */
  def sumSquares(x: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    s
  }

  /** A foldable ARRAY<ARRAY<FLOAT|DOUBLE>> literal as [[decode]]d rows: a
    * NULL row, or one holding a NULL element, becomes null. */
  def vectors(e: Expression): Array[Array[Double]] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    val float = isFloat(e.dataType)
    Array.tabulate(ad.numElements()) { i =>
      if (ad.isNullAt(i)) null else decode(ad.getArray(i), float)
    }
  }

  private def rows(ad: ArrayData, float: Boolean): Array[Array[Double]] =
    Array.tabulate(ad.numElements()) { i =>
      val inner = ad.getArray(i)
      Array.tabulate(inner.numElements()) { j =>
        if (float) inner.getFloat(j).toDouble else inner.getDouble(j)
      }
    }

  /** Materialize a foldable rows × dim matrix literal to JVM arrays (called
    * once per task from the expressions' lazy vals). */
  def matrix(e: Expression): Array[Array[Double]] =
    rows(e.eval(null).asInstanceOf[ArrayData], isFloat(e.dataType))

  /** Materialize a foldable m × ksub × dsub codebook literal to JVM arrays. */
  def codebooks(e: Expression): Array[Array[Array[Double]]] = {
    val outer = e.eval(null).asInstanceOf[ArrayData]
    val float = isFloat(e.dataType)
    Array.tabulate(outer.numElements())(mi => rows(outer.getArray(mi), float))
  }
}
