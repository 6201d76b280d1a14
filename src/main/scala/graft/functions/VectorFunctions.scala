package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over `array<float>` columns.
  *
  * The composable form — `aggregate(zip_with(a,b,(x,y)=>xd*yd),0.0,+)` —
  * is semantically right but higher-order functions are CodegenFallback:
  * every row allocates an intermediate array and interprets two lambdas
  * (~1 ms/pair measured at sf0.1, which made all-pairs similarity scans
  * two orders slower than the arithmetic requires). This expression is
  * the ladder rung SURVEY.md §2.I reserves for exactly this case: a
  * custom Catalyst `Expression` with `doGenCode` emitting a tight
  * primitive loop — no allocation, fused into whole-stage codegen.
  *
  * Bit-compatibility: the generated loop is the same left-to-right
  * `sum += (double)a[i] * (double)b[i]` fold the higher-order form (and
  * the DuckDB oracle's list_reduce) computes, so results stay
  * bit-identical with the verified semantics.
  *
  * Length mismatch ⇒ NULL — the same answer the composable form gives
  * (`zip_with` pads the short side with null, the product and sum then
  * propagate it) and the oracle's list_reduce produces; a silent
  * truncated partial product would diverge from both.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // mismatched lengths yield NULL even for non-null inputs
  override def nullable: Boolean = true

  // strict float-array inputs: getFloat over an array<double> would
  // reinterpret bytes and return silently wrong products — reject at
  // analysis time instead (SQL callers default literals to double).
  // (ExpectsInputTypes is private[sql], so the check is hand-rolled.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left) && isFloatArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Mixed-precision dot product: each side may be `array<float>` or
  * `array<double>`; every element is promoted to double and the sum is
  * the same left fold as `FloatVectorDot` and the oracle's
  * `list_reduce` — bit-identical to the composable
  * `aggregate(zip_with(a,b,(x,y)=>xd*yd),0.0,+)` form, which is
  * CodegenFallback and interprets two lambdas per row. Used where one
  * operand is a learned (double) centroid.
  *
  * Length mismatch ⇒ NULL (same contract and rationale as
  * [[FloatVectorDot]]).
  */
case class MixedVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // mismatched lengths yield NULL even for non-null inputs
  override def nullable: Boolean = true

  private def elemOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left) && elemOk(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_dot_any requires array<float>/array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType match { case ArrayType(FloatType, _) => true; case _ => false }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      def get(arr: String, float: Boolean) =
        if (float) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${get(a, isFloat(left))} * ${get(b, isFloat(right))};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MixedVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Per-row IVF coarse assignment: the `nprobe` nearest centroids of
  * `vec` among the broadcast centroid array `cells` (elements
  * `struct<c_id: bigint, c_emb: array<float|double>, c_nr: double>`),
  * returned as the `c_id`s in rank order (cosine DESC, c_id ASC — the
  * oracle window's exact ORDER BY, with `java.lang.Double.compare` ties
  * so NaN ranks greatest like both engines' sorts).
  *
  * Why an expression and not a plan: the row_number-window form
  * shuffles all n·k scored rows (each still carrying its embedding) to
  * discard all but nprobe — measured 92M-row exchange at the sf3 corpus
  * and the dominant cost of q34 — while the higher-order-function form
  * (`transform`→`array_sort`→`slice`) evaluates ~n·k interpreted
  * lambdas plus n·k·log k interpreted comparator calls (measured 2.6×
  * SLOWER than the window at sf3: boxing, not arithmetic). One eval per
  * ROW with a tight primitive loop over the k broadcast centroids does
  * the same k dots with neither the exchange nor the boxing.
  * CodegenFallback is deliberate: the call is per-row, not per-element,
  * so fallback overhead is one virtual call per row while the k·dim
  * multiply-adds inside stay primitive. Same fold as [[MixedVectorDot]]
  * (left-to-right `sum += (double)x[i] * (double)c[i]`), so cosines are
  * bit-identical to the verified window/oracle arithmetic. */
case class NearestCellIds(vec: Expression, nr: Expression,
    cells: Expression, nprobe: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nprobe > 0)

  override def children: Seq[Expression] = Seq(vec, nr, cells)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true

  private def isFloatArr(t: DataType): Boolean =
    t match { case ArrayType(FloatType, _) => true; case _ => false }

  private lazy val vecFloat = isFloatArr(vec.dataType)
  private lazy val centFloat = cells.dataType match {
    case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
      isFloatArr(st.fields(1).dataType)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cellsOk = cells.dataType match {
      case ArrayType(st: org.apache.spark.sql.types.StructType, _)
          if st.fields.length == 3 =>
        st.fields(0).dataType == org.apache.spark.sql.types.LongType &&
          (st.fields(1).dataType match {
            case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
            case _ => false
          }) && st.fields(2).dataType == DoubleType
      case _ => false
    }
    if (vecOk && nr.dataType == DoubleType && cellsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cell_ids requires (array<float|double>, double, " +
        "array<struct<bigint, array<float|double>, double>>), got " +
        s"(${vec.dataType.simpleString}, ${nr.dataType.simpleString}, " +
        s"${cells.dataType.simpleString})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val nrv = nr.eval(input)
    val cs = cells.eval(input)
    if (v == null || nrv == null || cs == null) return null
    val x = v.asInstanceOf[ArrayData]
    val norm = nrv.asInstanceOf[Double]
    val arr = cs.asInstanceOf[ArrayData]
    val k = arr.numElements()
    val dim = x.numElements()
    val m = math.min(nprobe, k)
    // insertion-sorted top-m: rank order is (cosine DESC, c_id ASC)
    val bc = new Array[Double](m)
    val bi = new Array[Long](m)
    var filled = 0
    var ci = 0
    while (ci < k) {
      val row = arr.getStruct(ci, 3)
      val cEmb = row.getArray(1)
      if (cEmb.numElements() == dim) {
        var s = 0.0
        var j = 0
        while (j < dim) {
          val xv = if (vecFloat) x.getFloat(j).toDouble else x.getDouble(j)
          val cv = if (centFloat) cEmb.getFloat(j).toDouble else cEmb.getDouble(j)
          s += xv * cv
          j += 1
        }
        val cos = s / (norm * row.getDouble(2))
        val cid = row.getLong(0)
        // position = count of incumbents that outrank the candidate
        var p = filled
        var search = 0
        var found = false
        while (search < filled && !found) {
          val cmp = java.lang.Double.compare(cos, bc(search))
          if (cmp > 0 || (cmp == 0 && cid < bi(search))) { p = search; found = true }
          else search += 1
        }
        if (p < m) {
          var q = math.min(filled, m - 1)
          while (q > p) { bc(q) = bc(q - 1); bi(q) = bi(q - 1); q -= 1 }
          bc(p) = cos
          bi(p) = cid
          if (filled < m) filled += 1
        }
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bi, filled))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCellIds =
    copy(vec = newChildren(0), nr = newChildren(1), cells = newChildren(2))
}

/** [[NearestCellIds]] variant for the two-level (hierarchical)
  * assignment's per-GROUP scan: returns the top-`nprobe` cells of the
  * given (sub)array as `array<struct<ncos: double, c_id: bigint>>`
  * with ncos = −cosine, so the NATURAL ascending struct order equals
  * the rank order (cosine DESC, c_id ASC) — several groups' outputs
  * then merge into a global top-nprobe with plain
  * `array_sort(flatten(collect_list(...)))`, no comparator lambda and
  * no per-candidate row explosion. Scoring loop, fold order, and tie
  * handling are byte-for-byte [[NearestCellIds]]'s, so a merge over
  * groups that PARTITION the cell set reproduces the flat expression's
  * ranking exactly whenever the routing level covered the true top
  * cells (at full routing width, `CoarseAssignSpec` pins the merged
  * assignment equal to the flat one row for row). */
case class NearestCellsTop(vec: Expression, nr: Expression,
    cells: Expression, nprobe: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nprobe > 0)

  override def children: Seq[Expression] = Seq(vec, nr, cells)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ncos", DoubleType,
        nullable = false),
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType, nullable = false))),
      containsNull = false)
  override def nullable: Boolean = true

  private def isFloatArr(t: DataType): Boolean =
    t match { case ArrayType(FloatType, _) => true; case _ => false }

  private lazy val vecFloat = isFloatArr(vec.dataType)
  private lazy val centFloat = cells.dataType match {
    case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
      isFloatArr(st.fields(1).dataType)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cellsOk = cells.dataType match {
      case ArrayType(st: org.apache.spark.sql.types.StructType, _)
          if st.fields.length == 3 =>
        st.fields(0).dataType == org.apache.spark.sql.types.LongType &&
          (st.fields(1).dataType match {
            case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
            case _ => false
          }) && st.fields(2).dataType == DoubleType
      case _ => false
    }
    if (vecOk && nr.dataType == DoubleType && cellsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cells_top requires (array<float|double>, double, " +
        "array<struct<bigint, array<float|double>, double>>), got " +
        s"(${vec.dataType.simpleString}, ${nr.dataType.simpleString}, " +
        s"${cells.dataType.simpleString})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val nrv = nr.eval(input)
    val cs = cells.eval(input)
    if (v == null || nrv == null || cs == null) return null
    val x = v.asInstanceOf[ArrayData]
    val norm = nrv.asInstanceOf[Double]
    val arr = cs.asInstanceOf[ArrayData]
    val k = arr.numElements()
    val dim = x.numElements()
    val m = math.min(nprobe, k)
    val bc = new Array[Double](m)
    val bi = new Array[Long](m)
    var filled = 0
    var ci = 0
    while (ci < k) {
      val row = arr.getStruct(ci, 3)
      val cEmb = row.getArray(1)
      if (cEmb.numElements() == dim) {
        var s = 0.0
        var j = 0
        while (j < dim) {
          val xv = if (vecFloat) x.getFloat(j).toDouble else x.getDouble(j)
          val cv = if (centFloat) cEmb.getFloat(j).toDouble else cEmb.getDouble(j)
          s += xv * cv
          j += 1
        }
        val cos = s / (norm * row.getDouble(2))
        val cid = row.getLong(0)
        var p = filled
        var search = 0
        var found = false
        while (search < filled && !found) {
          val cmp = java.lang.Double.compare(cos, bc(search))
          if (cmp > 0 || (cmp == 0 && cid < bi(search))) { p = search; found = true }
          else search += 1
        }
        if (p < m) {
          var q = math.min(filled, m - 1)
          while (q > p) { bc(q) = bc(q - 1); bi(q) = bi(q - 1); q -= 1 }
          bc(p) = cos
          bi(p) = cid
          if (filled < m) filled += 1
        }
      }
      ci += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(-bc(i), bi(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCellsTop =
    copy(vec = newChildren(0), nr = newChildren(1), cells = newChildren(2))
}

/** [[NearestCellIds]] with the centroid table as DRIVER-SIDE STATIC data
  * (flat row-major matrix) instead of a per-row broadcast array column.
  *
  * Why: the column form re-decodes k centroid structs PER ROW
  * (`arr.getStruct(ci).getArray(1)` + element-type branches) — at the
  * 200k-vector corpus (k = 1273, 4 quantizers) that struct-walk, not
  * the arithmetic, dominated q34's assignment stage. Learned centroids
  * are k rows of per-snapshot index METADATA (≈ 650 KB at k = 1273 —
  * the same driver-sized class as the broadcast they already rode), so
  * collecting them once per (session, snapshot, seed range) and baking
  * them into the expression turns the inner loop into a pure primitive
  * walk over one cache-friendly double[]. Ships once per stage in the
  * task binary. Arithmetic, rank order (cosine DESC, c_id ASC via
  * java.lang.Double.compare) and the skip-on-dim-mismatch guard are
  * IDENTICAL to [[NearestCellIds]], so results are bit-equal — the
  * column form remains as the dynamic-centroid fallback and the
  * equality is exercised by every oracle hash on the per-cell tier. */
case class NearestCellIdsStatic(vec: Expression, nr: Expression,
    ids: Array[Long], flat: Array[Double], nrs: Array[Double], nprobe: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(nprobe > 0 && ids.length == nrs.length &&
    (ids.length == 0 || flat.length % ids.length == 0))

  private val dim = if (ids.length == 0) 0 else flat.length / ids.length

  override def children: Seq[Expression] = Seq(vec, nr)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val vecFloat =
    vec.dataType match { case ArrayType(FloatType, _) => true; case _ => false }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (vecOk && nr.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cell_ids_static requires (array<float|double>, double), " +
        s"got (${vec.dataType.simpleString}, ${nr.dataType.simpleString})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val nrv = nr.eval(input)
    if (v == null || nrv == null) return null
    val x = v.asInstanceOf[ArrayData]
    val norm = nrv.asInstanceOf[Double]
    val k = ids.length
    if (x.numElements() != dim)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    // hoist the (possibly boxed) vector into a local primitive array so
    // the k×dim inner loop is plain double arithmetic
    val xv = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      xv(j) = if (vecFloat) x.getFloat(j).toDouble else x.getDouble(j)
      j += 1
    }
    val m = math.min(nprobe, k)
    val bc = new Array[Double](m)
    val bi = new Array[Long](m)
    var filled = 0
    var ci = 0
    while (ci < k) {
      var s = 0.0
      var o = ci * dim
      j = 0
      while (j < dim) { s += xv(j) * flat(o); o += 1; j += 1 }
      val cos = s / (norm * nrs(ci))
      val cid = ids(ci)
      var p = filled
      var search = 0
      var found = false
      while (search < filled && !found) {
        val cmp = java.lang.Double.compare(cos, bc(search))
        if (cmp > 0 || (cmp == 0 && cid < bi(search))) { p = search; found = true }
        else search += 1
      }
      if (p < m) {
        var q = math.min(filled, m - 1)
        while (q > p) { bc(q) = bc(q - 1); bi(q) = bi(q - 1); q -= 1 }
        bc(p) = cos
        bi(p) = cid
        if (filled < m) filled += 1
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bi, filled))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCellIdsStatic =
    copy(vec = newChildren(0), nr = newChildren(1))
}

/** All sign-LSH bucket ids for one vector against a fixed hyperplane
  * family, in one pass: `flat` is the row-major (tables·bits × dim)
  * plane matrix; output is `array<int>` of `tables` bucket ids, bit j
  * of table t set iff dot(vec, plane[t·bits+j]) > 0, with the same
  * left-to-right double fold as [[FloatVectorDot]] — so every sign
  * decision is bit-identical to the `when(dot(...) > 0, 1<<j)` column
  * form this replaces, and the registered outputs hash-match unchanged.
  * A dim mismatch (or a NULL vector) leaves every bit 0 — exactly the
  * NULL-dot semantics of the column form (`when(NULL > 0, ·)` takes the
  * otherwise-0 branch).
  *
  * Why an expression and not 36–48 composed dot columns: fusing that
  * many 64-float literal dots into one projection generates a method
  * past the JVM's huge-method JIT limit — janino compiles it silently,
  * HotSpot refuses to JIT it, and the whole projection runs
  * bytecode-interpreted (measured 46.6 s for the 200k×48-dot sf10
  * index build vs 0.2 s for a lone literal dot over the same corpus;
  * `BENCH_Q35_r17.json`). One CodegenFallback call per row into this
  * primitive loop is ~100× cheaper than that cliff. */
case class SignPlaneBuckets(child: Expression,
    flat: Array[Float], tables: Int, bits: Int, dim: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(tables > 0 && bits > 0 && flat.length == tables * bits * dim)

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sign_plane_buckets requires array<float>, got ${t.simpleString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val out = new Array[Int](tables)
    if (v != null) {
      val x = v.asInstanceOf[ArrayData]
      if (x.numElements() == dim) {
        // hoist the vector once; the tables·bits×dim loop is then plain
        // primitive arithmetic
        val xv = new Array[Double](dim)
        var j = 0
        while (j < dim) { xv(j) = x.getFloat(j).toDouble; j += 1 }
        var t = 0
        var o = 0
        while (t < tables) {
          var b = 0
          var k = 0
          while (k < bits) {
            var s = 0.0
            var i = 0
            while (i < dim) { s += xv(i) * flat(o).toDouble; o += 1; i += 1 }
            if (s > 0) b |= (1 << k)
            k += 1
          }
          out(t) = b
          t += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SignPlaneBuckets =
    copy(child = newChildren(0))
}

object VectorFunctions {
  /** `dot(a, b)` over two `array<float>` columns, as a native codegen
    * expression. */
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(
      FloatVectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** All sign-LSH bucket/band ids for a vector against a fixed plane
    * family — see [[SignPlaneBuckets]]. */
  def signPlaneBuckets(vec: Column, planes: Array[Array[Float]],
      bits: Int): Column = {
    val dim = planes.headOption.map(_.length).getOrElse(0)
    GraftBridge.column(SignPlaneBuckets(GraftBridge.expression(vec),
      planes.flatten, planes.length / bits, bits, dim))
  }

  /** `dot(a, b)` where either side is `array<float>` or `array<double>`
    * (same left fold in doubles). */
  def vecDotAny(a: Column, b: Column): Column =
    GraftBridge.column(
      MixedVectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Top-`nprobe` nearest-centroid ids against a DRIVER-COLLECTED
    * centroid table (flat row-major `cents`) — see
    * [[NearestCellIdsStatic]]. */
  def nearestCellIdsStatic(vec: Column, nr: Column, ids: Array[Long],
      cents: Array[Double], nrs: Array[Double], nprobe: Int): Column =
    GraftBridge.column(NearestCellIdsStatic(GraftBridge.expression(vec),
      GraftBridge.expression(nr), ids, cents, nrs, nprobe))

  /** Top-`nprobe` (−cosine, c_id) pairs within one centroid GROUP, for
    * hierarchical cross-group merging — see [[NearestCellsTop]]. */
  def nearestCellsTop(vec: Column, nr: Column, cells: Column,
      nprobe: Int): Column =
    GraftBridge.column(NearestCellsTop(GraftBridge.expression(vec),
      GraftBridge.expression(nr), GraftBridge.expression(cells), nprobe))
}
