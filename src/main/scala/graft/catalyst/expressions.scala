package graft.catalyst

import graft.core.{Rng, Tiling}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType}

/** Native Catalyst expressions with whole-stage codegen for the two pure
  * functions on the engine's hot paths (SURVEY §4.2): grid cell-id
  * encoding and the reference's ThomasWangHashDouble
  * (`postgeoda/src/proxy.cpp:339-348`). Both generate straight-line Java
  * — no virtual calls, no boxing — so tiling stays inside the same
  * codegen stage as the parquet scan.
  */

/** cell_id(x, y, cellSize) → long; same formula as Tiling.cellIdCol. */
case class CellIdExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(x: Any, y: Any, s: Any): Any = {
    val cs = s.asInstanceOf[Double]
    Tiling.cellId(x.asInstanceOf[Double], y.asInstanceOf[Double], cs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, s) => {
      s"""
         |${ev.value} = ((long) Math.floor($x / $s) + ${Tiling.Off}L) * ${Tiling.Mul}L
         |  + ((long) Math.floor($y / $s) + ${Tiling.Off}L);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** tw_hash(key) → double in [0,1); bit-exact reference RNG stream. */
case class TwHashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(key: Any): Any =
    Rng.thomasWangHashDouble(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, k => s"graft.core.Rng.thomasWangHashDouble($k)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** dot_arr(a, b) → double: inner product of two array<double> columns —
  * the ANN hot path. The HOF formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) allocates an
  * intermediate array and evaluates a lambda per element; this
  * generates one straight-line fused loop over the two ArrayData.
  * Accumulation order is left-to-right, identical to the HOF chain, so
  * results are bit-identical. Null if either side is null, lengths
  * differ, or ANY element is null — the same answer the HOF chain gives
  * (`zip_with` yields a null product, `+` propagates it), so the
  * SQL-registered `dot_arr` is safe on user-supplied arrays, not just
  * engine-normalized vectors. When both input array types carry
  * `containsNull = false` the codegen emits the original tight loop
  * with no per-element branch.
  */
case class DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Do the child array types admit null elements? Drives whether the
    * codegen loop carries a per-element null branch.
    */
  private def elementsNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, cn) => cn
      case _                => true // unresolved/unknown: be safe
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val body =
        if (elementsNullable)
          s"""
             |  double $acc = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |      ${ev.isNull} = true;
             |      break;
             |    }
             |    $acc += $a.getDouble($i) * $b.getDouble($i);
             |  }
             |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           """.stripMargin
        else
          s"""
             |  double $acc = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    $acc += $a.getDouble($i) * $b.getDouble($i);
             |  }
             |  ${ev.value} = $acc;
           """.stripMargin
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |$body
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** adc_score(codes, lut) → double: Σ_j lut[j][codes[j]] — the PQ
  * asymmetric-distance accumulation ([[graft.pipeline.Similarity]]).
  * The HOF formulation (`aggregate(zip_with(codes, lut, (c, row) ->
  * element_at(row, c + 1)), 0.0, _+_)`) materializes an intermediate
  * array and evaluates interpreted lambdas per element — measured 2.6×
  * slower than IVF's exact in-cell scoring at 1M×256, inverting the
  * compressed-domain advantage; this generates one straight-line fused
  * loop. Accumulation is left-to-right, bit-identical to the HOF chain
  * (and to the oracle's `list(p ORDER BY sub)` fold). Null if either
  * side is null, if a code or LUT row is null, or if a code is out of
  * its row's bounds (the non-ANSI `element_at` answer).
  */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val lut = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = codes.numElements()
    if (m != lut.numElements()) null
    else {
      var acc = 0.0
      var j = 0
      while (j < m) {
        if (codes.isNullAt(j) || lut.isNullAt(j)) return null
        val row = lut.getArray(j)
        val c = codes.getInt(j)
        if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
        acc += row.getDouble(c)
        j += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val row = ctx.freshName("row")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $a.numElements();
         |if ($m != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($a.isNullAt($j) || $b.isNullAt($j)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    org.apache.spark.sql.catalyst.util.ArrayData $row =
         |      $b.getArray($j);
         |    int $c = $a.getInt($j);
         |    if ($c < 0 || $c >= $row.numElements() || $row.isNullAt($c)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $acc += $row.getDouble($c);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** nearest_cids(vec) → array<int>: the top min(n, k) cids of a k-cell
  * codebook for `vec` ([[graft.pipeline.Similarity]]'s assignment, PQ
  * encode and probes). Cell c scores vec · codebook[c] + bias[c] (0 for
  * cosine, −½|c|² for Euclidean), ranked (score desc, cid asc) in Spark
  * SQL's double order — `array_position(scores, array_max(scores))`'s
  * rule, kept by the [[TopKAgg.Buf]] the distributed top-k uses. Dots sum
  * left to right like [[DotExpr]]; null when no cell has a score (null
  * vec or element, other dimension, empty codebook). The codebook is
  * held once and printed as its shape: plans do not grow with k·dim.
  */
case class NearestCidsExpr(child: Expression, codebook: Array[Double],
    bias: Array[Double], cids: Array[Int], n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  require(bias.length == cids.length && n > 0 &&
    (cids.isEmpty || codebook.length % cids.length == 0),
    "nearest_cids: one bias and cid per codebook row, n > 0")
  private val k = cids.length
  private val dim = if (k == 0) 0 else codebook.length / k

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def toString: String = s"nearest_cids($child, ${k}x$dim codebook, $n)"
  override def sql: String = s"nearest_cids(${child.sql}, ${k}x$dim codebook, $n)"

  /** The top cids for one non-null vector, or null (see the class doc). */
  def nearest(v: ArrayData): ArrayData = {
    if (k == 0 || v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i); i += 1
    }
    val m = math.min(n, k)
    val top = TopKAgg.Buf(new Array[Double](m), new Array[Long](m), 0)
    var c = 0
    while (c < k) {
      var acc = 0.0
      val off = c * dim
      i = 0
      while (i < dim) { acc += x(i) * codebook(off + i); i += 1 }
      top.insert(acc + bias(c), cids(c))
      c += 1
    }
    ArrayData.toArrayData(Array.tabulate(top.n)(j => top.ids(j).toInt))
  }

  override protected def nullSafeEval(v: Any): Any =
    nearest(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCids", this)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $self.nearest($v);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GraftFunctions {
  def cell_id(x: Column, y: Column, cellSize: Double): Column =
    ColumnShim.column(CellIdExpr(ColumnShim.expression(x),
      ColumnShim.expression(y),
      org.apache.spark.sql.catalyst.expressions.Literal(cellSize)))
  def tw_hash(key: Column): Column =
    ColumnShim.column(TwHashExpr(ColumnShim.expression(key)))
  def dot_arr(a: Column, b: Column): Column =
    ColumnShim.column(DotExpr(ColumnShim.expression(a),
      ColumnShim.expression(b)))
  def adc_score(codes: Column, lut: Column): Column =
    ColumnShim.column(AdcScoreExpr(ColumnShim.expression(codes),
      ColumnShim.expression(lut)))
  def nearest_cids(vec: Column, codebook: Array[Double], bias: Array[Double],
                   cids: Array[Int], n: Int): Column =
    ColumnShim.column(NearestCidsExpr(ColumnShim.expression(vec), codebook,
      bias, cids, n))

  /** Arity guard for SQL-registered builders: a wrong argument count
    * must surface as an AnalysisException naming the signature, not an
    * IndexOutOfBoundsException from exprs(i).
    */
  private[catalyst] def arityCheck(name: String, sig: String, n: Int,
      exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`", "expectedNum" -> s"$n ($sig)",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** `heavy_hitters(token, capacity)` SQL builder: capacity must be a
    * foldable integer literal (it sizes the aggregation buffer at plan
    * time). The analyzer wraps the returned AggregateFunction in an
    * AggregateExpression like any built-in aggregate.
    */
  private[catalyst] def buildHeavyHitters(exprs: Seq[Expression])
      : Expression = {
    arityCheck("heavy_hitters", "token, capacity", 2, exprs)
    val cap = exprs(1) match {
      case e if e.foldable && e.dataType == IntegerType =>
        e.eval().asInstanceOf[Int]
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "`heavy_hitters`",
          "expectedNum" -> "2 (token, capacity: int literal)",
          "actualNum" -> "a non-literal capacity",
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
    HeavyHittersAgg(exprs(0), cap)
  }

  /** `heavy_hitters_w(key, weight, capacity)` SQL builder — weighted
    * variant; capacity must be a foldable integer literal.
    */
  private[catalyst] def buildHeavyHittersWeighted(exprs: Seq[Expression])
      : Expression = {
    arityCheck("heavy_hitters_w", "key, weight, capacity", 3, exprs)
    val cap = exprs(2) match {
      case e if e.foldable && e.dataType == IntegerType =>
        e.eval().asInstanceOf[Int]
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "`heavy_hitters_w`",
          "expectedNum" -> "3 (key, weight, capacity: int literal)",
          "actualNum" -> "a non-literal capacity",
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
    HeavyHittersWeightedAgg(exprs(0), exprs(1), cap)
  }

  /** Register `cell_id` / `tw_hash` / `dot_arr` / `heavy_hitters` for
    * SQL use.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cell_id", exprs => { arityCheck("cell_id", "x, y, res", 3, exprs)
        CellIdExpr(exprs(0), exprs(1), exprs(2)) },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tw_hash", exprs => { arityCheck("tw_hash", "x", 1, exprs)
        TwHashExpr(exprs.head) }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_arr", exprs => { arityCheck("dot_arr", "a, b", 2, exprs)
        DotExpr(exprs(0), exprs(1)) }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "heavy_hitters", exprs => GraftFunctions.buildHeavyHitters(exprs),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "heavy_hitters_w",
      exprs => GraftFunctions.buildHeavyHittersWeighted(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "adc_score", exprs => { arityCheck("adc_score", "codes, lut", 2, exprs)
        AdcScoreExpr(exprs(0), exprs(1)) }, "built-in")
  }
}

/** spark.sql.extensions entry point:
  * `.config("spark.sql.extensions", "graft.catalyst.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cell_id"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[CellIdExpr].getName, "cell_id"),
        (exprs: Seq[Expression]) => { GraftFunctions.arityCheck("cell_id",
          "x, y, res", 3, exprs); CellIdExpr(exprs(0), exprs(1), exprs(2)) }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("tw_hash"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[TwHashExpr].getName, "tw_hash"),
        (exprs: Seq[Expression]) => { GraftFunctions.arityCheck("tw_hash",
          "x", 1, exprs); TwHashExpr(exprs.head) }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("dot_arr"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotExpr].getName, "dot_arr"),
        (exprs: Seq[Expression]) => { GraftFunctions.arityCheck("dot_arr",
          "a, b", 2, exprs); DotExpr(exprs(0), exprs(1)) }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("heavy_hitters"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[HeavyHittersAgg].getName, "heavy_hitters"),
        (exprs: Seq[Expression]) => GraftFunctions.buildHeavyHitters(exprs)))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("heavy_hitters_w"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[HeavyHittersWeightedAgg].getName, "heavy_hitters_w"),
        (exprs: Seq[Expression]) =>
          GraftFunctions.buildHeavyHittersWeighted(exprs)))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("adc_score"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[AdcScoreExpr].getName, "adc_score"),
        (exprs: Seq[Expression]) => { GraftFunctions.arityCheck("adc_score",
          "codes, lut", 2, exprs); AdcScoreExpr(exprs(0), exprs(1)) }))
  }
}
