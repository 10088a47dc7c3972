package graft.catalyst

import graft.SparkFixture
import graft.core.{Rng, Tiling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CatalystSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("adc_score equals the HOF chain bit-for-bit, incl. null answers") {
    import spark.implicits._
    val rng = new java.util.Random(5)
    val rows = (0 until 200).map { i =>
      val lut = (0 until 8).map(_ =>
        (0 until 16).map(_ => rng.nextGaussian()))
      val codes = (0 until 8).map(_ => rng.nextInt(16))
      (i, codes, lut)
    }
    val df = rows.toDF("id", "codes", "lut")
    val hof = df.select(col("id"),
      aggregate(zip_with(col("codes"), col("lut"),
        (c, row) => element_at(row, c + 1)), lit(0.0), (a, x) => a + x)
        .as("s")).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val fused = df.select(col("id"),
      GraftFunctions.adc_score(col("codes"), col("lut")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, _, _) =>
      assert(java.lang.Double.doubleToLongBits(hof(i)) ==
        java.lang.Double.doubleToLongBits(fused(i)), s"row $i")
    }
    // out-of-bounds code → null (the non-ANSI element_at answer)
    val oob = Seq((Seq(99), Seq(Seq(1.0, 2.0)))).toDF("codes", "lut")
      .select(GraftFunctions.adc_score(col("codes"), col("lut")))
      .collect()
    assert(oob.head.isNullAt(0))
  }

  test("nearest_cids equals a brute-force top-n, codegen and interpreted") {
    import spark.implicits._
    // SQL double order: NaN above every value, -0.0 == 0.0
    def cmp(x: Double, y: Double) =
      if (x == y) 0 else java.lang.Double.compare(x, y)
    val dim = 4
    val rnd = new scala.util.Random(3)
    def g() = Seq.fill(dim)(rnd.nextGaussian())
    val c0 = g()
    // sparse cids (seeds that lost every member leave gaps); cid 2 is a
    // copy of cid 0 and cid 8 the -0.0 twin of the zero cell 3: planted
    // exact score ties
    val cids = Array(0, 2, 3, 5, 8, 13)
    val cellsA = Seq(c0, c0, Seq.fill(dim)(0.0), g(), Seq.fill(dim)(-0.0), g())
    val cellsB = cellsA.updated(4, Seq(1.0, Double.NaN, 0.0, 0.0))
    val vecs: Seq[(Int, Option[Seq[Option[Double]]])] =
      (Seq.fill(20)(g()) ++ Seq(c0, c0.map(-_), Seq.fill(dim)(0.0),
        Seq(-0.0, 0.0, -0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0),
        Seq(1.0, Double.NaN, 2.0, 3.0), Seq(1.0, 2.0)))
        .map(v => Some(v.map(Option(_))))
        .++(Seq(None, Some(Seq(Some(1.0), None, Some(2.0), Some(3.0)))))
        .zipWithIndex.map(_.swap)
    // shuffled, so the projection runs in a stage of its own rather than
    // being folded into the local relation by the optimizer
    val df = vecs.toDF("i", "v").repartition(2)
    def ref(v: Option[Seq[Option[Double]]], cells: Seq[Seq[Double]],
            bias: Seq[Double], n: Int): Option[Seq[Int]] = v match {
      case Some(x) if x.forall(_.isDefined) && x.size == dim =>
        val s = cells.zip(bias).map { case (c, b) =>
          x.flatten.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2) + b }
        Some(cids.indices.sortWith { (a, b) =>
          val o = cmp(s(a), s(b)); o > 0 || (o == 0 && cids(a) < cids(b))
        }.take(n).map(cids).toSeq)
      case _ => None
    }
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    for ((factory, wholeStage) <- modes; cells <- Seq(cellsA, cellsB);
         euclid <- Seq(false, true); n <- Seq(1, 2, 3, 6, 7)) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val bias = cells.map(c =>
          if (euclid) -0.5 * c.foldLeft(0.0)((a, x) => a + x * x) else 0.0)
        val q = df.select(col("i"), GraftFunctions.nearest_cids(col("v"),
          cells.flatten.toArray, bias.toArray, cids, n).as("c"))
        val got = q.collect().map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getSeq[Int](1)))).toMap
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("nearest_cids") &&
          plan.contains("*(") == (wholeStage == "true"), plan)
        vecs.foreach { case (i, v) =>
          assert(got(i) == ref(v, cells, bias, n),
            s"$factory euclid=$euclid n=$n row $i")
        }
        if (n == 1) {
          // the tie rule of the per-cell literal scan it replaced, on
          // every vector that has a score (that scan put null and
          // ragged vectors on the lowest cid; nearest_cids answers null)
          val scores = array(cells.zip(bias).map { case (c, b) =>
            GraftFunctions.dot_arr(col("v"), typedLit(c)) + lit(b) }: _*)
          val scan = df.select(col("i"), element_at(typedLit(cids.toSeq),
              array_position(scores, array_max(scores)).cast("int")))
            .collect().map(r => r.getInt(0) ->
              (if (r.isNullAt(1)) None else Some(Seq(r.getInt(1))))).toMap
          assert(got.filter(_._2.isDefined) == scan.filter(r => got(r._1).isDefined),
            s"$factory euclid=$euclid")
        }
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("cell_id expression equals Tiling.cellId, in codegen") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (13.0, -9.0), (-0.1, 0.1), (179.99, 55.5))
      .toDF("x", "y")
    val got = df.select(GraftFunctions.cell_id(col("x"), col("y"), 4.0))
      .as[Long].collect()
    val want = Seq((0.0, 0.0), (13.0, -9.0), (-0.1, 0.1), (179.99, 55.5))
      .map { case (x, y) => Tiling.cellId(x, y, 4.0) }
    assert(got.toSeq == want)
    // matches the pure-functions_ column formula too
    val viaCols = df.select(Tiling.cellIdCol(col("x"), col("y"), 4.0))
      .as[Long].collect()
    assert(got.sameElements(viaCols))
  }

  test("tw_hash expression is the bit-exact reference stream") {
    import spark.implicits._
    val got = Seq(0L, 1L, 42L, 123456789L, -1L).toDF("k")
      .select(GraftFunctions.tw_hash(col("k"))).as[Double].collect()
    assert(got(0) == Rng.thomasWangHashDouble(0L))
    assert(got(3) == 8.98909580344706582e-01)
    assert(got(4) == 1.23186137119371542e-01)
  }

  test("dot_arr equals the HOF inner product bit-exactly; null semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
    val hof = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v).as("d")).as[(Long, Double)].collect().toMap
    val fast = df.select(col("id"),
        GraftFunctions.dot_arr(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    // same left-to-right accumulation → bit-identical
    hof.foreach { case (id, d) => assert(fast(id) == d, s"id $id") }
    // length mismatch and null input → null
    val edge = Seq((Seq(1.0, 2.0), Seq(1.0)),
      (null.asInstanceOf[Seq[Double]], Seq(1.0))).toDF("a", "b")
    val nulls = edge.select(GraftFunctions.dot_arr(col("a"), col("b")))
      .collect().map(_.isNullAt(0))
    assert(nulls.forall(identity))
  }

  test("dot_arr: null ELEMENT yields null, matching the HOF chain") {
    import spark.implicits._
    // containsNull arrays — the SQL-registered function must give the
    // same answer as aggregate(zip_with(...)): null element → null
    // result, not a silent 0.0 product
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0),
        Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0),
        Seq[java.lang.Double](1.0, 2.0, null)),
      (3L, Seq[java.lang.Double](1.0, 2.0, 3.0),
        Seq[java.lang.Double](4.0, 5.0, 6.0))).toDF("id", "a", "b")
    val hof = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v).as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
                                 else r.getDouble(1): java.lang.Double)).toMap
    val fast = df.select(col("id"),
        GraftFunctions.dot_arr(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
                                 else r.getDouble(1): java.lang.Double)).toMap
    assert(hof(1L) == null && hof(2L) == null) // HOF semantics sanity
    assert(fast == hof)
  }

  test("TopKAgg matches the row_number window row-for-row, incl. NaN/Inf") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // scores include NaN, ±Inf, -0.0/0.0 and ties across both queries
    val special = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 0.5, 0.5)
    val rows = (for {
      qid <- Seq(1L, 2L)
      (s, i) <- (special ++ Seq.fill(40)(rnd.nextDouble())).zipWithIndex
    } yield (qid, s, (qid * 1000 + i))).toDF("qid", "cosine", "id")
      .repartition(5)
    val k = 9
    val viaAgg = rows.groupBy("qid")
      .agg(TopKAgg.topk(k)(col("cosine"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("pos").as("rk"), col("col._2").as("id"))
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val viaWindow = rows.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cosine").desc, col("id"))) - 1)
      .filter(col("rk") < k)
      .select(col("qid"), col("rk").cast("int"), col("id"))
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(viaAgg == viaWindow)
  }

  test("TopKAgg buffer crosses the exchange as a struct, not a Kryo blob") {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType, LongType, StructType}
    val enc = new TopKAgg(5).bufferEncoder
      .asInstanceOf[org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKAgg.Buf]]
    val schema = enc.schema
    assert(!schema.fields.exists(_.dataType == BinaryType),
      s"Kryo-opaque buffer: $schema")
    val types = schema.fields.map(_.dataType).toSet
    assert(types.contains(ArrayType(DoubleType, containsNull = false)) &&
      types.contains(ArrayType(LongType, containsNull = false)) &&
      types.contains(IntegerType), s"unexpected buffer layout: $schema")
  }

  test("SQL registration works") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cell_id(CAST(13.0 AS DOUBLE), CAST(-9.0 AS DOUBLE),
        |               CAST(4.0 AS DOUBLE)) AS c,
        |       tw_hash(CAST(42 AS BIGINT)) AS h""".stripMargin).head()
    assert(r.getLong(0) == Tiling.cellId(13.0, -9.0, 4.0))
    assert(r.getDouble(1) == Rng.thomasWangHashDouble(42L))
  }

  test("ExactSumAgg: order-independent exact sum under any partitioning") {
    import spark.implicits._
    // naive double summation loses the small terms next to 1e16
    val xs = Seq(1e16, 1.0, 1.0, 1.0, -1e16, 1.0, 1.0)
    val udaf = org.apache.spark.sql.functions.udaf(ExactSumAgg)
    spark.udf.register("exact_sum", udaf)
    for (parts <- Seq(1, 3, 7)) {
      val got = xs.toDF("v").repartition(parts)
        .agg(udaf(col("v"))).head().getDouble(0)
      assert(got == 5.0, s"parts=$parts")
    }
    val viaSql = {
      xs.toDF("v").createOrReplaceTempView("xs_exact")
      spark.sql("SELECT exact_sum(v) FROM xs_exact").head().getDouble(0)
    }
    assert(viaSql == 5.0)
  }

  test("SQL builders reject wrong arity with an analysis error, not IndexOutOfBounds") {
    GraftFunctions.register(spark)
    for (bad <- Seq("SELECT dot_arr(array(1.0))",
        "SELECT cell_id(1.0, 2.0)", "SELECT tw_hash()")) {
      val ex = intercept[Exception](spark.sql(bad).collect())
      assert(!ex.isInstanceOf[IndexOutOfBoundsException], bad)
      assert(ex.getMessage.toLowerCase.contains("requires"), s"$bad: ${ex.getMessage}")
    }
  }

  test("expressions stay inside WholeStageCodegen (no fallback)") {
    import spark.implicits._
    val df = spark.range(100).select(
      GraftFunctions.cell_id(col("id").cast("double"),
        col("id").cast("double"), 2.0).as("c"),
      GraftFunctions.tw_hash(col("id")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    // the *(n) marker denotes WholeStageCodegen stages in simpleString
    assert(plan.contains("*(1)"), plan)
    // evaluation works under codegen
    assert(df.agg(sum("h")).head().getDouble(0) > 0)
  }
}
