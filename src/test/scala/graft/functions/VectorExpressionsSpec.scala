package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The native DotProductExpr must agree exactly with the HOF formulation
  * (same element-order accumulation) on both interpreted and codegen
  * paths, handle float/double mixes, and propagate nulls. The matrix
  * kernel (MatrixScoresExpr) must equal the per-row dot products it
  * replaces bit for bit, compare its matrix by content, and keep the
  * generated code of an IVF-PQ probe the same size at any ksub. */
class VectorExpressionsSpec extends SparkSpec {

  private def hofDot(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("matches HOF fold bit-exactly on real embeddings (codegen path)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val both = emb.select(
      VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("two dot products in one codegen function compile (fresh locals)") {
    // Regression: fixed `i`/`n`/`acc` locals collided when a cosine-style
    // projection placed two DotProductExprs in one whole-stage-codegen
    // function — janino failed and the stage silently ran interpreted.
    // codegen.fallback=false turns that silent fallback into a test failure.
    import SparkSpec.spark.implicits._
    val df = Seq((1L, Array(1f, 2f), Array(3f, 4f))).toDF("id", "a", "b")
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val row = df.select(
        VectorExpressions.dotProduct(col("a"), col("b")).as("ab"),
        VectorExpressions.dotProduct(col("a"), col("a")).as("aa"),
        VectorExpressions.dotProduct(col("b"), col("b")).as("bb")).head
      assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 5.0
        && row.getDouble(2) == 25.0)
    }
  }

  test("float x double literal mix") {
    import SparkSpec.spark.implicits._
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v")
    val planes = typedLit(Seq(0.5, 0.5, 0.5))
    val out = df.select(
      VectorExpressions.dotProduct(col("v"), planes).as("d")).head.getDouble(0)
    assert(out == 3.0)
  }

  test("null array propagates null") {
    import SparkSpec.spark.implicits._
    val df = Seq((1L, null: Array[Float]), (2L, Array(1f, 1f)))
      .toDF("id", "v")
    val out = df.select(col("id"),
      VectorExpressions.dotProduct(col("v"), col("v")).as("d"))
      .orderBy(col("id")).collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getDouble(1) == 2.0)
  }

  test("type check rejects non-numeric arrays") {
    import SparkSpec.spark.implicits._
    val df = Seq((1L, Array("a", "b"))).toDF("id", "v")
    intercept[Exception] {
      df.select(VectorExpressions.dotProduct(col("v"), col("v"))).collect()
    }
  }

  /** The formulation the matrix kernel replaced: one dot product over a
    * literal row per matrix row. */
  private def perRowScores(v: Column, m: Array[Array[Double]],
                           l2: Boolean): Column =
    array(m.toSeq.map { c =>
      val d = VectorExpressions.dotProduct(v, typedLit(c.toSeq))
      if (l2) lit(c.map(x => x * x).sum) - lit(2.0) * d else d
    }: _*)

  private def argmin(d: Column): Column = array_position(d, array_min(d))

  test("matrix scores equal the per-row dot products bit for bit — float " +
      "and double vectors, k = 1, ties and NaN — with and without codegen") {
    val rnd = new scala.util.Random(17)
    val dim = 6
    val vecs: Seq[Array[Double]] =
      Seq.fill(40)(Array.fill(dim)(rnd.nextGaussian())) ++ Seq(
        Array.fill(dim)(0.0),
        Array(1.0, Double.NaN, 0.5, 0.0, -2.0, 3.0))
    // an RDD, not a local relation: the projection must run in the
    // executor's (generated or interpreted) code, not be folded away
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("vf", ArrayType(FloatType)),
      StructField("vd", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) =>
        Row(i, v.map(_.toFloat).toSeq, v.toSeq) }, 2), schema)
    val row = Array.fill(dim)(rnd.nextGaussian())
    val matrices = Seq(
      "k=1" -> Array(row),
      "k=5" -> Array.fill(5, dim)(rnd.nextGaussian()),
      // rows 0 and 2 (and 1 and 3) tie for every vector: the argmin
      // must still pick the lower index
      "ties" -> Array(row, row.map(_ * 0.5), row.clone, row.map(_ * 0.5)))
    def bits(r: Row, i: Int): Seq[Long] =
      r.getSeq[Double](i).map(java.lang.Double.doubleToLongBits)
    val modes = Seq(
      "CODEGEN_ONLY" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false"),
      "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false"))
    val factoryMode = "spark.sql.codegen.factoryMode"
    val before = spark.conf.getOption(factoryMode)
    for ((mode, extra) <- modes) withSQLConf((factoryMode -> mode) +: extra: _*) {
      for ((name, m) <- matrices; v <- Seq("vf", "vd")) {
        val out = df.select(col("id"),
          VectorExpressions.l2Scores(col(v), m),
          perRowScores(col(v), m, l2 = true),
          VectorExpressions.dotScores(col(v), m),
          perRowScores(col(v), m, l2 = false),
          argmin(VectorExpressions.l2Scores(col(v), m)),
          argmin(perRowScores(col(v), m, l2 = true))).collect()
        assert(out.length == vecs.size)
        for (r <- out) {
          val at = s"$mode $name $v id ${r.getInt(0)}"
          assert(bits(r, 1) == bits(r, 2), at)
          assert(bits(r, 3) == bits(r, 4), at)
          assert(r.getSeq[Double](1).length == m.length, at)
          assert(r.getLong(5) == r.getLong(6), at)
          if (name == "ties" && r.getInt(0) < 40)
            assert(r.getLong(5) <= 2, at)
        }
        // the NaN vector scores NaN against every row
        val nan = out.find(_.getInt(0) == vecs.size - 1).get
        assert(nan.getSeq[Double](1).forall(_.isNaN), s"$mode $name $v")
      }
    }
    assert(spark.conf.getOption(factoryMode) == before)
  }

  test("matrix scores: a null vector gives null, and a non-numeric " +
      "array fails the type check") {
    import SparkSpec.spark.implicits._
    val m = Array(Array(1.0, 2.0), Array(0.0, 1.0))
    val df = Seq((1L, null: Array[Float]), (2L, Array(1f, 1f))).toDF("id", "v")
    val out = df.select(col("id"), VectorExpressions.l2Scores(col("v"), m))
      .orderBy(col("id")).collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getSeq[Double](1) == Seq(5.0 - 6.0, 1.0 - 2.0))
    intercept[Exception] {
      Seq((1L, Array("a", "b"))).toDF("id", "v")
        .select(VectorExpressions.dotScores(col("v"), m)).collect()
    }
  }

  test("two matrix-score expressions over equal matrices are " +
      "semanticEquals; over different matrices they are not") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def expr(m: Array[Array[Double]], l2: Boolean = true) =
      MatrixScoresExpr(v, new ScoreMatrix(m), l2)
    val a = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val b = a.map(_.clone) // equal content, distinct arrays
    assert(expr(a) == expr(b) && expr(a).hashCode == expr(b).hashCode)
    assert(expr(a).semanticEquals(expr(b)))
    assert(!expr(a).semanticEquals(expr(Array(Array(1.0, 2.0), Array(3.0, 4.5)))))
    assert(!expr(a).semanticEquals(expr(b, l2 = false)))
    // and so are two plans over them: the plan cache matches by this
    import SparkSpec.spark.implicits._
    val df = Seq((1L, Array(1.0, 1.0))).toDF("id", "v")
    assert(df.select(VectorExpressions.l2Scores(col("v"), a))
      .sameSemantics(df.select(VectorExpressions.l2Scores(col("v"), b))))
  }

  test("the IVF-PQ probe plan's largest generated method stays under " +
      "HotSpot's 8,000-byte JIT limit and does not grow with ksub") {
    import org.apache.spark.sql.execution.{SparkPlan, debug}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the plan with the plans of the datasets it scans from the cache:
    // the probe caches its probe table (cells and lookup tables), whose
    // plan is not a child of the scan
    def withCached(p: SparkPlan): Seq[SparkPlan] = p +: p.flatMap {
      case a: AdaptiveSparkPlanExec => withCached(a.executedPlan).tail
      case s: QueryStageExec => withCached(s.plan).tail
      case m: InMemoryTableScanExec => withCached(m.relation.cachedPlan)
      case _ => Nil
    }
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 120).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 6)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    def largestMethod(ksub: Int): Int = {
      val idx = tempDir(s"codegen-pq$ksub-").toString + "/idx"
      graft.llm.Similarity.writeIvfPqIndex(emb, idx, nlist = 8, m = 8,
        ksub = ksub, trainIters = 1)
      val probe = graft.llm.Similarity.ivfPqTopKIndexed(queries, idx, k = 3,
        nprobe = 2)
      // run it first: adaptive execution collapses codegen stages as it
      // plans each query stage
      assert(probe.collect().nonEmpty)
      val plans = withCached(probe.queryExecution.executedPlan)
      assert(plans.size > 1,
        "the probe table is no longer cached: pin the plan that builds it")
      val sizes = plans.flatMap(debug.codegenStringSeq).map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty)
      sizes.max
    }
    val (at16, at64) = (largestMethod(16), largestMethod(64))
    assert(at16 < 8000, s"largest method $at16 bytes at ksub 16")
    assert(at64 <= at16, s"$at16 bytes at ksub 16, $at64 at ksub 64")
  }
}
