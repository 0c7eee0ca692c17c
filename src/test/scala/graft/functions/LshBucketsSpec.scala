package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.expressions.{LshBuckets, QuantizedDot}

class LshBucketsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dims = 64
  private val vecType = ArrayType(FloatType, containsNull = true)

  /** The per-plane form the kernel replaced, kept as the reference:
    * `tables × planes` separate `when(QuantizedDot(vec, signs) > 0, 1L << p)`
    * terms. (Not the HOF `Similarity.lshBuckets`: under ANSI mode its
    * checked `+` throws on the overflowing magnitudes tested here.) */
  private def perPlaneBuckets(vec: Column, planes: Int, tables: Int): Column = {
    val all = Similarity.planeSigns(planes * tables, dims)
    array((0 until tables).map { t =>
      (0 until planes).map { p =>
        val signs = array(all(t * planes + p).map(v => lit(v.toFloat)): _*)
        when(QuantizedDot(vec, signs) > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
    }: _*)
  }

  /** 2,000 random vectors at mixed scales plus every edge case. */
  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(20261019L)
    def vec(scale: Double): Seq[java.lang.Float] =
      Seq.fill(dims)(java.lang.Float.valueOf((rnd.nextGaussian() * scale).toFloat))
    val random = (0 until 2000).map(i => vec(Seq(1e-4, 1e-2, 1.0, 1e3)(i % 4)))
    def withAt(v: Seq[java.lang.Float], at: Int, x: java.lang.Float) = v.updated(at, x)
    val edge: Seq[Seq[java.lang.Float]] = Seq(
      null,
      Seq.empty,
      vec(1.0).take(dims - 1), // ragged
      vec(1.0) :+ java.lang.Float.valueOf(1f), // ragged
      Seq.fill(dims)(java.lang.Float.valueOf(0f)),
      withAt(vec(1.0), 3, Float.NaN),
      Seq.fill(dims)(java.lang.Float.valueOf(Float.NaN)),
      withAt(vec(1.0), 7, Float.PositiveInfinity),
      withAt(vec(1.0), 7, Float.NegativeInfinity),
      Seq.tabulate(dims)(d => java.lang.Float.valueOf(if (d % 2 == 0) Float.PositiveInfinity
        else Float.NegativeInfinity)),
      withAt(vec(1.0), 0, null),
      Seq.tabulate(dims)(d => if (d % 3 == 0) null else java.lang.Float.valueOf(1f)),
      Seq.fill(dims)(null),
      // 1e30 saturates the quantized Long; the dots then wrap
      Seq.fill(dims)(java.lang.Float.valueOf(1e30f)),
      Seq.tabulate(dims)(d => java.lang.Float.valueOf(if (d % 5 == 0) -1e30f else 1e30f)),
      vec(1e30),
      withAt(vec(1.0), 11, 1e30f)) ++
      (0 until 40).map(i => vec(1e12).updated(i % dims, java.lang.Float.valueOf(-3e29f)))
    val rows = (random ++ edge).zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("id", LongType), StructField("v", vecType))))
  }

  private val shapes = Seq((8, 4), (8, 1), (16, 2))

  test("LshBuckets equals the per-plane QuantizedDot sum, codegen and eval") {
    for ((planes, tables) <- shapes) {
      val out = vectors.select(col("id"), col("v"),
          perPlaneBuckets(col("v"), planes, tables).as("ref"),
          LshBuckets(col("v"), planes, dims, tables).as("got"))
      val plan = out.queryExecution.executedPlan
      assert(collect(plan) { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"the comparison projection is not whole-stage codegen'd:\n$plan")
      val rows = out.collect()
      assert(rows.length == vectors.count())
      // buckets spread: the reference is not trivially constant
      assert(rows.map(_.getSeq[Long](2)).distinct.length > 50)
      val kernel = LshBuckets(BoundReference(0, vecType, nullable = true),
        planes, dims, tables)
      rows.foreach { r =>
        val ref = r.getSeq[Long](2)
        assert(r.getSeq[Long](3) == ref, s"codegen: id ${r.getLong(0)} ($planes, $tables)")
        val v = r.getSeq[java.lang.Float](1)
        val in = InternalRow(if (v == null) null else new GenericArrayData(v.toArray[Any]))
        val eval = kernel.eval(in).asInstanceOf[ArrayData]
        assert(eval.toLongArray().toSeq == ref, s"eval: id ${r.getLong(0)} ($planes, $tables)")
      }
      // a null or ragged vector gets bucket 0 in every table
      rows.filter(r => r.isNullAt(1) || r.getSeq[AnyRef](1).length != dims)
        .foreach(r => assert(r.getSeq[Long](3) == Seq.fill(tables)(0L)))
    }
  }

  test("the LSH candidate plans have no whole-stage method over HotSpot's 8,000-byte JIT limit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    // through parquet, as the gates read it: a columnar scan hands the
    // projection its columns as locals, so codegen inlines the bucket
    // expressions into one method instead of splitting them per row
    // (which a local-relation input would)
    val dir = java.nio.file.Files.createTempDirectory("lsh-guard").resolve("emb").toString
    (0 until 200).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(dir)
    val emb = spark.read.parquet(dir)
    val left = emb.filter(col("vec_id") % 2 === 0)
    val right = emb.filter(col("vec_id") % 2 === 1)
    val plans = Seq(
      "cosineNearDupPairs" -> Similarity.cosineNearDupPairs(emb, 0.95, planes = 8,
        dims = dims, tables = 4),
      "knnLsh" -> Similarity.knnLsh(emb.filter(col("vec_id") >= 10),
        emb.filter(col("vec_id") < 10), 5, planes = 8, dims = dims),
      "annJoin" -> Similarity.annJoin(left, right, k = 3, planes = 8, dims = dims, tables = 2))
    for ((name, df) <- plans) {
      df.collect() // AQE: the final plan holds the executed codegen stages
      val stages = collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$name: no whole-stage codegen")
      stages.foreach { w =>
        val (_, source) = w.doCodeGen()
        val size = CodeGenerator.compile(source)._2.maxMethodCodeSize
        assert(size <= 8000,
          s"$name: a ${size}-byte generated method runs interpreted:\n${w.treeString}")
      }
    }
  }

  test("the near-dup self-join's two bucket sides canonicalize equal (exchange reuse)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val emb = (0 until 50).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val gens = Similarity.cosineNearDupPairs(emb, 0.9, planes = 8, dims = dims, tables = 4)
      .queryExecution.sparkPlan.collect { case g: GenerateExec => g }
    assert(gens.length == 2, s"expected one posexplode per join side, got ${gens.length}")
    assert(gens(0).canonicalized == gens(1).canonicalized,
      s"the two bucket sides differ:\n${gens(0).canonicalized}\n${gens(1).canonicalized}")
  }
}
