package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._

import graft.functions.{LshBands, NearestCell, OnePermMinHash, PqAdc, ShingleHashes, VectorDistance}

/** The `functions` layer measured on its own: graft's Catalyst kernels,
  * code-generated exactly as a query plan would compile them, applied on
  * one thread to the workload's own rows held in memory. Reported as rows
  * per second (median of five timed passes after one warm-up pass). */
object Kernels {
  private def rowsPerS(rows: Array[InternalRow], f: InternalRow => Any): Double = {
    def pass(): Double = {
      val s = System.nanoTime()
      var i = 0
      var sink = 0
      while (i < rows.length) { if (f(rows(i)) != null) sink += 1; i += 1 }
      require(sink >= 0)
      rows.length / ((System.nanoTime() - s) / 1e9)
    }
    pass()
    val rates = Vector.fill(5)(pass()).sorted
    rates(2)
  }

  private def projection(e: Expression): UnsafeProjection =
    GenerateUnsafeProjection.generate(Seq(e))

  private def floatRows(vs: Array[Array[Float]]): Array[InternalRow] =
    vs.map(v => InternalRow(UnsafeArrayData.fromPrimitiveArray(v)))

  def serve(ctx: Ctx, root: String): Unit = {
    val spark = ctx.spark
    val t = spark.read.format("lance").load(root).select("embedding", "codes").collect()
    val vecs = t.map(_.getSeq[Float](0).toArray)
    val codes = t.map(_.getSeq[Int](1).toArray)
    val idx = graft.operators.IndexBuild.load(spark, root)
    val cents = idx.centroids.map(_.toArray)
    val dim = cents.head.length
    val q = vecs(vecs.length / 2).map(_.toDouble)
    val vecType = ArrayType(FloatType, containsNull = false)

    val l2 = projection(VectorDistance(BoundReference(0, vecType, nullable = false),
      Literal.create(new GenericArrayData(q), ArrayType(DoubleType, containsNull = false)), "l2"))
    val cell = projection(NearestCell(BoundReference(0, vecType, nullable = false),
      cents.flatten, cents.length, dim))
    val pq = idx.pq.get
    val lut = Array.tabulate(pq.m * pq.codes) { i =>
      val (mm, c) = (i / pq.codes, i % pq.codes)
      (0 until pq.subDim).map { d =>
        val diff = q(mm * pq.subDim + d) - pq.flat((mm * pq.codes + c) * pq.subDim + d)
        diff * diff
      }.sum
    }
    val adc = projection(PqAdc(BoundReference(0, ArrayType(IntegerType, containsNull = false),
      nullable = false), lut, pq.m, pq.codes))
    val vrows = floatRows(vecs)
    val crows = codes.map(c => InternalRow(UnsafeArrayData.fromPrimitiveArray(c)): InternalRow)
    ctx.extra("kernels", JObject(
      "vec_l2_rows_s" -> JDouble(rowsPerS(vrows, r => l2(r))),
      "nearest_cell_rows_s" -> JDouble(rowsPerS(vrows, r => cell(r))),
      "pq_adc_rows_s" -> JDouble(rowsPerS(crows, r => adc(r)))))
  }

  /** `shingle_hashes` → `one_perm_minhash` → `lsh_bands`: the map chain of
    * the near-dup operators (Dedup.bandKeys), with its parameters. */
  def bandKeys(ctx: Ctx, texts: Array[String]): Unit = {
    val sig = projection(OnePermMinHash(
      ShingleHashes(BoundReference(0, StringType, nullable = false), 3), 128, 42L))
    val bands = LshBands(BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = false), 32, 4)
    val rows = texts.map(s => InternalRow(UTF8String.fromString(s)))
    ctx.extra("kernels", JObject(
      "band_keys_rows_s" -> JDouble(rowsPerS(rows, r => bands.eval(sig(r)).iterator.size))))
  }
}
