package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Jobs
import org.apache.spark.sql.types._

/** `Jobs.takeOrdered` returns exactly the rows Spark's own
  * `orderBy(...).limit(n).collect()` returns for the same plan, and
  * `Jobs.cover` the distinct values of its columns. */
class JobsSpec extends SparkSpec {

  /** 40 rows over 7 partitions, 3 of them empty. Scores repeat, so ties
    * are broken by id, and every ninth score is null. */
  private lazy val scored: DataFrame = {
    val rows = (0 until 40).map { i =>
      Row(i.toLong, if (i % 9 == 4) null else java.lang.Double.valueOf((i * 7 % 5).toDouble),
        s"p$i")
    }
    val parts = Seq(rows.slice(0, 10), Nil, rows.slice(10, 25), Nil, rows.slice(25, 33),
      rows.slice(33, 40), Nil)
    val rdd = spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = true),
      StructField("payload", StringType, nullable = false))))
  }

  private def viaJobs(top: DataFrame): Seq[Row] = {
    assert(top.queryExecution.executedPlan.isInstanceOf[TakeOrderedAndProjectExec],
      top.queryExecution.executedPlan.toString)
    val toRow = CatalystTypeConverters.createToScalaConverter(top.schema)
    Jobs.takeOrdered(top.queryExecution, "spec").map(toRow(_).asInstanceOf[Row]).toSeq
  }

  for (asc <- Seq(true, false); n <- Seq(1, 5, 17, 100)) {
    test(s"takeOrdered equals orderBy.limit.collect: asc=$asc n=$n") {
      val by = if (asc) col("score").asc_nulls_last else col("score").desc_nulls_last
      assert(scored.rdd.getNumPartitions === 7)
      val top = scored.orderBy(by, col("id").asc).limit(n)
      val expected = top.collect().toSeq
      assert(expected.size === math.min(n, 40))
      assert(viaJobs(top) === expected)
      // a projection above the sort runs on the driver after the merge
      val projected = scored.orderBy(by, col("id").asc)
        .select(col("id"), (col("score") * 2).as("s2"), upper(col("payload")).as("p"))
        .limit(n)
      assert(viaJobs(projected) === projected.collect().toSeq)
    }
  }

  test("takeOrdered fails on any other plan root") {
    val e = intercept[IllegalStateException](Jobs.takeOrdered(scored.queryExecution, "spec"))
    assert(e.getMessage.contains("TakeOrderedAndProject"), e.getMessage)
  }

  test("cover is the distinct values of every column, over empty and full partitions") {
    val ints = scored.select((col("id") % 13).cast("int"), (col("id") % 5 + 20).cast("int"))
    val expected = ints.collect().flatMap(r => Seq(r.getInt(0), r.getInt(1))).distinct.sorted.toSeq
    assert(Jobs.cover(org.apache.spark.sql.graft.Shim.toRdd(ints), 32) === expected)
  }
}
