package graft

import graft.sources.lance.{FragmentMeta, LanceDelete, LanceFileSlice, LanceInputPartition,
  LanceSliceIterator, ManifestIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In

import java.nio.file.Files

/** A lance scan packs small fragments into input partitions by the rule
  * Spark's own file scans use (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`, default parallelism): a scan of many small fragments
  * runs about one task per core, never mixes buckets in one partition, and
  * returns the same rows in the same order as a one-partition-per-fragment
  * read, delete vectors and `_pos` included. */
class ScanPackingSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): String = Files.createTempDirectory("graft-sps-").toString + "/t"

  /** (id, v, s) rows for ids [lo, lo + n). */
  private def rows(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).selectExpr("id", "(id * 37) % 101 AS v", "concat('s', id) AS s")

  /** `n` single-fragment appends of 20 rows each. */
  private def smallFragments(n: Int): String = {
    val root = tmp()
    for (i <- 0 until n) rows(i * 20L, 20).coalesce(1).write.format("lance").mode("append").save(root)
    root
  }

  /** The lance scan's planned input partitions for `df`. */
  private def partitions(df: DataFrame): Seq[LanceInputPartition] =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      .scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[LanceInputPartition])

  /** `body` with every fragment read as its own partition: an open cost
    * of maxPartitionBytes closes each partition after one file. */
  private def unpacked[A](body: => A): A = {
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, spark.sessionState.conf.filesMaxPartitionBytes.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The latest manifest's fragments by full path. */
  private def fragmentOf(root: String): Map[String, FragmentMeta] =
    ManifestIO.loadLatest(root, conf).get.fragments
      .map(f => new Path(root, f.path).toString -> f).toMap

  test("a scan of N small fragments plans at most defaultParallelism + 1 partitions, same rows") {
    val n = 24
    val root = smallFragments(n)
    val df = spark.read.format("lance").load(root)
    val parts = partitions(df)
    assert(parts.map(_.slices.size).sum === n)
    assert(parts.size <= spark.sparkContext.defaultParallelism + 1, parts.map(_.slices.size))
    assert(parts.size < n)
    val unpackedParts = unpacked(partitions(spark.read.format("lance").load(root)))
    assert(unpackedParts.size === n)
    // packs are contiguous runs of the fragment order: same rows, same order
    val packedRows = df.collect().toSeq
    assert(packedRows === unpacked(spark.read.format("lance").load(root).collect().toSeq))
    assert(packedRows.map(_.getLong(0)) === (0L until n * 20L))
    // a filtered scan packs what pruning keeps and answers the same
    val filtered = df.filter(col("id") >= 200 && col("v") < 50)
    assert(filtered.collect().toSeq ===
      unpacked(spark.read.format("lance").load(root).filter(col("id") >= 200 && col("v") < 50)
        .collect().toSeq))
  }

  test("bucketed scans never mix buckets in one partition") {
    // fully bucketed: a key-grouped scan; mixed: untagged fragments make
    // the scan report no key grouping, and it still packs per bucket
    val bucketed = tmp()
    val mixed = tmp()
    for (i <- 0 until 3)
      rows(i * 40L, 40).coalesce(1).write.format("lance").mode("append").save(mixed)
    for (root <- Seq(bucketed, mixed); i <- 0 until 4)
      rows(1000L + i * 40L, 40).write.format("lance").mode("append")
        .option("write.bucket-by", "id").option("write.bucket-count", "4").save(root)
    for (root <- Seq(bucketed, mixed)) {
      val frag = fragmentOf(root)
      val df = spark.read.format("lance").load(root)
      val parts = partitions(df)
      for (p <- parts)
        assert(p.slices.map(s => frag(s.path).bucket).distinct === Seq(p.bucket), p)
      assert(parts.map(_.slices.size).sum === frag.size)
      assert(df.collect().sortBy(_.getLong(0)).toSeq ===
        unpacked(spark.read.format("lance").load(root).collect().sortBy(_.getLong(0)).toSeq))
    }
    // the untagged run packs into one partition
    assert(partitions(spark.read.format("lance").load(mixed))
      .exists(p => p.bucket.isEmpty && p.slices.size === 3))
  }

  test("packed DV-masked and _pos reads return the same rows and positions as unpacked reads") {
    val root = smallFragments(12)
    // delete vectors on four fragments
    LanceDelete.deleteWhere(spark, root,
      Array(In("id", Array[Any](3L, 25L, 26L, 99L, 140L, 141L, 142L))), Map.empty)
    val dvd = ManifestIO.loadLatest(root, conf).get.fragments.count(_.deletes.isDefined)
    assert(dvd === 4)
    def read(): DataFrame = spark.read.format("lance").load(root)
    def withPos(df: DataFrame): DataFrame = df.select(col("id"), col("v"), col("_file"), col("_pos"))
    for (q <- Seq[DataFrame => DataFrame](identity, withPos)) {
      val packed = q(read())
      val parts = partitions(packed)
      assert(parts.size < 12)
      assert(parts.exists(p => p.slices.exists(_.dv.isDefined) && p.slices.size > 1))
      assert(parts.flatMap(_.slices).forall(s => s.start == 0 && s.length == s.fileSize))
      val got = packed.collect().toSeq
      assert(got === unpacked(q(read()).collect().toSeq))
      assert(got.map(_.getLong(0)).toSet ===
        ((0L until 240L).toSet -- Set(3L, 25L, 26L, 99L, 140L, 141L, 142L)))
    }
    // each fragment holds 20 consecutive ids in file order
    for (r <- withPos(read()).collect())
      assert(r.getLong(3) === r.getLong(0) % 20, r)
  }

  test("a slice's file reader closes when its rows are drained, the open one on close") {
    val closed = scala.collection.mutable.ArrayBuffer.empty[String]
    class File(name: String, n: Int) extends Iterator[Int] with AutoCloseable {
      private var i = 0
      def hasNext: Boolean = i < n
      def next(): Int = { i += 1; i }
      def close(): Unit = closed += name
    }
    val slices = Seq("a", "b", "c").map(p => LanceFileSlice(p, 0, 1, 1))
    val it = new LanceSliceIterator[Int](slices, s => {
      val f = new File(s.path, 2)
      (f, f)
    })
    assert(it.take(3).toSeq === Seq(1, 2, 1))
    assert(closed.toSeq === Seq("a"))
    assert(it.next() === 2)
    assert(it.hasNext)
    assert(closed.toSeq === Seq("a", "b"))
    it.close()
    assert(closed.toSeq === Seq("a", "b", "c"))
  }
}
