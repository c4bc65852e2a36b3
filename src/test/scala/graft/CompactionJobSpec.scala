package graft

import graft.sources.lance.{FragmentMeta, LanceCommit, LanceDelete, LanceMaintenance, ManifestIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

/** A local filesystem under the `racefs` scheme that runs a planted action
  * once, just before the first file under a `data/` directory is created —
  * a deterministic point inside a write job, after its inputs were planned
  * and before its driver commit. */
class RaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "racefs"
  override def getUri: java.net.URI = java.net.URI.create("racefs:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    RaceFs.beforeCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    RaceFs.beforeCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RaceFs {
  private val planted = new AtomicReference[() => Unit]()
  def beforeFirstDataFile(action: () => Unit): Unit = planted.set(action)
  private[graft] def beforeCreate(f: Path): Unit =
    if (f.getParent != null && f.getParent.getName == ManifestIO.DataDir) {
      val a = planted.getAndSet(null)
      if (a != null) a()
    }
}

/** Compaction is one scan and one Spark job per table, whatever the number
  * of bucket groups: fragments merge within their bucket, come out re-sorted
  * by the declared order, keep every live row and drop every deleted one,
  * and a lost commit race leaves no staged file behind. The per-bucket
  * fragment counts equal those of the former per-group plan, kept here as
  * the reference ([[perGroupCounts]]). */
class CompactionJobSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): String = Files.createTempDirectory("graft-cjs-").toString

  private lazy val wh = {
    spark.conf.set("spark.sql.catalog.lance_cjs", classOf[graft.sources.lance.LanceCatalog].getName)
    val w = tmp()
    spark.conf.set("spark.sql.catalog.lance_cjs.warehouse", w)
    spark.sql("CREATE NAMESPACE lance_cjs.db")
    w
  }

  /** (id, v, s) rows for ids [lo, lo + n); v does not follow id. */
  private def rows(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).selectExpr("id", "(id * 37) % 101 AS v", "concat('s', id) AS s")

  /** A table bucketed 8 ways on `id` with a declared `write.sort-by` of
    * `v`: 4 inserts of 100 rows (later inserts hold smaller ids, so the
    * concatenated fragments of a bucket are not sorted) make 4 small
    * fragments per bucket; a delete of id 5 layers a delete vector on one. */
  private def bucketedTable(name: String): String = {
    val root = s"$wh/db/$name"
    spark.sql(s"CREATE TABLE lance_cjs.db.$name (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='8','write.sort-by'='v')")
    for (i <- 3 to 0 by -1) rows(i * 100L, 100).writeTo(s"lance_cjs.db.$name").append()
    spark.sql(s"DELETE FROM lance_cjs.db.$name WHERE id = 5")
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.groupBy(_.bucket).map { case (b, fs) => b -> fs.size } ===
      (0 until 8).map(b => Some(b) -> 4).toMap)
    assert(m.fragments.count(_.deletes.isDefined) === 1)
    assert(m.props.get("write.sort-by").contains("v"))
    root
  }

  /** Four unbucketed single-fragment appends; a delete of id 7 layers a
    * delete vector on the first. */
  private def unbucketedTable(): String = {
    val root = tmp() + "/t"
    for (i <- 0 until 4) rows(i * 50L, 50).coalesce(1).write.format("lance").mode("append").save(root)
    LanceDelete.deleteWhere(spark, root, Array(EqualTo("id", 7L)), Map.empty)
    root
  }

  /** Three untagged fragments, then two appends bucketed 4 ways on `id`:
    * one None group of 3 fragments and 4 bucket groups of 2. */
  private def mixedTable(): String = {
    val root = tmp() + "/t"
    for (i <- 0 until 3) rows(i * 40L, 40).coalesce(1).write.format("lance").mode("append").save(root)
    for (i <- 3 until 5)
      rows(i * 40L, 40).write.format("lance").mode("append")
        .option("write.bucket-by", "id").option("write.bucket-count", "4").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.count(_.bucket.isEmpty) === 3)
    assert(m.fragments.flatMap(_.bucket).groupBy(identity).values.map(_.size).toSet === Set(2))
    root
  }

  private def live(root: String): Seq[Row] =
    spark.read.format("lance").load(root).select("id", "v", "s").collect()
      .sortBy(_.getLong(0)).toSeq

  /** Per-bucket fragment counts of the former compaction plan: one
    * `_file`-pruned read per bucket group, coalesced to ceil(live rows /
    * target) partitions, each partition rolling files at `target` rows. */
  private def perGroupCounts(root: String, smallerThan: Long,
                             target: Long): Map[Option[Int], Int] = {
    val m = ManifestIO.loadLatest(root, conf).get
    m.fragments.filter(f => f.rows < smallerThan || f.deletes.isDefined).groupBy(_.bucket)
      .filter { case (_, frs) => frs.size > 1 || frs.exists(_.deletes.isDefined) }
      .map { case (b, frs) =>
        val parts = math.max(1, math.ceil(frs.map(_.liveRows).sum.toDouble / target).toInt)
        val read = spark.read.format("lance").option("versionAsOf", m.version.toString).load(root)
          .filter(col("_file").isin(frs.map(f => new Path(root, f.path).toString): _*))
          .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
          .coalesce(parts)
        val sizes = read.rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
        b -> sizes.map(n => ((n + target - 1) / target).toInt).sum
      }
  }

  /** The rows of one fragment file, in file order. */
  private def fileRows(root: String, f: FragmentMeta): Seq[Row] =
    spark.read.parquet(new Path(root, f.path).toString).select("id", "v").collect().toSeq

  /** Compact `root` as one measured call and check the shared contract:
    * 1 job, 0 shuffle bytes, the same live rows, per-group counts equal to
    * the former plan's. Returns the fragments it wrote. */
  private def compactOnce(root: String, target: Long): Seq[FragmentMeta] = {
    val before = live(root)
    val m0 = ManifestIO.loadLatest(root, conf).get
    val expected = perGroupCounts(root, Long.MaxValue, target)
    val rewritten = m0.fragments.filter(f => expected.contains(f.bucket)).map(_.path).toSet
    val (m, jobs, shuffle) = jobsOf(LanceMaintenance.compact(spark, root, Long.MaxValue, target))
    assert(jobs === 1, s"compaction ran $jobs Spark jobs")
    assert(shuffle === 0L)
    assert(m.version === m0.version + 1)
    assert(live(root) === before)
    val fresh = m.fragments.filterNot(f => m0.fragments.exists(_.path == f.path))
    assert(m.fragments.map(_.path).toSet.intersect(rewritten).isEmpty)
    assert(fresh.forall(_.deletes.isEmpty))
    assert(fresh.groupBy(_.bucket).map { case (b, fs) => b -> fs.size } === expected)
    fresh
  }

  /** Every row's pmod(hash(id), n) equals its fragment's bucket tag. */
  private def assertTagsMatchRows(root: String, n: Int): Unit = {
    val m = ManifestIO.loadLatest(root, conf).get
    val perFile = spark.read.format("lance").load(root)
      .select(col("_file"), pmod(hash(col("id")), lit(n)).as("b"))
      .distinct().collect().map(r => r.getString(0) -> r.getInt(1))
    for ((file, b) <- perFile) {
      val f = m.fragments.find(f => file.endsWith(f.path)).get
      assert(f.bucket.contains(b), s"${f.path}: tag ${f.bucket}, row bucket $b")
    }
  }

  test("bucketed 8 ways: one job merges every bucket, re-sorted, tags and deletes hold") {
    val root = bucketedTable("b8")
    val fresh = compactOnce(root, target = 10000L)
    assert(fresh.size === 8)
    assert(!live(root).exists(_.getLong(0) == 5L), "deleted row resurrected")
    assertTagsMatchRows(root, 8)
    for (f <- fresh) {
      assert(f.sortedBy === Seq("id", "v"))
      val ids = fileRows(root, f).map(_.getLong(0))
      assert(ids === ids.sorted, s"${f.path} is not sorted")
    }
  }

  test("bucketed 8 ways, several output fragments per bucket: counts equal the per-group plan") {
    val root = bucketedTable("b8_split")
    val fresh = compactOnce(root, target = 20L)
    assert(fresh.groupBy(_.bucket).values.forall(_.size > 1), fresh.map(_.bucket))
    assertTagsMatchRows(root, 8)
    for (f <- fresh) {
      assert(f.rows <= 20L)
      val ids = fileRows(root, f).map(_.getLong(0))
      assert(ids === ids.sorted, s"${f.path} is not sorted")
    }
  }

  test("unbucketed: one job, one untagged group, the delete vector folds in") {
    val root = unbucketedTable()
    val fresh = compactOnce(root, target = 10000L)
    assert(fresh.size === 1 && fresh.head.bucket.isEmpty)
    assert(fresh.head.rows === 199L)
    assert(!live(root).exists(_.getLong(0) == 7L), "deleted row resurrected")
  }

  test("mixed table: the untagged group and every bucket group in one job") {
    val root = mixedTable()
    val fresh = compactOnce(root, target = 10000L)
    assert(fresh.map(_.bucket).sortBy(_.getOrElse(-1)) === None +: (0 until 4).map(Some(_)))
    val m = ManifestIO.loadLatest(root, conf).get
    val perFile = spark.read.format("lance").load(root)
      .select(col("_file"), col("id"), pmod(hash(col("id")), lit(4)).as("b")).collect()
    for (r <- perFile; f = m.fragments.find(f => r.getString(0).endsWith(f.path)).get)
      f.bucket.foreach(b => assert(r.getInt(2) === b, s"${f.path}: row ${r.getLong(1)}"))
  }

  test("a concurrent commit dropping a rewritten fragment: compaction abandons, staged files deleted") {
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl", classOf[RaceFs].getName)
    val local = tmp()
    val root = s"racefs://$local/t"
    for (i <- 0 until 4) rows(i * 50L, 50).coalesce(1).write.format("lance").mode("append").save(root)
    val m0 = ManifestIO.loadLatest(root, conf).get
    val victim = m0.fragments.head.path
    val dataDir = new java.io.File(s"$local/t/${ManifestIO.DataDir}")
    val filesBefore = dataDir.list().toSet
    val hconf = conf
    RaceFs.beforeFirstDataFile { () =>
      ManifestIO.commit(root, hconf) { latest =>
        val cur = latest.get
        Some(LanceCommit(cur.schema, cur.fragments.filterNot(_.path == victim), cur.txns, "delete"))
      }
    }
    val m = LanceMaintenance.compact(spark, root, Long.MaxValue, 10000L)
    assert(m.version === m0.version + 1, "the racing commit must be the latest version")
    assert(m.op === "delete")
    assert(m.fragments.map(_.path) === m0.fragments.map(_.path).filterNot(_ == victim))
    assert(dataDir.list().toSet === filesBefore, "staged fragment files left behind")
    assert(spark.read.format("lance").load(root).count() === 150L)
  }
}
