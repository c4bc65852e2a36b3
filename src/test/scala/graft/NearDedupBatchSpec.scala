package graft

import graft.sources.lance.{FragmentMeta, ManifestIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** A local filesystem under the `failfs` scheme that fails the next
  * `mkdirs` of a planted directory once — the first step of a manifest
  * commit ([[ManifestIO.commit]] makes sure `_versions/` exists before it
  * writes the next version), so a planted `<root>/_versions` fails exactly
  * one commit of that table and nothing else. */
class FailingCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failfs"
  override def getUri: java.net.URI = java.net.URI.create("failfs:///")
  override def mkdirs(f: Path): Boolean = { FailingCommitFs.check(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    FailingCommitFs.check(f)
    super.mkdirs(f, permission)
  }
}

object FailingCommitFs {
  private val planted = new java.util.concurrent.atomic.AtomicReference[String]()
  /** Fail the next commit of the lance table at `root` (a `failfs://` path). */
  def failNextCommit(root: String): Unit =
    planted.set(new Path(new Path(root), "_versions").toUri.getPath)
  def armed: Boolean = planted.get() != null
  private[graft] def check(f: Path): Unit = {
    val p = planted.get()
    if (p == f.toUri.getPath && planted.compareAndSet(p, null))
      throw new java.io.IOException(s"planted commit failure at $f")
  }
}

/** The streaming near-dedup micro-batch runs one staging job for its three
  * tables: a batch that probes history runs at most 6 Spark jobs, lays out
  * the same fragments as one path save per table, commits dst before the
  * band keys and the state, and a failed commit leaves no staged file
  * behind and replays to the same tables. */
class NearDedupBatchSpec extends SparkSpec {
  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** The documents arriving as two source files: micro-batch 0 runs
    * against empty history, micro-batch 1 probes it. */
  private def stage(srcDir: String): Unit =
    Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
      .repartition(2).write.mode("overwrite").parquet(srcDir)

  /** (descriptions of the Spark jobs each micro-batch ran, result). */
  private def jobsPerBatch[A](body: => A): (Map[Long, Seq[String]], A) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.add(b.toLong ->
            String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graft.Shim.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (jobs.asScala.toSeq.groupBy(_._1).map { case (b, js) => b -> js.map(_._2) }, r)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def fragments(root: String): Seq[FragmentMeta] =
    ManifestIO.loadLatest(root, conf).get.fragments

  /** A table's fragments per batch id as (rows, bucket, sortedBy), sorted. */
  private def layout(root: String): Map[Long, Seq[(Long, Option[Int], Seq[String])]] = {
    val bidOf = (f: FragmentMeta) => f.stats("bid").max.get match {
      case org.json4s.JLong(v) => v
      case org.json4s.JInt(v) => v.toLong
      case other => fail(s"bid stat $other")
    }
    fragments(root).groupBy(bidOf).map { case (b, fs) =>
      b -> fs.map(f => (f.rows, f.bucket, f.sortedBy)).sortBy(f => (f._2, f._1))
    }
  }

  /** Each batch's rows of `root`, saved again as one path save per batch
    * with `options` — the layout the former per-table appends wrote. */
  private def perTableSaves(root: String, options: Map[String, String]): String = {
    val ref = tmp("graft-ndb-ref-") + "/t"
    val rows = spark.read.format("lance").load(root)
    val bids = rows.select("bid").distinct().collect().map(_.getLong(0)).sorted
    for (b <- bids)
      rows.filter(col("bid") === b).write.format("lance").options(options)
        .mode("append").save(ref)
    ref
  }

  test("a history-probing micro-batch runs at most 6 Spark jobs and lays out the per-table fragments") {
    val keysT = tmp("graft-ndb-k-") + "/t"
    val setsT = tmp("graft-ndb-s-") + "/t"
    val dst = tmp("graft-ndb-d-") + "/t"
    val srcDir = tmp("graft-ndb-src-")
    stage(srcDir)
    val (jobs, pairs) = jobsPerBatch(graft.operators.StreamingOps
      .streamNearDedupAt(spark, sf, keysT, setsT, srcDir0 = srcDir,
        ckpt0 = tmp("graft-ndb-ck-"), dst0 = dst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(jobs.keySet === Set(0L, 1L), jobs)
    assert(jobs(1L).size <= 6, s"history-probing micro-batch ran ${jobs(1L).size} jobs: ${jobs(1L)}")
    assert(jobs(1L).count(_.startsWith("graft:ndd:stage")) <= 3, jobs(1L))
    // the answer is the batch operator's
    val batch = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs === batch)
    assert(pairs.nonEmpty)
    // the staged band keys and state lay out exactly as one bucketed path
    // save per table and batch: a fragment per bucket, sorted by the key
    val n = graft.operators.StreamingOps.defaultStateBuckets(spark).toString
    for ((t, c) <- Seq(keysT -> "band_key", setsT -> "doc_id")) {
      val got = layout(t)
      assert(got.keySet === Set(0L, 1L))
      assert(got === layout(perTableSaves(t, Map("write.bucket-by" -> c,
        "write.bucket-count" -> n))), t)
      assert(got.values.flatten.forall(f => f._2.isDefined && f._3 === Seq(c)), got)
    }
    // dst: unbucketed, unsorted, and at most one fragment per core a batch
    val d = layout(dst)
    assert(d.values.flatten.forall(f => f._2.isEmpty && f._3.isEmpty), d)
    assert(d.values.forall(_.size <= spark.sparkContext.defaultParallelism), d)
    assert(d.values.flatten.map(_._1).sum === spark.read.format("lance").load(dst).count())
  }

  test("a failed band-key commit after dst committed replays once and leaves no staged file") {
    spark.sparkContext.hadoopConfiguration.set("fs.failfs.impl", classOf[FailingCommitFs].getName)
    def failRoot(p: String): String = "failfs://" + tmp(p) + "/t"
    val keysT = failRoot("graft-ndb-fk-")
    val setsT = failRoot("graft-ndb-fs-")
    val dst = failRoot("graft-ndb-fd-")
    val srcDir = tmp("graft-ndb-fsrc-")
    val ckpt = tmp("graft-ndb-fck-")
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 2 === 0).repartition(1).write.mode("overwrite").parquet(srcDir)
    def run(): Seq[(Long, Long, Double)] = graft.operators.StreamingOps
      .streamNearDedupAt(spark, sf, keysT, setsT, srcDir0 = srcDir, ckpt0 = ckpt, dst0 = dst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    run() // batch 0: all three tables exist
    // batch 1's band-key commit fails after its dst commit
    docs.filter(col("doc_id") % 2 === 1).repartition(1).write.mode("append").parquet(srcDir)
    val dstRows0 = spark.read.format("lance").load(dst).count()
    val keysV = ManifestIO.loadLatest(keysT, conf).get.version
    val setsV = ManifestIO.loadLatest(setsT, conf).get.version
    FailingCommitFs.failNextCommit(keysT)
    val failure = intercept[Exception](run())
    assert(!FailingCommitFs.armed, s"the planted commit failure never fired: $failure")
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(ManifestIO.loadLatest(keysT, conf).get.version === keysV)
    assert(ManifestIO.loadLatest(setsT, conf).get.version === setsV)
    val dstRows1 = spark.read.format("lance").load(dst).count()
    assert(dstRows1 > dstRows0, "dst did not commit before the band keys")
    // the replay skips dst (its mark covers the batch) and appends the
    // band keys and the state once
    val replayed = run()
    assert(spark.read.format("lance").load(dst).count() === dstRows1, "replay re-appended dst")
    val stored = spark.read.format("lance").load(dst).select("a_id", "b_id")
    assert(stored.count() === stored.distinct().count(), "a pair stored twice")
    assert(replayed.toSet === SparkEntry.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // band keys and state hold each batch once: per batch id, the rows of
    // the same two batches streamed on the local file system
    val (refKeys, refSets) = (tmp("graft-ndb-rk-") + "/t", tmp("graft-ndb-rs-") + "/t")
    val refSrc = tmp("graft-ndb-rsrc-")
    val refCkpt = tmp("graft-ndb-rck-")
    for (parity <- 0 to 1) {
      docs.filter(col("doc_id") % 2 === parity).repartition(1).write.mode("append").parquet(refSrc)
      graft.operators.StreamingOps.streamNearDedupAt(spark, sf, refKeys, refSets,
        srcDir0 = refSrc, ckpt0 = refCkpt, dst0 = tmp("graft-ndb-rd-") + "/t")
    }
    def perBid(t: String): Map[Long, Long] = spark.read.format("lance").load(t)
      .groupBy("bid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBid(keysT) === perBid(refKeys))
    assert(perBid(setsT) === perBid(refSets))
    assert(perBid(keysT).keySet === Set(0L, 1L))
    // every data file and sketch sidecar on disk belongs to a committed
    // fragment: the failed attempt's staged files were deleted
    for (t <- Seq(keysT, setsT, dst)) {
      val fs = ManifestIO.fs(t, conf)
      val onDisk = Seq(ManifestIO.DataDir, graft.sources.lance.Hll.Dir).flatMap { d =>
        val p = new Path(t, d)
        if (fs.exists(p)) fs.listStatus(p).map(st => s"$d/${st.getPath.getName}").toSeq else Nil
      }.filterNot(_.endsWith(".crc")).toSet
      val live = fragments(t).flatMap(f => f.path +: f.sketches.toSeq).toSet
      assert(onDisk === live, s"$t: orphaned ${onDisk -- live}")
    }
  }

  test("a resumed near-dedup stream takes its schema from a staged footer, as spark.read.parquet infers it") {
    val srcDir = tmp("graft-ndb-schema-")
    assert(graft.operators.StreamingOps.stagedSchema(spark, srcDir).isEmpty)
    stage(srcDir)
    assert(graft.operators.StreamingOps.stagedSchema(spark, srcDir) ===
      Some(spark.read.parquet(srcDir).schema))
  }
}
