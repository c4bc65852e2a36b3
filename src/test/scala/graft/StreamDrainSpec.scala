package graft

import graft.operators.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The streaming drain contract every AvailableNow stream in the operators
  * rides: a drain sized from its staged source bytes runs its batches on
  * 1 shuffle partition with AQE off and puts both session values back on
  * return or failure, every drain starts on the caller's session, so a
  * listener on `spark.streams` sees its progress, and micro-batch bodies
  * run on the caller's session too, so a warm arrival reuses the classes
  * earlier arrivals generated.
  */
class StreamDrainSpec extends SparkSpec {

  private val PKey = "spark.sql.shuffle.partitions"
  private val AKey = "spark.sql.adaptive.enabled"

  private def tmpTable(): String =
    Files.createTempDirectory("graft-sdrain-").toString + "/t"

  /** A KB-sized (doc_id, text) source: far below the 32 MB sizing unit. */
  private def docs(): DataFrame =
    spark.range(40).select(col("id").as("doc_id"),
      concat(lit("doc "), (col("id") % 7).cast("string")).as("text"))

  /** Run `body` with the session at 4 partitions and AQE on, restoring the
    * suite's values after. */
  private def withSessionConf(body: => Unit): Unit = {
    val prevP = spark.conf.get(PKey)
    val prevA = spark.conf.getOption(AKey)
    spark.conf.set(PKey, "4")
    spark.conf.set(AKey, "true")
    try body finally {
      spark.conf.set(PKey, prevP)
      prevA.fold(spark.conf.unset(AKey))(spark.conf.set(AKey, _))
    }
  }

  test("sized drain: batches see 1 partition with AQE off; both restored after") {
    withSessionConf {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val out = StreamingOps.streamDedupAt(spark, docs(), tmpTable(),
        onBatch = (_, _) => seen += ((spark.conf.get(PKey), spark.conf.get(AKey))))
      assert(out.count() === 7)
      assert(seen.nonEmpty)
      assert(seen.forall(_ == (("1", "false"))), seen)
      assert(spark.conf.get(PKey) === "4")
      assert(spark.conf.get(AKey) === "true")
    }
  }

  test("failed drain: the batch's error propagates and the session values are restored") {
    withSessionConf {
      val err = intercept[Exception] {
        StreamingOps.streamDedupAt(spark, docs(), tmpTable(),
          onBatch = (_, _) => throw new IllegalStateException("planted batch failure"))
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("planted batch failure")), err)
      assert(spark.conf.get(PKey) === "4")
      assert(spark.conf.get(AKey) === "true")
    }
  }

  /** `sizes` bytes as files under a fresh dir, nested one level, written
    * sparse (the length is set, no blocks written). */
  private def stagedDir(sizes: Seq[Long]): java.io.File = {
    val dir = Files.createTempDirectory("graft-sdrain-bytes-").toFile
    sizes.zipWithIndex.foreach { case (n, i) =>
      val sub = new java.io.File(dir, s"part=$i")
      sub.mkdirs()
      val f = new java.io.RandomAccessFile(new java.io.File(sub, s"f$i.parquet"), "rw")
      try f.setLength(n) finally f.close()
    }
    dir
  }

  private def contentSummaryBytes(dir: java.io.File): Long = {
    val p = new org.apache.hadoop.fs.Path(dir.toURI)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  test("sized partitions, small dir: every byte counted, the count of a full listing") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = stagedDir(Seq(1000L, 2500L, 40L))
    val total = contentSummaryBytes(dir)
    assert(total === 3540L)
    assert(StreamingOps.stagedBytes(hconf, Seq(dir.toString), 4L * (32L << 20)) === total)
    assert(StreamingOps.sizedPartitions(hconf, Seq(dir.toString), 4) === 1)
    assert(StreamingOps.sizedPartitions(hconf, Seq(dir.toString, s"$dir-absent"), 4) === 1)
  }

  test("sized partitions, over-cap dir: the listing stops at the cap, the count is the session's") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val mb40 = 40L << 20
    val dir = stagedDir(Seq(mb40, mb40, mb40))
    val total = contentSummaryBytes(dir)
    assert(total === 3 * mb40)
    // 2 partitions x 32 MB = 64 MB: two 40 MB files reach it, the third is never listed
    assert(StreamingOps.stagedBytes(hconf, Seq(dir.toString), 2L * (32L << 20)) === 2 * mb40)
    assert(StreamingOps.sizedPartitions(hconf, Seq(dir.toString), 2) === 2)
    // the uncapped count over the full tree clamps to the same value
    assert(math.min(2L, (total + (32L << 20) - 1) / (32L << 20)) === 2L)
    assert(StreamingOps.sizedPartitions(hconf, Seq(dir.toString), 8) === 4)
  }

  test("visibility: listeners on the caller's spark.streams see sized and session drains") {
    val progress = new AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // sized drain
      StreamingOps.streamDedupAt(spark, docs(), tmpTable()).collect()
      Shim.waitUntilEmpty(spark.sparkContext)
      assert(progress.get() > 0, "no progress from the sized drain")
      // session drain
      progress.set(0)
      val sink = SparkEntry.queries("lance_streaming_sink")(spark, sf).collect()
      assert(sink.head.getLong(0) === 1000L)
      Shim.waitUntilEmpty(spark.sparkContext)
      assert(progress.get() > 0, "no progress from lance_streaming_sink")
    } finally spark.streams.removeListener(listener)
  }

  test("a warm near-dup arrival compiles almost no generated classes") {
    // three arrivals of the documents table, landed one file at a time
    // into the staging dir the stream resumes over
    val base = Files.createTempDirectory("graft-sdrain-arrivals-")
    val parts = base.resolve("parts").toString
    Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
      .repartition(3).write.parquet(parts)
    val files = new java.io.File(parts).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    assert(files.length === 3, files.toSeq)
    val src = base.resolve("src")
    Files.createDirectories(src)
    def arrive(k: Int): Unit = {
      Files.move(java.nio.file.Paths.get(parts, files(k)), src.resolve(files(k)))
      StreamingOps.streamNearDedupAt(spark, sf, base.resolve("keys").toString,
        base.resolve("sets").toString, srcDir0 = src.toString,
        ckpt0 = base.resolve("ckpt").toString, dst0 = base.resolve("dst").toString)
    }
    arrive(0)
    arrive(1) // the first arrival that probes history
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    arrive(2)
    val compiled = compiles.getCount - before
    assert(compiled <= 10, s"the third arrival compiled $compiled classes")
    // every arrival stamped its batch id into the band-key table
    assert(StreamingOps.lastBidOf(spark, base.resolve("keys").toString) === 2L)
  }

  /** The `part-` file names under `dir`, each with its bytes. */
  private def partFiles(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  /** Drain the staged source at `srcDir` into a batch recorder: returns the
    * (batch id, rows) of every micro-batch, in order. */
  private def drainStagedBatches(srcDir: String, srcParts: Int,
                                 frame: => DataFrame): Seq[(Long, Long)] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    StreamingOps.drainStaged(spark, srcDir,
      Files.createTempDirectory("graft-sdrain-ckpt-").toString,
      StreamingOps.SessionParts, srcParts, frame)(_.writeStream)(
      StreamingOps.EachBatch((b, bid) => batches += ((bid, b.count()))))
    batches.toSeq
  }

  test("staged source, fresh: stages n part files and drains them in n micro-batches") {
    val srcDir = Files.createTempDirectory("graft-sdrain-staged-").toString
    val batches = drainStagedBatches(srcDir, 3, docs())
    assert(partFiles(srcDir).size === 3)
    assert(batches.map(_._1) === Seq(0L, 1L, 2L))
    assert(batches.map(_._2).sum === 40L)
    assert(batches.forall(_._2 > 0), batches)
  }

  test("staged source, resume: the staged files stay as they are and the frame is never built") {
    val srcDir = Files.createTempDirectory("graft-sdrain-resume-").toString
    docs().repartition(2).write.mode("append").parquet(srcDir)
    val staged = partFiles(srcDir)
    assert(staged.size === 2)
    val batches = drainStagedBatches(srcDir, 5,
      throw new IllegalStateException("a resume built its source frame"))
    assert(partFiles(srcDir) === staged)
    assert(batches.map(_._1) === Seq(0L, 1L))
    assert(batches.map(_._2).sum === 40L)
  }

  test("one staged source and one cell append: their stream options sit in their helpers") {
    val perTrigger = OperatorSources.sites("\"maxFilesPerTrigger\", \"1\"")
    assert(perTrigger.map(s => (s._1, s._2)) === Seq(("StreamingOps.scala", "drainFiles")),
      perTrigger)
    val cellAppends = OperatorSources.sites("\"write.cluster-by\", \"cell\"")
      .filter(_._1 == "StreamingOps.scala")
    assert(cellAppends.map(_._2) === Seq("appendCells"), cellAppends)
  }

  test("drain alone starts streams: foreachBatch, trigger and await sit in drain; no inlined batch id") {
    for (needle <- Seq(".foreachBatch", ".trigger(", "awaitTermination")) {
      val sites = OperatorSources.sites(needle)
      assert(sites.map(s => (s._1, s._2)) === Seq(("StreamingOps.scala", "drain")),
        s"$needle: $sites")
    }
    val inlined = OperatorSources.sites("lit(bid)")
    assert(inlined.isEmpty, s"batch ids stamped as literals (use batch_id): $inlined")
  }
}
