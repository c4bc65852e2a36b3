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
  * return or failure, and every drain starts on the caller's session, so
  * a listener on `spark.streams` sees its progress.
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
}
