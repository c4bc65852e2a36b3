package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Production semantics of the stream-stream interval join
  * (`q_stream_join`): watermark-driven state eviction, pinned
  * deterministically with ordered per-side batch files (explicit file
  * modification times fix the micro-batch order under
  * maxFilesPerTrigger=1).
  */
class StreamJoinSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def at(minutes: Long): Timestamp = new Timestamp(T0 + minutes * 60000L)

  private def events(rows: Seq[(Long, Long, String, Timestamp)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "ts")
  }

  /** Write `df` as ONE parquet file named `name` in `dir` with an explicit
    * modification time — FileStreamSource processes oldest-first, so
    * modtimes define the micro-batch order under maxFilesPerTrigger=1. */
  private def writeFile(df: DataFrame, dir: Path, name: String, mtimeMs: Long): Unit = {
    val stage = Files.createTempDirectory("graft-sjoin-stage-")
    df.coalesce(1).write.mode("overwrite").parquet(s"$stage/out")
    val part = Files.list(stage.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no parquet part written"))
    val tgt = dir.resolve(name)
    Files.move(part, tgt)
    Files.setLastModifiedTime(tgt, FileTime.fromMillis(mtimeMs))
  }

  test("interval join: tight watermark evicts the closed window; wide watermark recovers it") {
    val vSrc = Files.createTempDirectory("graft-sjoin-v-")
    val pSrc = Files.createTempDirectory("graft-sjoin-p-")
    // batch 1 (one file per side): an in-batch pair for user 1, a
    // late-window view for user 2, and watermark pushers at +10h on BOTH
    // sides (distinct users so the pushers themselves never match)
    writeFile(events(Seq(
      (1L, 1L, "view", at(0)),
      (3L, 2L, "view", at(9 * 60 + 30)),
      (90L, 98L, "view", at(10 * 60)))), vSrc, "b1.parquet", T0)
    writeFile(events(Seq(
      (2L, 1L, "purchase", at(10)),
      (91L, 99L, "purchase", at(10 * 60)))), pSrc, "b1.parquet", T0)
    // batch 2 (purchase side only): purchase 5 is above the watermark and
    // matches view 3 cross-batch. State cleanup is LAZY — it runs at the
    // END of the first batch executed under the advanced watermark (this
    // one), so view 1's closed window [T0, T0+1h] is evicted here.
    writeFile(events(Seq(
      (5L, 2L, "purchase", at(9 * 60 + 40)))), pSrc, "b2.parquet", T0 + 60000L)
    // batch 3: purchase 4 is IN the 1h window of view 1 but arrives two
    // batches after the watermark (T0+9h) passed it — the view's state is
    // gone, so no pair forms. (One batch earlier it could still match:
    // Spark guarantees in-watermark pairs WILL join; out-of-watermark
    // pairs are best-effort-dropped, enforced only once eviction runs.)
    writeFile(events(Seq(
      (4L, 1L, "purchase", at(20)))), pSrc, "b3.parquet", T0 + 120000L)
    val schema = events(Seq((1L, 1L, "x", at(0)))).schema

    // production delay: 1 hour. After batch 1 the join watermark is
    // T0+9h, so view 1's window [T0, T0+1h] is evicted from state and
    // the late purchase finds nothing.
    val tight = operators.StreamingOps
      .streamJoinFrom(spark, vSrc.toString, pSrc.toString, schema, "1 hour", filesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(tight === Seq(
      (1L, 1L, 2L, 600L * 1000000),
      (2L, 3L, 5L, 600L * 1000000)), s"tight-delay pairs: $tight")

    // the gate's corpus-spanning delay over the SAME files recovers the
    // late pair — eviction, not a join bug, dropped it above
    val loose = operators.StreamingOps
      .streamJoinFrom(spark, vSrc.toString, pSrc.toString, schema, "3650 days", filesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(loose === Seq(
      (1L, 1L, 2L, 600L * 1000000),
      (1L, 1L, 4L, 1200L * 1000000),
      (2L, 3L, 5L, 600L * 1000000)), s"loose-delay pairs: $loose")
  }

  test("left-outer join: NULL rows emit exactly once, after the watermark closes the window") {
    val vSrc = Files.createTempDirectory("graft-sjoinl-v-")
    val pSrc = Files.createTempDirectory("graft-sjoinl-p-")
    // one batch per side; the +10h rows are the sentinels that close every
    // real window on drain (delay 0s → final watermark T0+10h)
    writeFile(events(Seq(
      (1L, 1L, "view", at(0)),
      (3L, 2L, "view", at(0)),
      (90L, 98L, "view", at(10 * 60)))), vSrc, "b1.parquet", T0)
    writeFile(events(Seq(
      (2L, 2L, "purchase", at(10)),
      (91L, 99L, "purchase", at(10 * 60)))), pSrc, "b1.parquet", T0)
    val schema = events(Seq((1L, 1L, "x", at(0)))).schema
    val rows = operators.StreamingOps
      .streamJoinFrom(spark, vSrc.toString, pSrc.toString, schema, "0 seconds", "left_outer", filesPerTrigger = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(rows === Seq(
      (1L, 1L, None),        // unmatched view → exactly one NULL row
      (2L, 3L, Some(2L))))   // matched inner pair
    // view 90 does NOT emit: the final watermark (T0+10h) equals its
    // window START — a NULL row is only provably unmatched once the
    // watermark passes the window END, so it stays pending (this is why
    // the gated key's sentinels sit a full 30 days past max(ts)).
    // The right side never emits: unmatched purchase 91 is absent.
  }

  test("dropDuplicatesWithinWatermark: in-window dups collapse, expired keys re-emit") {
    val src = Files.createTempDirectory("graft-sddw-")
    // batch 1: keys 1 (at T0) and 2 (at T0+8h30m), plus the watermark
    // pusher; after the batch the watermark is T0+9h, so key 1's dedup
    // window (ts + 1h) has EXPIRED while key 2's (T0+9h30m) is still open
    writeFile(events(Seq(
      (1L, 7L, "view", at(0)),
      (2L, 7L, "view", at(8 * 60 + 30)),
      (99L, 8L, "view", at(10 * 60)))), src, "b1.parquet", T0)
    // batch 2: a duplicate of key 2 inside its window → collapsed. (State
    // cleanup is lazy — it runs at the END of this first batch under the
    // advanced watermark, evicting key 1.)
    writeFile(events(Seq(
      (2L, 7L, "view", at(8 * 60 + 45)))), src, "b2.parquet", T0 + 60000L)
    // batch 3: a duplicate of key 1 after its window expired → emitted
    // AGAIN (the bounded-state trade this API makes explicit)
    writeFile(events(Seq(
      (1L, 7L, "view", at(9 * 60 + 30)))), src, "b3.parquet", T0 + 120000L)
    val schema = events(Seq((1L, 1L, "x", at(0)))).schema
    val ids = operators.StreamingOps
      .streamDedupWindowFrom(spark, src.toString, schema, "1 hour", filesPerTrigger = 1)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids === Seq(1L, 1L, 2L, 99L), s"got $ids")
  }

  test("q_stream_join equals the batch interval self-join on the corpus") {
    val streamed = SparkEntry.queries("q_stream_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ev = Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val batch = ev.as("a").join(ev.as("b"),
        expr("a.user_id = b.user_id AND a.event_type = 'view' AND b.event_type = 'purchase'" +
          " AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR"))
      .select(col("a.user_id"), col("a.event_id").as("view_id"),
        col("b.event_id").as("purchase_id"),
        (unix_micros(col("b.ts")) - unix_micros(col("a.ts"))).as("lag_us"))
      .orderBy("user_id", "view_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }
  test("q_stream_join: a side with no rows after the filter joins to nothing") {
    // views but no purchases: partitionBy writes no purchase leaf dir
    val dir = Files.createTempDirectory("graft-sjoin-empty-")
    events(Seq((1L, 1L, "view", at(0)), (2L, 2L, "view", at(5)), (3L, 1L, "click", at(7))))
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_stream_join")(spark, dir.toString)
    assert(out.columns.toSeq === Seq("user_id", "view_id", "purchase_id", "lag_us"))
    assert(out.count() === 0L)
  }
}
