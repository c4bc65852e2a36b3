package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.batch_id
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import java.sql.Timestamp

/** Structured-Streaming pipelines over the lance connector (§G additions):
  * the reference is a Flink connector, so stream-in/stream-out parity is
  * first-class — source tailing (LanceMicroBatchStream), exactly-once sink
  * commits, and event-time windowed aggregation with a watermark.
  *
  * Both keys drain with Trigger.AvailableNow and reduce to results a batch
  * DuckDB oracle reproduces — streaming vs batch equivalence IS the
  * correctness statement.
  */
object StreamingOps extends QueryModule {
  import Tables._

  private def tmp(prefix: String): String = FixtureMemo.tempDir(prefix)

  /** Whether the lance table at `path` exists (has a committed manifest),
    * routed through the path's FileSystem — NOT `java.io.File`, which is
    * always false on an object-store warehouse and would silently disarm
    * every replay guard below (each replayed batch would re-append).
    * Metadata-cheap: one directory listing. */
  private[graft] def tableExists(s: SparkSession, path: String): Boolean =
    graft.sources.lance.ManifestIO.exists(path, s.sparkContext.hadoopConfiguration)

  /** How a [[drain]] partitions its shuffles and state stores. */
  private[graft] sealed trait DrainParts

  /** Partitions sized from the staged source dirs (r21, guide §2: derive
    * partitioning from input size instead of a constant): stateful
    * micro-batch plans cannot be AQE-coalesced, so every batch otherwise
    * plans the session's static `spark.sql.shuffle.partitions`, and the
    * per-batch fixed cost (task scheduling + one state-store/exchange
    * commit per partition per stateful operator) grows with that constant
    * while the data per batch does not. The count is staged bytes / 32 MB,
    * clamped to [1, session value]: a production-sized staging dir clamps
    * to the session value, a kilobyte stream stops paying cores × stores
    * of fixed cost per batch. When the count shrank, AQE is off too: the
    * static count already right-sized the exchanges, and what AQE adds is
    * per-query-stage job orchestration, measured at ~2× the jobs per
    * micro-batch body (each job a driver round trip that dominates a small
    * batch). Production-sized inputs never shrink, so the session's AQE
    * posture is untouched exactly when it matters. */
  private[graft] final case class SizedFrom(dirs: String*) extends DrainParts

  /** The session's partition count; the conf is never touched. Each site
    * that keeps it, with the reason (r21; "measured" = the sized drain was
    * benched there and reverted):
    *  - q_stream_sessions: the per-user session fold is the batch's real
    *    compute; 1 state partition serialized it (measured 2.2 → 2.5 s).
    *  - the embedding family (q_stream_embedding_dedup, q_stream_semantic,
    *    q_stream_semantic_trained): the cosine verify and MV closure/upsert
    *    need the session's parallelism (measured 1.27× slower).
    *  - q_stream_dsir: the per-batch score + top-K (measured 1.1-1.2×).
    *  - q_stream_drift: the per-batch featurize + bounded merge (1.3×).
    *  - q_stream_index, q_stream_index_once, q_stream_index_pq, the
    *    vector side of q_stream_hybrid*, q_stream_maxsim_pruned* and
    *    q_stream_mmr_pruned*: these drains build a cell-clustered serving
    *    store whose fragment layout follows the partition count (probe
    *    pruning + serve parallelism, guide §6); collapsing it read the
    *    hybrid _pruned arms 1.9-2× slower per row.
    *  - q_stream_maxsim, q_stream_mmr: the store's fragment count is the
    *    serve side's scan parallelism (measured 1.2× slower).
    *  - q_stream_cdc, lance_streaming_sink: shuffle- and state-free plans
    *    that never read the count. */
  private[graft] case object SessionParts extends DrainParts

  /** Where a [[drain]] puts its rows. */
  private[graft] sealed trait DrainSink

  /** The stream's own sink (the writer's format) at `path`. */
  private[graft] final case class Into(path: String) extends DrainSink

  /** `body(batch, bid)` per micro-batch, run on the CALLER's session: the
    * batch is rebound to it and every job the body submits carries its
    * job artifact state. Spark clones the session at every `start()` and
    * roots the micro-batch on the clone; executors give each session its
    * own class loader and cache generated classes per (class loader,
    * code), so on the clone a resumed stream would recompile every class
    * at every arrival. The caller's session outlives the query, so an
    * arrival reuses the classes earlier arrivals compiled. */
  private[graft] final case class EachBatch(body: (DataFrame, Long) => Unit) extends DrainSink

  /** The one AvailableNow drain: starts the stream `writer` builds on the
    * caller's session (so listeners on its `spark.streams` see the
    * progress) with checkpoint `ckpt`, into `sink`, and waits for it. A
    * timeout stops the query and throws: falling through to read the sink
    * while the query is still writing turns a slow machine into a
    * confusing partial-snapshot failure. Under [[SizedFrom]] the conf
    * covers both start() (Spark freezes it into the stateful plan and the
    * checkpoint, so resumes stay consistent) and the drain ([[EachBatch]]
    * bodies plan their jobs against the caller's session), and is
    * restored after, on failure too. */
  private[graft] def drain(s: SparkSession, ckpt: String, parts: DrainParts)
                          (writer: => DataStreamWriter[_])(sink: DrainSink): Unit = {
    def start[T](w: DataStreamWriter[T]): StreamingQuery = sink match {
      case Into(path) => w.start(path)
      case EachBatch(body) =>
        w.foreachBatch((batch: Dataset[T], bid: Long) =>
          Shim.withResources(s)(body(Shim.ofRows(s, batch), bid))).start()
    }
    def run(): Unit = {
      val q = start(writer.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()))
      if (!q.awaitTermination(120000L)) {
        q.stop()
        throw new IllegalStateException(s"streaming query ${q.id} did not drain within 120000ms")
      }
    }
    parts match {
      case SessionParts => run()
      case SizedFrom(dirs @ _*) =>
        val pKey = "spark.sql.shuffle.partitions"
        val aKey = "spark.sql.adaptive.enabled"
        val prevP = s.conf.get(pKey)
        val prevA = s.conf.get(aKey)
        val n = sizedPartitions(s.sparkContext.hadoopConfiguration, dirs, prevP.toInt)
        val shrank = n < prevP.toLong
        s.conf.set(pKey, n.toString)
        if (shrank) s.conf.set(aKey, "false")
        try run() finally {
          s.conf.set(pKey, prevP)
          if (shrank) s.conf.set(aKey, prevA)
        }
    }
  }

  /** [[SizedFrom]]'s partition count: staged bytes under `dirs` / 32 MB,
    * clamped to [1, `sessionParts`]. */
  private[graft] def sizedPartitions(hconf: org.apache.hadoop.conf.Configuration,
                                     dirs: Seq[String], sessionParts: Int): Int = {
    val target = 32L << 20
    val bytes = stagedBytes(hconf, dirs, sessionParts * target)
    math.max(1L, math.min(sessionParts.toLong, (bytes + target - 1) / target)).toInt
  }

  /** The file bytes under `dirs`, listed until they reach `cap`: past the
    * cap the clamp decides the count, so a drain over a large staging
    * tree lists only as many files as the cap needs, not the whole tree.
    * The walk reads plain `listStatus` entries: `listFiles` builds a
    * `LocatedFileStatus` per file, which reads the file's permissions, and
    * on a local file system without the native Hadoop library that forks
    * an `ls -ld` per staged file. */
  private[graft] def stagedBytes(hconf: org.apache.hadoop.conf.Configuration,
                                 dirs: Seq[String], cap: Long): Long = {
    var bytes = 0L
    val roots = dirs.iterator
    while (bytes < cap && roots.hasNext) {
      val root = new org.apache.hadoop.fs.Path(roots.next())
      val fs = root.getFileSystem(hconf)
      val pending = scala.collection.mutable.Stack.empty[org.apache.hadoop.fs.Path]
      if (fs.exists(root)) pending.push(root)
      while (bytes < cap && pending.nonEmpty) {
        val entries = fs.listStatus(pending.pop()).iterator
        while (bytes < cap && entries.hasNext) {
          val e = entries.next()
          if (e.isDirectory) pending.push(e.getPath) else bytes += e.getLen
        }
      }
    }
    bytes
  }

  /** The schema of the parquet files staged in `srcDir` (None when it
    * holds no `part-` file): the schema `s.read.parquet(srcDir)` infers,
    * read from the first file's footer on the driver, without a job. The
    * listing is FS-routed and empty when the dir is absent. */
  private[graft] def stagedSchema(s: SparkSession, srcDir: String): Option[StructType] =
    graft.sources.lance.ManifestIO.listFileNames(srcDir, s.sparkContext.hadoopConfiguration)
      .filter(_.startsWith("part-")).sorted.headOption
      .map(f => org.apache.spark.sql.graft.Shim.parquetFileSchema(s, s"$srcDir/$f"))

  /** Tail the parquet files in `srcDir`, read as `schema`, ONE file per
    * trigger (so a dir of several files drains in several micro-batches),
    * and [[drain]] the stream `query` builds on them. */
  private def drainFiles(s: SparkSession, srcDir: String, schema: StructType,
                         ckpt: String, parts: DrainParts)
                        (query: DataFrame => DataStreamWriter[_])(sink: DrainSink): Unit =
    drain(s, ckpt, parts)(query(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)))(sink)

  /** The one staged file-stream source: stages `frame` into `srcDir` as
    * `srcParts` parquet files, then [[drainFiles]] them. A `srcDir` that
    * already holds `part-` files is a RESUME: it is not rewritten (fresh
    * part-file names would read as new data and double-ingest; callers
    * streaming new rows land them there as new files themselves) and
    * `frame` is never built. The stream's schema then comes from one staged
    * footer, projected to `cols` when given; one listing decides both. */
  private[graft] def drainStaged(s: SparkSession, srcDir: String, ckpt: String,
                                 parts: DrainParts, srcParts: Int, frame: => DataFrame,
                                 cols: Seq[String] = Nil)
                                (query: DataFrame => DataStreamWriter[_])(sink: DrainSink): Unit = {
    val schema = stagedSchema(s, srcDir) match {
      case Some(staged) => if (cols.isEmpty) staged else StructType(cols.map(staged(_)))
      case None =>
        val df = frame
        df.repartition(srcParts).write.mode("overwrite").parquet(srcDir)
        df.schema
    }
    drainFiles(s, srcDir, schema, ckpt, parts)(query)(sink)
  }

  /** The max batch id recorded in a lance state table under `col` —
    * -1 when the table is absent or empty. Answered on the DRIVER from
    * the manifest's per-fragment stats (one metadata read, ZERO Spark
    * jobs — the guards run several times per micro-batch, and even a
    * stats-answered agg query pays per-job scheduling): the max over
    * fragment maxes is exact here because state/MV fragments are
    * bid-stamped at write (stats always recorded for the lit long) and a
    * partially-deleted fragment's max stays a valid bound with its
    * single-valued bid still live. Any fragment MISSING the stat falls
    * back to the scan-side aggregate (which still answers from stats via
    * the agg pushdown when possible). */
  private[graft] def lastBidOf(s: SparkSession, path: String, colName: String = "bid"): Long =
    lastBidIn(s, path, graft.sources.lance.ManifestIO.loadLatest(path,
      s.sparkContext.hadoopConfiguration), colName)

  /** [[lastBidOf]] answered from `loaded`, the table's latest manifest as
    * the caller already read it. */
  private def lastBidIn(s: SparkSession, path: String,
                        loaded: Option[graft.sources.lance.LanceManifest],
                        colName: String = "bid"): Long =
    loaded match {
      case None => -1L
      case Some(m) =>
        val live = m.fragments.filter(_.liveRows > 0)
        if (live.isEmpty) -1L
        else {
          val maxes = live.map(_.stats.get(colName).flatMap(_.max))
          if (maxes.forall(_.isDefined))
            maxes.flatten.map {
              case org.json4s.JLong(v) => v
              case org.json4s.JInt(v) => v.toLong
              case other => throw new IllegalStateException(
                s"lastBidOf: non-integral $colName stat $other at $path")
            }.max
          else // a stats-less fragment: only the data knows its max
            s.read.format("lance").load(path).agg(max(colName)).first() match {
              case r if r.isNullAt(0) => -1L
              case r => r.getLong(0)
            }
        }
    }

  /** Write `df` tagged with `bid` into the existing lance table at `path`
    * in `mode`, skipped when the table's recorded high-water mark `lastBid`
    * already covers the bid — the per-table half of the replay guard;
    * compute the mark once per batch with [[lastBidOf]]. */
  private def guardedAppend(df: => DataFrame, path: String, bid: Long, lastBid: Long,
                            mode: String): Unit =
    if (bid > lastBid)
      df.withColumn("bid", batch_id(bid)).write.format("lance").mode(mode).save(path)

  /** The bid-guarded sink of a stateless stream: seeds `table` as the
    * empty frame `empty` when it is absent, then writes each micro-batch's
    * `rows(batch)` into it in `mode` through [[guardedAppend]].
    * foreachBatch is at-least-once, so a replayed micro-batch (its bid
    * already at or under the table's mark) is a no-op. `rows` may read
    * `table` itself: an `overwrite` view merges its own last version. */
  private def guardedSink(s: SparkSession, table: String, empty: => DataFrame,
                          mode: String = "append")(rows: DataFrame => DataFrame): DrainSink = {
    if (!tableExists(s, table)) empty.write.format("lance").save(table)
    EachBatch((batch, bid) => guardedAppend(rows(batch), table, bid, lastBidOf(s, table), mode))
  }

  /** lance → filter/project → lance: the full source→sink path. The sink
    * commit is the manifest-txn exactly-once path; the source enumerates
    * fragment deltas per micro-batch (no re-reads, no duplicates). */
  private def streamPipeline(s: SparkSession, dir: String): DataFrame = {
    val src = tmp("spipe-src"); val dst = tmp("spipe-dst"); val ckpt = tmp("spipe-ckpt")
    t(s, dir, "orders").write.format("lance").option("maxRowsPerFile", "5000").save(src)
    drain(s, ckpt, SizedFrom(src)) {
      s.readStream.format("lance").load(src)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "o_custkey", "o_orderpriority")
      .writeStream.format("lance")
      .outputMode("append")
    }(Into(dst))
    s.read.format("lance").load(dst)
      .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("sum_key"))
  }

  /** Event-time tumbling window with a watermark, drained deterministically:
    * append-mode windowed aggs only emit windows the watermark has passed,
    * so a sentinel event one day past the real maximum pushes the final
    * watermark beyond every real window (the trailing no-data micro-batch
    * then flushes them all); the sentinel's own window stays pending and is
    * filtered out. Result = exactly the batch per-hour counts. */
  private def streamWindow(s: SparkSession, dir: String): DataFrame = {
    val srcDir = tmp("swin-src"); val dst = tmp("swin-dst"); val ckpt = tmp("swin-ckpt")
    // Normalize ts to TimestampType at ingest: a pandas/pyarrow/DuckDB
    // parquet writer emits timestamp[us] with isAdjustedToUTC=false, which
    // Spark 4.x reads as TIMESTAMP_NTZ — the typed accessors/encoders below
    // would then see LocalDateTime, not java.sql.Timestamp. The session TZ
    // is UTC, so the cast is value-preserving vs the oracle's naive
    // timestamps. (Same dual-flavor acceptance as the reference source's
    // ArrowType.Timestamp mapping, LanceTypeConverter.java:157-161.)
    val ev = t(s, dir, "events").select(col("ts").cast("timestamp").as("ts"), col("value"))
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
    import s.implicits._
    Seq(Tuple2(new java.sql.Timestamp(maxTs.getTime + 86400L * 1000), 0.0))
      .toDF("ts", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain(s, ckpt, SizedFrom(srcDir)) {
      s.readStream.schema(ev.schema).parquet(srcDir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .writeStream.format("lance")
      .outputMode("append")
    }(Into(dst))
    s.read.format("lance").load(dst)
      .filter(col("w_start") <= lit(maxTs)) // drop the sentinel's window if emitted
      .orderBy("w_start")
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ------------------

  /** Per-user accumulated event times (micros) awaiting session close. */
  case class SessionAcc(tsMicros: Seq[Long])

  /** One closed session. */
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)

  private val SessionGapMicros = 6L * 3600 * 1000000 // 6 hours

  private def toMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Split sorted event times into gap-based sessions and close every
    * session the watermark has finalized. A session with last event `end`
    * is CLOSED once `end + gap <= wm`: any future on-time event has
    * `ts >= wm > end + gap`, so it cannot extend that session — emit it
    * now and forget its events. Only the open tail (sessions still within
    * `gap` of the watermark) stays in state, so a hot key holds at most
    * one open session's events instead of its full history. Returns
    * (closed sessions as (start, end, count), retained open-tail events). */
  private[graft] def closeSessions(sorted: Seq[Long], wmMicros: Long):
      (Seq[(Long, Long, Long)], Seq[Long]) = {
    if (sorted.isEmpty) return (Seq.empty, Seq.empty)
    val closed = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    val open = scala.collection.mutable.ListBuffer.empty[Long]
    var start = sorted.head
    var prev = sorted.head
    var n = 0L
    var sessionEvents = scala.collection.mutable.ListBuffer.empty[Long]
    def flush(end: Long): Unit = {
      if (end + SessionGapMicros <= wmMicros) closed += ((start, end, n))
      else open ++= sessionEvents
    }
    sorted.foreach { ts =>
      if (ts - prev > SessionGapMicros) {
        flush(prev)
        start = ts; n = 0L; sessionEvents = scala.collection.mutable.ListBuffer.empty[Long]
      }
      prev = ts; n += 1; sessionEvents += ts
    }
    flush(prev)
    (closed.toSeq, open.toSeq)
  }

  /** Gap-based custom state, incremental emission: each batch merges the
    * new event times into the retained open tail, emits every session the
    * current watermark has already closed, and keeps ONLY the open tail in
    * state (bounded by one session's events — the scale fix for hot keys).
    * An event-time timeout at lastTs + gap flushes the final session when
    * the watermark passes it. This is the `flatMapGroupsWithState` shape
    * the reference's Flink users get from keyed process functions +
    * timers. */
  private def sessionFn(key: Long, rows: Iterator[(Long, Timestamp)],
                        state: GroupState[SessionAcc]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      // watermark passed lastTs + gap: everything buffered is final
      val tss = state.get.tsMicros.sorted
      state.remove()
      val (sessions, _) = closeSessions(tss, Long.MaxValue)
      sessions.iterator.map { case (st, en, n) =>
        SessionOut(key, toTimestamp(st), toTimestamp(en), n)
      }
    } else {
      val buf = (state.getOption.map(_.tsMicros).getOrElse(Seq.empty) ++
        rows.map(r => toMicros(r._2))).sorted
      val wm = state.getCurrentWatermarkMs() * 1000L
      val (sessions, open) = closeSessions(buf, wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(SessionAcc(open))
        // open guarantees last + gap > wm, so the timeout is legal
        state.setTimeoutTimestamp(open.last / 1000L + SessionGapMicros / 1000L)
      }
      sessions.iterator.map { case (st, en, n) =>
        SessionOut(key, toTimestamp(st), toTimestamp(en), n)
      }
    }
  }

  /** Sessionization with custom keyed state: 6h-gap sessions per user via
    * flatMapGroupsWithState + event-time timeouts. The sentinel event (fake
    * user, one day late) pushes the final watermark past every real
    * timeout, so the trailing no-data batch closes and emits every
    * session; the sentinel's own timeout never fires and its state dies
    * with the drained query. Oracle = the batch lag/running-sum
    * sessionization in DuckDB. */
  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val srcDir = tmp("ssess-src"); val dst = tmp("ssess-dst"); val ckpt = tmp("ssess-ckpt")
    // ts normalized to TimestampType (see streamWindow): the .as[(Long,
    // Timestamp)] encoder below requires it, and NTZ parquet would break it.
    val ev = t(s, dir, "events").select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
    import s.implicits._
    Seq((-1L, new Timestamp(maxTs.getTime + 86400L * 1000)))
      .toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain(s, ckpt, SessionParts) {
      s.readStream.schema(ev.schema).parquet(srcDir)
      .withWatermark("ts", "0 seconds")
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionFn)
      .writeStream.format("lance")
      .outputMode("append")
    }(Into(dst))
    s.read.format("lance").load(dst)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start")
  }

  /** Streaming exact dedup — the ingestion-time form of dedup_exact: a
    * running groupBy on the content hash keeps min(doc_id) + copy count
    * per distinct text. State is ONE row per distinct hash — the
    * irreducible floor for streaming dedup (you cannot decide "seen
    * before?" with less), distributed across executors by the state-store
    * hash partitioning (RocksDB-backed at production scale).
    *
    * INCREMENTAL sink contract (the 100-TB property): update mode emits
    * only the hash groups the batch actually touched, and each batch
    * APPENDS those groups — tagged with the batch id as a generation —
    * into an h-bucketed lance state table. Per-batch sink IO is therefore
    * ∝ the batch's distinct hashes, never the accumulated corpus (the
    * complete-mode + full-overwrite alternative rewrites O(history) per
    * batch and degrades linearly with ingest age). Reads resolve
    * merge-on-read: the max-generation row per hash is current; stale
    * generations are bounded by compaction (LanceMaintenance folds a
    * bucket's fragments without breaking the bucketed layout). The batch
    * equivalence with dedup_exact IS the correctness statement. */
  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    streamDedupAt(s, t(s, dir, "documents").select(col("doc_id"), col("text")),
      tmp("sdedup-state") + "/t")

  /** The incremental-dedup pipeline over an arbitrary (doc_id, text) frame
    * with an externally-visible state path, source split count, and
    * per-batch observer — so specs and soaks can assert the incremental
    * contract directly: rows appended per batch ∝ that batch, constant as
    * history grows. Pass `srcDir0`/`ckpt0` to make the run RESUMABLE (the
    * crash-replay spec re-runs the same checkpoint after deleting its last
    * commit marker); a srcDir0 that already holds part- files is a resume
    * (see [[drainStaged]]).
    *
    * foreachBatch is at-least-once: a crash BETWEEN the state append and
    * the checkpoint commit replays the batch, which would re-append the
    * same generation. The generation itself is the high-water guard — a
    * replayed batch's bid <= max(gen) already in the state table, so the
    * append is skipped and the replay is a per-table no-op (same posture
    * as the MV/classifier refreshes). The guard costs one max(gen) read
    * per micro-batch, which the lance scan answers from manifest stats. */
  private[graft] def streamDedupAt(s: SparkSession, docs: DataFrame, state: String,
                                   srcParts: Int = 4,
                                   onBatch: (Long, Long) => Unit = (_, _) => (),
                                   srcDir0: String = null, ckpt0: String = null): DataFrame = {
    val srcDir = Option(srcDir0).getOrElse(tmp("sdedup-src"))
    val ckpt = Option(ckpt0).getOrElse(tmp("sdedup-ckpt"))
    val buckets = defaultStateBuckets(s)
    // several source files => AvailableNow really runs MULTIPLE
    // micro-batches, so the delta-append path is exercised
    drainStaged(s, srcDir, ckpt, SizedFrom(srcDir), srcParts, docs)(
      _.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .writeStream
      .outputMode("update")
    )(EachBatch { (changed, bid) => freeingBatchCheckpoints {
      val stateExists = tableExists(s, state)
      val lastGen = lastBidOf(s, state, colName = "gen")
      if (bid > lastGen) {
        // localCheckpoint: `changed` is consumed twice (observer + write);
        // without it each consumer would recompute the micro-batch plan
        val delta = CheckpointTracker.ckpt(changed.withColumn("gen", batch_id(bid)))
        onBatch(bid, delta.count())
        delta.write.format("lance")
          .option("write.bucket-by", "h")
          .option("write.bucket-count", buckets.toString)
          .mode(if (stateExists) "append" else "overwrite")
          .save(state)
      } else {
        // replayed micro-batch = state-table no-op. The batch must still
        // be DRAINED: a stateful query's state-store partitions only
        // commit when foreachBatch consumes every partition (Spark
        // validates this), so "skip" means "count, don't write".
        changed.count()
      }
    }})
    // merge-on-read: the latest generation of each touched hash group is
    // current. The window shuffles on h — the same uniform key the state
    // layout buckets by, so at scale this is bucket-local work
    val byGen = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col("gen").desc)
    s.read.format("lance").load(state)
      .withColumn("rk", row_number().over(byGen))
      .filter(col("rk") === 1)
      .select("keep_id", "n_copies", "h")
      .orderBy("keep_id")
  }

  /** Streaming NEAR-dedup — incremental MinHash-LSH of arriving documents
    * against everything seen so far, the ingestion-time form of
    * dedup_minhash_lsh (a new crawl snapshot deduped against the standing
    * corpus without rescoring it). Per micro-batch: the batch's 32 LSH
    * band keys equi-join the batch itself plus the ACCUMULATED band-key
    * index (pairs only form inside a band bucket — never all-pairs, never
    * a rescan of history text), survivors verify with exact Jaccard
    * against the accumulated shingle-set store, and the batch's own
    * keys/sets append to the two state tables. A pair is discovered
    * exactly once — in the micro-batch where its LATER member arrives —
    * so streamed pairs == the batch LSH pairs == the all-pairs oracle.
    * State is lance tables, not executor memory — and BUCKETED ones: both
    * appends hash-cluster by their probe key (band_key / doc_id) via
    * write.bucket-by, and every probe reads back through `read.buckets`
    * restricted to the buckets the BATCH's keys hash into, so per-batch
    * state IO is proportional to the batch's bucket cover, never the
    * accumulated history. The history side is further semi-joined to the
    * batch's distinct band keys (broadcast — a micro-batch is small)
    * before the hot-bucket count, so the skew guard too costs O(touched
    * buckets): a band bucket exceeding BucketCap docs (history + batch)
    * is dropped from the probe, bounding one batch's pair fan-out at
    * cap²/2 per bucket. When the cap binds, pairs discovered before a
    * bucket overflowed are kept — a recall-safe superset of the batch
    * path's drop-whole-bucket answer (a true near-dup pair collides in
    * ~all 32 bands). */
  /** Streaming state tables are hash-bucketed for restricted probes; the
    * bucket count scales with the cluster (defaultParallelism — more
    * buckets = finer per-batch probe pruning and more parallel state IO)
    * with a floor of 8 so single-core test runs still exercise a real
    * multi-bucket layout. A constant here would cap probe pruning at 1/8
    * of state on a 1000-executor cluster; deployments needing a specific
    * layout pass `buckets` explicitly. */
  private[graft] def defaultStateBuckets(s: SparkSession): Int =
    math.max(8, s.sparkContext.defaultParallelism)

  /** Auto-compaction fragment thresholds: micro-batch appends land one
    * small fragment per bucket per batch, so anything under a million
    * rows is a fold candidate; well above every per-batch fragment and
    * well below executor memory at the target row width. */
  private val CompactSmallerThan = 1L << 20
  private val CompactTarget = 4L << 20

  /** nearDedupBatch's default dst slot: the verified pairs, staged with
    * the band keys and the state and committed before them, unless the
    * dst table's mark already covers the batch. Named so callers that
    * parameterize the slot (the semantic MV) and the default share one
    * definition.
    *
    * coalesce(defaultParallelism) before the append (r21): the verified
    * frame inherits the verify join's probe-side partitioning — ONE
    * partition per history fragment in the state probe's bucket cover —
    * so without the bound each micro-batch committed one near-empty dst
    * fragment per accumulated state fragment: commit-side object-store
    * ops grew ∝ history (FsRoutingSpec's stage-2 create pin caught it
    * after the r20 candidate rewrite changed the join's planning).
    * coalesce never raises a partition count and folds into the verify
    * stage without a shuffle, so the write stays cores-wide parallel and
    * per-batch commit ops are history-flat (guide §6: output file
    * sizing; the object-store cost model pays per CREATE round trip). */
  private val appendDst: (SparkSession, DataFrame, DataFrame, String, Long, Long) => Option[DataFrame] =
    (s, verified, _, _, bid, dstBid) =>
      if (bid > dstBid) Some(verified.coalesce(s.sparkContext.defaultParallelism)) else None

  private def streamNearDedup(s: SparkSession, dir: String): DataFrame = {
    // "/t" subpaths: the datasets must NOT pre-exist (the exists() check
    // picks overwrite-vs-append), but createTempDirectory creates its dir
    streamNearDedupAt(s, dir,
      keysT = tmp("sndd-keys") + "/t", setsT = tmp("sndd-sets") + "/t")
  }

  /** Production default for the maintenance cadence on every streaming
    * entry point (r19 candidate 4, landed r18): an always-on ingest
    * stream accrues one small fragment per state table per batch, and the
    * bucket-cover probe pays 1 HEAD + 1 GET per accumulated FRAGMENT — so
    * leaving compaction opt-in means the production default is unbounded
    * FS-op growth. Every `*At` entry point now defaults
    * `compactEvery = DefaultCompactEvery` (vacuum stays opt-in: zero-grace
    * deletion is a single-writer contract the caller must accept
    * explicitly). 16 is sized so the SHORT streams the gates/specs/soaks
    * drive (4–8 micro-batches) never reach a cadence hit — their answers,
    * plans and bench walls are bit-identical to the former opt-out — while
    * any long-lived stream folds its state tables every 16 batches, which
    * the FsRoutingSpec op audit measured as ~1.4×-of-baseline probe cost
    * at the cadence floor. Explicit `compactEvery = 0` still means OFF
    * (the uncadenced twins in equivalence specs pass it deliberately). */
  private[graft] val DefaultCompactEvery = 16

  /** Run a per-micro-batch body and free every RDD the body itself
    * checkpointed. The batch bodies localCheckpoint their multiply-
    * consumed frames (band keys, states, deltas, upsert keys) through
    * [[CheckpointTracker.ckpt]], and a checkpoint's RDD lives OUTSIDE the
    * CacheManager — its blocks are otherwise freed only when the GC
    * collects the RDD object and the async ContextCleaner gets scheduled,
    * i.e. allocation-pressure-dependent timing. That lag is precisely
    * what the clusterLabels OOM of §4 demonstrated in loop form: under
    * heavy allocation the cleanup loses the race and dead checkpoints
    * pile up in the MemoryStore. The tracked sweep makes release
    * DETERMINISTIC at the batch boundary. Scope (r20, tightened): ONLY
    * frames registered by this batch's own `ckpt` calls are swept — the
    * r19 before/after diff of `getPersistentRDDs` would also free a
    * CONCURRENT query's checkpoint, and because a localCheckpoint
    * truncates lineage that is an unrecoverable block-not-found failure
    * for the other query, not a re-cache. */
  private def freeingBatchCheckpoints[T](body: => T): T =
    CheckpointTracker.freeing(body)

  /** Label the jobs a micro-batch section submits (guide §1.5) — job
    * descriptions are thread-local and foreachBatch bodies are
    * single-threaded, so the restore keeps sections properly nested.
    * Costs nothing; makes the UI (and `Bench profile`) attribute per-batch
    * wall to band/probe/verify/append instead of one opaque start(). */
  private def labeled[T](s: SparkSession, d: String)(body: => T): T =
    org.apache.spark.sql.graft.Jobs.described(s.sparkContext, d)(body)

  /** A micro-batch frame that the batch body consumes several times,
    * checkpointed LAZILY: the body's first job (the key cover) computes it
    * and keeps its blocks, so the checkpoint costs no job of its own. */
  private def batchCkpt(df: DataFrame): DataFrame =
    CheckpointTracker.ckpt(df, eager = false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One Spark job over `df`, which also computes any lazily checkpointed
    * frame under it: the bucket ids `pmod(murmur3(c), n)` of the values of
    * every column `c` of `cols` — the bucketed write's own bucket function,
    * so they are the buckets those values live in. Each partition sends at
    * most `n` ids to the driver. The job runs through `Jobs.cover`, so
    * Spark cleans one closure, declared in a small class. */
  private def bucketCover(df: DataFrame, cols: Seq[String], n: Int): Seq[Int] =
    org.apache.spark.sql.graft.Jobs.cover(org.apache.spark.sql.graft.Shim.toRdd(
      df.select(cols.map(c => pmod(hash(col(c)), lit(n))): _*)), n)

  /** The shared streaming near-dedup micro-batch body — ONE implementation
    * of the guard → bucket-cover probe → capped candidates → verify →
    * ordered commits skeleton the text, image, video and embedding twins
    * all run (they differ only in how a batch becomes (band keys,
    * exact-verify state) and in the exact verification itself).
    *
    * A text batch that probes history runs 6 Spark jobs (a twin whose
    * verify or dst slot runs jobs of its own adds those):
    *  1. one pass over the batch: `bandAndState`'s checkpoint (the band
    *     keys are a projection of it) fills as the job collects the batch
    *     band keys' bucket cover;
    *  2. the broadcast of the batch's band keys, which the key history
    *     probe, restricted to that cover, semi-joins;
    *  3. the capped candidates: the job checkpoints them and collects the
    *     state bucket cover of their endpoints;
    *  4. the verify's broadcasts (two for the pairs twins);
    *  5. ONE staging job writes the verified pairs, the batch's band keys
    *     and its state into their three tables.
    *
    * Contract, maintained here so no copy can drift:
    *  - per-TABLE batch-id high-water guards: foreachBatch is
    *    at-least-once and this body writes THREE tables — a crash between
    *    any commit and the checkpoint commit replays the batch, and each
    *    table must skip what it already holds (re-appended band keys /
    *    verify state would inflate state and double-feed later batches'
    *    probes). Each table's manifest is loaded ONCE per batch: it answers
    *    the mark (see [[lastBidOf]]), whether history exists, and the
    *    append's schema check, and its commit starts from it. A
    *    fully-applied replay skips the whole batch.
    *  - history probes are `read.buckets`-restricted to the BATCH's
    *    bucket cover (IO ∝ batch, not accumulated history), candidates
    *    form only inside shared (band_idx, band_key) buckets, and the
    *    skew cap runs over batch-relevant buckets only (history rows for
    *    non-batch band keys can't form candidates).
    *  - ORDERING INVARIANT: dst (verified pairs) commits first, then the
    *    band keys, then the state. A crash between the dst and keysT
    *    commits replays with dst already holding the batch's pairs, so the
    *    replay skips the pair write — reversed, the replay would recompute
    *    pairs against a history that now contains the batch itself
    *    (double-fed skew counts, possible missed/extra pairs). A commit
    *    that fails deletes its own staged fragments and those of the
    *    tables after it; the replay stages them again.
    *
    * `bandAndState` maps a micro-batch to its (band keys (doc_id,
    * band_idx, band_key), exact-verify state keyed by doc_id); whatever
    * both read more than once it checkpoints with [[batchCkpt]].
    * `verify(cand, allState)` turns capped candidate pairs + the
    * batch∪history state into verified pair rows. `writeDst` fills the
    * dst slot: it returns the rows to stage with the keys and the state
    * ([[appendDst]]), or writes dst itself, before them, and returns None
    * (the semantic MV's atomic upsert). */
  private def nearDedupBatch(s: SparkSession,
      dst: String, keysT: String, stateT: String,
      stateBuckets: Int, bucketCap: Int,
      bandAndState: DataFrame => (DataFrame, DataFrame),
      verify: (DataFrame, DataFrame) => DataFrame,
      compactEvery: Int, vacuumOnCompact: Boolean,
      writeDst: (SparkSession, DataFrame, DataFrame, String, Long, Long) => Option[DataFrame])
      (batch: DataFrame, bid: Long): Unit =
      freeingBatchCheckpoints {
    val conf = s.sparkContext.hadoopConfiguration
    val Seq(dstM, keysM, stateM) =
      Seq(dst, keysT, stateT).map(graft.sources.lance.ManifestIO.loadLatest(_, conf))
    val dstBid = lastBidIn(s, dst, dstM)
    val keysBid = lastBidIn(s, keysT, keysM)
    val stateBid = lastBidIn(s, stateT, stateM)
    val fullyApplied = bid <= dstBid && bid <= keysBid && bid <= stateBid
    if (!fullyApplied) {
      val (bk, st) = labeled(s, "graft:ndd:band+state")(bandAndState(batch))
      // the batch's bucket cover — ≤ stateBuckets ints, same hash the
      // bucketed write used (partitionId = pmod(murmur3(key), N))
      val keyBuckets = labeled(s, "graft:ndd:band+key-cover")(
        bucketCover(bk, Seq("band_key"), stateBuckets))
      val histKeys =
        if (keysM.isDefined && keyBuckets.nonEmpty)
          s.read.format("lance")
            .option("read.buckets", keyBuckets.mkString(","))
            .load(keysT)
            .join(broadcast(bk.select("band_idx", "band_key")), Seq("band_idx", "band_key"),
              "left_semi")
        else bk.limit(0)
      val allKeys = bk.unionByName(histKeys.select("doc_id", "band_idx", "band_key"))
      // candidate generation (r20): for CAPPED families, ONE grouped
      // aggregation replaces the former count-agg + semi-join + history
      // join + normalization (2 exchanges + 2 joins per micro-batch,
      // measured as the largest per-batch section at 6-7 jobs): two
      // bounded capped_sorted_list aggs per bucket (whole bucket +
      // batch-side subset; state ≤ 2(cap+1) ids) and the batch_list_pairs
      // generator emit exactly the former pair set — x∈batch × y∈all,
      // x≠y, least/greatest-normalized, buckets over the cap dropped
      // (capped list NULLs, the same posture as the count filter; spec'd
      // equal on both paths). The UNCAPPED semantic family keeps the join
      // shape: collecting an unbounded cell into one aggregation row is
      // the memory hazard the chunked join exists to avoid.
      val cand = labeled(s, "graft:ndd:candidates")(batchCkpt(
        if (bucketCap < Int.MaxValue)
          bk.withColumn("f", lit(true))
            .unionByName(histKeys.select("doc_id", "band_idx", "band_key")
              .withColumn("f", lit(false)))
            .groupBy("band_idx", "band_key")
            .agg(graft.functions.capped_sorted_list(col("doc_id"), bucketCap).as("all_ids"),
              graft.functions.capped_sorted_list(
                when(col("f"), col("doc_id")), bucketCap).as("batch_ids"))
            .filter(col("all_ids").isNotNull && size(col("all_ids")) >= 2 &&
              size(col("batch_ids")) >= 1)
            .select(graft.functions.batch_list_pairs(col("all_ids"), col("batch_ids")))
            .distinct()
        else {
          // Int.MaxValue cap (the uncapped semantic family): the former
          // bucket count-agg + semi-join would filter nothing — elided
          // (one exchange + one join less per micro-batch, r20; the dead
          // finite-cap arm that sat here was removed r21 — finite caps
          // take the grouped-aggregation branch above).
          bk.select(col("band_idx"), col("band_key"), col("doc_id").as("x"))
            .join(allKeys.select(col("band_idx"), col("band_key"), col("doc_id").as("y")),
              Seq("band_idx", "band_key"))
            .filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("a_id"),
              greatest(col("x"), col("y")).as("b_id"))
            .distinct()
        }))
      // exact-verify state probe, same bucket discipline on doc_id
      val stBuckets = labeled(s, "graft:ndd:candidates+state-cover")(
        bucketCover(cand, Seq("a_id", "b_id"), stateBuckets))
      val histState =
        if (keysM.isDefined && stBuckets.nonEmpty)
          s.read.format("lance")
            .option("read.buckets", stBuckets.mkString(","))
            .load(stateT)
        else st.limit(0)
      val verified = verify(cand,
        st.unionByName(histState.select(st.columns.map(col).toSeq: _*)))
      val dstRows = labeled(s, "graft:ndd:verify+dst")(writeDst(s, verified, st, dst, bid, dstBid))
      def bucketed(c: String) =
        Map("write.bucket-by" -> c, "write.bucket-count" -> stateBuckets.toString)
      val saves = Seq(
        dstRows.map(rows => (dst, rows, Map.empty[String, String], dstM)),
        Option.when(bid > keysBid)((keysT, bk, bucketed("band_key"), keysM)),
        Option.when(bid > stateBid)((stateT, st, bucketed("doc_id"), stateM))).flatten
      if (saves.nonEmpty)
        labeled(s, "graft:ndd:stage+commit")(graft.sources.lance.LanceBatchSave.saveAll(s,
          saves.map { case (t, rows, opts, m) =>
            graft.sources.lance.LanceBatchSave.plan(s, rows.withColumn("bid", batch_id(bid)), t,
              opts, m, append = m.isDefined)
          }))
      // MAINTENANCE CADENCE (r17, from the object-store op audit): probe
      // read ops grow with accumulated state FRAGMENTS (1 HEAD + 1 GET
      // each), not bytes — folding small fragments every `compactEvery`
      // batches keeps per-batch FS round trips flat. Within the guarded
      // block: a fully-applied replay skips it (no churn on no-op
      // batches); a crash between append and checkpoint just defers the
      // fold to the next cadence hit — compaction is a cadence, not a
      // correctness contract (the mid-stream compaction spec proves
      // probes/guards/answers survive it at ANY point). Within-bucket
      // folds only, so the read.buckets layout is preserved.
      // `vacuumOnCompact` additionally drops superseded fragments and
      // old manifest versions right after each fold (retain 1, zero
      // grace). Safe HERE because the streaming query is the state
      // tables' only writer and batches are sequential — nothing stages
      // fragments concurrently and every kept-version fragment survives
      // by construction. It trades state-table time travel for a
      // storage/LIST footprint that stays ∝ live state instead of
      // ∝ stream history. Do NOT reach for it on shared tables; there
      // the graceful `CALL system.vacuum` posture applies.
      if (compactEvery > 0 && bid > 0 && bid % compactEvery == 0)
        labeled(s, "graft:ndd:compact")(Seq(dst, keysT, stateT).foreach { t =>
          if (tableExists(s, t)) {
            graft.sources.lance.LanceMaintenance.compact(
              s, t, CompactSmallerThan, CompactTarget)
            if (vacuumOnCompact) {
              // the single-writer contract, enforceable form: loud in the
              // driver log ONCE per table at first arm, not buried in a
              // comment — zero-grace vacuum deletes superseded fragments
              // a concurrent reader snapshot may still reference
              warnZeroGraceVacuum(t)
              graft.sources.lance.LanceMaintenance.vacuum(
                s, t, retainVersions = 1, graceMs = 0L)
            }
          }
        })
    }
    ()
  }

  /** The one near-dup family scaffold behind the text, signature, video
    * and embedding streams: resolves the source dir, checkpoint and dst
    * (fresh temp dirs named by `prefix` unless given), runs `seed(source,
    * dst)`, stages `source` with [[drainStaged]] (a resume never builds
    * it), drains every micro-batch through [[nearDedupBatch]] and returns
    * `finalRead(dst)`. `parts` picks the drain's partitioning from the
    * source dir; `buckets <= 0` derives the state bucket count from the
    * cluster. */
  private def nearDedupStream(s: SparkSession, prefix: String, source: => DataFrame,
      parts: String => DrainParts, keysT: String, stateT: String, srcParts: Int,
      srcDir0: String, ckpt0: String, dst0: String,
      compactEvery: Int, vacuumOnCompact: Boolean, bucketCap: Int,
      bandAndState: DataFrame => (DataFrame, DataFrame),
      verify: (DataFrame, DataFrame) => DataFrame,
      finalRead: String => DataFrame,
      buckets: Int = 0, cols: Seq[String] = Nil,
      seed: (=> DataFrame, String) => Unit = (_, _) => (),
      writeDst: (SparkSession, DataFrame, DataFrame, String, Long, Long) => Option[DataFrame] =
        appendDst): DataFrame = {
    val srcDir = Option(srcDir0).getOrElse(tmp(s"$prefix-src"))
    val dst = Option(dst0).getOrElse(tmp(s"$prefix-out") + "/t")
    val stateBuckets = if (buckets > 0) buckets else defaultStateBuckets(s)
    lazy val src = source // built at most once: only to stage or to seed
    seed(src, dst)
    drainStaged(s, srcDir, Option(ckpt0).getOrElse(tmp(s"$prefix-ckpt")), parts(srcDir),
      srcParts, src, cols)(_.writeStream)(EachBatch(nearDedupBatch(s, dst, keysT, stateT,
      stateBuckets, bucketCap, bandAndState, verify, compactEvery, vacuumOnCompact, writeDst) _))
    finalRead(dst)
  }

  /** The near-dedup pipeline with externally-visible state-table paths
    * (so specs can verify the bucket-tagged state layout the restricted
    * probes depend on), a configurable micro-batch count (so soaks can
    * watch per-batch cost against growing history), and an overridable
    * state bucket count (`buckets <= 0` derives it from the cluster).
    * A resumed arrival lists `srcDir0` once, reads (doc_id, text) by one
    * staged footer's schema and never reads the documents table. */
  private[graft] def streamNearDedupAt(s: SparkSession, dir: String,
                                       keysT: String, setsT: String,
                                       srcParts: Int = 4,
                                       buckets: Int = 0,
                                       srcDir0: String = null, ckpt0: String = null,
                                       dst0: String = null,
                                       compactEvery: Int = DefaultCompactEvery,
                                       vacuumOnCompact: Boolean = false): DataFrame =
    nearDedupStream(s, "sndd", t(s, dir, "documents").select(col("doc_id"), col("text")),
      SizedFrom(_), keysT, setsT, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, Dedup.BucketCap,
      bandAndState = b => {
        // ONE pass: the band keys are a projection of the checkpointed
        // shingle sets, which the verify reads as the batch's state
        val sets = batchCkpt(Dedup.shingleSets(b))
        (Dedup.shingleBandKeys(sets), sets)
      },
      verify = Dedup.verifyJaccard,
      // batch-vs-batch finds each same-batch pair from both sides' band
      // keys; cross-batch pairs are found once (later member's batch)
      finalRead = dst => s.read.format("lance").load(dst)
        .select("a_id", "b_id", "jaccard").distinct().orderBy("a_id", "b_id"),
      buckets = buckets, cols = Seq("doc_id", "text"))

  /** Streaming IMAGE near-dedup — the image twin of q_stream_neardedup:
    * arriving image payloads dedup against everything seen so far without
    * re-decoding or re-banding history. Per micro-batch: decode the
    * batch's images to 128-bit dHash signatures (the mm_image_dedup map),
    * probe the ACCUMULATED band-key state table through `read.buckets`
    * restricted to the batch's bucket cover, form candidates only inside
    * shared (band_idx, band_key) buckets (capped — never all-pairs, never
    * a rescan of history pixels), verify with exact hamming against the
    * accumulated 16-byte signature store (probed by doc_id buckets), and
    * append the batch's keys/signatures/verified pairs — each table
    * guarded by its own bid high-water mark (per-table idempotent under
    * at-least-once replay). A pair is discovered exactly once, in the
    * later member's batch, so while no band bucket crosses ImgBucketCap
    * the streamed pairs == mm_image_dedup's batch answer row-for-row
    * (the spec's correctness statement). When a bucket DOES tip over the
    * cap mid-stream, the capped posture is the text twin's: the batch
    * that overflows is dropped from that bucket, pairs discovered in
    * earlier batches are KEPT — a recall-safe superset of the single-shot
    * batch answer, which drops the whole overflowing bucket (spec'd with
    * a 300-identical-image corpus). */
  private def streamImageDedup(s: SparkSession, dir: String): DataFrame =
    streamImageDedupAt(s, dir,
      keysT = tmp("simg-keys") + "/t", sigsT = tmp("simg-sigs") + "/t")

  private[graft] def streamImageDedupAt(s: SparkSession, dir: String,
                                        keysT: String, sigsT: String,
                                        srcParts: Int = 4,
                                        srcDir0: String = null, ckpt0: String = null,
                                        dst0: String = null,
                                        compactEvery: Int = DefaultCompactEvery,
                                        vacuumOnCompact: Boolean = false): DataFrame =
    streamSigDedupAt(s,
      s.read.parquet(Multimodal.imageFixture(s, dir)).toDF("doc_id", "image"),
      keysT, sigsT, Multimodal.decodeSigs,
      srcParts, srcDir0, ckpt0, dst0, prefix = "simg",
      compactEvery = compactEvery, vacuumOnCompact = vacuumOnCompact)

  /** Streaming AUDIO near-dedup — the audio member of the family:
    * arriving WAV payloads fingerprint (gain-invariant energy deltas,
    * Multimodal.audioFingerprint) and dedup against everything seen so
    * far through the identical banded/guarded pipeline. Only the decode
    * differs from the image twin; streamed == mm_audio_dedup row-for-row
    * is the correctness statement (spec'd). */
  private def streamAudioDedup(s: SparkSession, dir: String): DataFrame =
    streamSigDedupAt(s,
      s.read.parquet(Multimodal.audioFixture(s, dir)).toDF("doc_id", "audio"),
      keysT = tmp("saud-keys") + "/t", sigsT = tmp("saud-sigs") + "/t",
      decode = Multimodal.decodeAudioSigs, prefix = "saud")

  /** Streaming VIDEO near-dedup — the fifth member of the family:
    * arriving clips dedup against everything seen so far under
    * mm_video_dedup's positional-alignment contract. Video does NOT ride
    * [[streamSigDedupAt]] verbatim (that body assumes ONE signature row
    * per doc); the per-frame state rides [[nearDedupBatch]] directly with
    * two video-shaped pieces:
    *  - band keys fold the frame position INTO the key: band_key' =
    *    frame_idx·2¹⁶ + band_key (band values are 16-bit, so the fold is
    *    collision-free) — a (band_idx, band_key') bucket IS the batch
    *    operator's (frame_idx, band_idx, band_key) positional bucket, so
    *    the bucket-cover probe, the skew cap and the capped-posture
    *    semantics all apply per aligned frame position unchanged;
    *  - the exact-verify state keeps one row PER SAMPLED FRAME
    *    (doc_id, frame_idx, sig_h, sig_v); the state probe's doc_id
    *    bucket restriction is row-count-agnostic (every frame of a doc
    *    hashes to the doc's bucket), so a candidate pair reaches BOTH
    *    sides' full frame sets and the verify is the batch operator's
    *    [[Multimodal.videoVerifyPairs]] tail verbatim — matched aligned
    *    frames ratioed against the shorter side's decodable frames.
    * While no positional band bucket crosses ImgBucketCap the streamed
    * pairs == mm_video_dedup row-for-row (spec'd); an over-cap bucket
    * drops the tipping batch's contribution, keeping earlier pairs — the
    * family's recall-safe capped posture. Per-batch cost: one decode map
    * over the batch's clips + bucket-cover probes ∝ batch frames. */
  private def streamVideoDedup(s: SparkSession, dir: String): DataFrame =
    streamVideoDedupAt(s, dir,
      keysT = tmp("svid-keys") + "/t", framesT = tmp("svid-frames") + "/t")

  private[graft] def streamVideoDedupAt(s: SparkSession, dir: String,
                                        keysT: String, framesT: String,
                                        srcParts: Int = 4,
                                        srcDir0: String = null, ckpt0: String = null,
                                        dst0: String = null,
                                        compactEvery: Int = DefaultCompactEvery,
                                        vacuumOnCompact: Boolean = false): DataFrame =
    nearDedupStream(s, "svid",
      s.read.parquet(Multimodal.videoFixture(s, dir)).toDF("doc_id", "video"),
      SizedFrom(_), keysT, framesT, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, Multimodal.ImgBucketCap,
      bandAndState = b => {
        // ONE decode pass feeds both views (frames are consumed by the
        // banding here and 3× by the verify tail); the banding is a
        // narrow projection of the checkpointed frames — no second
        // eager materialization job per micro-batch (r20)
        val frames = batchCkpt(Multimodal.decodeVideoFrameSigs(s, b))
        val bk = Multimodal.imgBandKeys(frames, carry = Seq("doc_id", "frame_idx"))
          .select(col("doc_id"), col("band_idx"),
            (col("frame_idx") * lit(65536L) + col("band_key")).as("band_key"))
        (bk, frames)
      },
      verify = (cand, allFrames) =>
        Multimodal.videoVerifyPairs(cand, CheckpointTracker.ckpt(allFrames)),
      finalRead = dst => s.read.format("lance").load(dst)
        .select("a_id", "b_id", "n_matched", "match_ratio")
        .distinct().orderBy("a_id", "b_id"))

  /** Streaming EMBEDDING near-dup — the fourth member of the family:
    * arriving vectors dedup against everything seen so far under
    * dedup_embedding's EXACT contract (cosine ≥ τ within the coarse
    * cluster id). The cluster id IS the band key (band_idx = 0): RHP-LSH
    * cannot sub-bucket at τ = 0.4 without changing the answer (see
    * Dedup.embeddingPairs), so the history probe is the label bucket
    * cover and verification is the exact cosine against the accumulated
    * vector store — the identical guard/probe/cap/append skeleton, only
    * (bandAndState, verify) differ. While no label cell crosses
    * [[EmbStreamCap]] the streamed pairs == dedup_embedding row-for-row
    * (gated on the SAME full SQL oracle); an over-cap cell drops the
    * overflowing batch's contribution — the recall-safe capped posture
    * the text/image/audio twins share (the batch operator CHUNKS such a
    * cell instead, so the cap sits comfortably above the densest fixture
    * cell: 218 at sf0.1). */
  private[graft] val EmbStreamCap = 1024

  private def streamEmbeddingDedup(s: SparkSession, dir: String): DataFrame =
    streamEmbeddingDedupAt(s, dir,
      keysT = tmp("semb-keys") + "/t", vecsT = tmp("semb-vecs") + "/t")

  private[graft] def streamEmbeddingDedupAt(s: SparkSession, dir: String,
      keysT: String, vecsT: String,
      srcParts: Int = 4,
      srcDir0: String = null, ckpt0: String = null,
      dst0: String = null,
      compactEvery: Int = DefaultCompactEvery,
      vacuumOnCompact: Boolean = false): DataFrame =
    streamEmbFamilyAt(s, dir, keysT, vecsT, prefix = "semb",
      bucketCap = EmbStreamCap, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, survivorView = false,
      finalRead = dst => s.read.format("lance").load(dst)
        .select("a_id", "b_id", "label", "cos").distinct().orderBy("a_id", "b_id"))

  /** The embedding members of [[nearDedupStream]]: the pairs twin and the
    * semantic MVs differ ONLY in (cap, the dst slot, the final read).
    * `survivorView` swaps the dst append for the survivor view, seeded
    * empty before the stream (REPLACE WHERE needs a standing table; the
    * q_stream_mv_window pattern) and upserted by [[semanticMvUpsert]].
    * `assign` maps a source micro-batch to (vec_id, label, embedding):
    * identity keeps the fixture label as the cell; the TRAINED twin
    * replaces it with the frozen-centroid NearestCell assignment. */
  private def streamEmbFamilyAt(s: SparkSession, dir: String,
      keysT: String, vecsT: String, prefix: String,
      bucketCap: Int,
      srcParts: Int, srcDir0: String, ckpt0: String, dst0: String,
      compactEvery: Int, vacuumOnCompact: Boolean, survivorView: Boolean,
      finalRead: String => DataFrame,
      assign: DataFrame => DataFrame = identity): DataFrame =
    nearDedupStream(s, prefix, t(s, dir, "embeddings").select("vec_id", "label", "embedding"),
      _ => SessionParts, keysT, vecsT, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, bucketCap,
      bandAndState = b => {
        val bb = batchCkpt(assign(b)) // one read feeds both views
        // both views are narrow projections of the checkpointed bb — no
        // second eager materialization job per micro-batch (r20)
        (bb.select(col("vec_id").as("doc_id"), lit(0).as("band_idx"),
            col("label").as("band_key")),
          bb.select(col("vec_id").as("doc_id"), col("label"), col("embedding")))
      },
      verify = cosineVerify,
      finalRead = finalRead,
      seed = (src, survT) =>
        if (survivorView && !tableExists(s, survT))
          src.select(col("vec_id"), col("label"))
            .withColumn("lbl", col("vec_id")).withColumn("bid", lit(-1L))
            .limit(0).write.format("lance").save(survT),
      writeDst = if (survivorView) semanticMvUpsert else appendDst)

  /** Streaming SemDeDup — dedup_semantic maintained as an INCREMENTAL
    * materialized view, with EXACT batch equality at every stream end:
    * connected components only ever MERGE as pairs arrive (an edge can
    * join two components, never split one), so the transitive closure of
    * the pairs seen so far is order-independent — after the last batch
    * the labels equal the batch operator's closure and the survivor view
    * (vec_id == component min) equals dedup_semantic row-for-row, gated
    * on the SAME full SQL oracle. No contract compromise: a later bridge
    * vector that merges two standing groups RETRACTS the losing
    * representative, which an append-only sink cannot express — the view
    * therefore updates by the q_stream_mv_window upsert shape: per batch,
    * ONE atomic REPLACE WHERE (`lbl IN touched-components`) rewrites
    * exactly the components the batch's pairs touch and inserts the
    * batch's vectors; everything else is untouched. Per-batch cost ∝
    * touched components (reads prune by `vec_id IN`/`lbl IN` against
    * fragment stats), never ∝ the accumulated view. Pair discovery rides
    * the embedding twin's body verbatim — this key only swaps the dst
    * append for the labels upsert (same ordering-invariant slot, same
    * bid guard, atomic so a crash replay skips or redoes it whole). */
  private def streamSemantic(s: SparkSession, dir: String): DataFrame =
    streamSemanticAt(s, dir,
      keysT = tmp("ssem-keys") + "/t", vecsT = tmp("ssem-vecs") + "/t")

  private[graft] def streamSemanticAt(s: SparkSession, dir: String,
      keysT: String, vecsT: String,
      srcParts: Int = 4,
      srcDir0: String = null, ckpt0: String = null,
      dst0: String = null,
      compactEvery: Int = DefaultCompactEvery,
      vacuumOnCompact: Boolean = false): DataFrame =
    // NO bucket cap (Int.MaxValue), deliberately unlike the pairs twin:
    // a capped cell drops pairs, and for a CLOSURE a dropped pair is not
    // recall-safe — components that should merge never do and the view
    // silently diverges from the batch answer. Exactness costs what the
    // batch operator pays: per-batch candidate fan-out ∝ batch-cell ×
    // accumulated-cell, bounded by the SAME deployment knob as
    // dedup_embedding/dedup_semantic (cells sized ∝ corpus — fixed
    // target vectors per cell keeps per-cell work constant).
    //
    // The maintenance cadence (compactEvery/vacuumOnCompact) applies to
    // the SURVIVOR VIEW too: the upsert writes one coalesce(1) fragment
    // + one manifest version per batch, so without the cadence the view's
    // fragment/manifest history — and hence the `vec_id IN`/`lbl IN`
    // probe's per-fragment HEAD+GET cost — accrues ∝ stream length.
    // Folding is answer-identical (REPLACE WHERE is predicate-based, not
    // fragment-addressed) and replay-safe for the same reason as the
    // state tables: the upsert's bid guard skips replays whole.
    streamEmbFamilyAt(s, dir, keysT, vecsT, prefix = "ssem",
      bucketCap = Int.MaxValue, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, survivorView = true,
      finalRead = survT => s.read.format("lance").load(survT)
        .filter(col("vec_id") === col("lbl"))
        .select("vec_id", "label").orderBy("vec_id"))

  /** Streaming TRAINED-CELL SemDeDup — q_stream_semantic with the cell
    * assignment coming from a BUILT IVF index instead of the fixture
    * label (the streaming face of dedup_semantic_trained, r18): the
    * session's persisted index is built (or reused) BEFORE the stream
    * starts — the q_stream_index_once posture — and every micro-batch
    * assigns its vectors to the nearest FROZEN stored centroid with the
    * codegen'd NearestCell projection; everything downstream (uncapped
    * cell probe, exact cosine verify, touched-component atomic upsert) is
    * streamSemanticAt verbatim. End-of-stream view == dedup_semantic_
    * trained row-for-row (components only merge — the same closure
    * argument as the fixture twin), gated on the SAME centroid-literal
    * oracle. Drift is CALL system.reindex's job, off the ingest path. */
  private def streamSemanticTrained(s: SparkSession, dir: String): DataFrame =
    streamSemanticTrainedAt(s, dir,
      keysT = tmp("sstr-keys") + "/t", vecsT = tmp("sstr-vecs") + "/t")

  private[graft] def streamSemanticTrainedAt(s: SparkSession, dir: String,
      keysT: String, vecsT: String,
      srcParts: Int = 4,
      srcDir0: String = null, ckpt0: String = null,
      dst0: String = null,
      compactEvery: Int = DefaultCompactEvery,
      vacuumOnCompact: Boolean = false): DataFrame = {
    val idx = Dedup.trainedSemIndex(s, dir)
    val cents = IndexBuild.load(s, idx.root).centroids.map(_.toArray)
    Dedup.TrainedSemOracle.record("q_stream_semantic_trained", cents)
    val dim = cents.head.length
    val flat = cents.flatten
    streamEmbFamilyAt(s, dir, keysT, vecsT, prefix = "sstr",
      bucketCap = Int.MaxValue, srcParts, srcDir0, ckpt0, dst0,
      compactEvery, vacuumOnCompact, survivorView = true,
      finalRead = survT => s.read.format("lance").load(survT)
        .filter(col("vec_id") === col("lbl"))
        .select(col("vec_id"), col("label").cast("long").as("cell"))
        .orderBy("vec_id"),
      assign = b => b.select(col("vec_id"),
        graft.functions.nearest_cell(col("embedding"), flat, cents.length, dim)
          .as("label"),
        col("embedding")))
  }

  /** The labels upsert behind [[streamSemanticAt]] — runs in
    * nearDedupBatch's dst slot (before the keys/state appends, bid
    * guarded). Rebuilds labels ONLY for the components the batch's pairs
    * touch: current labels of the pair endpoints → members of those
    * components → local closure over (new pairs ∪ member→representative
    * edges) via the shared min-label propagation → one atomic
    * REPLACE WHERE on `lbl IN touched` (plus the batch's new rows).
    * Touched-component ids and pair endpoints collect to the driver.
    * The REAL bound on those lists is the deployment cell-sizing knob,
    * NOT the pairs twin's bucket cap: streamSemanticAt deliberately runs
    * uncapped (a dropped pair breaks closure exactness), so on a
    * duplicate-heavy cell the batch's verified pairs — and hence these
    * collects and the `isin`/`In` literal lists — grow with batch-cell ×
    * accumulated-cell. Cells sized ∝ corpus (fixed target vectors per
    * cell) keep that product small; [[MvCollectCap]] is the loud
    * fail-fast if a deployment gets the sizing wrong — a diagnosed abort
    * beats a silent driver OOM or a megabyte In-list in every probe. */
  private def semanticMvUpsert(s: SparkSession, pairs: DataFrame, st: DataFrame,
                               survT: String, bid: Long, survBid: Long): Option[DataFrame] = {
    if (bid <= survBid) return None // the atomic upsert already committed
    val batchVecs = st.select(col("doc_id").as("vec_id"), col("label"))
    val p = CheckpointTracker.ckpt(pairs.select("a_id", "b_id"))
    // r20 job-count optimization (measured: this section ran 12-13 jobs
    // per micro-batch and carried ~40% of q_stream_semantic's wall): when
    // the batch's pairs AND the touched components' membership are both
    // driver-sized — the common case under sane cell sizing — endpoints,
    // touched ids, the closure and the member relabel all compute LOCALLY
    // from three bounded collects, and the only distributed work left is
    // relabeling the batch itself against the broadcast local label map
    // plus the one upsert write. Over either bound the former DataFrame
    // tail runs unchanged. Answers are identical: the closure is
    // [[Dedup.localLabels]] (== the distributed propagation, spec'd), and
    // relabel-then-union == union-then-relabel per vec_id.
    val pHead = p.limit(EdgeLocalCap.toInt + 1).collect()
    val pLocal = pHead.length <= EdgeLocalCap
    // the cap is enforced BY the collect (limit cap+1), never after it —
    // an oversized cell must abort with the diagnostic below, not OOM the
    // driver materializing the very list the cap exists to bound
    val nodeIds =
      if (pLocal) pHead.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      else p.select(col("a_id").as("v"))
        .union(p.select(col("b_id").as("v"))).distinct()
        .limit(MvCollectCap + 1)
        .collect().map(_.getLong(0))
    require(nodeIds.length <= MvCollectCap,
      s"semantic MV batch touches > $MvCollectCap distinct pair endpoints: " +
        "a cell is oversized for the incremental view — resize cells " +
        "(fixed target vectors per cell, cells ∝ corpus) or run the batch " +
        "operator; failing fast instead of OOMing the driver")
    val surv = s.read.format("lance").load(survT)
    val touched =
      if (nodeIds.isEmpty) Array.empty[Long]
      else surv.filter(col("vec_id").isin(nodeIds.toSeq: _*))
        .select("lbl").distinct()
        .limit(MvCollectCap + 1)
        .collect().map(_.getLong(0))
    require(touched.length <= MvCollectCap,
      s"semantic MV batch touches > $MvCollectCap standing components: " +
        "resize cells or run the batch operator")
    val memberCols = Seq("vec_id", "label", "lbl")
    val memberRows: Array[org.apache.spark.sql.Row] =
      if (!pLocal || touched.isEmpty) Array.empty
      else surv.filter(col("lbl").isin(touched.toSeq: _*))
        .select(memberCols.map(col).toSeq: _*)
        .limit(EdgeLocalCap.toInt + 1).collect()
    val rows = if (pLocal && memberRows.length <= EdgeLocalCap) {
      // ---- fully-local relabel: 3 bounded collects + 1 write ----
      val edges = pHead.map(r => (r.getLong(0), r.getLong(1))) ++
        memberRows.iterator.filter(r => r.getLong(0) != r.getLong(2))
          .map(r => (r.getLong(0), r.getLong(2)))
      val lblOf: Map[Long, Long] =
        if (edges.isEmpty) Map.empty else Dedup.localLabels(edges).toMap
      val memberSchema = StructType(
        surv.select(memberCols.map(col).toSeq: _*).schema)
      val memberDf = s.createDataFrame(
        java.util.Arrays.asList(memberRows.map { r =>
          val v = r.getLong(0)
          org.apache.spark.sql.Row(v, r.get(1), lblOf.getOrElse(v, v))
        }: _*), memberSchema)
      val lblDf = s.createDataFrame(
        java.util.Arrays.asList(lblOf.toSeq.map {
          case (n, l) => org.apache.spark.sql.Row(n, l) }: _*),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("new_lbl",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val batchRelabeled = batchVecs
        .join(broadcast(lblDf), Seq("vec_id"), "left")
        .withColumn("lbl", coalesce(col("new_lbl"), col("vec_id")))
        .select(memberCols.map(col).toSeq: _*)
      memberDf.unionByName(batchRelabeled).dropDuplicates("vec_id")
    } else {
      // ---- over-bound fallback: the former DataFrame tail, unchanged ----
      val members =
        if (touched.isEmpty) surv.limit(0).select("vec_id", "label", "lbl")
        else CheckpointTracker.ckpt(surv.filter(col("lbl").isin(touched.toSeq: _*))
          .select("vec_id", "label", "lbl"))
      val nodesAll = members.select("vec_id", "label")
        .unionByName(batchVecs).dropDuplicates("vec_id")
      val relabeled =
        if (nodeIds.isEmpty && touched.isEmpty)
          nodesAll.withColumn("lbl", col("vec_id")) // singleton-only batch
        else {
          // member→representative edges keep standing components connected
          // through the closure even where no new pair touches them
          val edges = p.unionByName(members.filter(col("vec_id") =!= col("lbl"))
            .select(col("vec_id").as("a_id"), col("lbl").as("b_id")))
          val labels = closeLabels(s, edges, EdgeLocalCap)
          nodesAll
            .join(labels.select(col("node").as("vec_id"), col("lbl")), Seq("vec_id"), "left")
            .withColumn("lbl", coalesce(col("lbl"), col("vec_id")))
        }
      relabeled.select("vec_id", "label", "lbl")
    }
    // the view is seeded before the stream starts, so a batch that touches
    // no standing component appends
    if (touched.isEmpty) guardedAppend(rows.coalesce(1), survT, bid, survBid, "append")
    else graft.sources.lance.LanceDelete.replaceWhere(s, survT,
      rows.withColumn("bid", batch_id(bid)).coalesce(1),
      Array(org.apache.spark.sql.sources.In("lbl", touched.map(_.asInstanceOf[Any]))))
    None // committed here, before the batch stages its keys and state
  }

  /** One-time-per-table warning for the in-cadence zero-grace vacuum:
    * `vacuumOnCompact` assumes this streaming query is the state tables'
    * ONLY writer and reader — any concurrently held snapshot (a lazy
    * DataFrame from an earlier load, time travel) would fail mid-scan
    * once superseded files are deleted with zero grace. Shared tables
    * belong on the graceful `CALL system.vacuum` path instead. */
  private val vacuumWarnedTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def warnZeroGraceVacuum(t: String): Unit =
    if (vacuumWarnedTables.add(t))
      Console.err.println(
        s"[graft] WARN vacuumOnCompact on $t: zero-grace vacuum inside the " +
          "micro-batch loop — safe ONLY while this stream is the table's " +
          "single writer/reader; concurrent snapshots or time travel over " +
          "this table WILL fail mid-scan. Shared tables: use CALL " +
          "system.vacuum with a grace window.")

  /** Fail-fast ceiling on the semantic MV's per-batch driver collects
    * (pair endpoints / touched component ids). Sized to what a driver
    * comfortably holds (~8 MB of longs) and what an In-list predicate
    * tolerably carries; a batch over this is a cell-sizing bug, not a
    * workload to soldier through. */
  private[graft] val MvCollectCap = 1 << 20

  /** Local-closure cap for the per-batch touched subgraph: at or under
    * this many edges the closure runs on the driver (ONE collect +
    * union-find) instead of paying the distributed min-label loop's ~2-3
    * Spark jobs per round — per-batch touched graphs are almost always a
    * handful of edges, and the fixed job-scheduling overhead dominated
    * the MV's serving cost. Above the cap (an adversarial mega
    * component) the shared distributed propagation takes over, so the
    * driver never holds more than this many edges — the same bounded-
    * collect posture as the MV's touched-key lists. */
  private[graft] val EdgeLocalCap = 100000L

  /** Connected-component labels (node → component-min) over an edge set:
    * driver union-find under `localCap` edges, [[Dedup.clusterLabels]]
    * above it. Union always attaches the LARGER root under the smaller,
    * so every set's root is its minimum id — identical semantics to the
    * distributed propagation (path compression only rewires to current
    * roots, never changes them); a spec runs both paths on one graph. */
  private[graft] def closeLabels(s: SparkSession, edges: DataFrame,
                                 localCap: Long): DataFrame =
    // one definition of the adaptive local/distributed closure (r20): the
    // bounded limit-collect replaces the former ckpt+count+collect triple
    // (2 fewer jobs per micro-batch on the common small-graph path)
    Dedup.closeLabelsAdaptive(s, edges, localCap)

  /** Exact cosine verify matching Dedup.embeddingPairs bit-for-bit: the
    * same vec_cosine expression, the same 6-dp rounding, the same τ. */
  private def cosineVerify(cand: DataFrame, allVecs: DataFrame): DataFrame = cand
    .join(allVecs.select(col("doc_id").as("a_id"), col("label"),
      col("embedding").as("va")), "a_id")
    .join(allVecs.select(col("doc_id").as("b_id"),
      col("embedding").as("vb")), "b_id")
    .withColumn("cos", round(graft.functions.vec_cosine(col("va"), col("vb")), 6))
    .filter(col("cos") >= Dedup.CosTau)
    .select("a_id", "b_id", "label", "cos")

  /** The shared streaming perceptual-signature near-dedup: a parquet
    * payload source drained in micro-batches, each batch decoded to
    * 128-bit (doc_id, sig_h, sig_v) signatures by `decode` (real image
    * decode, real audio decode — the ONLY thing the modality twins
    * change), run through [[nearDedupBatch]] with the shared 8×16-bit
    * banding and the exact hamming verify. */
  private[graft] def streamSigDedupAt(s: SparkSession, payloads: => DataFrame,
      keysT: String, sigsT: String,
      decode: (SparkSession, DataFrame) => DataFrame,
      srcParts: Int = 4,
      srcDir0: String = null, ckpt0: String = null,
      dst0: String = null, prefix: String = "ssig",
      compactEvery: Int = DefaultCompactEvery,
      vacuumOnCompact: Boolean = false): DataFrame =
    nearDedupStream(s, prefix, payloads, SizedFrom(_), keysT, sigsT, srcParts,
      srcDir0, ckpt0, dst0, compactEvery, vacuumOnCompact, Multimodal.ImgBucketCap,
      bandAndState = b => {
        // ONE decode pass: band keys derive NARROWLY (8 projection rows
        // per sig, no shuffle) from the checkpointed sigs — recomputing
        // that projection per consumer is cheaper than a second eager
        // materialization job per micro-batch (r20)
        val sigs = batchCkpt(decode(s, b))
        (Multimodal.imgBandKeys(sigs), sigs)
      },
      verify = sigHammingVerify,
      finalRead = dst => s.read.format("lance").load(dst)
        .select("a_id", "b_id", "hamming").distinct().orderBy("a_id", "b_id"))

  /** Exact 128-bit hamming verify over candidate pairs — one definition
    * for every signature modality, matching Multimodal.hashPairs' batch
    * verify bit-for-bit. */
  private def sigHammingVerify(cand: DataFrame, allSigs: DataFrame): DataFrame = cand
    .join(allSigs.select(col("doc_id").as("a_id"),
      col("sig_h").as("ha"), col("sig_v").as("va")), "a_id")
    .join(allSigs.select(col("doc_id").as("b_id"),
      col("sig_h").as("hb"), col("sig_v").as("vb")), "b_id")
    .withColumn("hamming",
      (bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("va").bitwiseXOR(col("vb")))).cast("long"))
    .filter(col("hamming") <= Multimodal.ImgHammingMax)
    .select("a_id", "b_id", "hamming")

  /** Streaming VECTOR-INDEX maintenance — ingestion-time IVF indexing of
    * an arriving embedding stream, the composition every online retrieval
    * corpus needs: vectors land AND stay searchable without a nightly
    * rebuild. First micro-batch trains the index (IndexBuild.build);
    * every later batch routes through IndexBuild.append against a
    * freshly-loaded handle — assign-to-frozen-centroids (codegen'd
    * NearestCell, no retrain on the hot path) + a cell-ordered fragment
    * append, so each batch's fragments stay prunable by cell range and
    * the sidecar/manifest pairing stays atomic per commit. Drift repair is
    * CALL system.reindex's job, off the ingest path. foreachBatch is
    * at-least-once under batch RETRIES — a production deployment routes
    * the append through the exactly-once lance StreamingWrite (epoch-
    * tagged manifest commits, as lance_streaming_sink does); the drain
    * here is single-shot. Correctness statement mirrors ivf_append_search:
    * a FULL-probe search over the streamed table is exact KNN, so
    * streamed-index == brute-force oracle. */
  private def streamIndex(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("sidx-idx") + "/t"
    // several source files => build-then-append is really exercised
    // across MULTIPLE micro-batches
    drainStaged(s, tmp("sidx-src"), tmp("sidx-ckpt"), SessionParts, 4,
      t(s, dir, "embeddings"))(_.writeStream)(EachBatch { (batch, _) =>
      if (!IndexBuild.exists(s, root)) IndexBuild.build(s, batch, root, VectorIndex.ivf("IVF_FLAT"))
      else IndexBuild.append(s, batch, IndexBuild.load(s, root))
    })
    searchAll(s, dir, root)
  }

  /** The query vector's top-K over the index at `root`, probing EVERY
    * cell: exact KNN, the streamed-index keys' correctness statement. */
  private def searchAll(s: SparkSession, dir: String, root: String,
                        opts: (String, String)*): DataFrame = {
    val qv = VectorIndex.embeddingOf(s, dir, VectorIndex.QueryVecId)
    IndexBuild.search(s, IndexBuild.load(s, root), qv, VectorIndex.probeAll(opts: _*),
      excludeVecId = VectorIndex.QueryVecId)
  }

  /** Stage `src` as `srcParts` files and stream it into the lance table at
    * `root` through the exactly-once lance StreamingWrite (epoch-tagged
    * manifest commits: a replayed micro-batch is a no-op), every row
    * assigned the nearest FROZEN centroid of `cents` (and PQ-encoded with
    * `pq`'s frozen codebooks) by `IndexBuild.assignToCells`, and every
    * append clustered by that cell, so probe pruning holds for streamed
    * fragments exactly as for built ones. `shape` maps the source rows
    * before the assignment. */
  private def appendCells(s: SparkSession, prefix: String, src: => DataFrame, srcParts: Int,
                          cents: Array[Array[Double]], root: String,
                          shape: DataFrame => DataFrame = identity,
                          pq: Option[IndexBuild.PqMeta] = None): Unit =
    drainStaged(s, tmp(s"$prefix-src"), tmp(s"$prefix-ckpt"), SessionParts, srcParts, src)(b =>
      IndexBuild.assignToCells(shape(b), "embedding", cents, pq, None)
        .writeStream.format("lance")
        .option("write.cluster-by", "cell")
        .outputMode("append"))(Into(root))

  /** EXACTLY-ONCE streaming index appends — the production form of
    * q_stream_index's maintenance loop: instead of foreachBatch (at-least-
    * once under batch retries), the cell assignment becomes a plain
    * streaming PROJECTION — the frozen centroids fold into the codegen'd
    * NearestCell as literals — and the stream writes through the lance
    * StreamingWrite, whose epoch-tagged manifest commits make a replayed
    * micro-batch a no-op (the same machinery lance_stream_pipeline gates).
    * write.cluster-by=cell keeps every appended fragment cell-ordered via
    * the sink's RequiresDistributionAndOrdering (planned per micro-batch),
    * so probe pruning holds for streamed fragments exactly as for built
    * ones. Seed corpus trains; the stream never retrains — drift repair
    * stays CALL system.reindex's job. Full-probe search == exact KNN. */
  private def streamIndexOnce(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("sidxo-idx") + "/t"
    val e = t(s, dir, "embeddings")
    val idx = IndexBuild.build(s, e.filter(col("vec_id") % 4 === 0), root,
      VectorIndex.ivf("IVF_FLAT"))
    appendCells(s, "sidxo", e.filter(col("vec_id") % 4 =!= 0), 3,
      idx.centroids.map(_.toArray), root)
    searchAll(s, dir, root)
  }

  /** EXACTLY-ONCE streaming appends for an IVF_PQ index — the PQ
    * completion of q_stream_index_once (reference: the IVF_PQ builder,
    * LanceIndexBuilder.java:116-138): the streaming projection folds BOTH
    * frozen-literal expressions — codegen'd NearestCell over the seed
    * centroids AND PqEncode over the seed codebooks — so every streamed
    * row lands cell-clustered WITH its PQ codes, and ADC search works
    * over streamed fragments exactly as over built ones. The write rides
    * the lance StreamingWrite (epoch-tagged commits: a replayed
    * micro-batch is a no-op). Codes are deterministic given the frozen
    * codebooks, so streamed == batch-append bit-for-bit; ADC ranking is
    * approximate by construction → rows-only key, with the equality and
    * replay statements spec-gated against a batch-append twin index. */
  private def streamIndexOncePq(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("sidxp-idx") + "/t"
    val e = t(s, dir, "embeddings")
    // 4-bit codes: the seed subset is smaller than the default 256-code
    // books (KMeans caps centers at the sample size)
    val idx = IndexBuild.build(s, e.filter(col("vec_id") % 4 === 0), root,
      VectorIndex.ivf("IVF_PQ", "index.num-bits" -> "4"))
    appendCells(s, "sidxp", e.filter(col("vec_id") % 4 =!= 0), 3,
      idx.centroids.map(_.toArray), root, pq = idx.pq)
    searchAll(s, dir, root, "vector.refine-factor" -> "4")
  }

  /** Stream-stream event-time interval join — the Flink-parity two-stream
    * join shape, run with Spark's SYMMETRIC HASH JOIN state on both sides:
    * each user's `view` events match that user's `purchase` events landing
    * within the following hour. Both inputs carry event-time watermarks
    * and the join predicate time-bounds the match window, so the state
    * store retains only rows whose match window the watermark has not yet
    * closed — at production ingest rates state is bounded by
    * (watermark delay + 1h) of per-key traffic, never by stream history,
    * and it shards across executors by the join key like any keyed state.
    *
    * The gated key uses a corpus-spanning watermark delay, so the drained
    * result is the COMPLETE inner join — equal to the batch self-join
    * oracle regardless of file arrival order (watermark eviction never
    * fires inside the gate window; determinism first). The spec pins the
    * PRODUCTION semantics with a tight delay over ordered two-batch
    * input: an in-window purchase arriving after the watermark passed its
    * view is dropped (state evicted), while an above-watermark cross-batch
    * pair still matches — and the same files under the corpus-spanning
    * delay recover the late pair, proving eviction (not a join bug) did
    * the dropping. Integer micro-second lags keep the oracle compare
    * arithmetic-exact. */
  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val base = tmp("sjoin-src")
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("timestamp").as("ts"))
    // ONE events scan stages both sides (r21, guide §1.2: don't read the
    // input twice to split it) — partitionBy routes each side into its
    // own leaf dir; the data files drop the constant event_type column,
    // which the sides never read (side() selects id/user/ts only)
    ev.filter(col("event_type").isin("view", "purchase"))
      .repartition(3).write.mode("overwrite")
      .partitionBy("event_type").parquet(base)
    // partitionBy creates no leaf for a side with no rows, and the file
    // stream fails listing a missing dir: an empty side is an empty dir.
    // The leaves are read without event_type, which their files lack.
    val Seq(views, purchases) = Seq("view", "purchase").map { t =>
      val leaf = s"$base/event_type=$t"
      Files.createDirectories(java.nio.file.Paths.get(leaf))
      leaf
    }
    streamJoinFrom(s, views, purchases,
      StructType(ev.schema.filterNot(_.name == "event_type")),
      "3650 days")
  }

  /** LEFT OUTER stream-stream join — the semantically distinct variant:
    * an inner join can emit a match the moment both rows arrive, but an
    * outer NULL row is only provably unmatched once the watermark has
    * CLOSED the view's whole match window, so outer results are
    * watermark-driven by construction. Drain recipe: all real events load
    * in one micro-batch per side (watermark still at epoch — nothing is
    * late), then far-future sentinel rows on BOTH sides push the final
    * watermark past every real window and the trailing drain batch evicts
    * state, emitting each unmatched view exactly once with NULL purchase
    * columns. Result = the batch LEFT JOIN (minus sentinels), which is
    * exactly what the oracle runs. Same bounded-state story as the inner
    * form. */
  private def streamJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val vDir = tmp("sjoinl-v"); val pDir = tmp("sjoinl-p")
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("timestamp").as("ts"))
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    val farFuture = new Timestamp(maxTs.getTime + 30L * 86400 * 1000)
    import s.implicits._
    val sentinel = Seq((-1L, -1L, "sentinel", farFuture))
      .toDF("event_id", "user_id", "event_type", "ts")
    ev.filter(col("event_type") === "view").unionAll(sentinel)
      .coalesce(1).write.mode("overwrite").parquet(vDir)
    ev.filter(col("event_type") === "purchase").unionAll(sentinel)
      .coalesce(1).write.mode("overwrite").parquet(pDir)
    streamJoinFrom(s, vDir, pDir, ev.schema, "0 seconds", joinType = "left_outer")
      .filter(col("user_id") =!= -1L)
  }

  /** The join pipeline over two prepared source directories — one per
    * stream, as two genuinely independent streams would land (specs write
    * ordered files with controlled modification times to pin per-batch
    * watermark behavior). */
  private[graft] def streamJoinFrom(s: SparkSession, vDir: String, pDir: String,
                                    schema: StructType,
                                    delay: String,
                                    joinType: String = "inner",
                                    filesPerTrigger: Int = 0): DataFrame = {
    val dst = tmp("sjoin-dst"); val ckpt = tmp("sjoin-ckpt")
    // filesPerTrigger > 0 splits micro-batches for the watermark specs;
    // the gate path drains in one batch per side (each state-store commit
    // costs more than the join itself at gate scale)
    def side(prefix: String, srcDir: String): DataFrame = {
      val rd = s.readStream.schema(schema)
      val rd2 = if (filesPerTrigger > 0)
        rd.option("maxFilesPerTrigger", filesPerTrigger.toString) else rd
      rd2.parquet(srcDir)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", delay)
    }
    drain(s, ckpt, SizedFrom(vDir, pDir)) {
      side("v", vDir).join(side("p", pDir),
        expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"),
        joinType)
      .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
        col("p_id").as("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
      .writeStream.format("lance")
      .outputMode("append")
    }(Into(dst))
    s.read.format("lance").load(dst).orderBy("user_id", "view_id", "purchase_id")
  }

  /** Watermark-windowed streaming dedup — `dropDuplicatesWithinWatermark`,
    * the BOUNDED-STATE form of streaming dedup: where `q_stream_dedup`
    * keeps one state row per distinct key FOREVER (exact, state ∝ distinct
    * keys), this keeps a key only while the watermark can still see
    * duplicates of it (state ∝ keys per watermark window) — the trade the
    * API makes explicit is that a duplicate arriving AFTER its key's
    * window expired is emitted again. The right tool when duplicates
    * cluster in time (at-least-once sources, retried producers), which is
    * exactly the production case. Gate: the corpus doubled (every event
    * twice) drains under a corpus-spanning delay → exactly one row per
    * event survives == the plain batch aggregate over the ORIGINAL
    * events; the spec pins the expiry semantics with a tight delay. */
  private def streamDedupWindow(s: SparkSession, dir: String): DataFrame = {
    val srcDir = tmp("sddw-src")
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("timestamp").as("ts"))
    ev.unionAll(ev).repartition(3).write.mode("overwrite").parquet(srcDir)
    val deduped = streamDedupWindowFrom(s, srcDir, ev.schema, "3650 days")
    deduped.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").cast("long").as("sum_id"))
      .orderBy("event_type")
  }

  /** The windowed-dedup pipeline over a prepared source directory,
    * returning the raw surviving rows (specs assert expiry/re-emission
    * row by row). */
  private[graft] def streamDedupWindowFrom(s: SparkSession, srcDir: String,
                                           schema: StructType,
                                           delay: String,
                                           filesPerTrigger: Int = 0): DataFrame = {
    val dst = tmp("sddw-dst"); val ckpt = tmp("sddw-ckpt")
    val rd = s.readStream.schema(schema)
    val rd2 = if (filesPerTrigger > 0)
      rd.option("maxFilesPerTrigger", filesPerTrigger.toString) else rd
    drain(s, ckpt, SizedFrom(srcDir)) {
      rd2.parquet(srcDir)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("lance")
      .outputMode("append")
    }(Into(dst))
    s.read.format("lance").load(dst)
  }

  /** CONTINUOUS materialized-aggregate maintenance — the streaming twin of
    * q_cdc_materialized: the CDC stream drives a per-micro-batch MV
    * refresh. The MV starts EMPTY and the whole base history (initial
    * inserts, a positional delete, an append) arrives through the feed as
    * signed deltas; each batch folds its |groups|-sized delta table into
    * the persisted MV with a full-outer merge and an O(|MV|) transactional
    * overwrite. foreachBatch is at-least-once under retries, so the
    * refresh is made IDEMPOTENT the transactional way: every MV version
    * carries the batch id that produced it, and a replayed batch
    * (bid <= the MV's recorded bid) is a no-op — the replay spec deletes
    * the checkpoint commit marker, restarts the query, and proves the MV
    * unchanged. Final MV == the from-scratch aggregate oracle. */
  private def streamMv(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("smv") + "/base"
    val orders = t(s, dir, "orders")
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    graft.sources.lance.LanceDelete.deleteWhere(s, root,
      Array(org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L)), Map.empty)
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "2000").save(root)
    val mvTable = streamMvRefresh(s, root, tmp("smv-mv") + "/t", tmp("smv-ckpt"))
    s.read.format("lance").load(mvTable)
      .select(col("o_orderpriority"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Run (or re-run, for the replay spec) the CDC→MV refresh stream over
    * `root`, maintaining the lance MV at `mvTable`. Returns mvTable. */
  private[graft] def streamMvRefresh(s: SparkSession, root: String,
                                     mvTable: String, ckpt: String): String = {
    import s.implicits._
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    drain(s, ckpt, SizedFrom(root)) {
      s.readStream.format("lance").option("read.change-feed", "true")
      .load(root)
      .select(col("o_orderpriority"),
        when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"),
        cents.as("c"))
      .writeStream
    }(guardedSink(s, mvTable, Seq.empty[(String, Long, Long, Long)]
        .toDF("o_orderpriority", "n", "sum_cents", "bid"), "overwrite") { batch =>
      val deltas = batch.groupBy("o_orderpriority")
        .agg(sum("sgn").as("dn"), sum(col("sgn") * col("c")).as("dsum"))
      s.read.format("lance").load(mvTable).drop("bid")
        .join(deltas, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dsum"), lit(0L)))
            .as("sum_cents"))
        .filter(col("n") > 0)
    })
    mvTable
  }

  /** Event-time-WINDOWED materialized-view maintenance — q_stream_mv's
    * additive pattern extended to tumbling-window aggregates, the
    * Flink-materialized-view parity form (the reference is a Flink
    * connector; windowed group-aggregates maintained against a table sink
    * are its bread-and-butter pipeline). Per micro-batch the UPDATE-mode
    * windowed aggregation emits the new totals for exactly the
    * (window, group) keys the batch touched — state-store work and sink
    * delta are both ∝ the batch, never the window history — and the MV
    * upserts those keys (anti-join out the stale rows, union the fresh
    * ones, transactional overwrite). The WATERMARK decides window
    * finality: input older than the watermark is dropped before the
    * aggregation, so a closed window's MV row is immutable no matter what
    * arrives later, and the state store evicts closed windows (state is
    * bounded by the watermark horizon × group cardinality, not by
    * retention). The upsert is NOT an O(|MV|) rewrite: the touched keys'
    * delete (a DV sidecar — no data files move) and the fresh totals'
    * append fold into ONE atomic REPLACE WHERE commit
    * (LanceDelete.replaceWhere, r16 — previously two commits with a
    * self-repairing replay window), so per-batch write IO is ∝ |touched|
    * and readers of any version see the whole upsert or none of it;
    * LanceMaintenance compaction bounds the accumulated small fragments.
    * foreachBatch replays are no-ops via the same batch-id high-water
    * guard as q_stream_mv — and because the upsert is atomic, a crash
    * either committed the batch whole (replay skips) or not at all
    * (replay redoes it whole). */
  private def streamMvWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("event_id"))
    val srcDir = tmp("smvw-src"); val mv = tmp("smvw-mv") + "/t"; val ckpt = tmp("smvw-ckpt")
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    // the gate's files arrive in random time order — a corpus-spanning
    // delay keeps every row on-time so the MV equals the batch aggregate
    // (the finality spec uses a tight delay and proves the drop instead)
    streamMvWindowRefresh(s, srcDir, ev.schema, mv, ckpt, delay = "90 days")
    s.read.format("lance").load(mv)
      .select("w_start", "event_type", "n", "sum_id")
      .orderBy("w_start", "event_type")
  }

  /** Run (or resume — same checkpoint drains only new files) the windowed
    * MV refresh over the parquet docs at `srcDir`, maintaining the lance
    * MV at `mvTable`. Returns mvTable. */
  private[graft] def streamMvWindowRefresh(s: SparkSession, srcDir: String,
      schema: StructType, mvTable: String,
      ckpt: String, delay: String): String = {
    import s.implicits._
    if (!tableExists(s, mvTable))
      Seq.empty[(Timestamp, String, Long, Long, String, Long)]
        .toDF("w_start", "event_type", "n", "sum_id", "k", "bid")
        .write.format("lance").save(mvTable)
    drainFiles(s, srcDir, schema, ckpt, SizedFrom(srcDir))(
      _.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("event_id").cast("long").as("sum_id"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_id"))
      .writeStream
      .outputMode("update")
    )(EachBatch { (touched, bid) => freeingBatchCheckpoints {
      val lastBid = lastBidOf(s, mvTable)
      if (bid > lastBid) {
        // the upsert key rides the MV as a single column so the touched
        // keys are one In() delete predicate (bounded: ∝ the batch)
        // ckpt materializes every partition (state commit)
        val up = CheckpointTracker.ckpt(touched.withColumn("k",
          concat_ws("\u0001", col("w_start").cast("string"), col("event_type"))))
        val keys = up.select("k").collect().map(_.getString(0))
        if (keys.nonEmpty) {
          // ONE atomic commit (REPLACE WHERE): the keyed delete and the
          // |touched|-row append land together, so no reader can observe
          // deleted-but-not-replaced state and a crash needs no replay
          // repair — either the whole upsert committed (replay skips via
          // the bid guard) or none of it did (replay redoes it whole).
          // coalesce(1): one fragment per batch — the delta is
          // |touched|-sized, and 32 shuffle-partition-shaped slivers
          // per upsert would hand compaction avoidable work
          graft.sources.lance.LanceDelete.replaceWhere(s, mvTable,
            up.withColumn("bid", batch_id(bid)).coalesce(1),
            Array(org.apache.spark.sql.sources.In("k", keys.toArray[Any])))
        }
      } else {
        // replayed micro-batch = MV no-op; still drain so the stateful
        // query's state-store partitions commit (Spark validates this)
        touched.count()
      }
    }})
    mvTable
  }

  /** Streaming NB-classifier maintenance — the model's state is an
    * ADDITIVE (label, bucket) frequency table, so it refreshes from a
    * document stream by per-batch count DELTAS appended generation-tagged
    * into a lance model table: per-batch sink IO is bounded by
    * 2×2^16 + 2 rows regardless of history, and additive state needs no
    * read-modify-write at all (APPEND-only — even cheaper than the MV's
    * full-outer merge). Weak-label thresholds freeze up front from the
    * reference corpus (the train-on-reference posture the LM scorer
    * documents). Replayed batches are no-ops via the same batch-id
    * high-water guard as q_stream_mv. Because counts are associative the
    * final summed model provably equals the batch-trained model — the
    * spec asserts the gated key's output row-for-row equals
    * text_quality_classifier's. */
  /** The frozen weak-label thresholds for a reference corpus — shared by
    * the gated key and the soak. */
  private[graft] def classifierThresholds(s: SparkSession, dir: String): (Double, Double) = {
    val d = TextAnalysis.docs(s, dir)
    QualityClassifier.tertiles(d.select(col("doc_id"), col("w"),
      round(TextAnalysis.qualityScore, 6).as("quality")))
  }

  private def streamClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = TextAnalysis.docs(s, dir)
    val (qLo, qHi) = classifierThresholds(s, dir)
    val srcDir = tmp("sclf-src"); val modelTable = tmp("sclf-model") + "/t"
    val ckpt = tmp("sclf-ckpt")
    val raw = t(s, dir, "documents")
    raw.repartition(4).write.mode("overwrite").parquet(srcDir)
    classifierRefresh(s, srcDir, modelTable, ckpt, raw.schema, qLo, qHi)
    // final model = the additive sum across every batch's delta rows
    val agg = s.read.format("lance").load(modelTable)
      .groupBy("label", "b").agg(sum("n").cast("long").as("n")).collect()
    val counts = agg.filter(_.getInt(1) >= 0)
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val byLabel = agg.filter(_.getInt(1) == -1)
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val m = QualityClassifier.modelFrom(counts,
      byLabel.getOrElse(1, 0L), byLabel.getOrElse(0, 0L), qLo, qHi)
    QualityClassifier.scoreWith(s, d, m)
  }

  /** The classifier's per-batch delta-append refresh over a document
    * source dir — resumable (same checkpoint drains only NEW files), so
    * the soak can run it epoch after epoch against an accumulating
    * source. Extracted from [[streamClassifier]]. */
  private[graft] def classifierRefresh(s: SparkSession, srcDir: String,
      modelTable: String, ckpt: String,
      schema: StructType,
      qLo: Double, qHi: Double): Unit = {
    import s.implicits._
    drainFiles(s, srcDir, schema, ckpt, SizedFrom(srcDir))(_.writeStream)(guardedSink(s,
        modelTable, Seq.empty[(Int, Int, Long, Long)].toDF("label", "b", "n", "bid")) { batch =>
      val labeled = batch.withColumn("w", TextAnalysis.tokens)
        .withColumn("label", QualityClassifier.labelCol(qLo, qHi))
        .filter(col("label").isNotNull)
      QualityClassifier.featureCounts(labeled)
        .unionByName(labeled.groupBy("label")
          .agg(count(lit(1)).as("n"))
          .select(col("label"), lit(-1).as("b"), col("n")))
    })
  }

  /** Streaming DECONTAMINATION gate — the ingest-time form of
    * text_contamination: the benchmark shingle side is STANDING (eval sets
    * are static, so it is built once and broadcast to every micro-batch),
    * each arriving document batch is screened map-side (per-document output
    * is complete because a document rides exactly one batch), and flagged
    * documents append to a quarantine table under the shared bid high-water
    * guard (at-least-once replays are per-table no-ops). Per-batch cost ∝
    * batch size — state/sink IO never touches accumulated history — which
    * is the shape a crawl-ingest decontamination filter runs as at
    * 100 TB/day. Gate: the quarantine table == batch text_contamination
    * row-for-row (the same DuckDB oracle verbatim). */
  private def streamContamination(s: SparkSession, dir: String): DataFrame =
    streamContaminationAt(s, t(s, dir, "documents").select("doc_id", "text"),
      tmp("scont-out") + "/t", srcParts = 4)

  /** The twin's body, parameterized for the crash-replay spec. Re-runs
    * against the same srcDir/ckpt must not rewrite the source (fresh part
    * names would read as new data — same posture as [[streamDedupAt]]). */
  private[graft] def streamContaminationAt(s: SparkSession, docs: DataFrame,
      outTable: String, srcParts: Int,
      srcDir0: String = null, ckpt0: String = null): DataFrame = {
    import s.implicits._
    val srcDir = Option(srcDir0).getOrElse(tmp("scont-src"))
    // standing benchmark, MATERIALIZED once: without the localCheckpoint
    // the lazy plan (full corpus scan + shingling) would re-execute inside
    // every micro-batch, making per-batch cost ∝ corpus instead of ∝ batch
    val bench = TextAnalysis.contaminationBench(docs).localCheckpoint()
    drainStaged(s, srcDir, Option(ckpt0).getOrElse(tmp("scont-ckpt")), SizedFrom(srcDir),
      srcParts, docs)(_.writeStream)(guardedSink(s, outTable, Seq.empty[(Long, Long, Long, Long)]
        .toDF("doc_id", "max_overlap", "n_matched", "bid"))(
      TextAnalysis.contaminationScreen(_, bench)))
    s.read.format("lance").load(outTable)
      .select("doc_id", "max_overlap", "n_matched")
      .orderBy("doc_id")
  }

  /** Streaming SEMANTIC decontamination — the embedding-space member of
    * the streaming family: same shape as [[streamContaminationAt]] (standing
    * broadcast benchmark, map-side per-batch screen, guarded quarantine
    * appends) with cosine-vs-bench-vectors as the rule. The bench side is
    * one materialized (bid, vb) set; each micro-batch pays |batch|·|bench|
    * codegen'd dot products and appends only its flagged rows — per-batch
    * cost ∝ batch at any corpus size. == batch contamination_semantic
    * row-for-row (its oracle verbatim). */
  private def streamContaminationSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcDir = tmp("ssem-src"); val outTable = tmp("ssem-out") + "/t"
    val e = t(s, dir, "embeddings")
    // standing benchmark, materialized once
    val bench = VectorSearch.semanticBench(e).localCheckpoint()
    drainStaged(s, srcDir, tmp("ssem-ckpt"), SizedFrom(srcDir), 4,
      e.select("vec_id", "embedding", "label"))(_.writeStream)(guardedSink(s, outTable,
        Seq.empty[(Long, Int, Double, Long, Long)]
          .toDF("vec_id", "label", "max_cos", "n_matched", "bid"))(
      VectorSearch.semanticScreen(_, bench)))
    s.read.format("lance").load(outTable)
      .select("vec_id", "label", "max_cos", "n_matched")
      .orderBy("vec_id")
  }

  /** Streaming inverted-index maintenance — the text twin of
    * q_stream_index: each document micro-batch appends its posting lists
    * into the term-bucketed postings table and its ADDITIVE df / corpus
    * stat deltas beside them ([[TextIndex.appendDelta]] — per-table
    * batch-id high-water guards make at-least-once retries per-table
    * no-ops). Per-batch sink IO ∝ the batch's postings, never the
    * accumulated index; search folds df/stat generations back with sums.
    * Gate: serving the standing streamed index must reproduce the
    * scan-side BM25 key exactly — the same oracle as text_search_bm25. */
  private def streamTextIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcDir = tmp("stidx-src"); val root = tmp("stidx-idx")
    drainStaged(s, srcDir, tmp("stidx-ckpt"), SizedFrom(srcDir), 4,
      t(s, dir, "documents").select("doc_id", "text"))(_.writeStream)(
      EachBatch(TextIndex.appendDelta(s, _, root, _)))
    TextIndex.search(s, root,
      TextAnalysis.Bm25Queries.toDF("query_id", "term"), TextAnalysis.Bm25TopK)
  }

  /** Streaming HYBRID retrieval — the serving-side composition of TWO
    * maintained indexes (r18): an arriving corpus keeps BOTH retrieval
    * structures fresh — the inverted text index through per-batch
    * bid-guarded appendDelta (q_stream_text_index's loop) and the
    * cell-clustered vector table through the exactly-once lance
    * StreamingWrite with the frozen-centroid NearestCell projection
    * (q_stream_index_once's loop) — then the hybrid workload serves from
    * the two standing structures and fuses by RRF. The lexical arm is
    * index-served BM25 (proven scan-identical by its own gate); the
    * vector arm reads the streamed cell-clustered table whole (all cells
    * = the exact, oracle-checkable configuration — production prunes by
    * probed cells); the fuse is the batch key's hybridRrfFuse verbatim.
    * Both structures hold the full corpus at stream end, so the key
    * gates on text_search_hybrid's ORACLE unchanged — the streamed
    * serving path must reproduce the batch answer bit-for-bit. */
  private def streamHybrid(s: SparkSession, dir: String): DataFrame =
    streamHybridAt(s, dir, prunedVec = false)

  /** q_stream_hybrid with the vector arm served PROBE-PRUNED (r18 verdict
    * item 1 — the production config): the maintained store is already
    * cell-clustered, so serving reads only the queries' probed cells via
    * the static cell-IN pushdown ([[TextAnalysis.hybridVectorArm]]).
    * The gate probes every cell — provably equal to the brute arm, so the
    * key keeps text_search_hybrid's FULL oracle while the plan is the one
    * you'd run at 100× (fragment-pruned at partial probes, recall-spec'd
    * in RetrievalPrunedSpec). */
  private def streamHybridPrunedFull(s: SparkSession, dir: String): DataFrame =
    streamHybridAt(s, dir, prunedVec = true)

  /** The PRODUCTION serving config of q_stream_hybrid_pruned — partial
    * probes (8 of 16 cells), so the vector arm's scan is actually
    * fragment-pruned instead of reading the whole clustered store. Gated
    * rows-only (partial probes are approximate by design; the recall
    * floor and prune plan are spec'd in RetrievalPrunedSpec) and BENCHED,
    * closing the r19 verdict's "the partial-probe arm is spec'd, not
    * benched" gap: this key is where pruning's wall win lives. */
  private def streamHybridPrunedP8(s: SparkSession, dir: String): DataFrame =
    streamHybridAt(s, dir, prunedVec = true, nprobes0 = VectorIndex.Cells / 2)

  private def streamHybridAt(s: SparkSession, dir: String,
                             prunedVec: Boolean, nprobes0: Int = 0): DataFrame = {
    import s.implicits._
    // text side: per-batch guarded delta appends to the standing index
    val tSrc = tmp("shyb-tsrc")
    val idxRoot = tmp("shyb-tidx")
    drainStaged(s, tSrc, tmp("shyb-tck"), SizedFrom(tSrc), 4,
      t(s, dir, "documents").select("doc_id", "text"))(_.writeStream)(
      EachBatch(TextIndex.appendDelta(s, _, idxRoot, _)))
    // vector side: seed-train, then exactly-once cell-clustered appends
    val vecT = tmp("shyb-vec") + "/t"
    val e = t(s, dir, "embeddings")
    val idx = IndexBuild.build(s, e.filter(col("vec_id") % 4 === 0), vecT,
      VectorIndex.ivf("IVF_FLAT"))
    appendCells(s, "shyb-v", e.filter(col("vec_id") % 4 =!= 0), 3,
      idx.centroids.map(_.toArray), vecT)
    // serve: index-served lexical arm + streamed-table vector arm → fuse
    val lex = TextIndex.search(s, idxRoot,
      TextAnalysis.Bm25Queries.toDF("query_id", "term"), TextAnalysis.Bm25TopK)
      .select(col("query_id"), col("doc_id"), col("rk").as("r"))
    val store = s.read.format("lance").load(vecT).select("vec_id", "embedding", "cell")
    val probe = if (!prunedVec) None else Some((idx.centroids.map(_.toArray),
      if (nprobes0 > 0) nprobes0 else idx.centroids.length))
    TextAnalysis.hybridRrfFuse(lex,
      TextAnalysis.hybridVectorArm(s, store, TextAnalysis.hybridQueries(store), probe))
  }

  /** Streaming MULTI-VECTOR retrieval — the serving-side twin of
    * knn_maxsim: an arriving corpus maintains a standing TOKEN STORE
    * (one (doc_id, token-vector) row per doc token — the structure
    * late-interaction serving reads) via the exactly-once lance
    * StreamingWrite, and the MaxSim workload then serves from the
    * standing store through [[VectorSearch.maxSimRank]] VERBATIM. The
    * doc-token derivation is a stateless per-row projection
    * ([[VectorSearch.maxSimDocTokens]] — explode over the 3 fixture
    * offsets), so ingest cost is ∝ batch; the store is append-only
    * (token rows never update), so at stream end the maintained store
    * equals the batch derivation exactly and the key gates on
    * knn_maxsim's full oracle UNCHANGED. Production shape: the real
    * tokenizer replaces the offset arithmetic, and the store clusters by
    * IVF cell over TOKEN vectors (q_stream_index_once's posture) so
    * serving prunes probes; the gate serves from the whole store — the
    * exact, oracle-checkable configuration. */
  private def streamMaxSim(s: SparkSession, dir: String): DataFrame = {
    val tokT = tmp("smax-tok") + "/t"
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    drainStaged(s, tmp("smax-src"), tmp("smax-ck"), SessionParts, 4, e)(
      VectorSearch.maxSimDocTokens(_, n).writeStream.format("lance").outputMode("append")
    )(Into(tokT))
    VectorSearch.maxSimRank(s,
      s.read.format("lance").load(tokT).select("doc_id", "embedding"),
      VectorSearch.maxSimQueryToks(e), None)
  }

  /** q_stream_maxsim with the token store CELL-CLUSTERED and served
    * PROBE-PRUNED (r18 verdict item 1): centroids train on the seed
    * slice's token derivation and FREEZE (the q_stream_index_once
    * posture), every arriving token row lands with the codegen'd
    * NearestCell projection under write.cluster-by=cell (exactly-once
    * lance StreamingWrite), and serving reads only each query token's
    * probed cells ([[VectorSearch.maxSimRank]] — static cell-IN
    * pushdown, fragment-pruned). The gate probes every cell, so the
    * scored pairs provably equal the broadcast cross-join's and the key
    * keeps knn_maxsim's FULL oracle; partial probes are recall-spec'd. */
  private def streamMaxSimPrunedFull(s: SparkSession, dir: String): DataFrame =
    streamMaxSimPrunedAt(s, dir, nprobes0 = 0)

  /** Production config: partial probes (see [[streamHybridPrunedP8]]). */
  private def streamMaxSimPrunedP8(s: SparkSession, dir: String): DataFrame =
    streamMaxSimPrunedAt(s, dir, nprobes0 = VectorIndex.Cells / 2)

  private def streamMaxSimPrunedAt(s: SparkSession, dir: String,
                                   nprobes0: Int): DataFrame = {
    val tokT = tmp("smaxp-tok") + "/t"
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    val cents = VectorIndex.trainCentroids(
      VectorSearch.maxSimDocTokens(e.filter(col("vec_id") % 4 === 0), n),
      "embedding", VectorIndex.Cells)
    appendCells(s, "smaxp", e, 4, cents, tokT, shape = VectorSearch.maxSimDocTokens(_, n))
    VectorSearch.maxSimRank(s,
      s.read.format("lance").load(tokT).select("doc_id", "embedding", "cell"),
      VectorSearch.maxSimQueryToks(e),
      Some((cents, if (nprobes0 > 0) nprobes0 else cents.length)))
  }

  /** Streaming DIVERSIFIED retrieval — the serving-side twin of knn_mmr,
    * completing the retrieval-serving family (text index, hybrid, MaxSim,
    * MMR): an arriving corpus maintains the standing vector table via the
    * exactly-once lance StreamingWrite, and the MMR workload serves from
    * it — the candidate scan ([[VectorSearch.mmrCandidates]]) and the
    * pair-sims + greedy tail ([[VectorSearch.mmrServe]]) are the batch
    * key's VERBATIM, reading the streamed table instead of the fixture.
    * The store is append-only, so at stream end it holds exactly the
    * corpus and the key gates on knn_mmr's recursive-CTE oracle
    * UNCHANGED. Production shape: the store clusters by IVF cell and the
    * candidate scan prunes probes (q_stream_index_once's posture); the
    * gate serves from the whole store — the exact, oracle-checkable
    * configuration. */
  private def streamMmr(s: SparkSession, dir: String): DataFrame = {
    val vecT = tmp("smmr-vec") + "/t"
    drainStaged(s, tmp("smmr-src"), tmp("smmr-ck"), SessionParts, 4,
      t(s, dir, "embeddings").select("vec_id", "embedding"))(
      _.writeStream.format("lance").outputMode("append"))(Into(vecT))
    VectorSearch.mmrKey(s, s.read.format("lance").load(vecT), None)
  }

  /** q_stream_mmr with the store CELL-CLUSTERED and the candidate scan
    * PROBE-PRUNED (r18 verdict item 1): seed-trained frozen centroids,
    * exactly-once cell-clustered appends (q_stream_index_once's loop),
    * candidates via [[VectorSearch.mmrCandidates]] (static cell-IN
    * pushdown), greedy tail verbatim. Full probes at the gate ⇒
    * knn_mmr's FULL oracle unchanged; partial probes recall-spec'd. */
  private def streamMmrPrunedFull(s: SparkSession, dir: String): DataFrame =
    streamMmrPrunedAt(s, dir, nprobes0 = 0)

  /** Production config: partial probes (see [[streamHybridPrunedP8]]). */
  private def streamMmrPrunedP8(s: SparkSession, dir: String): DataFrame =
    streamMmrPrunedAt(s, dir, nprobes0 = VectorIndex.Cells / 2)

  private def streamMmrPrunedAt(s: SparkSession, dir: String,
                                nprobes0: Int): DataFrame = {
    val vecT = tmp("smmrp-vec") + "/t"
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val cents = VectorIndex.trainCentroids(
      e.filter(col("vec_id") % 4 === 0), "embedding", VectorIndex.Cells)
    appendCells(s, "smmrp", e, 4, cents, vecT)
    VectorSearch.mmrKey(s,
      s.read.format("lance").load(vecT).select("vec_id", "embedding", "cell"),
      Some((cents, if (nprobes0 > 0) nprobes0 else cents.length)))
  }

  /** Streaming DSIR selection — sample_dsir maintained as an incremental
    * MV over an arriving pool: λ is trained and FROZEN before the stream
    * (the q_stream_index_once posture — in production on the reference
    * corpus + a pool sample; drift retraining is an offline job, off the
    * ingest path), each micro-batch scores its documents with the
    * codegen'd map and takes a BATCH top-K, and the standing selection
    * updates by merge: standing top-K ∪ batch top-K → top-K → one
    * bid-guarded transactional overwrite (the q_stream_mv shape). Exact
    * by the k-heap merge argument — the global top-K is contained in the
    * union of per-slice top-Ks over any partition of the pool — so at
    * stream end the view equals the batch selection row-for-row and the
    * key gates on sample_dsir's armed λ-literal oracle UNCHANGED.
    * Per-batch cost: one batch scan + a 2K-row merge; state is K rows,
    * ever. */
  private def streamDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mv = tmp("sdsr-mv") + "/t"
    val lam = Sampling.dsirTrain(s, dir, oracleKey = "q_stream_dsir")
    drainStaged(s, tmp("sdsr-src"), tmp("sdsr-ck"), SessionParts, 4,
      t(s, dir, "documents").select("doc_id", "source", "lang", "text"))(_.writeStream)(
      guardedSink(s, mv, Seq.empty[(Long, String, Long, Long, Long)]
        .toDF("doc_id", "source", "n_grams", "dsir_micro", "bid"), "overwrite") { batch =>
      val batchTop = Sampling.dsirScore(batch, lam)
        .orderBy(col("dsir_micro").desc, col("doc_id").asc)
        .limit(Sampling.DsirK)
      s.read.format("lance").load(mv).drop("bid")
        .unionByName(batchTop)
        .orderBy(col("dsir_micro").desc, col("doc_id").asc)
        .limit(Sampling.DsirK)
    })
    s.read.format("lance").load(mv)
      .select("doc_id", "source", "n_grams", "dsir_micro")
      .orderBy("doc_id")
  }

  /** Streaming DRIFT monitoring — corpus_drift maintained over an
    * arriving corpus: gram-bucket counts are ADDITIVE (the
    * mergeable-summaries property, exactly q_stream_mv's additive-MV
    * shape), so the standing (source, bucket) count table updates per
    * batch by a full-outer merge + bid-guarded transactional overwrite —
    * state is ≤ |sources|·B rows regardless of corpus size, per-batch
    * cost is one batch featurize pass + that bounded merge. At stream end
    * the standing counts equal the batch aggregation EXACTLY (integer
    * sums in any order), so the report tail (driftReport, shared
    * verbatim) gates on corpus_drift's full χ² oracle UNCHANGED. */
  private def streamDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cntT = tmp("sdft-cnt") + "/t"
    drainStaged(s, tmp("sdft-src"), tmp("sdft-ck"), SessionParts, 4,
      t(s, dir, "documents").select("doc_id", "source", "lang", "text"))(_.writeStream)(
      guardedSink(s, cntT, Seq.empty[(String, Int, Long, Long)].toDF("source", "h", "c", "bid"),
        "overwrite") { batch =>
      val delta = TextAnalysis.driftCounts(batch)
        .select(col("source"), col("h"), col("c").as("dc"))
      s.read.format("lance").load(cntT).drop("bid")
        .join(delta, Seq("source", "h"), "full_outer")
        .select(col("source"), col("h"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c"))
    })
    TextAnalysis.driftReport(
      s.read.format("lance").load(cntT).select("source", "h", "c"))
  }

  /** Streaming sketch maintenance — the mergeable-summaries form of
    * streaming uniques: each micro-batch appends ONE (day, 2 KB HLL
    * register array) row per touched day (bounded by days-per-batch,
    * never by users), and reads merge generations register-wise. Because
    * register-wise max is associative and commutative, the streamed
    * merged sketch is BIT-IDENTICAL to the batch-built sketch of the
    * same corpus — the spec pins streamed == q_events_dau_hll
    * row-for-row, a stronger statement than an error envelope. The same
    * bid high-water guard as the MV/classifier makes replays no-ops. */
  private def streamDauHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcDir = tmp("sdau-src"); val sketchTable = tmp("sdau-sk") + "/t"
    drainStaged(s, srcDir, tmp("sdau-ckpt"), SizedFrom(srcDir), 4,
      t(s, dir, "events").select(col("user_id"), col("ts")))(_.writeStream)(
      guardedSink(s, sketchTable,
        Seq.empty[(java.sql.Date, Array[Byte], Long)].toDF("d", "sk", "bid")) {
      _.select(col("user_id"), col("ts").cast("timestamp").cast("date").as("d"))
        .groupBy("d")
        .agg(graft.functions.hll_sketch(col("user_id")).as("sk"))
    })
    // serve DAU/WAU from the streamed sketch store: merge generations per
    // day, then the trailing-7-day window by a second register-wise merge
    val daily = s.read.format("lance").load(sketchTable)
      .groupBy("d").agg(graft.functions.hll_merge(col("sk")).as("sk"))
    val wau = daily
      .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("day"), col("sk"))
      .groupBy("day")
      .agg(graft.functions.hll_merge(col("sk")).as("wsk"))
    daily.select(col("d").as("day"), graft.functions.hll_estimate(col("sk")).as("dau_approx"))
      .join(wau.select(col("day"), graft.functions.hll_estimate(col("wsk")).as("wau_approx")), "day")
      .select(col("day"), col("dau_approx"), col("wau_approx"),
        round(col("dau_approx").cast("double") / col("wau_approx"), 6).as("stickiness_approx"))
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lance_stream_pipeline" -> streamPipeline,
    "q_stream_join" -> streamJoin,
    "q_stream_join_left" -> streamJoinLeft,
    "q_stream_dedup_window" -> streamDedupWindow,
    "q_stream_mv" -> streamMv,
    "q_stream_mv_window" -> streamMvWindow,
    "q_stream_text_index" -> streamTextIndex,
    "q_stream_hybrid" -> streamHybrid,
    "q_stream_hybrid_pruned" -> streamHybridPrunedFull,
    "q_stream_hybrid_pruned_p8" -> streamHybridPrunedP8,
    "q_stream_maxsim" -> streamMaxSim,
    "q_stream_maxsim_pruned" -> streamMaxSimPrunedFull,
    "q_stream_maxsim_pruned_p8" -> streamMaxSimPrunedP8,
    "q_stream_dsir" -> streamDsir,
    "q_stream_drift" -> streamDrift,
    "q_stream_mmr" -> streamMmr,
    "q_stream_mmr_pruned" -> streamMmrPrunedFull,
    "q_stream_mmr_pruned_p8" -> streamMmrPrunedP8,
    "q_stream_dau_hll" -> streamDauHll,
    "q_stream_classifier" -> streamClassifier,
    "q_stream_contamination" -> streamContamination,
    "q_stream_contamination_semantic" -> streamContaminationSemantic,
    "q_stream_window" -> streamWindow,
    "q_stream_sessions" -> streamSessions,
    "q_stream_dedup" -> streamDedup,
    "q_stream_neardedup" -> streamNearDedup,
    "q_stream_image_dedup" -> streamImageDedup,
    "q_stream_audio_dedup" -> streamAudioDedup,
    "q_stream_video_dedup" -> streamVideoDedup,
    "q_stream_embedding_dedup" -> streamEmbeddingDedup,
    "q_stream_semantic" -> streamSemantic,
    "q_stream_semantic_trained" -> streamSemanticTrained,
    "q_stream_index" -> streamIndex,
    "q_stream_index_once" -> streamIndexOnce,
    "q_stream_index_pq" -> streamIndexOncePq)

  // a `def`: q_stream_semantic_trained carries dedup_semantic_trained's
  // LAZILY-ARMED centroid-literal oracle shape, recorded under its own
  // key by its own run (see Dedup.TrainedSemOracle)
  def oracleSql: Map[String, String] =
    Dedup.TrainedSemOracle.entry.get("q_stream_semantic_trained")
      .map("q_stream_semantic_trained" -> _).toMap ++
    // the k-heap merge makes the maintained DSIR selection == the batch
    // top-K at stream end, so the key gates on the SAME λ-literal
    // statement shape as sample_dsir, armed by its own run's λ (identical
    // vectors — λ is a pure function of the corpus)
    Sampling.DsirOracle.entry("q_stream_dsir")
      .map("q_stream_dsir" -> _).toMap ++ Map(
    // the streamed quarantine table must equal batch text_contamination —
    // its oracle verbatim
    "q_stream_contamination" -> TextAnalysis.oracleSql("text_contamination"),
    "q_stream_contamination_semantic" ->
      VectorSearch.oracleSql("contamination_semantic"),
    // streamed incremental embedding dedup == the batch within-label
    // exact-cosine oracle (the same statement dedup_embedding is gated on)
    "q_stream_embedding_dedup" -> Dedup.oracleSql("dedup_embedding"),
    // the incrementally-maintained survivor view == the batch SemDeDup
    // closure (components only merge, so end-of-stream labels equal the
    // order-independent transitive closure — dedup_semantic's oracle)
    "q_stream_semantic" -> Dedup.oracleSql("dedup_semantic"),
    // full-probe search over the streamed-in index == exact KNN (the same
    // statement that gates ivf_flat/ivf_append)
    "q_stream_index" -> VectorIndex.exactKnnSql,
    "q_stream_index_once" -> VectorIndex.exactKnnSql,
    "lance_stream_pipeline" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    "q_stream_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, sha256(text) AS h
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    // streamed interval join (complete under the gate's corpus-spanning
    // watermark) == the batch self-join
    "q_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    date_trunc('microseconds', ts) AS ts FROM events)
        |SELECT a.user_id AS user_id, a.event_id AS view_id,
        |  b.event_id AS purchase_id,
        |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, purchase_id""".stripMargin,
    // the continuously maintained MV == a from-scratch aggregate over the
    // final logical table (same statement as the batch q_cdc_materialized)
    "q_stream_text_index" -> TextAnalysis.bm25OracleSql,
    // both maintained structures hold the full corpus at stream end, so
    // the streamed hybrid serving == the batch key's fused answer
    "q_stream_hybrid" -> TextAnalysis.hybridOracleSql,
    // the pruned twins probe every cell at the gate — provably the same
    // answers, so they share the exact arms' oracles unchanged
    "q_stream_hybrid_pruned" -> TextAnalysis.hybridOracleSql,
    // the append-only token store holds the full derivation at stream
    // end, so the streamed MaxSim serving == the batch key's ranking
    "q_stream_maxsim" -> VectorSearch.oracleSql("knn_maxsim"),
    "q_stream_maxsim_pruned" -> VectorSearch.oracleSql("knn_maxsim"),
    // gram-bucket counts are additive, so the standing count table at
    // stream end == the batch aggregation exactly; the report tail is
    // shared verbatim — the batch χ² oracle applies unchanged
    "q_stream_drift" -> TextAnalysis.oracleSql("corpus_drift"),
    // the append-only vector store holds exactly the corpus at stream
    // end, so the streamed MMR serving == the batch key's answer
    "q_stream_mmr" -> VectorSearch.oracleSql("knn_mmr"),
    "q_stream_mmr_pruned" -> VectorSearch.oracleSql("knn_mmr"),
    "q_stream_mv" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_price
        |FROM orders
        |WHERE (o_orderstatus <> 'F' AND o_orderkey >= 1000)
        |   OR o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the continuously maintained WINDOWED MV == the batch per-hour
    // aggregate (hour windows are epoch-aligned, so window().start ==
    // date_trunc('hour'); the gate's corpus-spanning delay keeps every
    // row on-time — the finality drop is spec'd, not gated)
    "q_stream_mv_window" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |  event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // doubled corpus streamed through the windowed dedup == the plain
    // batch aggregate over the ORIGINAL events
    "q_stream_dedup_window" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // watermark-closed outer join == the batch LEFT JOIN
    "q_stream_join_left" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    date_trunc('microseconds', ts) AS ts FROM events)
        |SELECT a.user_id AS user_id, a.event_id AS view_id,
        |  b.event_id AS purchase_id,
        |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
        |FROM (SELECT * FROM e WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, purchase_id""".stripMargin,
    // streamed incremental LSH == the batch all-pairs exact-Jaccard oracle
    // (same statement dedup_minhash_lsh is gated on)
    "q_stream_neardedup" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '[\\t\\n\\x0B\\f\\r ]+'), x -> x != '') AS w
         |  FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8 ORDER BY a_id, b_id""".stripMargin,
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 6 HOUR THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)
}
