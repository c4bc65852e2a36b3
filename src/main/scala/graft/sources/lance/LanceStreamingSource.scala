package graft.sources.lance

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType

/** Streaming *source* over a lance dataset: each micro-batch reads the
  * fragments added between two manifest versions (fragment tailing). The
  * offset is simply the manifest version — fragments are immutable and
  * append-only under append/streaming writes, so (startVersion,
  * endVersion] identifies an exact set of new fragments.
  *
  * Assumes an append-only dataset: an overwrite (truncate) replaces the
  * fragment list and the stream fails rather than silently re-reading
  * (same contract as file-stream sources over rewritten directories).
  *
  * With `read.change-feed=true` the source becomes a CDC feed instead:
  * every commit's effect streams as rows labeled by `_change_type` —
  * "insert" for rows in newly added fragments, "delete" for rows a commit
  * removed (delete-vector growth reads just the newly-deleted positions;
  * a dropped fragment replays its pre-drop live rows). Commits whose
  * manifest `op` is a pure file reorganization (compact, alter) emit
  * nothing — same contract as Delta's change data feed. The batch
  * (start, end] is walked version by version so each step's op is known.
  */
case class LanceOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

class LanceMicroBatchStream(spark: SparkSession, root: String,
                            dataSchema: StructType, requiredSchema: StructType,
                            options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def conf = Shim.hadoopConf(spark, options)

  // Trigger.AvailableNow: pin the end version at query start (commits made
  // while draining wait for the next run) — implemented HERE rather than
  // through Spark's AvailableNowDataStreamWrapper because the wrapper
  // discards the source's read limit (batches would un-bound).
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(ManifestIO.latestVersion(root, conf).getOrElse(0L))

  private def cappedLatest: Long = {
    val l = ManifestIO.latestVersion(root, conf).getOrElse(0L)
    availableNowCap.map(math.min(l, _)).getOrElse(l)
  }

  // ---- admission control (read.max-rows-per-trigger) ----------------------
  // Catch-up over a long commit history is bounded at VERSION granularity:
  // the end offset advances while the accumulated new-row count stays
  // under the cap, always taking at least one version (a single oversized
  // commit can't be split — the offset is a manifest version). A stream
  // started against a huge table then drains in capped micro-batches
  // instead of one batch reading everything.
  private val maxRowsPerTrigger: Option[Long] =
    LanceOptions.any(options, "read.max-rows-per-trigger", "maxRowsPerTrigger")
      .map(_.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Data rows version v adds over its predecessor: live rows of added
    * fragments, plus (change-feed) newly-deleted positions and dropped-
    * fragment replays — the same rows planInputPartitions will emit. */
  private def rowsAdded(prev: Option[LanceManifest], cur: LanceManifest): Long = {
    if (changeFeed && (cur.op == "compact" || cur.op == "alter")) return 0L
    val prevBy = prev.map(_.fragments.map(f => f.path -> f).toMap)
      .getOrElse(Map.empty[String, FragmentMeta])
    val curPaths = cur.fragments.map(_.path).toSet
    val inserts = cur.fragments.filterNot(f => prevBy.contains(f.path))
      .map(_.liveRows).sum
    if (!changeFeed) inserts
    else {
      val dvGrowth = cur.fragments.flatMap { fr =>
        prevBy.get(fr.path).map(old =>
          fr.deletes.map(_.count).getOrElse(0L) - old.deletes.map(_.count).getOrElse(0L))
      }.sum
      val drops = prevBy.valuesIterator
        .filterNot(old => curPaths(old.path)).map(_.liveRows).sum
      inserts + math.max(0L, dvGrowth) + drops
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startV = parse(start)
    val latest = cappedLatest
    limit match {
      case rl: ReadMaxRows if startV < latest =>
        val c = conf
        var prev = if (startV == 0) None else Some(ManifestIO.load(root, startV, c))
        var v = startV
        var taken = 0L
        var continue = true
        while (continue && v < latest) {
          val next = ManifestIO.load(root, v + 1, c)
          val add = rowsAdded(prev, next)
          if (v > startV && taken + add > rl.maxRows()) continue = false
          else { taken += add; prev = Some(next); v += 1 }
        }
        LanceOffset(v)
      case _ => LanceOffset(latest)
    }
  }

  override def reportLatestOffset(): Offset =
    LanceOffset(ManifestIO.latestVersion(root, conf).getOrElse(0L))

  private def parse(o: Offset): Long = o match {
    case LanceOffset(v) => v
    case other =>
      // offsets deserialize from the checkpoint log as JSON
      val s = other.json()
      """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"bad lance offset: $s"))
  }

  override def initialOffset(): Offset = LanceOffset(0L) // read from the beginning

  override def latestOffset(): Offset =
    LanceOffset(ManifestIO.latestVersion(root, conf).getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    LanceOffset("""\d+""".r.findFirstIn(json).map(_.toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad lance offset: $json")))

  /** Fragments present at `end` but not at `start` (by path — fragments
    * are immutable, so path identity is content identity). */
  private def newFragments(start: Long, end: Long): Seq[FragmentMeta] = {
    if (end <= start) return Seq.empty
    val c = conf
    val endFrags = ManifestIO.load(root, end, c).fragments
    if (start == 0) endFrags
    else {
      val startPaths = ManifestIO.load(root, start, c).fragments.map(_.path).toSet
      val dropped = startPaths -- endFrags.map(_.path).toSet
      if (dropped.nonEmpty) throw new IllegalStateException(
        s"lance stream: dataset was overwritten/compacted between versions $start and $end " +
          s"(missing fragments: ${dropped.take(3).mkString(", ")}…); streaming reads require append-only history")
      endFrags.filterNot(f => startPaths.contains(f.path))
    }
  }

  private val requiredNames = requiredSchema.fieldNames.toSet

  /** Every column map seen across planned batches. The reader factory must
    * cover exactly the fragments its partitions carry — an in-flight
    * catch-up batch can hold masked/renamed fragments that a later
    * compaction removed from the LATEST manifest, so deriving maps from
    * `loadLatest` either misses a group (IllegalStateException) or, when
    * the latest manifest is all-identity, reads a masked fragment through
    * the identity path and resurrects dropped-column values. Union-only
    * growth keeps concurrently-executing batches covered. */
  @volatile private var plannedColMaps: Set[LanceColumnMap] = Set.empty
  /** True once any planned fragment carried a delete vector (initial
    * catch-up of a dataset with deletes applies them; later DVs on
    * already-streamed fragments are never retro-applied — append-only). */
  @volatile private var plannedAnyDv: Boolean = false

  private val changeFeed: Boolean =
    LanceOptions.any(options, "readChangeFeed", "read.change-feed")
      .exists(_.toBoolean)

  private def full(rel: String): String =
    new org.apache.hadoop.fs.Path(root, rel).toString

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    if (changeFeed) return cdcPartitions(parse(start), parse(end))
    val frs = newFragments(parse(start), parse(end))
    val maps = frs.map(LanceColumnMap.of(_, requiredNames))
    synchronized {
      plannedColMaps ++= maps
      plannedAnyDv ||= frs.exists(_.deletes.isDefined)
    }
    frs.zip(maps).map { case (fr, cm) =>
      val dv = fr.deletes.map(d => full(d.path))
      LanceInputPartition.of(
        LanceFileSlice(full(fr.path), 0, fr.sizeBytes, fr.sizeBytes, cm, dv)): InputPartition
    }.toArray
  }

  /** One CDC step per version: diff v-1 → v under v's recorded op. */
  private def cdcPartitions(start: Long, end: Long): Array[InputPartition] = {
    val slices = LanceChangeFeed.slices(root, conf, requiredNames, start, end)
    synchronized {
      plannedColMaps ++= slices.map(_.colMap)
      plannedAnyDv = true // CDC partitions need the masked path
    }
    slices.map(LanceInputPartition.of(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // one reader group per column map the planned partitions actually carry
    // (fall back to the latest manifest only if planning hasn't run yet)
    val colMaps = {
      val planned = plannedColMaps.toSeq
      if (planned.nonEmpty) planned
      else ManifestIO.loadLatest(root, conf).toSeq
        .flatMap(_.fragments).map(LanceColumnMap.of(_, requiredNames)).distinct
    }
    if (colMaps.forall(_.isIdentity) && !plannedAnyDv && !changeFeed) {
      val readFn = Shim.parquetReader(spark, dataSchema, requiredSchema, Seq.empty, options)
      new LanceReaderFactory(readFn, limit = None, columnar = false)
    } else {
      new LanceMaskedReaderFactory(
        LanceReadGroup.build(spark, dataSchema, requiredSchema, Seq.empty, options, colMaps),
        limit = None, Shim.serializableConf(conf))
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Shared CDC planner: the file slices holding the change rows for
  * versions `(startExclusive, endInclusive]`, walked commit by commit so
  * each step's recorded op is known — used by the streaming change feed
  * and the batch version-range read (`read.start-version` /
  * `read.end-version`). */
object LanceChangeFeed {
  def slices(root: String, conf: org.apache.hadoop.conf.Configuration,
             requiredNames: Set[String],
             startExclusive: Long, endInclusive: Long): Seq[LanceFileSlice] = {
    def full(rel: String): String =
      new org.apache.hadoop.fs.Path(root, rel).toString
    val parts = scala.collection.mutable.ArrayBuffer.empty[LanceFileSlice]
    // COLUMN IDENTITY under schema evolution: the feed presents every
    // change in the LATEST schema, so a fragment must be read through the
    // latest manifest's copy of its meta — that copy accumulated every
    // later RENAME (physicalNames) and DROP+re-ADD (hidden mask). The
    // version-local meta predates those alters: a renamed column would
    // read back NULL and a re-added name would resurrect stale pre-drop
    // values. Fragments that no longer exist at latest fall back to their
    // version-local meta (sound unless an alter landed after the
    // fragment's drop — the alter then has no per-fragment record to
    // replay, a documented edge).
    val latestBy = ManifestIO.loadLatest(root, conf)
      .map(_.fragments.map(f => f.path -> f).toMap)
      .getOrElse(Map.empty[String, FragmentMeta])
    var prev: Option[LanceManifest] =
      if (startExclusive == 0) None
      else Some(ManifestIO.load(root, startExclusive, conf))
    var v = startExclusive + 1
    while (v <= endInclusive) {
      val cur = ManifestIO.load(root, v, conf)
      // pure file reorganizations are not data changes
      if (cur.op != "compact" && cur.op != "alter") {
        val prevBy = prev.map(_.fragments.map(f => f.path -> f).toMap)
          .getOrElse(Map.empty[String, FragmentMeta])
        val curPaths = cur.fragments.map(_.path).toSet
        def add(fr: FragmentMeta, change: String, dv: Option[String],
                diff: Option[(Option[String], String)]): Unit = {
          val idMeta = latestBy.getOrElse(fr.path, fr)
          parts += LanceFileSlice(full(fr.path), 0, fr.sizeBytes,
            fr.sizeBytes, LanceColumnMap.of(idMeta, requiredNames), dv, Some(change), diff)
        }
        cur.fragments.foreach { fr =>
          prevBy.get(fr.path) match {
            case None => // new fragment: its live rows are inserts
              add(fr, "insert", fr.deletes.map(d => full(d.path)), None)
            case Some(old) if fr.deletes.map(_.path) != old.deletes.map(_.path) =>
              // DV grew: emit exactly the newly-deleted positions
              fr.deletes.foreach(nd =>
                add(old, "delete",
                  None, Some((old.deletes.map(d => full(d.path)), full(nd.path)))))
            case _ => () // unchanged
          }
        }
        // dropped fragments: their pre-drop live rows are deletes
        prevBy.valuesIterator.filterNot(old => curPaths(old.path)).foreach { old =>
          add(old, "delete", old.deletes.map(d => full(d.path)), None)
        }
      }
      prev = Some(cur)
      v += 1
    }
    parts.toSeq
  }
}
