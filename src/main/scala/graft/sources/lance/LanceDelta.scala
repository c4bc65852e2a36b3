package graft.sources.lance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources.{And, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Delta (merge-on-read) row-level operations — the one path for
  * UPDATE / MERGE / subquery-DELETE. Instead of rewriting every affected
  * fragment, the write emits only the CHANGED rows: deletes become
  * positions appended to per-fragment delete-vector sidecars
  * ([[DeleteVectors]]), updates are represented as
  * delete + insert, inserts land as ordinary new fragments. A 1-row UPDATE
  * therefore writes one tiny DV file and a 1-row fragment — every original
  * fragment file stays in place. The read path filters deleted positions;
  * compaction folds DVs back into clean fragments.
  *
  * Row identity is (`_file`, `_pos`): fragment path + physical row
  * position — the same identity Lance's own deletion files use
  * (reference: the Lance format's per-fragment deletion files, surfaced
  * in the connector through dataset.delete / merge-insert APIs).
  *
  * Scale: the write moves O(changed rows), not O(touched fragments ×
  * fragment size). Delete positions ride the task commit messages as
  * sorted longs (8 bytes per deleted row driver-side at commit — bounded
  * by the same budget as any V2 commit metadata); the merged DV write per
  * fragment is O(its deletes).
  */
class LanceDeltaRowLevelOperation(root: String, extraOptions: Map[String, String],
                                  cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** Fragment snapshot at scan time: rel path -> DV rel path (if any).
    * The commit's conflict check requires each touched fragment to still
    * carry exactly this DV — a concurrent rewrite/delete would otherwise
    * be silently overwritten or resurrected. */
  @volatile private[lance] var scanSnapshot: Map[String, Option[String]] = Map.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val conf = Shim.hadoopConf(spark, extraOptions)
    val m = ManifestIO.loadLatest(root, conf).getOrElse(
      throw new IllegalStateException(s"lance dataset not found: $root"))
    new LanceDeltaScanBuilder(spark, root, m,
      extraOptions ++ options.asScala.toMap, this)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new LanceDeltaWriteBuilder(SparkSession.active, root, info, extraOptions, this)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LanceMetadata.FileCol),
      Expressions.column(LanceMetadata.PosCol))

  /** An updated row's identity always changes (its new version has no
    * position until written), so updates are split into delete + insert. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"LanceDelta($cmd, $root)"
}

/** Pruning rule (critical): a fragment may be EXCLUDED from the scan only
  * if the operation provably leaves it untouched. For UPDATE and the
  * rewritten DELETE, Spark pushes (a conjunct-subset of) the command's raw
  * CONDITION, so the only safe prune is `provablyEmpty`: no row of the
  * fragment can match the pushed conjuncts ⇒ no row matches the full
  * condition ⇒ untouched. (`provablyAllMatch` is valid only in the
  * `SupportsDelete` metadata path, where the filters ARE the complete
  * delete condition.) MERGE pushes join-derived filters that admit no such
  * inference, so MERGE never prunes. Filters are never forwarded to the
  * parquet reader — `_pos` fidelity requires reading every physical row
  * of a planned fragment. */
class LanceDeltaScanBuilder(spark: SparkSession, root: String,
                            manifest: LanceManifest, options: Map[String, String],
                            op: LanceDeltaRowLevelOperation) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = manifest.schema
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all residual — used ONLY to skip provably-untouched fragments
  }
  override def pushedFilters(): Array[Filter] = filters
  override def pruneColumns(s: StructType): Unit = required = s

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    import RowLevelOperation.Command
    val conj = filters.reduceOption(And(_, _))
    val affected = (op.command(), conj) match {
      case (Command.UPDATE | Command.DELETE, Some(c)) =>
        manifest.fragments.filterNot(fr =>
          LancePruning.provablyEmpty(fr, manifest.schema, c,
            new Path(root, fr.path).toString))
      case _ => manifest.fragments
    }
    op.scanSnapshot = affected.map(fr => fr.path -> fr.deletes.map(_.path)).toMap
    new LanceParquetScan(spark, root, manifest, affected, required, Seq.empty,
      None, options, Shim.hadoopConf(spark, options))
  }
}

case class LanceDeltaCommitMessage(inserts: Seq[FragmentMeta],
                                   deletes: Map[String, Array[Long]])
    extends WriterCommitMessage

class LanceDeltaWriteBuilder(spark: SparkSession, root: String,
                             info: LogicalWriteInfo, extraOptions: Map[String, String],
                             op: LanceDeltaRowLevelOperation) extends DeltaWriteBuilder {
  override def build(): DeltaWrite = {
    val opts = extraOptions ++ info.options.asScala
    val rowSchema = info.schema()
    val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("lance delta write: missing rowId schema"))
    val fileIdx = rowIdSchema.fieldIndex(LanceMetadata.FileCol)
    val posIdx = rowIdSchema.fieldIndex(LanceMetadata.PosCol)
    val (factory, conf) = Shim.parquetWriterFactory(spark, rowSchema, opts)
    val layout = LanceLayout(opts)
    // A bucketed table KEEPS its storage-partitioned-join layout under
    // row-level DML: re-inserted rows demux executor-side into per-bucket
    // fragment writers tagged with the same pmod(murmur3(key), N) the
    // write shuffle would assign. Without this, one UPDATE would strand
    // an untagged fragment and silently turn off KGP (sound but a silent
    // loss of the shuffle-free join) until the next compaction.
    val bucketSpec = layout.demux(rowSchema)

    new DeltaWrite {
      override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
        override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory =
          new LanceDeltaWriterFactory(root, rowSchema, factory, conf, layout.maxRowsPerFile,
            fileIdx, posIdx, bucketSpec)

        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          val msgs = messages.collect { case m: LanceDeltaCommitMessage => m }.toSeq
          val insertFrags = msgs.flatMap(_.inserts)
          // merge delete positions across tasks, keyed by rel path
          val rootPath = new Path(root).toString
          def toRel(full: String): String = {
            val p = full.stripPrefix(rootPath).stripPrefix("/")
            if (p == full) new Path(full).toUri.getPath.stripPrefix(
              new Path(rootPath).toUri.getPath).stripPrefix("/")
            else p
          }
          val delsByRel = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
          for (m <- msgs; (full, positions) <- m.deletes) {
            delsByRel.getOrElseUpdate(toRel(full), mutable.ArrayBuffer.empty) ++= positions
          }
          val snapshot = op.scanSnapshot
          val unknown = delsByRel.keySet.filterNot(snapshot.contains)
          if (unknown.nonEmpty) throw new IllegalStateException(
            s"lance delta commit: deletes target unscanned fragments: ${unknown.take(3).mkString(", ")}")
          // conflict check pins cur DV == scan-time DV, so merging against
          // the snapshot DV outside the retry loop is consistent
          val newDv: Map[String, DeleteVectorMeta] = delsByRel.map {
            case (rel, positions) =>
              rel -> DeleteVectors.merge(root, conf.value, snapshot(rel), positions.toArray)
          }.toMap

          val committed = ManifestIO.commit(root, conf.value) { latest =>
            val cur = latest.getOrElse(throw new IllegalStateException(
              s"lance dataset disappeared during ${op.command()}: $root"))
            val curBy = cur.fragments.map(f => f.path -> f).toMap
            val conflict = delsByRel.keys.exists { rel =>
              !curBy.get(rel).exists(_.deletes.map(_.path) == snapshot(rel))
            }
            if (conflict) None
            else {
              val stamped = LanceWriteUtil.stampRacedDrops(insertFrags, rowSchema, cur.schema)
              val frags = cur.fragments.flatMap { fr =>
                newDv.get(fr.path) match {
                  case Some(d) if d.count >= fr.rows => None // fully deleted
                  case Some(d) => Some(fr.copy(deletes = Some(d)))
                  case None => Some(fr)
                }
              } ++ stamped
              // manifest op name (change-feed metadata): delete/update/merge
              Some(LanceCommit(cur.schema, frags, cur.txns,
                op.command().name.toLowerCase(java.util.Locale.ROOT)))
            }
          }
          if (committed.isEmpty) {
            LanceWriteUtil.abandonFragments(root, insertFrags, conf.value)
            val fs = ManifestIO.fs(root, conf.value)
            newDv.values.foreach(d => fs.delete(new Path(root, d.path), false))
            throw new IllegalStateException(
              s"lance ${op.command()} lost a conflict with a concurrent rewrite at $root; retry")
          }
        }

        override def abort(messages: Array[WriterCommitMessage]): Unit =
          LanceWriteUtil.abandonFragments(root, messages.toSeq.flatMap {
            case m: LanceDeltaCommitMessage => m.inserts
            case _ => Nil
          }, conf.value)
      }
    }
  }
}

class LanceDeltaWriterFactory(root: String, rowSchema: StructType,
                              factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                              conf: org.apache.spark.util.SerializableConfiguration,
                              maxRowsPerFile: Long, fileIdx: Int, posIdx: Int,
                              bucketSpec: Option[(Int, org.apache.spark.sql.types.DataType, Int)] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LanceDeltaWriter(root, rowSchema, factory, conf, maxRowsPerFile,
      partitionId, taskId, fileIdx, posIdx, bucketSpec)
}

/** Executor-side delta writer: inserts roll through the ordinary fragment
  * writer; deletes accumulate (file -> positions) and ride the commit
  * message. `update` is never called (updates are split).
  *
  * On a bucketed table, inserts DEMUX into one fragment writer per bucket
  * (lazily opened; at most min(buckets, distinct keys seen) open files per
  * task), each tagged `bucket = pmod(murmur3(key), N)` — the identical
  * seed-42 fold the write shuffle's HashPartitioning applies — so the
  * storage-partitioned-join layout survives UPDATE/MERGE. The per-bucket
  * fragments are compaction-normal small files (merged within buckets
  * later); null keys hash like the shuffle hashes them (seed stays). */
class LanceDeltaWriter(root: String, rowSchema: StructType,
                       factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                       conf: org.apache.spark.util.SerializableConfiguration,
                       maxRowsPerFile: Long, partitionId: Int, taskId: Long,
                       fileIdx: Int, posIdx: Int,
                       bucketSpec: Option[(Int, org.apache.spark.sql.types.DataType, Int)] = None)
    extends DeltaWriter[InternalRow] {

  private lazy val inserts = new LanceDataWriter(root, rowSchema, factory, conf,
    maxRowsPerFile, partitionId, taskId)
  private val bucketWriters = mutable.HashMap.empty[Int, LanceDataWriter]
  private var plainUsed = false
  private val dels = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    dels.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += id.getLong(posIdx)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "lance delta: updates are represented as delete + insert")

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  override def insert(row: InternalRow): Unit = bucketSpec match {
    case Some((idx, dt, n)) =>
      val h = Shim.murmur3Hash(row.get(idx, dt), dt, 42L).toInt
      val b = ((h % n) + n) % n
      bucketWriters.get(b) match {
        case Some(w) => w.write(row)
        case None if bucketWriters.size < LanceDeltaWriter.DemuxMaxOpen =>
          bucketWriters.getOrElseUpdate(b,
            new LanceDataWriter(root, rowSchema, factory, conf, maxRowsPerFile,
              b, taskId, bucketed = true)).write(row)
        case None =>
          // open-writer cap hit (each parquet writer buffers MBs): route
          // the overflow untagged — sound (the scan stops reporting KGP
          // over a mixed manifest) and compaction re-buckets later
          plainUsed = true
          inserts.write(row)
      }
    case None =>
      plainUsed = true
      inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val insertFrags = allWriters.flatMap(_.commit() match {
      case m: LanceFragmentsCommitMessage => m.fragments
    })
    LanceDeltaCommitMessage(insertFrags,
      dels.map { case (f, ps) => f -> ps.toArray }.toMap)
  }

  private def allWriters: Seq[LanceDataWriter] =
    (if (plainUsed) Seq(inserts) else Seq.empty) ++ bucketWriters.values.toSeq

  override def abort(): Unit = allWriters.foreach(_.abort())
  override def close(): Unit = allWriters.foreach(_.close())
}

object LanceDeltaWriter {
  /** Max concurrently-open per-bucket fragment writers per task. Each
    * parquet writer buffers row groups in memory, so an unbounded demux
    * over a high-bucket-count table could hold bucket-count × buffer
    * bytes per task; beyond the cap, overflow rows write untagged (the
    * table degrades to the pre-demux behavior until compaction). */
  val DemuxMaxOpen = 128
}
