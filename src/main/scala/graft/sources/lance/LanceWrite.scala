package graft.sources.lance

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.Partition
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID

/** Commit-based write path (reference: LanceSink.java:122-188):
  * executors write immutable parquet fragments under `data/`, the driver
  * commit swaps in a new manifest — append keeps prior fragments, truncate
  * starts fresh. Streaming commits are made exactly-once by recording
  * (queryId, epochId) in the manifest and skipping replayed epochs.
  */
class LanceWriteBuilder(spark: SparkSession, root: String, info: LogicalWriteInfo,
                        extraOptions: Map[String, String]) extends WriteBuilder
    with SupportsOverwrite {

  private var truncateAll = false
  private var overwriteFilters: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = { truncateAll = true; this }

  /** Overwrite-by-filter (INSERT INTO ... REPLACE WHERE /
    * df.writeTo(t).overwrite(cond)): delete-matching + append in ONE
    * atomic commit — all-match fragments drop, partial matches get
    * delete-vector sidecars, the new data lands as fresh fragments.
    * Declines (analysis-time error, never a wrong write) predicates that
    * can't be rebuilt as Columns. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncate()
    else if (filters.forall(f => LanceDelete.toColumn(f).isDefined)) {
      overwriteFilters = filters
      this
    } else throw new UnsupportedOperationException(
      s"lance overwrite: unsupported replace predicate ${filters.mkString(", ")}")
  }

  override def build(): Write = {
    // extraOptions already hold the table's persisted properties; per-write
    // options may not override a declared bucket layout (stale tags would
    // corrupt storage-partitioned joins)
    val opts = LanceLayout.merge(extraOptions,
      scala.jdk.CollectionConverters.MapHasAsScala(info.options).asScala.toMap)
    val schema = info.schema()
    // driver-side: Spark's parquet OutputWriterFactory + configured job conf
    val (factory, conf) = Shim.parquetWriterFactory(spark, schema, opts)
    new LanceWrite(root, schema, factory, conf, LanceLayout(opts).forWrite(schema),
      truncateAll, info.queryId(), overwriteFilters, opts)
  }
}

case class LanceFragmentsCommitMessage(fragments: Seq[FragmentMeta]) extends WriterCommitMessage

/** The catalog write (INSERT, CTAS, REPLACE WHERE, streaming appends) under
  * the table's [[LanceLayout]], declared through
  * RequiresDistributionAndOrdering so Catalyst plans the shuffle and sort:
  *  - `write.cluster-by` asks for a GLOBAL sort on the listed columns
  *    (OrderedDistribution): fragments come out key-clustered with tight
  *    min/max ranges, so scan pruning and the single-valued GROUP BY stats
  *    pushdown apply. AQE sizes the partitions unless
  *    `write.cluster-partitions` fixes their count;
  *  - `write.bucket-by` + `write.bucket-count` require a
  *    ClusteredDistribution with an explicit partition count, so Spark
  *    shuffles via HashPartitioning(col, N) and a task's partitionId IS
  *    pmod(murmur3(col), N): each fragment it writes carries that bucket
  *    tag. Tables bucketed the same way are co-partitioned on disk, their
  *    scans report KeyGroupedPartitioning and equi-joins between them skip
  *    the shuffle (storage-partitioned join). The explicit count also keeps
  *    AQE from coalescing, which would break the id = bucket equality;
  *  - every layout's within-partition order ([[LanceLayout.orderedCols]])
  *    is stamped on each fragment, so scans report it back.
  * Spark honors the distribution per micro-batch too (SPARK-34183), so
  * streamed fragments join the same layout. */
class LanceWrite(root: String, schema: StructType,
                 factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                 conf: SerializableConfiguration, layout: LanceLayout,
                 truncateAll: Boolean, queryId: String,
                 overwriteFilters: Array[Filter] = Array.empty,
                 options: Map[String, String] = Map.empty) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private def sortOrders(cols: Seq[String]) = cols.map(c =>
    org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    layout.bucket match {
      case Some((c, _)) =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          Array(org.apache.spark.sql.connector.expressions.Expressions.column(c)))
      case None if layout.clusterBy.nonEmpty =>
        org.apache.spark.sql.connector.distributions.Distributions.ordered(
          sortOrders(layout.clusterBy))
      case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortOrders(layout.orderedCols)

  // a partition count without a distribution is an error in Spark, and a
  // path save ignores it there too
  override def requiredNumPartitions(): Int =
    layout.bucket.map(_._2)
      .orElse(if (layout.clusterBy.nonEmpty) layout.clusterPartitions else None)
      .getOrElse(0)

  // clusterIdx rides along for batch and streaming writes alike: fragments
  // roll at cluster-key boundaries, so each is single-valued in the key
  // (grouped stats pushdown, tight range pruning)
  private def writerFactory = new LanceDataWriterFactory(root, schema, factory, conf,
    layout.maxRowsPerFile, layout.clusterBy.map(schema.fieldIndex).toArray,
    bucketed = layout.bucket.isDefined, sortedBy = layout.orderedCols)

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      writerFactory

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val newFrags = messages.flatMap {
        case m: LanceFragmentsCommitMessage => m.fragments
      }.toSeq
      // overwrite-by-filter: classify + DV the replaced rows against the
      // latest manifest, then fold delete + append into ONE commit (readers
      // never observe deleted-but-not-replaced state)
      val replacePlan = if (overwriteFilters.isEmpty) None else {
        val spark = SparkSession.active
        ManifestIO.loadLatest(root, conf.value).map(m =>
          LanceDelete.planDelete(spark, root, m, overwriteFilters, options,
            replaceWhere = true))
      }
      val mode =
        if (truncateAll) LanceWriteUtil.Staged.Truncate(installSchema = false)
        else if (overwriteFilters.nonEmpty) LanceWriteUtil.Staged.ReplaceWhere(replacePlan)
        else LanceWriteUtil.Staged.Append
      if (LanceWriteUtil.commitStaged(root, conf.value, newFrags, schema, layout, mode).isEmpty) {
        replacePlan.foreach(_.abandon(root, conf.value))
        LanceWriteUtil.deleteFragments(root, messages, conf)
        throw new IllegalStateException(
          s"lance REPLACE WHERE lost a conflict with a concurrent rewrite at $root; retry")
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      LanceWriteUtil.deleteFragments(root, messages, conf)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      writerFactory

    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val newFrags = messages.flatMap {
        case m: LanceFragmentsCommitMessage => m.fragments
      }.toSeq
      // Exactly-once via the per-appId high-water map (the Delta txn
      // pattern): every manifest carries appId -> last committed epoch, so
      // interleaved batch appends/compactions can't erase the marker, and
      // the replay check runs against the freshest manifest inside the
      // commit retry loop (atomic wrt concurrent commits).
      val committed = ManifestIO.commit(root, conf.value) { latest =>
        val txns = latest.map(_.txns).getOrElse(Map.empty)
        if (txns.get(queryId).exists(_ >= epochId)) None // replayed epoch
        else {
          // as in batch commit: preserve the declared table schema on appends
          val tableSchema = latest.map(_.schema).getOrElse(schema)
          val prev = latest.map(_.fragments).getOrElse(Seq.empty)
          val stamped = LanceWriteUtil.stampRacedDrops(newFrags, schema, tableSchema)
          Some(LanceCommit(tableSchema, prev ++ stamped, txns + (queryId -> epochId), "append"))
        }
      }
      // replayed epoch after recovery: fragments are duplicates — drop them
      if (committed.isEmpty) LanceWriteUtil.deleteFragments(root, messages, conf)
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      LanceWriteUtil.deleteFragments(root, messages, conf)
  }
}

object LanceWriteUtil {
  /** How a staged batch write folds into the table. */
  sealed trait Staged
  object Staged {
    case object Append extends Staged
    /** Replaces every fragment. A path overwrite installs the writer's
      * schema; a catalog truncate keeps the declared one. */
    final case class Truncate(installSchema: Boolean) extends Staged
    /** Deletes what `plan` matches in the commit that appends; None when
      * the table was absent at planning. */
    final case class ReplaceWhere(plan: Option[LanceDelete.DeletePlan]) extends Staged
  }

  /** The one commit of a staged batch write, path save and catalog write
    * alike, recomputed against the latest manifest on every retry: stamp
    * columns a concurrent DROP raced away hidden, check a bucketed append
    * against the persisted bucket layout, fold the fragments
    * ([[foldStaged]]) and set the layout's property and bucket stamps in
    * the same commit. Returns the committed manifest, or None when a
    * REPLACE WHERE lost a conflict (the caller abandons what it staged).
    * `loaded` is the latest manifest as the caller already read it. */
  def commitStaged(root: String, conf: org.apache.hadoop.conf.Configuration,
                   staged: Seq[FragmentMeta], writerSchema: StructType,
                   layout: LanceLayout, mode: Staged,
                   loaded: Option[Option[LanceManifest]] = None): Option[LanceManifest] =
    ManifestIO.commit(root, conf, loaded) { prev =>
      // keep the DECLARED table schema, not the write query's schema — a
      // query schema can be narrower (non-nullable literals) and would
      // make columns "required" that old fragments don't even have
      val tableSchema = mode match {
        case Staged.Truncate(true) => writerSchema
        case _ => prev.map(_.schema).getOrElse(writerSchema)
      }
      val prevProps = prev.map(_.props).getOrElse(Map.empty)
      foldStaged(prev, mode, stampRacedDrops(staged, writerSchema, tableSchema)).map { frags =>
        val op = mode match {
          case Staged.Append | Staged.ReplaceWhere(None) => "append"
          case Staged.Truncate(_) => "overwrite"
          case Staged.ReplaceWhere(Some(_)) => "replace"
        }
        if (op != "overwrite") layout.requireBucketCompat(prevProps)
        LanceCommit(tableSchema, frags, prev.map(_.txns).getOrElse(Map.empty), op,
          props = if (layout.stamps.isEmpty) None else Some(prevProps ++ layout.stamps))
      }
    }

  /** The fragment list a staged write commits against `prev`, or None to
    * abort:
    *  - a planned REPLACE WHERE whose plan conflicts with the current
    *    manifest (unseen fragments not provably disjoint from the filter);
    *  - a REPLACE WHERE planned against an ABSENT table when a concurrent
    *    CREATE won the race — a plain append would keep the winner's rows
    *    matching the filter beside the replacement data, silently breaking
    *    the REPLACE WHERE invariant (mirrors LanceDelete.replaceWhere's
    *    (Some(cur), None) arm). */
  def foldStaged(prev: Option[LanceManifest], mode: Staged,
                 stamped: Seq[FragmentMeta]): Option[Seq[FragmentMeta]] = {
    val base = prev.map(_.fragments).getOrElse(Seq.empty)
    mode match {
      case Staged.Truncate(_) => Some(stamped)
      case Staged.ReplaceWhere(Some(plan)) =>
        if (prev.exists(plan.conflictsWith)) None else Some(plan(base) ++ stamped)
      case Staged.ReplaceWhere(None) if prev.isDefined => None
      case _ => Some(base ++ stamped)
    }
  }

  /** An append that loses the commit race to a concurrent DROP COLUMN keeps
    * the winner's post-drop schema, but its fragments physically contain
    * the dropped column — stamp those names hidden (and strip their stats)
    * so a later re-ADD under the same name cannot resurrect the values. */
  def stampRacedDrops(newFrags: Seq[FragmentMeta], writerSchema: StructType,
                      tableSchema: StructType): Seq[FragmentMeta] = {
    val lost = writerSchema.fieldNames.toSet -- tableSchema.fieldNames.toSet
    if (lost.isEmpty) newFrags
    else newFrags.map(f => f.copy(hidden = (f.hidden ++ lost).distinct,
      stats = f.stats.filterNot { case (k, _) =>
        lost.exists(d => k == d || k.startsWith(d + "."))
      }))
  }

  def deleteFragments(root: String, messages: Array[WriterCommitMessage],
                      conf: SerializableConfiguration): Unit =
    abandonFragments(root, messages.toSeq.flatMap {
      case m: LanceFragmentsCommitMessage => m.fragments
      case _ => Nil
    }, conf.value)

  /** The one abandon step for staged fragments that will never commit (a
    * lost commit race, an aborted or replayed write): deletes each
    * fragment's data file and its `_stats/` sketch sidecar. */
  private[lance] def abandonFragments(root: String, frags: Seq[FragmentMeta],
                                      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = ManifestIO.fs(root, conf)
    for (f <- frags; rel <- f.path +: f.sketches.toSeq) fs.delete(new Path(root, rel), false)
  }
}

/** Creates the fragment writers of a batch or a streaming write. */
class LanceDataWriterFactory(root: String, schema: StructType,
                             factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                             conf: SerializableConfiguration, maxRowsPerFile: Long,
                             clusterIdx: Array[Int] = Array.empty,
                             bucketed: Boolean = false,
                             sortedBy: Seq[String] = Nil)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LanceDataWriter(root, schema, factory, conf, maxRowsPerFile, partitionId, taskId,
      clusterIdx, bucketed, sortedBy)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Executor-side fragment writer: rolls to a new parquet file every
  * `maxRowsPerFile` rows (reference: write.max-rows-per-file), then reads
  * each finished file's footer to build fragment stats for the manifest —
  * footer reads and stats happen HERE, executor-side per task, so driver
  * work per fragment is O(1) (the manifest commit only).
  *
  * Integral columns additionally accumulate an exact per-fragment SUM as
  * rows stream through (one add per value — noise next to parquet
  * encoding), which the scan folds to answer SUM/AVG pushdown. Overflow
  * poisons the column's sum (None = unknown, declines pushdown). */
class LanceDataWriter(root: String, schema: StructType,
                      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                      conf: SerializableConfiguration, maxRowsPerFile: Long,
                      partitionId: Int, taskId: Long,
                      clusterIdx: Array[Int] = Array.empty,
                      bucketed: Boolean = false,
                      sortedBy: Seq[String] = Nil) extends DataWriter[InternalRow] {

  private val ctx = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-lance", 0), TaskType.MAP, partitionId), taskId.toInt)
    new TaskAttemptContextImpl(conf.value, attempt)
  }
  private val ext = factory.getFileExtension(ctx)
  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var rowsInFile = 0L
  private var files = List.empty[String] // relative paths under root

  // columns tracked for exact SUM stats: integral types directly, decimals
  // of precision <= 18 via their unscaled long representation (exact long
  // arithmetic either way; reference answers SUM/AVG over every numeric —
  // AggregateExecutor.java:125-161 — float/double stay declined because
  // their sums are order-dependent)
  private val sumFields: Array[(Int, org.apache.spark.sql.types.DataType, String)] = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == ByteType || f.dataType == ShortType ||
        f.dataType == IntegerType || f.dataType == LongType => (i, f.dataType, f.name)
      case (f, i) if f.dataType.isInstanceOf[DecimalType] &&
        f.dataType.asInstanceOf[DecimalType].precision <= 18 => (i, f.dataType, f.name)
    }
  }
  private var sums: Array[Long] = _
  private var sumOk: Array[Boolean] = _
  private var sumNonNulls: Array[Long] = _
  private var finishedSums = Map.empty[String, Map[String, Long]] // rel -> col -> sum
  private var finishedNonNulls = Map.empty[String, Map[String, Long]] // rel -> col -> non-null rows

  // string columns tracked for the exact low-cardinality value dictionary;
  // UTF8String keys (content-hashed) so the per-row containment probe
  // allocates nothing — values are copied out of the row buffer only on
  // first sighting and stringified once at file close
  private val strFields: Array[(Int, String)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == org.apache.spark.sql.types.StringType => (i, f.name)
    }
  private var dicts: Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] = _
  private var finishedDicts = Map.empty[String, Map[String, Seq[String]]] // rel -> col -> values

  // string + integral columns additionally sketch an HLL per fragment
  // (approximate COUNT(DISTINCT) for columns the exact dictionaries can't
  // cover); sketches land in one small per-fragment sidecar under _stats/
  private val hllFields: Array[(Int, org.apache.spark.sql.types.DataType, String)] = {
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType,
      ShortType, StringType, TimestampNTZType, TimestampType}
    // temporals sketch in their internal int-days / long-micros domain —
    // the same domain the probe side (LancePruning.litHash) hashes in
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == StringType || f.dataType == ByteType ||
        f.dataType == ShortType || f.dataType == IntegerType ||
        f.dataType == LongType || f.dataType == DateType ||
        f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        (i, f.dataType, f.name)
    }
  }
  private var hlls: Array[Hll] = _
  // per-column buffered value hashes: the bloom is SIZED at file close
  // (~10 bits per key); columns whose fragment exceeds the key cap skip it
  // (write options ride the job conf, so the knob reaches executors)
  private val bloomMaxKeys: Int =
    conf.value.getInt("write.bloom-max-keys", Bloom.DefaultMaxKeys.toInt)
  private var bloomHashes: Array[Array[Long]] = _
  private var bloomCounts: Array[Int] = _
  private var finishedSketches = Map.empty[String, String] // rel -> sidecar rel

  private def roll(): Unit = {
    closeCurrent()
    val rel = s"${ManifestIO.DataDir}/${UUID.randomUUID()}-p$partitionId$ext"
    files ::= rel
    writer = factory.newInstance(new Path(root, rel).toString, schema, ctx)
    rowsInFile = 0L
    sums = new Array[Long](sumFields.length)
    sumOk = Array.fill(sumFields.length)(true)
    sumNonNulls = new Array[Long](sumFields.length)
    dicts = Array.fill(strFields.length)(
      new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String])
    hlls = Array.fill(hllFields.length)(new Hll())
    bloomHashes = Array.fill(hllFields.length)(new Array[Long](1024))
    bloomCounts = new Array[Int](hllFields.length)
  }

  private def closeCurrent(): Unit = {
    if (writer != null) {
      writer.close(); writer = null
      finishedSums += files.head -> sumFields.indices.collect {
        case j if sumOk(j) => sumFields(j)._3 -> sums(j)
      }.toMap
      finishedNonNulls += files.head -> sumFields.indices.map { j =>
        sumFields(j)._3 -> sumNonNulls(j)
      }.toMap
      finishedDicts += files.head -> strFields.indices.collect {
        case j if dicts(j) != null =>
          strFields(j)._2 -> {
            val it = dicts(j).iterator()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next().toString
            b.result().sorted
          }
      }.toMap
      if (hllFields.nonEmpty) {
        finishedSketches += files.head -> Hll.writeSidecar(root, conf.value,
          hllFields.indices.map { j =>
            val bloom = if (bloomCounts(j) < 0) None
                        else Some(Bloom.build(bloomHashes(j), bloomCounts(j)))
            (hllFields(j)._3, hlls(j), bloom)
          })
      }
    }
  }

  // cluster-key boundary tracking: rows arrive sorted by the cluster
  // columns (RequiresDistributionAndOrdering / V1 repartitionByRange), so
  // rolling whenever the key tuple changes yields fragments SINGLE-VALUED
  // in the cluster key — one fragment per key run per task, independent of
  // how AQE coalesced the shuffle — which is what fragment-range pruning
  // and the grouped stats pushdown key off. Intended for low/moderate-
  // cardinality keys (fragment count is bounded by key-run count);
  // high-cardinality layouts use write.sort-by, which never splits.
  private val clusterTypes = clusterIdx.map(i => schema.fields(i).dataType)
  private var prevKey: Array[Any] = _
  private def keyChanged(record: InternalRow): Boolean = {
    if (prevKey == null) return true
    var i = 0
    while (i < clusterIdx.length) {
      val v = if (record.isNullAt(clusterIdx(i))) null
              else record.get(clusterIdx(i), clusterTypes(i))
      val p = prevKey(i)
      if (if (p == null) v != null else !p.equals(v)) return true
      i += 1
    }
    false
  }
  private def captureKey(record: InternalRow): Unit = {
    if (prevKey == null) prevKey = new Array[Any](clusterIdx.length)
    var i = 0
    while (i < clusterIdx.length) {
      val v = if (record.isNullAt(clusterIdx(i))) null
              else record.get(clusterIdx(i), clusterTypes(i))
      prevKey(i) = v match {
        // copy values that point into the reused row buffer
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case other => other
      }
      i += 1
    }
  }

  override def write(record: InternalRow): Unit = {
    val keyChange = clusterIdx.nonEmpty && keyChanged(record)
    if (writer == null || rowsInFile >= maxRowsPerFile ||
        (keyChange && rowsInFile > 0)) roll()
    if (keyChange) captureKey(record)
    writer.write(record)
    var j = 0
    while (j < sumFields.length) {
      val (i, dt, _) = sumFields(j)
      if (!record.isNullAt(i)) {
        sumNonNulls(j) += 1
        if (sumOk(j)) {
          import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, ShortType}
          val v: Long = dt match {
            case ByteType => record.getByte(i).toLong
            case ShortType => record.getShort(i).toLong
            case IntegerType => record.getInt(i).toLong
            case d: DecimalType =>
              record.getDecimal(i, d.precision, d.scale).toUnscaledLong
            case _ => record.getLong(i)
          }
          try sums(j) = Math.addExact(sums(j), v)
          catch { case _: ArithmeticException => sumOk(j) = false }
        }
      }
      j += 1
    }
    var k = 0
    while (k < strFields.length) {
      val d = dicts(k)
      if (d != null && !record.isNullAt(strFields(k)._1)) {
        val u = record.getUTF8String(strFields(k)._1)
        if (!d.contains(u)) {
          d.add(u.clone()) // copy out of the (reused) row buffer
          if (d.size > ManifestIO.MaxDistinct) dicts(k) = null // overflow: unknown
        }
      }
      k += 1
    }
    var h = 0
    while (h < hllFields.length) {
      val (i, dt, _) = hllFields(h)
      if (!record.isNullAt(i)) {
        import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, ShortType, StringType}
        // one XXH64 per value feeds both the HLL and the equality bloom
        val hsh = dt match {
          case StringType => Bloom.hashUTF8String(record.getUTF8String(i))
          case ByteType => Bloom.hashLong(record.getByte(i).toLong)
          case ShortType => Bloom.hashLong(record.getShort(i).toLong)
          case IntegerType | DateType => Bloom.hashLong(record.getInt(i).toLong)
          case _ => Bloom.hashLong(record.getLong(i)) // long / timestamp(_ntz) micros
        }
        hlls(h).addHash(hsh)
        // buffer for the close-time sized bloom; -1 count = over cap, skip
        val n = bloomCounts(h)
        if (n >= 0) {
          if (n >= bloomMaxKeys) bloomCounts(h) = -1
          else {
            var buf = bloomHashes(h)
            if (n == buf.length) {
              buf = java.util.Arrays.copyOf(buf, buf.length * 2)
              bloomHashes(h) = buf
            }
            buf(n) = hsh
            bloomCounts(h) = n + 1
          }
        }
      }
      h += 1
    }
    rowsInFile += 1
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    val frags = files.reverse.map { rel =>
      val (rows, size, stats) = ManifestIO.footerStats(conf.value, new Path(root, rel))
      val fileSums = finishedSums.getOrElse(rel, Map.empty)
      val fileNN = finishedNonNulls.getOrElse(rel, Map.empty)
      val fileDicts = finishedDicts.getOrElse(rel, Map.empty)
      val withSums = stats.map { case (c, cs) =>
        c -> cs.copy(sum = fileSums.get(c), distinct = fileDicts.get(c))
      }
      // decimal columns get no footer entry (parquet decimal stats are not
      // decoded) — synthesize one from the writer's own sum + null tracking
      // so SUM/AVG pushdown can answer them
      val decimalExtra = fileSums.keys
        .filterNot(withSums.contains)
        .flatMap { c =>
          fileNN.get(c).map(nn =>
            c -> ColStats(None, None, Some(rows - nn), fileSums.get(c), None))
        }.toMap
      FragmentMeta(rel, rows, size, withSums ++ decimalExtra,
        sketches = finishedSketches.get(rel),
        // under write.bucket-by the shuffle's HashPartitioning makes the
        // task's partitionId the bucket value of every row it receives
        bucket = if (bucketed) Some(partitionId) else None,
        // the write-enforced sort order every row of this file honors
        // (rolling files are contiguous slices of the sorted partition);
        // the scan reports it back via SupportsReportOrdering
        sortedBy = sortedBy)
    }
    LanceFragmentsCommitMessage(frags)
  }

  override def abort(): Unit = {
    closeCurrent()
    val fs = ManifestIO.fs(root, conf.value)
    files.foreach(rel => fs.delete(new Path(root, rel), false))
    finishedSketches.values.foreach(rel => fs.delete(new Path(root, rel), false))
  }

  override def close(): Unit = closeCurrent()
}

/** Batch save for `df.write.format("lance").save(path)` (the V1
  * create-on-write fallback): executors write fragments directly through
  * the rolling [[LanceDataWriter]] — parquet encode, footer-stats read and
  * SUM accumulation all happen task-side in parallel — and the driver's
  * only per-fragment work is folding the returned metadata into one
  * manifest commit. No staging directory, no renames, no driver-side
  * footer loop (that serial pass was the r2 scale-killer: at 10^5-10^6
  * fragments it serialized the whole write on the driver). Saves to
  * several tables stage in one job and commit in order ([[saveAll]]). */
object LanceBatchSave {
  /** One table a staging job writes: `rows` of `schema` become fragments
    * under `root`, rolling at `maxRowsPerFile` rows and at every
    * `clusterBy` key change, tagged with their partition index as the
    * bucket when `bucketed`, stamped `sortedBy`, through a parquet writer
    * configured from `options` (write options reach the executors through
    * its job conf). */
  private[lance] final case class Target(root: String, rows: RDD[InternalRow],
                                         schema: StructType, maxRowsPerFile: Long,
                                         clusterBy: Seq[String] = Nil,
                                         sortedBy: Seq[String] = Nil,
                                         bucketed: Boolean = false,
                                         options: Map[String, String] = Map.empty)

  /** A save of a frame at `root`, planned against `prev`, the latest
    * manifest as the caller loaded it: the rows are shaped and the layout
    * checked; nothing is written yet. */
  final class Planned private[LanceBatchSave] (val root: String, writerSchema: StructType,
                                               layout: LanceLayout,
                                               options: Map[String, String],
                                               prev: Option[LanceManifest], append: Boolean,
                                               private[lance] val target: Target) {
    private[LanceBatchSave] def commit(spark: SparkSession,
                                       frags: Seq[FragmentMeta]): LanceManifest =
      LanceWriteUtil.commitStaged(root, Shim.hadoopConf(spark, options), frags, writerSchema,
        layout,
        if (append) LanceWriteUtil.Staged.Append
        else LanceWriteUtil.Staged.Truncate(installSchema = true),
        loaded = Some(prev)).get
  }

  /** Plan a save of `df` at `root`, whose latest manifest is `prev`. The
    * rows are shaped by the same [[LanceLayout]] a catalog write requests
    * through RequiresDistributionAndOrdering, from the options over the
    * persisted table properties: bucketed rows hash-repartition by the
    * bucket column into the bucket count, clustered ones range-repartition
    * by the cluster columns, and every partition sorts by the layout's
    * order. An append keeps the table's schema and must match it; an
    * overwrite installs `df`'s. */
  def plan(spark: SparkSession, df: DataFrame, root: String,
           options: Map[String, String], prev: Option[LanceManifest],
           append: Boolean): Planned = {
    prev.foreach { m =>
      if (append) require(
        m.schema.fields.map(f => (f.name, f.dataType)).sameElements(
          df.schema.fields.map(f => (f.name, f.dataType))),
        s"lance append schema mismatch: table=${m.schema.simpleString} df=${df.schema.simpleString}")
    }
    val layout = LanceLayout(LanceLayout.merge(prev.map(_.props).getOrElse(Map.empty), options))
      .forWrite(df.schema)
    val shaped = {
      import org.apache.spark.sql.functions.col
      val clusterCols = layout.clusterBy.map(col)
      val cl = layout.bucket match {
        // repartition(n, col) = HashPartitioning: partitionId is
        // pmod(murmur3(col), n), the same bucket function the V2 path's
        // ClusteredDistribution + requiredNumPartitions yields
        case Some((c, n)) => df.repartition(n, col(c))
        case None if clusterCols.isEmpty => df
        case None => layout.clusterPartitions
          .map(n => df.repartitionByRange(n, clusterCols: _*))
          .getOrElse(df.repartitionByRange(clusterCols: _*))
      }
      // range repartitioning alone does not order rows inside a partition
      if (layout.orderedCols.isEmpty) cl
      else cl.sortWithinPartitions(layout.orderedCols.map(col): _*)
    }
    new Planned(root, df.schema, layout, options, prev, append,
      Target(root, Shim.toRdd(shaped), df.schema, layout.maxRowsPerFile, layout.clusterBy,
        layout.orderedCols, layout.bucket.isDefined, options))
  }

  /** Save `df` at `root`, whose latest manifest is `prev`, and return the
    * committed manifest (see [[plan]]). */
  def write(spark: SparkSession, df: DataFrame, root: String,
            options: Map[String, String], prev: Option[LanceManifest],
            append: Boolean): LanceManifest =
    saveAll(spark, Seq(plan(spark, df, root, options, prev, append))).head

  /** Stage every save in ONE Spark job, then commit them one table at a
    * time in the given order, each against the manifest it was planned
    * on. When a commit fails, the fragments staged for that table and for
    * every later one are deleted (tables committed before it keep their
    * commit) and the failure is rethrown. Returns the committed manifests. */
  def saveAll(spark: SparkSession, saves: Seq[Planned]): Seq[LanceManifest] = {
    val staged = stagePartitions(spark, saves.map(_.target)).map(_.toSeq.flatten)
    val conf = spark.sessionState.newHadoopConf()
    saves.indices.map { i =>
      try saves(i).commit(spark, staged(i))
      catch {
        case t: Throwable =>
          for (j <- i until saves.size)
            LanceWriteUtil.abandonFragments(saves(j).root, staged(j), conf)
          throw t
      }
    }
  }

  /** Write `df` as fragments under `data/` (executor-parallel, rolling by
    * maxRowsPerFile) and return their metadata (no commit). A failed task
    * attempt aborts its own files; any leftovers from lost executors are
    * unreferenced and reclaimed by vacuum. */
  private[lance] def stageFragments(spark: SparkSession, df: DataFrame, root: String,
                                    maxRowsPerFile: Long,
                                    options: Map[String, String]): Seq[FragmentMeta] =
    stagePartitions(spark, Seq(Target(root, Shim.toRdd(df), df.schema, maxRowsPerFile,
      options = options))).head.toSeq.flatten

  /** Stage every target in one Spark job over the concatenation of their
    * partitions. Element t holds target t's output by partition: element
    * i the fragments its partition i wrote (empty for an empty partition),
    * so a caller can tag each partition's output. A writer sees its
    * partition's index within its own target, which is also the bucket a
    * bucketed target tags its fragments with. */
  private[lance] def stagePartitions(spark: SparkSession,
                                     targets: Seq[Target]): Seq[Array[Seq[FragmentMeta]]] = {
    // each writer factory holds its target's Hadoop conf: broadcast, a
    // task reads the factories without deserializing every target's conf
    val writers = spark.sparkContext.broadcast(targets.map { t =>
      val (factory, conf) = Shim.parquetWriterFactory(spark, t.schema, t.options)
      ManifestIO.fs(t.root, conf.value).mkdirs(new Path(t.root, ManifestIO.DataDir))
      new LanceDataWriterFactory(t.root, t.schema, factory, conf, t.maxRowsPerFile,
        t.clusterBy.map(t.schema.fieldIndex).toArray, t.bucketed, t.sortedBy)
    })
    // partition i of the union is partition i - starts(t) of target t
    val starts = targets.scanLeft(0)(_ + _.rows.getNumPartitions).toArray
    val out = try new UnionRDD(spark.sparkContext, targets.map(_.rows)).mapPartitionsWithIndex {
      (i, rows) =>
        if (rows.isEmpty) Iterator.single(Seq.empty[FragmentMeta])
        else {
          val t = starts.lastIndexWhere(_ <= i)
          val pid = i - starts(t)
          val w = writers.value(t).createWriter(pid, pid.toLong)
          try {
            rows.foreach(w.write)
            Iterator.single(w.commit().asInstanceOf[LanceFragmentsCommitMessage].fragments)
          } catch {
            case e: Throwable => w.abort(); throw e
          } finally w.close()
        }
    }.collect() finally writers.destroy()
    targets.indices.map(t => out.slice(starts(t), starts(t + 1)))
  }
}

/** The no-shuffle regrouping behind one-job compaction: partition i of
  * the coalesced scan reads the scan partitions `groups(i)` and belongs to
  * bucket `buckets(i)`. Serializable and small (parent indices only): it
  * rides in the task binary of the job that stages the compacted files. */
private[lance] final class BucketCoalescer private (val buckets: Array[Option[Int]],
                                                    groups: Array[Array[Int]])
    extends PartitionCoalescer with Serializable {
  def numPartitions: Int = groups.length
  override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
    groups.map { ids =>
      val g = new PartitionGroup()
      ids.foreach(i => g.partitions += parent.partitions(i))
      g
    }
}

private[lance] object BucketCoalescer {
  /** Key each partition of a lance scan RDD by its fragments' bucket tag
    * ([[LanceInputPartition.bucket]]; every scan partition, key-grouped or
    * packed, holds slices of one bucket's fragments) and cut each key's
    * partitions, in scan order, into `outParts(key)` contiguous runs (never
    * more runs than partitions) — the positional split `coalesce(n)` makes
    * over partitions without preferred locations. Keys keep their
    * first-seen order. */
  def apply(scan: Array[Partition], outParts: Option[Int] => Int): BucketCoalescer = {
    val keyed = scan.map(p => bucketOf(p) -> p.index)
    val planned = keyed.map(_._1).distinct.flatMap { b =>
      val ids = keyed.collect { case (k, i) if k == b => i }
      val n = math.max(1, math.min(outParts(b), ids.length))
      (0 until n).map { j =>
        b -> ids.slice((j.toLong * ids.length / n).toInt, ((j + 1L) * ids.length / n).toInt)
      }
    }
    new BucketCoalescer(planned.map(_._1), planned.map(_._2))
  }

  private def bucketOf(p: Partition): Option[Int] = p match {
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
      d.inputPartitions.map {
        case lp: LanceInputPartition => lp.bucket
        case other => throw new IllegalStateException(s"not a lance input partition: $other")
      }.distinct match {
        case Seq(b) => b
        case bs => throw new IllegalStateException(
          s"lance scan partition ${p.index} spans buckets ${bs.mkString(", ")}")
      }
    case other => throw new IllegalStateException(
      s"not a lance scan partition: ${other.getClass.getName}")
  }
}

/** Dataset maintenance: compaction (merge small fragments) and vacuum
  * (drop old versions + unreferenced files). Both are ordinary manifest
  * commits — readers of existing versions are unaffected until vacuum
  * actually removes their files. */
object LanceMaintenance {
  /** Read `frags` as rows of `schema` through the connector's own scan
    * pinned at `version`, restricted to exactly those fragments via `_file`
    * pruning — hidden/renamed column identity AND delete vectors all apply
    * (never resurrect stale values or deleted rows). Used by compaction;
    * the rewritten fragments come out with identity column maps and no DVs. */
  private[lance] def maskedRead(spark: SparkSession, root: String, version: Long,
                                schema: StructType,
                                frags: Seq[FragmentMeta]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val full = frags.map(f => new Path(root, f.path).toString)
    spark.read.format("lance").option("versionAsOf", version.toString).load(root)
      .filter(col(LanceMetadata.FileCol).isin(full: _*))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Rewrite fragments smaller than `smallerThanRows` — plus any fragment
    * carrying a delete vector (folding the DV into a clean file) — into
    * consolidated fragments of up to `targetRows` rows; commits one new
    * version. Returns the new manifest (or the current one if no-op).
    *
    * One scan and one Spark job per table, whatever the number of bucket
    * groups: a single [[maskedRead]] over every rewritten fragment, its
    * partitions regrouped by bucket without a shuffle ([[BucketCoalescer]];
    * a group of L live rows gets ceil(L / targetRows) partitions), each
    * partition re-sorted by the table's declared order with Spark's
    * spilling sorter, and every group staged by one [[LanceBatchSave.stagePartitions]]
    * job whose output fragments carry their group's bucket tag. Bucketed
    * tables merge within buckets only, so the co-partitioned join layout
    * survives. */
  def compact(spark: SparkSession, root: String,
              smallerThanRows: Long, targetRows: Long): LanceManifest = {
    val conf = Shim.hadoopConf(spark, Map.empty)
    val m = ManifestIO.loadLatest(root, conf).getOrElse(
      throw new IllegalStateException(s"lance dataset not found: $root"))
    val candidates = m.fragments.filter(fr =>
      fr.rows < smallerThanRows || fr.deletes.isDefined)
    // bucketed tables compact WITHIN a bucket: merging across buckets would
    // forfeit the co-partitioned (shuffle-free) join layout. Unbucketed
    // fragments all land in the one None group — the original behavior.
    val groups = candidates.groupBy(_.bucket).filter { case (_, frs) =>
      frs.size > 1 || frs.exists(_.deletes.isDefined)
    }
    if (groups.isEmpty) return m
    // a table with a declared write ordering keeps it through compaction:
    // concatenating sorted inputs is not sorted, so re-sort the merged
    // partitions (cheap — they are compaction-sized) and stamp the result,
    // preserving the sort report that lets co-bucketed SMJs skip sorts
    val orderCols = LanceLayout(m.props).orderedCols.filter(m.schema.fieldNames.contains)
    val small = candidates.filter(fr => groups.contains(fr.bucket))
    val read = maskedRead(spark, root, m.version, m.schema, small)
    val scan = Shim.toRdd(read)
    val coalescer = BucketCoalescer(scan.partitions, b =>
      math.ceil(groups(b).map(_.liveRows).sum.toDouble / targetRows).toInt)
    val merged = scan.coalesce(coalescer.numPartitions, shuffle = false, Some(coalescer))
    val sorted = if (orderCols.isEmpty) merged
                 else merged.mapPartitions(Shim.sortWithinPartition(read.schema, orderCols))
    val newFrags = LanceBatchSave.stagePartitions(spark, Seq(LanceBatchSave.Target(root, sorted,
        read.schema, targetRows, sortedBy = orderCols, options = m.props))).head
      .zip(coalescer.buckets).toSeq
      .flatMap { case (frs, b) => frs.map(_.copy(bucket = b)) }
    commitRewrite(spark, root, small, newFrags, "compact")
  }

  /** The one commit of a rewrite (compaction, Z-order): swap `rewritten`
    * for `newFrags` in the latest manifest, first writer wins. A concurrent
    * commit that removed a rewritten fragment (another compaction or
    * overwrite) or layered a new delete vector on it would make this commit
    * duplicate, resurrect or un-delete rows, so the rewrite abandons its
    * staged fragments instead. Returns the latest manifest either way. */
  private def commitRewrite(spark: SparkSession, root: String, rewritten: Seq[FragmentMeta],
                            newFrags: Seq[FragmentMeta], what: String): LanceManifest = {
    val conf = Shim.hadoopConf(spark, Map.empty)
    val oldBy = rewritten.map(f => f.path -> f).toMap
    ManifestIO.commit(root, conf) { latest =>
      val cur = latest.getOrElse(
        throw new IllegalStateException(s"lance dataset disappeared during $what: $root"))
      val curBy = cur.fragments.map(f => f.path -> f).toMap
      val ok = oldBy.forall { case (p, fr) =>
        curBy.get(p).exists(_.deletes.map(_.path) == fr.deletes.map(_.path))
      }
      if (!ok) None
      else Some(LanceCommit(cur.schema,
        cur.fragments.filterNot(f => oldBy.contains(f.path)) ++ newFrags,
        cur.txns, "compact"))
    }.getOrElse {
      LanceWriteUtil.abandonFragments(root, newFrags, conf)
      ManifestIO.loadLatest(root, conf).get
    }
  }

  /** Version history of a dataset (the DESCRIBE HISTORY equivalent): one
    * row per manifest with commit time, fragment/row counts and the
    * streaming-txn count — O(versions) metadata reads, no data IO. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val conf = Shim.hadoopConf(spark, Map.empty)
    val fs = ManifestIO.fs(root, conf)
    val rows = ManifestIO.listVersions(root, conf).map { v =>
      val m = ManifestIO.load(root, v, conf)
      val mtime = fs.getFileStatus(ManifestIO.manifestFile(root, v)).getModificationTime
      (v, new java.sql.Timestamp(mtime), m.fragments.size.toLong, m.totalRows,
        m.schema.fields.length, m.txns.size)
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "n_fragments", "n_rows", "n_columns", "n_txns")
      .orderBy("version")
  }

  /** Z-order (Morton) rewrite: re-cluster the WHOLE table so that range
    * predicates on ANY of the 2-3 given numeric columns prune fragments —
    * the multi-dimensional counterpart of write.cluster-by (which serves
    * one leading dimension). Each column is min/max-scaled to a
    * `63/k`-bit rank, the ranks are bit-interleaved into one z-key, and
    * the rows are range-partitioned + sorted by it; per-fragment min/max
    * then bound every dimension tightly. The z-key is built ENTIRELY from
    * builtin bitwise/shift functions, so the rewrite runs inside
    * whole-stage codegen — no UDF in the O(rows) path; min/max come from
    * one distributed agg pass. Delete vectors fold in (maskedRead), so
    * the rewrite doubles as a compaction. Bucket tags do not survive (a
    * z-ordered layout is the alternative to a bucketed one). */
  def zorder(spark: SparkSession, root: String, cols: Seq[String],
             targetRows: Long = 1000000L): LanceManifest = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 3,
      s"lance zorder takes 2-3 columns, got ${cols.mkString(", ")}")
    val conf = Shim.hadoopConf(spark, Map.empty)
    val m = ManifestIO.loadLatest(root, conf).getOrElse(
      throw new IllegalStateException(s"lance dataset not found: $root"))
    cols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = m.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"lance zorder: unknown column $c")).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
          dt == TimestampType || dt == TimestampNTZType || dt == StringType,
        s"lance zorder needs numeric/date/timestamp/string columns, $c is $dt")
    }
    val df = maskedRead(spark, root, m.version, m.schema, m.fragments)
    // every listed column as a double: dates via epoch-days (date→double
    // is not a castable pair), timestamps/numerics cast; strings rank by
    // an 8-byte UTF-8 window read as an unsigned integer — monotonic in
    // the same byte order the fragment min/max stats compare in, so
    // range/equality predicates on the string dimension prune the
    // clustered layout (real users cluster on country/tenant/URL-style
    // string keys). The window SKIPS the corpus-wide common prefix of
    // [min, max]: every value between min and max provably shares it, so
    // it carries zero discrimination — without the skip, keys sharing 8+
    // leading bytes (URLs all starting 'https://') would collapse to ONE
    // rank value and the string dimension would silently stop clustering.
    // All builtin expressions, still codegen'd.
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType}
    def isString(c: String): Boolean =
      m.schema.fields.find(_.name == c).get.dataType == StringType
    def asDoubleNum(c: String): Column =
      m.schema.fields.find(_.name == c).get.dataType match {
        case DateType => unix_date(col(c)).cast("double")
        // NTZ→double is not a castable pair; micros are exact and monotonic
        case TimestampNTZType => expr(s"unix_micros(cast(`$c` as timestamp))").cast("double")
        case _ => col(c).cast("double")
      }
    val bounds = df.select(cols.flatMap(c =>
      if (isString(c)) Seq(min(col(c)), max(col(c)))
      else Seq(min(asDoubleNum(c)), max(asDoubleNum(c)))): _*).first()
    def byteLcp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i
    }
    // driver-side mirror of strRankExpr (conv/hex/rpad and BigInteger both
    // round the unsigned 64-bit window to the nearest double)
    def strRankValue(s: String, off: Int): Double = {
      val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .drop(off).take(8)
      new java.math.BigInteger(1, bs ++ Array.fill(8 - bs.length)(0.toByte))
        .doubleValue()
    }
    def strRankExpr(c: String, off: Int): Column =
      conv(hex(expr(
        s"rpad(substring(cast(`$c` as binary), ${off + 1}, 8), 8, x'00')")), 16, 10)
        .cast("double")
    val bits = 63 / cols.size
    val maxRank = (1L << bits) - 1
    // bit i of column j lands at position i*k + j — built from masked
    // shifts (all codegen'd builtins), exact for any value distribution
    def spread(c: Column, offset: Int): Column =
      (0 until bits).map(i =>
        shiftleft(c.bitwiseAND(lit(1L << i)), i * (cols.size - 1) + offset))
        .reduce(_.bitwiseOR(_))
    val zkey = cols.zipWithIndex.map { case (c, j) =>
      val (lo, hi, rankCol) =
        if (isString(c)) {
          val (mnS, mxS) = (bounds.getString(2 * j), bounds.getString(2 * j + 1))
          if (mnS == null || mxS == null || mnS == mxS) (0.0, 0.0, lit(0.0))
          else {
            val off = byteLcp(
              mnS.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              mxS.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            (strRankValue(mnS, off), strRankValue(mxS, off), strRankExpr(c, off))
          }
        } else (bounds.getDouble(2 * j), bounds.getDouble(2 * j + 1), asDoubleNum(c))
      val rank =
        if (!(hi > lo)) lit(0L)
        else least(lit(maxRank), greatest(lit(0L),
          ((rankCol - lit(lo)) / lit(hi - lo) * lit(maxRank.toDouble))
            .cast("long")))
      spread(rank, j)
    }.reduce(_.bitwiseOR(_))
    val parts = math.max(1, math.ceil(m.totalRows.toDouble / targetRows).toInt)
    val clustered = df.withColumn("__zkey", zkey)
      .repartitionByRange(parts, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
    val newFrags = LanceBatchSave.stageFragments(spark, clustered, root, targetRows, m.props)
    commitRewrite(spark, root, m.fragments, newFrags, "zorder")
  }

  /** Keep only the last `retainVersions` manifests and delete data files no
    * remaining version references. Time travel older than the cutoff stops
    * working — that is the point.
    *
    * `graceMs`: files younger than this are never deleted (mtime-based,
    * like Delta's vacuum retention) — an in-flight write stages fragments
    * into `data/` before its driver commit, and deleting them mid-write
    * would make the subsequent commit reference missing files. */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1,
             graceMs: Long = 10 * 60 * 1000L): Unit = {
    require(retainVersions >= 1, "must retain at least the current version")
    val conf = Shim.hadoopConf(spark, Map.empty)
    val fs = ManifestIO.fs(root, conf)
    val versions = ManifestIO.listVersions(root, conf)
    val keep = versions.takeRight(retainVersions)
    val keptManifests = keep.map(ManifestIO.load(root, _, conf))
    val referenced = keptManifests.flatMap(_.fragments.map(_.path)).toSet
    val referencedDvs = keptManifests.flatMap(
      _.fragments.flatMap(_.deletes.map(_.path))).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def sweep(dir: String, keepRel: Set[String]): Unit = {
      val p = new Path(root, dir)
      if (fs.exists(p)) {
        fs.listStatus(p).foreach { st =>
          val rel = s"$dir/${st.getPath.getName}"
          if (!keepRel.contains(rel) && st.getModificationTime < cutoff)
            fs.delete(st.getPath, false)
        }
      }
    }
    sweep(ManifestIO.DataDir, referenced)
    sweep(DeleteVectors.Dir, referencedDvs)
    sweep(Hll.Dir, keptManifests.flatMap(_.fragments.flatMap(_.sketches)).toSet)
    versions.dropRight(retainVersions).foreach(v =>
      fs.delete(ManifestIO.manifestFile(root, v), false))
  }
}
