package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SortExec}
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge between Catalyst/execution internals and graft's public surface.
  * Spark 4 made several converters `private[sql]`/`private[spark]`;
  * extensions conventionally shim them from inside the
  * `org.apache.spark.sql` namespace. Everything here is a thin forwarding
  * call — no logic.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Collision-free per-session id (public only on the `classic`
    * implementation class in Spark 4) — a sound cache key where an
    * identity hash is not (identity hashes can be reused after a stopped
    * session is GC'd). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** The physical plan's output as `RDD[InternalRow]` — the same rows an
    * executor-side V2 DataWriter would receive, without a row-to-Row
    * conversion pass. NOTE: rows are reused across `next()` calls; a
    * consumer must either process each row before advancing (as a parquet
    * OutputWriter does) or `copy()` it. */
  def toRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Unpersist the RDD backing an eagerly localCheckpoint'ed Dataset.
    * `Dataset.unpersist` only reaches CacheManager entries, but a
    * checkpoint persists its RDD directly — an iterative algorithm that
    * re-checkpoints per round must free the superseded generations or it
    * accumulates every round's data in the MemoryStore (measured: the 1 GB
    * family soak's 213M-edge component closure OOM'd a 24 GB heap). */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Block until every listener has seen every event posted so far (the
    * bus is asynchronous; `private[spark]`). */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Session Hadoop conf with per-scan options merged in. */
  def hadoopConf(spark: SparkSession, options: Map[String, String]): Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** V2 runtime-filter predicates to V1 `Filter`s (unsupported shapes drop
    * out — sound for pruning, which is optimization-only). */
  def predicatesToV1(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Array[Filter] =
    ps.flatMap(p => org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p))

  /** The exact hash `HashPartitioning` uses (murmur3, seed-chained over
    * the key columns from 42) — the catalog's `bucket` function must agree
    * with the write-side shuffle's row→partition mapping for
    * storage-partitioned joins to be sound. */
  def murmur3Hash(value: Any, dt: org.apache.spark.sql.types.DataType,
                  seed: Long = 42L): Long =
    org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(value, dt, seed)

  def serializableConf(conf: Configuration): SerializableConfiguration =
    new SerializableConfiguration(conf)

  /** The sorter `SortExec` runs (`UnsafeExternalRowSorter`: prefix/radix
    * sort over task-managed memory pages, spilling to disk past the task's
    * grant) as a per-partition transform of rows shaped like `schema`,
    * ascending with nulls first on `cols` — the order
    * `sortWithinPartitions` gives. Built on the driver; the returned
    * function is serializable and runs in tasks. */
  def sortWithinPartition(schema: StructType,
                          cols: Seq[String]): Iterator[InternalRow] => Iterator[InternalRow] = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val sort = SortExec(cols.map(c => SortOrder(attrs(schema.fieldIndex(c)), Ascending)),
      global = false, LocalTableScanExec(attrs, Nil, None))
    rows => if (!rows.hasNext) rows else {
      val toUnsafe = UnsafeProjection.create(schema)
      sort.createSorter().sort(rows.map {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      })
    }
  }

  /** Driver-side construction of Spark's battle-tested parquet reader
    * closure (vectorization, nested schema, row-group filter pushdown,
    * rebase handling — all of `ParquetFileFormat`). The returned function
    * is serializable and runs on executors, exactly as Spark's own
    * FileSourceScanExec ships it.
    */
  def parquetReader(
      spark: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      returningBatch: Boolean = false): PartitionedFile => Iterator[InternalRow] = {
    val opts = options + (org.apache.spark.sql.execution.datasources.FileFormat
      .OPTION_RETURNING_BATCH -> returningBatch.toString)
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = filters,
      options = opts,
      hadoopConf = hadoopConf(spark, options))
  }

  /** Whether the parquet reader can hand back ColumnarBatches for this
    * schema under the current session conf (mirrors the check
    * FileSourceScanExec uses to decide columnar output). */
  def parquetSupportsBatch(spark: SparkSession, requiredSchema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, requiredSchema)

  def partitionedFile(path: String, start: Long, length: Long, fileSize: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), start, length,
      Array.empty[String], 0L, fileSize, Map.empty)

  /** Driver-side construction of Spark's parquet OutputWriterFactory (the
    * same WriteSupport the native `df.write.parquet` path uses); the
    * factory and the mutated job conf are both serializable and usable in
    * executor-side DataWriters.
    */
  def parquetWriterFactory(
      spark: SparkSession,
      dataSchema: StructType,
      options: Map[String, String]): (OutputWriterFactory, SerializableConfiguration) = {
    val job = Job.getInstance(hadoopConf(spark, options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    // Fragments always store TimestampType as INT64 micros, never the
    // session default INT96: INT96 is deprecated, records no usable footer
    // statistics (so timestamp columns would silently lose min/max stats,
    // pruning and stats-answered aggregates), and micros is the manifest's
    // internal stat domain.
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    (factory, new SerializableConfiguration(job.getConfiguration))
  }
}
