package graft.sources.lance

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** PARTIAL aggregate pushdown (`supportCompletePushDown = false`): the
  * fragments whose live stats answer every aggregate contribute one
  * pre-merged partial row computed driver-side from the manifest — zero
  * IO — and only the fragments that can't (typically delta-path DVs
  * without removed-row stats, or post-DROP masks) are scanned, each
  * emitting one partial row. Spark plans the FINAL aggregate over the
  * scan output (min of mins, sum of sums/counts), so an aggregate after
  * an UPDATE scans just the updated fragments instead of the whole
  * dataset (reference analog: AggregateExecutor keeps running state
  * source-side while scanning only what it must).
  */
case class LanceAggSpec(func: String, ordinal: Int, dt: DataType)

case class LancePartialStatsPartition(values: Array[Any]) extends InputPartition

class LancePartialAggScan(spark: SparkSession, root: String, manifest: LanceManifest,
                          aggSchema: StructType, statRow: Array[Any],
                          scanFrags: Seq[FragmentMeta], readCols: StructType,
                          specs: Seq[LanceAggSpec], ansi: Boolean,
                          options: Map[String, String]) extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"LancePartialAggScan root=$root PushedAggregates: " +
      s"${aggSchema.fieldNames.mkString("[", ", ", "]")} " +
      s"(stats partial + ${scanFrags.size}/${manifest.fragments.size} fragments scanned)"

  override def planInputPartitions(): Array[InputPartition] = {
    val names = readCols.fieldNames.toSet
    val frs = scanFrags.map { fr =>
      val p = new org.apache.hadoop.fs.Path(root, fr.path).toString
      val dv = fr.deletes.map(d => new org.apache.hadoop.fs.Path(root, d.path).toString)
      LanceInputPartition.of(LanceFileSlice(p, 0, fr.sizeBytes, fr.sizeBytes,
        LanceColumnMap.of(fr, names), dv)): InputPartition
    }
    (LancePartialStatsPartition(statRow) +: frs).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val colMaps = {
      val names = readCols.fieldNames.toSet
      scanFrags.map(LanceColumnMap.of(_, names)).distinct
    }
    // position fidelity (DV filtering) ⇒ unfiltered readers; the masked
    // factory handles NULL-injection for hidden columns and DV skipping
    val inner = new LanceMaskedReaderFactory(
      LanceReadGroup.build(spark, manifest.schema, readCols, Seq.empty, options,
        colMaps, posRequested = true),
      limit = None,
      org.apache.spark.sql.graft.Shim.serializableConf(
        org.apache.spark.sql.graft.Shim.hadoopConf(spark, options)))
    new LancePartialAggReaderFactory(inner, specs.toArray, ansi)
  }
}

class LancePartialAggReaderFactory(inner: LanceMaskedReaderFactory,
                                   specs: Array[LanceAggSpec], ansi: Boolean)
    extends PartitionReaderFactory {

  private def singleRow(values: Array[Any]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }

  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType =>
      java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case StringType =>
      a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(s"unorderable partial-agg type $other")
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case s: LancePartialStatsPartition => singleRow(s.values)
      case p: LanceInputPartition =>
        val r = inner.createReader(p)
        val n = specs.length
        val counts = new Array[Long](n)
        val sums = new Array[Long](n)
        val exts = new Array[Any](n) // current min/max (internal values)
        try {
          while (r.next()) {
            val row = r.get()
            var j = 0
            while (j < n) {
              val s = specs(j)
              s.func match {
                case "count_star" => counts(j) += 1
                case "count" => if (!row.isNullAt(s.ordinal)) counts(j) += 1
                case "sum" =>
                  if (!row.isNullAt(s.ordinal)) {
                    counts(j) += 1
                    val v = s.dt match {
                      case ByteType => row.getByte(s.ordinal).toLong
                      case ShortType => row.getShort(s.ordinal).toLong
                      case IntegerType => row.getInt(s.ordinal).toLong
                      case _ => row.getLong(s.ordinal)
                    }
                    // ANSI mode errors on overflow like Spark's own Sum;
                    // legacy mode wraps like the codegen'd partial sum
                    if (ansi) sums(j) = Math.addExact(sums(j), v)
                    else sums(j) += v
                  }
                case isMin => // "min" | "max"
                  if (!row.isNullAt(s.ordinal)) {
                    val v = row.get(s.ordinal, s.dt)
                    val take = exts(j) == null || {
                      val c = cmp(s.dt, v, exts(j))
                      if (isMin == "min") c < 0 else c > 0
                    }
                    if (take) exts(j) = v match {
                      case u: UTF8String => u.clone() // row buffer is reused
                      case other => other
                    }
                  }
              }
              j += 1
            }
          }
        } finally r.close()
        val out = new Array[Any](n)
        var j = 0
        while (j < n) {
          out(j) = specs(j).func match {
            case "count_star" | "count" => counts(j)
            case "sum" => if (counts(j) == 0) null else sums(j)
            case _ => exts(j)
          }
          j += 1
        }
        singleRow(out)
    }
}
