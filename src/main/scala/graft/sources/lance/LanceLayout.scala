package graft.sources.lance

import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructType}

/** A table's write layout, the one reader of the layout keys. Path saves,
  * catalog writes, streaming appends, row-level writes, compaction, the
  * scans' bucket report and `ALTER TABLE` all read the layout through it,
  * so every writer lays fragments out the same way. Each key also answers
  * to its alias; the first spelling present wins:
  *  - `write.cluster-by` (`clusterBy`): global range clustering on the
  *    listed columns; fragments roll at every cluster-key change;
  *  - `write.sort-by` (`sortBy`): a sort within each written partition;
  *  - `write.bucket-by` (`bucketBy`) + `write.bucket-count`
  *    (`bucketCount`): `pmod(murmur3(col), n)` hash buckets on one column,
  *    tagged on every fragment;
  *  - `write.cluster-partitions`: partitions of a range-clustered write;
  *  - `maxRowsPerFile` (`write.max-rows-per-file`, the reference's name):
  *    rows per fragment file;
  *  - `commit.prop.<k>`: manifest property `k`, set in the write's commit.
  *
  * Built from options that already hold the table's properties under the
  * per-write overrides ([[LanceLayout.merge]]). A number is checked where
  * it is first used: a malformed one fails the writes it shapes with a
  * message naming the option and its value, never a read. */
final class LanceLayout private (opts: Map[String, String]) {
  import LanceLayout._

  val clusterBy: Seq[String] = csv(ClusterBy)
  val sortBy: Seq[String] = csv(SortBy)
  val bucketBy: Seq[String] = csv(BucketBy)
  lazy val bucketCount: Option[Int] = positive(BucketCount, Int.MaxValue).map(_.toInt)
  lazy val clusterPartitions: Option[Int] =
    positive(ClusterPartitions, Int.MaxValue).map(_.toInt)
  lazy val maxRowsPerFile: Long = positive(MaxRows, Long.MaxValue).getOrElse(Long.MaxValue)

  /** `commit.prop.` options, prefix stripped: folded into the manifest's
    * properties in the same commit as the data, so a reader sees the data
    * and a metadata pointer (the vector-index sidecar) change together. */
  private val propStamps: Map[String, String] = opts.collect {
    case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith(PropPrefix) =>
      k.substring(PropPrefix.length) -> v
  }

  /** The bucket column and count, once [[forWrite]] has checked them. */
  def bucket: Option[(String, Int)] =
    for (c <- bucketBy.headOption; n <- bucketCount) yield (c, n)

  /** The order every written partition is sorted in, and every fragment
    * is stamped with (`sortedBy`): cluster columns, bucket column, then
    * sort columns. */
  def orderedCols: Seq[String] = (clusterBy ++ bucketBy ++ sortBy).distinct

  /** A bucketed write persists its (column, count) in its commit, so reads
    * check `read.buckets` ids against it and a path-written table reports
    * its buckets without a separate ALTER. */
  private def bucketStamps: Map[String, String] =
    bucket.map { case (c, n) => bucketProps(c, n.toString) }.getOrElse(Map.empty)

  /** Everything a write under this layout stamps into the manifest's
    * properties. */
  def stamps: Map[String, String] = propStamps ++ bucketStamps

  /** A bucketed append must agree with the table's persisted bucket layout:
    * fragments tagged under another (column, modulus) would poison every
    * later `read.buckets` probe. Overwrites install any layout. No-op when
    * the append is unbucketed or the table has no persisted layout yet. */
  def requireBucketCompat(prevProps: Map[String, String]): Unit =
    bucketStamps.foreach { case (k, v) =>
      prevProps.get(k).foreach(prev => require(prev == v,
        s"lance bucketed append: $k=$v conflicts with the table's persisted " +
          s"$k=$prev — rewrite the table (overwrite) to change its bucket layout"))
    }

  /** This layout, checked for writing rows of `schema`: every number is
    * well formed, the bucket column and count come together, there is one
    * bucket column (Spark plans storage-partitioned joins for single-column
    * buckets only), bucket and cluster layouts exclude each other, and
    * every named column exists (cluster columns atomic). */
  def forWrite(schema: StructType): LanceLayout = {
    maxRowsPerFile
    clusterPartitions
    require(bucketBy.isEmpty == bucketCount.isEmpty,
      "lance: write.bucket-by and write.bucket-count must be set together")
    require(bucketBy.size <= 1,
      s"lance write.bucket-by takes ONE column (got ${bucketBy.mkString(", ")}): " +
        "Spark plans storage-partitioned joins for single-column buckets")
    require(bucketBy.isEmpty || clusterBy.isEmpty,
      "lance: write.bucket-by and write.cluster-by are exclusive")
    val unknown = (clusterBy ++ sortBy ++ bucketBy).filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"lance write layout: unknown column ${unknown.mkString(", ")}")
    val composite = clusterBy.map(schema(_)).filter(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    })
    require(composite.isEmpty, s"lance write.cluster-by needs atomic-typed columns, got " +
      composite.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", "))
    this
  }

  /** The bucket demux of a row-level write over rows of `schema`: (key
    * field index, key type, count). None when the table is unbucketed or
    * its bucket column is gone; re-inserted rows then write untagged. */
  def demux(schema: StructType): Option[(Int, DataType, Int)] =
    if (bucketBy.isEmpty || bucketCount.isEmpty) None
    else {
      // writes reject multi-column layouts, so a manifest declaring one was
      // never written here: fail rather than strand the layout on an UPDATE
      require(bucketBy.size == 1, s"lance: write.bucket-by declares multiple columns " +
        s"(${bucketBy.mkString(",")}) — this layout is single-column only and such a " +
        "manifest should not exist")
      val c = bucketBy.head
      if (schema.fieldNames.contains(c)) Some((schema.fieldIndex(c), schema(c).dataType,
        bucketCount.get))
      else None
    }

  /** The `bucket(n, col)` transform a bucketed table reports. */
  def bucketTransform: Option[Transform] =
    if (bucketBy.isEmpty) None else bucketCount.map(Expressions.bucket(_, bucketBy: _*))

  private def csv(key: Key): Seq[String] =
    key.find(opts).toSeq.flatMap(_._2.split(',')).map(_.trim).filter(_.nonEmpty)

  private def positive(key: Key, max: Long): Option[Long] = key.find(opts).map {
    case (name, v) => v.toLongOption.filter(n => n > 0 && n <= max).getOrElse(
      throw new IllegalArgumentException(s"lance $name must be a positive integer, got '$v'"))
  }
}

object LanceLayout {
  def apply(opts: Map[String, String]): LanceLayout = new LanceLayout(opts)

  /** One layout key and its alias, read through [[LanceOptions.get]]. */
  private final case class Key(names: String*) {
    /** (the spelling found, its value) for the first spelling present. */
    def find(m: Map[String, String]): Option[(String, String)] =
      names.view.flatMap(n => LanceOptions.get(m, n).map(n -> _)).headOption
    def matches(k: String): Boolean = names.exists(_.equalsIgnoreCase(k))
  }
  private val ClusterBy = Key("write.cluster-by", "clusterBy")
  private val SortBy = Key("write.sort-by", "sortBy")
  private val BucketBy = Key("write.bucket-by", "bucketBy")
  private val BucketCount = Key("write.bucket-count", "bucketCount")
  private val ClusterPartitions = Key("write.cluster-partitions")
  private val MaxRows = Key("maxRowsPerFile", "write.max-rows-per-file")
  private val PropPrefix = "commit.prop."

  /** The persisted properties of a (column, count) bucket layout. */
  def bucketProps(col: String, count: String): Map[String, String] =
    Map(BucketBy.names.head -> col, BucketCount.names.head -> count)

  /** Per-write (or per-read) overrides over table properties, except the
    * bucket layout: once the table declares one, an override would tag new
    * fragments under a different layout than the one scans report through
    * KeyGroupedPartitioning, silently corrupting storage-partitioned joins.
    * The persisted layout always wins. */
  def merge(props: Map[String, String], overrides: Map[String, String]): Map[String, String] =
    if (BucketBy.find(props).isEmpty) props ++ overrides
    else props ++ overrides.filterNot { case (k, _) => isBucketKey(k) }

  private def isBucketKey(k: String): Boolean = BucketBy.matches(k) || BucketCount.matches(k)

  /** For a bucket-layout key (either spelling), the value `props` holds for
    * that setting; None for any other key. */
  def bucketSetting(props: Map[String, String], key: String): Option[Option[String]] =
    Seq(BucketBy, BucketCount).find(_.matches(key)).map(_.find(props).map(_._2))
}
