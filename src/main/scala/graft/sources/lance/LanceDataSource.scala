package graft.sources.lance

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** Option lookup that tolerates the key-lowercasing of
  * `CaseInsensitiveStringMap` (V2 reader/writer options arrive lowercased). */
object LanceOptions {
  def get(m: Map[String, String], key: String): Option[String] =
    m.get(key).orElse(m.get(key.toLowerCase(java.util.Locale.ROOT)))

  /** First present key wins — for reference-name aliases. */
  def any(m: Map[String, String], keys: String*): Option[String] =
    keys.view.flatMap(get(m, _)).headOption
}

/** `format("lance")` entry point — a Spark-native dataset source with the
  * capabilities of the reference connector (fragment-parallel batch read
  * with projection/filter/limit/aggregate pushdown, append/overwrite
  * commit-based write, manifest versioning / time travel, streaming sink).
  *
  * Reference surface being re-expressed: LanceSource.java (fragment
  * splits), LanceSink.java (append/overwrite, max-rows-per-file),
  * LanceDynamicTableSource.java:61-63 (the four pushdown mix-ins).
  *
  * Path saves go through the V1 `CreatableRelationProvider` fallback
  * (bare-path tables claim no BATCH_WRITE, so Spark routes every
  * `df.write.save(path)` here, appends included); catalog tables take the
  * V2 BatchWrite path. Both shape rows by the same [[LanceLayout]] and end
  * in the same staged-fragment commit ([[LanceWriteUtil.commitStaged]]).
  */
class LanceDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider {

  override def shortName(): String = "lance"

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("lance: 'path' option required"))

  /** The table [[inferSchema]] resolved, with its options: Spark's path
    * read calls inferSchema and then getTable with the same options on one
    * provider instance, so getTable hands this table over (once) instead
    * of loading the manifest again. */
  private var inferred: Option[(Map[String, String], LanceTable)] = None

  /** The schema of the manifest the read resolves: a versionAsOf /
    * timestampAsOf pin reads that version's schema (a pinned read lists no
    * `_versions`), else the latest. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val table = new LanceTable(rootOf(options), opts)
    inferred = Some((opts, table))
    table.manifest.map(_.schema).getOrElse(new StructType())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val opts = options.asScala.toMap
    val reused = inferred.collect { case (o, t) if o == opts => t }
    inferred = None
    reused.getOrElse(new LanceTable(rootOf(options), opts))
  }

  /** V1 path-write fallback: handles dataset creation (plus append/
    * overwrite) for `df.write.format("lance").save(path)`. Stages the
    * fragments, then commits them against the one manifest it loaded. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: Dataset[Row]): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("lance: 'path' required"))
    val spark = sqlContext.sparkSession
    val prev = ManifestIO.loadLatest(root, Shim.hadoopConf(spark, parameters))
    val resultSchema = (mode, prev) match {
      case (SaveMode.ErrorIfExists, Some(_)) =>
        throw new IllegalStateException(s"lance dataset already exists: $root")
      case (SaveMode.Ignore, Some(m)) => m.schema
      case (m, _) =>
        LanceBatchSave.write(spark, data.toDF(), root, parameters, prev,
          append = m == SaveMode.Append && prev.isDefined).schema
    }
    new BaseRelation {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = resultSchema
    }
  }
}

/** The dataset as a DSv2 table. `viaCatalog` tables always expose write
  * capabilities; bare-path tables only do once the dataset exists (so path
  * writes to a fresh location fall back to the creating V1 path). */
class LanceTable(val root: String, extraOptions: Map[String, String],
                 viaCatalog: Boolean = false,
                 providedName: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark = SparkSession.active
  /** Built once: the manifest reads, the scan builder and its scan share
    * it. */
  private lazy val conf = Shim.hadoopConf(spark, extraOptions)

  /** Manifest pinned at table resolution: versionAsOf / timestampAsOf
    * option, else latest. */
  lazy val manifest: Option[LanceManifest] = {
    val c = conf
    (LanceOptions.get(extraOptions, "versionAsOf"),
      LanceOptions.get(extraOptions, "timestampAsOf")) match {
      case (Some(v), _) => Some(ManifestIO.load(root, v.toLong, c))
      case (None, Some(ts)) =>
        val millis = LanceTable.parseTimestampMillis(ts)
        val v = ManifestIO.versionAsOfTimestamp(root, c, millis).getOrElse(
          throw new IllegalArgumentException(
            s"lance: no version committed at or before timestampAsOf=$ts at $root"))
        Some(ManifestIO.load(root, v, c))
      case _ => ManifestIO.loadLatest(root, c)
    }
  }

  override def name(): String = providedName.getOrElse(s"lance.`$root`")

  /** Manifest-persisted TBLPROPERTIES (SHOW TBLPROPERTIES reads these). */
  override def properties(): util.Map[String, String] =
    manifest.map(_.props).getOrElse(Map.empty).asJava

  /** A bucketed layout reports its bucket(N, col) transform (DESCRIBE
    * shows it; writes still enforce it via RequiresDistributionAndOrdering
    * from the same persisted properties). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    LanceLayout(manifest.map(_.props).getOrElse(Map.empty)).bucketTransform.toArray

  /** Table properties act as write defaults; explicit reader/writer
    * options override them, except the bucket layout ([[LanceLayout.merge]]). */
  private def tableOptions: Map[String, String] =
    LanceLayout.merge(manifest.map(_.props).getOrElse(Map.empty), extraOptions)

  /** read.change-feed=true surfaces `_change_type` as a declared column —
    * batch scans label every row "insert"; the streaming source emits
    * "insert"/"delete" change rows per commit (CDC). Declared (not a
    * metadata column) so streaming relations resolve it too. */
  private def changeFeed: Boolean =
    LanceOptions.any(extraOptions, "readChangeFeed", "read.change-feed")
      .exists(_.toBoolean)

  override def schema(): StructType = {
    val base = manifest.map(_.schema).getOrElse(new StructType())
    if (changeFeed && !base.fieldNames.contains(LanceMetadata.ChangeCol))
      base.add(LanceMetadata.ChangeCol, org.apache.spark.sql.types.StringType,
        nullable = false)
    else base
  }

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.MICRO_BATCH_READ)
    caps.add(TableCapability.STREAMING_WRITE)
    // Bare-path tables deliberately do NOT claim BATCH_WRITE: path saves
    // then route to the V1 staging writer (LanceBatchSave), which supports
    // dataset creation and overwrite-with-new-schema. Catalog tables take
    // the V2 BatchWrite path (INSERT INTO / CTAS).
    if (viaCatalog) {
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.OVERWRITE_BY_FILTER)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = manifest.getOrElse(
      throw new IllegalStateException(s"lance dataset not found: $root"))
    val merged = extraOptions ++ options.asScala.toMap
    new LanceScanBuilder(spark, root, m, merged,
      if (merged == extraOptions) conf else Shim.hadoopConf(spark, merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LanceWriteBuilder(spark, root, info, tableOptions)

  // DELETE FROM: decline predicates we can't faithfully rebuild as Columns
  // (Spark then reports unsupported instead of us running a wrong rewrite)
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => LanceDelete.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    LanceDelete.deleteWhere(spark, root, filters, extraOptions)

  // `_file`/`_pos`/`_change_type` metadata columns: fragment/row identity
  // for users and for the delta row-level path's row id (names already
  // declared in the schema — e.g. _change_type under read.change-feed —
  // are excluded to avoid a duplicate-column conflict)
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val declared = schema().fieldNames.toSet
    LanceMetadata.columns.filterNot(c => declared(c.name()))
  }

  // UPDATE / MERGE (and subquery DELETEs): merge-on-read through positional
  // delete vectors. tableOptions (manifest props included) so the delta
  // writer sees the declared bucket layout and keeps tagging re-inserted rows
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new LanceDeltaRowLevelOperation(root, tableOptions, info.command())
}

object LanceTable {
  /** timestampAsOf accepts epoch millis, `java.sql.Timestamp` syntax
    * ("yyyy-mm-dd hh:mm:ss[.f]", session-local), or ISO-8601 instants. */
  def parseTimestampMillis(s: String): Long = {
    val trimmed = s.trim
    if (trimmed.matches("-?\\d+")) trimmed.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(trimmed).getTime)
      .getOrElse(java.time.Instant.parse(trimmed).toEpochMilli)
  }
}
