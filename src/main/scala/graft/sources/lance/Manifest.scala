package graft.sources.lance

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-column fragment statistics. min/max/nullCount/sum are optional —
  * absent means "unknown" and disables pruning/stats-answers for that column
  * (never wrong, just less pruning). Values are stored in Spark's *internal*
  * domain: JLong for integral/date(days)/timestamp(micros), JDouble for
  * float/double, JString for UTF8 strings. `sum` is recorded only for
  * integral columns (exact long arithmetic; float sums are order-dependent
  * so they are never stats-answered) and enables SUM/AVG aggregate pushdown
  * (reference: AggregateExecutor.java:125-143,256-260). `distinct` is the
  * EXACT value dictionary of a low-cardinality string column (recorded at
  * write time while ≤ [[ManifestIO.MaxDistinct]] values; overflow → None):
  * equality/IN predicates on values outside it prune the whole fragment —
  * the low-cardinality-string equivalent of a bloom filter, but exact.
  */
case class ColStats(min: Option[JValue], max: Option[JValue], nullCount: Option[Long],
                    sum: Option[Long] = None,
                    distinct: Option[Seq[String]] = None)

/** One immutable data fragment (a parquet file under `data/`).
  * Mirrors the role of reference LanceSplit.java / the fragment list the
  * Flink source enumerates (LanceSource.java:172-185), re-expressed as a
  * manifest entry instead of a JNI dataset handle.
  *
  * `hidden` + `physicalNames` together carry column *identity* across
  * schema evolution (the role Lance field IDs play in the reference):
  *  - DROP adds the logical name to `hidden`: a later re-ADD under the
  *    same name reads NULL from pre-drop fragments, never the stale
  *    physical values (the reader otherwise resolves by name).
  *  - RENAME maps the NEW logical name to the column's physical name in
  *    this fragment's file (`physicalNames(new) = old-physical`), and
  *    adds the old logical name to `hidden` so re-ADDing IT reads NULL.
  *  - A `physicalNames` entry overrides a same-named `hidden` entry
  *    (renaming b onto a previously-dropped name c: logical c now reads
  *    physical b, while the dead physical c stays unreachable).
  */
case class FragmentMeta(path: String, rows: Long, sizeBytes: Long,
                        stats: Map[String, ColStats],
                        hidden: Seq[String] = Nil,
                        physicalNames: Map[String, String] = Map.empty,
                        deletes: Option[DeleteVectorMeta] = None,
                        sketches: Option[String] = None,
                        bucket: Option[Int] = None,
                        sortedBy: Seq[String] = Nil) {
  /** Logical rows = physical rows minus positions in the delete vector.
    * Exact: DV counts are distinct sorted positions. */
  def liveRows: Long = rows - deletes.map(_.count).getOrElse(0L)
}

/** Reference to a fragment's positional delete-vector sidecar (see
  * [[DeleteVectors]]): `path` is relative to the dataset root, `count` is
  * the number of (distinct) deleted positions. Per-column `stats` of a
  * fragment with deletes remain valid as BOUNDS (deletion only shrinks the
  * value set) so pruning stays sound.
  *
  * `removed` records per-column stats of the DELETED rows (captured by the
  * metadata-path delete's position scan, accumulated across successive
  * deletes): with them the scan can derive LIVE stats — live nulls =
  * physical − removed nulls, live sum = physical − removed sum, and a
  * min/max bound survives when the removed range provably stays strictly
  * inside it. Columns absent from `removed` (or DVs written by the delta
  * UPDATE/MERGE path, which never sees the deleted rows' values) decline
  * stats answers as before; COUNT(*) is always exact via `liveRows`. */
case class DeleteVectorMeta(path: String, count: Long,
                            removed: Map[String, ColStats] = Map.empty)

/** A dataset version: the complete fragment list visible at that version,
  * plus the schema and the streaming-transaction high-water map for
  * exactly-once sinks (reference: LanceSink.java:27 CheckpointedFunction).
  * `txns` maps writer appId -> highest committed epoch and is carried
  * forward by EVERY commit (the Delta txn pattern), so interleaved batch
  * commits/compactions can never erase a stream's replay marker.
  * `props` are the table's persisted properties (TBLPROPERTIES — e.g.
  * `write.cluster-by` write defaults), likewise carried forward by every
  * commit and only changed by DDL. */
case class LanceManifest(version: Long, schema: StructType,
                         fragments: Seq[FragmentMeta],
                         txns: Map[String, Long] = Map.empty,
                         op: String = "append",
                         props: Map[String, String] = Map.empty) {
  /** Logical (live) row count — DV-deleted positions excluded. */
  def totalRows: Long = fragments.map(_.liveRows).sum
}

/** The content of one commit, computed from the current latest manifest by
  * the `make` function passed to [[ManifestIO.commit]]. `op` records WHAT
  * the commit logically did ("append", "overwrite", "delete", "update",
  * "merge", "replace", "compact", "alter") — the change-feed streaming
  * source uses it to tell data changes (emit CDC rows) from file
  * reorganizations like compaction (emit nothing). */
/** `props = None` inherits the previous manifest's table properties (the
  * overwhelmingly common case); only DDL sets them explicitly. */
case class LanceCommit(schema: StructType, fragments: Seq[FragmentMeta],
                       txns: Map[String, Long] = Map.empty,
                       op: String = "append",
                       props: Option[Map[String, String]] = None)

/** Manifest IO for the lance-style dataset layout:
  *
  * {{{
  *   <root>/data/<uuid>.parquet            immutable fragments
  *   <root>/_versions/<N>.manifest.json    one manifest per version
  * }}}
  *
  * Commit = write manifest N+1 with create-exclusive semantics; readers
  * resolve the max N. Appends carry the previous fragment list forward;
  * overwrite starts fresh — giving Lance's append/overwrite/time-travel
  * semantics (reference: LanceSink.java:122-188) on any Hadoop filesystem.
  */
object ManifestIO {
  private val VersionsDir = "_versions"
  val DataDir = "data"

  /** Cap on the per-fragment string value dictionary (see ColStats). */
  val MaxDistinct = 32

  private def versionsPath(root: String) = new Path(root, VersionsDir)
  private def manifestPath(root: String, v: Long) =
    new Path(versionsPath(root), f"$v%020d.manifest.json")

  /** Public path accessor (maintenance ops need to delete old manifests). */
  def manifestFile(root: String, v: Long): Path = manifestPath(root, v)

  def fs(root: String, conf: Configuration): FileSystem =
    new Path(root).getFileSystem(conf)

  def listVersions(root: String, conf: Configuration): Seq[Long] = {
    val f = fs(root, conf)
    val vp = versionsPath(root)
    if (!f.exists(vp)) Seq.empty
    else f.listStatus(vp).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".manifest.json"))
      .map(_.stripSuffix(".manifest.json").toLong)
      .sorted
  }

  def latestVersion(root: String, conf: Configuration): Option[Long] =
    listVersions(root, conf).lastOption

  /** Latest version whose manifest was committed at or before `tsMillis`
    * (mtime-based, like Delta's timestamp time travel). */
  def versionAsOfTimestamp(root: String, conf: Configuration,
                           tsMillis: Long): Option[Long] = {
    val f = fs(root, conf)
    listVersions(root, conf)
      .filter(v => f.getFileStatus(manifestPath(root, v)).getModificationTime <= tsMillis)
      .lastOption
  }

  def exists(root: String, conf: Configuration): Boolean =
    latestVersion(root, conf).isDefined

  def load(root: String, version: Long, conf: Configuration): LanceManifest = {
    val f = fs(root, conf)
    val p = manifestPath(root, version)
    val len = f.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = f.open(p)
    try in.readFully(0, bytes) finally in.close()
    fromJson(new String(bytes, StandardCharsets.UTF_8))
  }

  def loadLatest(root: String, conf: Configuration): Option[LanceManifest] =
    latestVersion(root, conf).map(load(root, _, conf))

  /** Commit the next version, read-modify-write style: `make` computes the
    * commit content FROM the current latest manifest and is re-invoked on
    * every retry — so a commit that loses the version race re-reads the
    * winner's manifest and re-applies its own delta (append = winner's
    * fragments + mine) instead of silently dropping the winner's fragments.
    * `make` returning None abandons the commit (e.g. a replayed streaming
    * epoch detected against the freshest manifest); the result is then None.
    * `loaded` is the latest manifest as the caller already read it: the
    * first attempt runs against it instead of reading it again (a stale one
    * only loses the version race and retries against a fresh read).
    *
    * Exclusivity primitive: on local filesystems, write a temp file and
    * hard-link it to the version name — link(2) is atomic and fails if the
    * target exists, and the linked content is already complete (Hadoop's
    * local `create(overwrite=false)` is check-then-create and loses one of
    * two racing commits). On HDFS, `create(overwrite=false)` is itself
    * atomic-exclusive. Object stores without atomic create-exclusive need
    * an external commit coordinator, as every manifest-based format does.
    */
  def commit(root: String, conf: Configuration,
             loaded: Option[Option[LanceManifest]] = None)
            (make: Option[LanceManifest] => Option[LanceCommit]): Option[LanceManifest] = {
    val f = fs(root, conf)
    f.mkdirs(versionsPath(root))
    var attempt = 0
    var latest = loaded.getOrElse(loadLatest(root, conf))
    while (attempt < 50) {
      make(latest) match {
        case None => return None
        case Some(c) =>
          val v = latest.map(_.version).getOrElse(0L) + 1
          val m = LanceManifest(v, c.schema, c.fragments, c.txns, c.op,
            c.props.orElse(latest.map(_.props)).getOrElse(Map.empty))
          if (writeExclusive(f, manifestPath(root, v), toJson(m).getBytes(StandardCharsets.UTF_8))) {
            graft.BenchProbe.lanceCommits.incrementAndGet()
            return Some(m)
          }
      }
      attempt += 1 // version raced; re-read the winner and re-apply the delta
      latest = loadLatest(root, conf)
    }
    throw new IllegalStateException(s"lance commit: lost the version race 50 times at $root")
  }

  /** Plain append/overwrite commit: carries the previous txn map forward. */
  def commitAppend(root: String, schema: StructType, newFragments: Seq[FragmentMeta],
                   conf: Configuration, truncate: Boolean = false,
                   props: Option[Map[String, String]] = None): LanceManifest =
    commit(root, conf) { latest =>
      val prev = if (truncate) Seq.empty else latest.map(_.fragments).getOrElse(Seq.empty)
      Some(LanceCommit(schema, prev ++ newFragments,
        latest.map(_.txns).getOrElse(Map.empty),
        if (truncate) "overwrite" else "append", props))
    }.get

  /** Write a small immutable file (sidecars: sketches, delete vectors).
    * On the local filesystem this bypasses Hadoop's LocalFileSystem —
    * its create() costs ~10ms per file in permission + checksum overhead
    * (vs ~0.1ms for NIO), and sidecars land at every fragment close.
    * Non-local filesystems go through the ordinary create-exclusive. */
  def writeSmallFile(f: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    localPath(f, path) match {
      case Some(target) =>
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.write(target, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      case None =>
        f.mkdirs(path.getParent)
        val out = f.create(path, false)
        try out.write(bytes) finally out.close()
    }

  /** The NIO path of `path` when it lives on the local file system (no
    * scheme, `file:`, or `f` is the local FileSystem); None otherwise. The
    * local branches of the small-file IO below bypass Hadoop through it. */
  private def localPath(f: FileSystem, path: Path): Option[java.nio.file.Path] =
    if (Option(path.toUri.getScheme).forall(s => s == "file" || s.isEmpty) || f.getScheme == "file")
      Some(java.nio.file.Paths.get(f.makeQualified(path).toUri.getPath))
    else None

  /** Read a small immutable/overwritable file written by [[writeSmallFile]]
    * or [[writeSmallFileOverwrite]]; None when absent. Same local-NIO fast
    * path as the writers (a Hadoop LocalFileSystem open costs ~10ms in
    * checksum overhead for files read per-query, e.g. index version pins). */
  def readSmallFile(f: FileSystem, path: Path): Option[Array[Byte]] =
    localPath(f, path) match {
      case Some(target) =>
        if (!java.nio.file.Files.exists(target)) None
        else Some(java.nio.file.Files.readAllBytes(target))
      case None =>
        if (!f.exists(path)) None
        else {
          val rawLen = f.getFileStatus(path).getLen
          require(rawLen <= Int.MaxValue,
            s"readSmallFile is for small sidecars; $path is $rawLen bytes")
          val len = rawLen.toInt
          val in = f.open(path)
          try {
            val buf = new Array[Byte](len)
            in.readFully(0, buf)
            Some(buf)
          } finally in.close()
        }
    }

  /** Write a small mutable sidecar file, REPLACING any existing content
    * (e.g. an index's corpus-version pin, re-stamped on rebuild). Readers
    * racing a rewrite see old-or-new bytes, never an error — acceptable
    * for advisory metadata whose staleness only costs a rebuild. */
  def writeSmallFileOverwrite(f: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    localPath(f, path) match {
      case Some(target) =>
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.write(target, bytes)
      case None =>
        f.mkdirs(path.getParent)
        val out = f.create(path, true)
        try out.write(bytes) finally out.close()
    }

  /** Whether `path` exists, routed through the path's own FileSystem (with
    * the local-NIO fast path) — the check raw `java.io.File.exists()` gets
    * WRONG on an object-store warehouse (always false → replay guards and
    * standing-index reuse silently disarm). */
  def pathExists(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    val f = p.getFileSystem(conf)
    localPath(f, p).fold(f.exists(p))(java.nio.file.Files.exists(_))
  }

  /** File names directly under `dir` (empty when absent) — the FS-routed
    * replacement for `java.io.File.listFiles()`. */
  def listFileNames(dir: String, conf: Configuration): Seq[String] = {
    val p = new Path(dir)
    val f = p.getFileSystem(conf)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Atomically create `path` with `bytes`; false if it already exists. */
  private def writeExclusive(f: FileSystem, path: Path, bytes: Array[Byte]): Boolean =
    localPath(f, path) match {
      case Some(target) =>
        val tmp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        try {
          java.nio.file.Files.write(tmp, bytes)
          try {
            java.nio.file.Files.createLink(target, tmp) // atomic, fails if exists
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } finally {
          java.nio.file.Files.deleteIfExists(tmp)
        }
      case None =>
        try {
          val out = f.create(path, false)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case NonFatal(_) => false
        }
    }

  // ---- JSON (json4s, shipped with Spark) ---------------------------------

  private def jv(o: Option[JValue]): JValue = o.getOrElse(JNothing)

  /** JSON object for a per-column stats map (fragment stats and the DV
    * sidecar's removed-row stats share the shape). */
  private[lance] def statsObj(stats: Map[String, ColStats]): JObject =
    JObject(stats.toList.map { case (c, s) =>
      c -> JObject(
        "min" -> jv(s.min), "max" -> jv(s.max),
        "nullCount" -> s.nullCount.map(JLong(_)).getOrElse(JNothing),
        "sum" -> s.sum.map(JLong(_)).getOrElse(JNothing),
        "distinct" -> s.distinct.map(ds =>
          JArray(ds.toList.map(JString))).getOrElse(JNothing))
    })

  def statsToJson(stats: Map[String, ColStats]): String =
    JsonMethods.compact(JsonMethods.render(statsObj(stats)))

  private[lance] def statsFromJValue(v: JValue): Map[String, ColStats] = v match {
    case JObject(fields) => fields.map { case (c, sv) =>
      def opt(x: JValue): Option[JValue] = x match {
        case JNothing | JNull => None
        case JInt(n) => Some(JLong(n.toLong))
        case y => Some(y)
      }
      def asLong(x: JValue): Long = x match {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case y => throw new IllegalStateException(s"expected integer, got $y")
      }
      c -> ColStats(opt(sv \ "min"), opt(sv \ "max"),
        opt(sv \ "nullCount").map(asLong),
        opt(sv \ "sum").map(asLong),
        (sv \ "distinct") match {
          case JArray(vs) => Some(vs.map(_.asInstanceOf[JString].s))
          case _ => None
        })
    }.toMap
    case _ => Map.empty
  }

  def statsFromJson(s: String): Map[String, ColStats] =
    statsFromJValue(JsonMethods.parse(s))

  def toJson(m: LanceManifest): String = {
    val frags = JArray(m.fragments.toList.map { fr =>
      JObject(
        "path" -> JString(fr.path),
        "rows" -> JLong(fr.rows),
        "sizeBytes" -> JLong(fr.sizeBytes),
        "hidden" -> (if (fr.hidden.isEmpty) JNothing
                     else JArray(fr.hidden.toList.map(JString))),
        "physicalNames" -> (if (fr.physicalNames.isEmpty) JNothing
                            else JObject(fr.physicalNames.toList.map {
                              case (k, v) => k -> JString(v)
                            })),
        "deletes" -> fr.deletes.map(d => JObject(
          "path" -> JString(d.path), "count" -> JLong(d.count),
          "removed" -> (if (d.removed.isEmpty) JNothing
                        else statsObj(d.removed)))).getOrElse(JNothing),
        "sketches" -> fr.sketches.map(JString(_)).getOrElse(JNothing),
        "bucket" -> fr.bucket.map(b => JLong(b.toLong)).getOrElse(JNothing),
        "sortedBy" -> (if (fr.sortedBy.isEmpty) JNothing
                       else JArray(fr.sortedBy.toList.map(JString))),
        "stats" -> statsObj(fr.stats))
    })
    JsonMethods.compact(JsonMethods.render(JObject(
      "version" -> JLong(m.version),
      "op" -> JString(m.op),
      "schemaJson" -> JString(m.schema.json),
      "txns" -> (if (m.txns.isEmpty) JNothing
                 else JObject(m.txns.toList.map { case (k, v) => k -> JLong(v) })),
      "props" -> (if (m.props.isEmpty) JNothing
                  else JObject(m.props.toList.map { case (k, v) => k -> JString(v) })),
      "fragments" -> frags)))
  }

  def fromJson(s: String): LanceManifest = {
    val j = JsonMethods.parse(s)
    // json4s parses integers as JInt (BigInt); normalize back to the JLong
    // domain toJson writes so stats comparisons stay type-stable
    def opt(v: JValue): Option[JValue] = v match {
      case JNothing | JNull => None
      case JInt(n) => Some(JLong(n.toLong))
      case x => Some(x)
    }
    def asLong(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case x => throw new IllegalStateException(s"expected integer, got $x")
    }
    val schemaJson = (j \ "schemaJson").asInstanceOf[JString].s
    val frags = (j \ "fragments").asInstanceOf[JArray].arr.map { fr =>
      val stats = statsFromJValue(fr \ "stats")
      val hidden = (fr \ "hidden") match {
        case JArray(vs) => vs.map(_.asInstanceOf[JString].s)
        case _ => Nil
      }
      val physicalNames = (fr \ "physicalNames") match {
        case JObject(fields) => fields.map { case (k, v) =>
          k -> v.asInstanceOf[JString].s
        }.toMap
        case _ => Map.empty[String, String]
      }
      val deletes = (fr \ "deletes") match {
        case JObject(_) => Some(DeleteVectorMeta(
          (fr \ "deletes" \ "path").asInstanceOf[JString].s,
          asLong(fr \ "deletes" \ "count"),
          statsFromJValue(fr \ "deletes" \ "removed")))
        case _ => None
      }
      val sketches = (fr \ "sketches") match {
        case JString(p) => Some(p)
        case _ => None
      }
      val bucket = (fr \ "bucket") match {
        case JNothing | JNull => None
        case v => Some(asLong(v).toInt)
      }
      val sortedBy = (fr \ "sortedBy") match {
        case JArray(vs) => vs.map(_.asInstanceOf[JString].s)
        case _ => Nil
      }
      FragmentMeta(
        (fr \ "path").asInstanceOf[JString].s,
        asLong(fr \ "rows"),
        asLong(fr \ "sizeBytes"),
        stats,
        hidden,
        physicalNames,
        deletes,
        sketches,
        bucket,
        sortedBy)
    }
    // legacy single-marker manifests (pre txn-map) read into a 1-entry map
    val txns = (j \ "txns") match {
      case JObject(fields) => fields.map { case (k, v) => k -> asLong(v) }.toMap
      case _ =>
        (for (app <- opt(j \ "txnAppId").map(_.asInstanceOf[JString].s);
              ep <- opt(j \ "txnEpoch").map(asLong)) yield app -> ep).toMap
    }
    val props = (j \ "props") match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> v.asInstanceOf[JString].s
      }.toMap
      case _ => Map.empty[String, String]
    }
    LanceManifest(
      asLong(j \ "version"),
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      frags,
      txns,
      (j \ "op") match { case JString(o) => o; case _ => "append" },
      props)
  }

  // ---- fragment stats from parquet footers -------------------------------

  /** Read rows + per-column min/max/nullCount from a parquet footer — one
    * footer read per fragment at commit time, O(metadata) not O(data).
    * Top-level primitives AND struct-nested primitives get stats (nested
    * fields key as the dotted path `st.id` — the name shape Spark's nested
    * predicate pushdown delivers); columns under a repeated group (array /
    * map elements, max repetition level > 0) don't, since their stats
    * don't map to a per-row predicate. Parquet may truncate BINARY stats,
    * which is safe for range pruning (truncated min <= real min, truncated
    * max >= real max) so strings keep their stats but are never used to
    * *answer* aggregates (see LanceScanBuilder).
    */
  def footerStats(conf: Configuration, file: Path): (Long, Long, Map[String, ColStats]) = {
    val footer = ParquetFileReader.readFooter(conf, file)
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val size = blocks.map(_.getCompressedSize).sum
    val msgType = footer.getFileMetaData.getSchema
    val acc = scala.collection.mutable.Map[String, ColStats]()
    val invalid = scala.collection.mutable.Set[String]()
    for (b <- blocks; cc <- b.getColumns.asScala) {
      val pathParts = cc.getPath.toArray
      if (pathParts.length == 1 ||
          msgType.getColumnDescription(pathParts).getMaxRepetitionLevel == 0) {
        val name = pathParts.mkString(".")
        val st = cc.getStatistics
        val pt = cc.getPrimitiveType
        val conv: Option[(JValue, JValue)] =
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else toInternal(pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation, st)
        conv match {
          case Some((mn, mx)) if !invalid(name) =>
            val nulls = Option(st).map(_.getNumNulls).filter(_ >= 0)
            acc.get(name) match {
              case None => acc(name) = ColStats(Some(mn), Some(mx), nulls)
              case Some(prev) =>
                acc(name) = ColStats(
                  Some(jMin(prev.min.get, mn)), Some(jMax(prev.max.get, mx)),
                  for (a <- prev.nullCount; b <- nulls) yield a + b)
            }
          case _ =>
            // a block without stats poisons the column (unknown ≠ wrong)
            invalid += name
            acc.remove(name)
        }
      }
    }
    (rows, size, acc.toMap)
  }

  private def toInternal(pt: PrimitiveTypeName,
                         lt: LogicalTypeAnnotation,
                         st: org.apache.parquet.column.statistics.Statistics[_]):
      Option[(JValue, JValue)] = pt match {
    case PrimitiveTypeName.INT32 if !lt.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
      val s = st.asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
      Some((JLong(s.getMin.toLong), JLong(s.getMax.toLong)))
    case PrimitiveTypeName.INT64 if !lt.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
      val s = st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
      Some((JLong(s.getMin), JLong(s.getMax)))
    case PrimitiveTypeName.FLOAT =>
      val s = st.asInstanceOf[org.apache.parquet.column.statistics.FloatStatistics]
      Some((JDouble(s.getMin.toDouble), JDouble(s.getMax.toDouble)))
    case PrimitiveTypeName.DOUBLE =>
      val s = st.asInstanceOf[org.apache.parquet.column.statistics.DoubleStatistics]
      Some((JDouble(s.getMin), JDouble(s.getMax)))
    case PrimitiveTypeName.BINARY if lt.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
      val s = st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
      Some((JString(s.genericGetMin.toStringUsingUTF8),
        JString(s.genericGetMax.toStringUsingUTF8)))
    case _ => None // INT96 timestamps, decimals, nested — no stats
  }

  private def cmp(a: JValue, b: JValue): Int = (a, b) match {
    case (JLong(x), JLong(y)) => java.lang.Long.compare(x, y)
    case (JDouble(x), JDouble(y)) => java.lang.Double.compare(x, y)
    // parquet records string min/max in unsigned UTF-8 byte order; merge in
    // the SAME order (Java String compareTo = UTF-16 code units diverges for
    // supplementary-plane chars vs U+E000–U+FFFF and would mis-merge)
    case (JString(x), JString(y)) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case _ => 0
  }
  def jMin(a: JValue, b: JValue): JValue = if (cmp(a, b) <= 0) a else b
  def jMax(a: JValue, b: JValue): JValue = if (cmp(a, b) >= 0) a else b
  def jCmp(a: JValue, b: JValue): Int = cmp(a, b)
}
