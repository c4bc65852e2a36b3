package graft.sources.lance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** SQL catalog over a warehouse directory: databases are subdirectories,
  * tables are lance datasets (reference: LanceCatalog.java:106-138).
  * Registered via
  * `spark.sql.catalog.<name> = graft.sources.lance.LanceCatalog` +
  * `spark.sql.catalog.<name>.warehouse = <dir>`, after which
  * `CREATE/INSERT/SELECT ... <name>.db.table` and
  * `VERSION AS OF n` time travel work through plain Spark SQL.
  */
class LanceCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  // ---- stored procedures (CALL cat.system.compact/vacuum/history) --------
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    LanceProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LanceProcedures.list()

  // ---- V2 functions ------------------------------------------------------
  // `bucket` lives at the empty namespace — that is where Spark's transform
  // resolution (V2ExpressionUtils.loadV2FunctionOpt) looks when a scan
  // reports a bucket(N, col) KeyGroupedPartitioning.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") LanceBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** A procedure's `table => 'db.t'` argument as an identifier and its
    * dataset root, unchecked. */
  private def procedureTable(table: String): (Identifier, String) = {
    val parts = table.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty), s"bad table name: $table")
    val ident = Identifier.of(parts.init, parts.last)
    (ident, tablePath(ident).toString)
  }

  /** Resolve a procedure's `table => 'db.t'` argument to the dataset root. */
  private[lance] def tableRootFor(table: String): String = {
    val (ident, root) = procedureTable(table)
    if (!ManifestIO.exists(root, conf))
      throw new NoSuchTableException(ident)
    root
  }

  /** Same resolution WITHOUT the existence check — for procedure output
    * tables that are about to be created (e.g. knn_join's output_table). */
  private[lance] def tableRootForCreate(table: String): String = procedureTable(table)._2

  /** A vector procedure's table at its latest version, resolved once: the
    * one `_versions` listing that finds the latest manifest is also the
    * existence check. */
  private[lance] def pinnedTable(table: String): graft.operators.IndexBuild.Pinned = {
    val (ident, root) = procedureTable(table)
    graft.operators.IndexBuild.pinnedLatest(SparkSession.active, root, fsOptions)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  private var catalogName: String = _
  private var warehouse: String = _
  /** Per-catalog filesystem conf derived from reference-named object-store
    * options (see [[LanceCatalog.s3FsOptions]]) — threaded into every
    * Hadoop-conf this catalog builds AND into the tables it loads, so two
    * catalogs in one session can point at different stores/credentials. */
  private var fsOptions: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // normalize trailing slashes (reference: LanceCatalog warehouse path
    // normalization) so table paths never get a double separator
    warehouse = Option(options.get("warehouse")).map { w =>
      val trimmed = w.replaceAll("/+$", "")
      if (trimmed.isEmpty) "/" else trimmed
    }.getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    fsOptions = LanceCatalog.s3FsOptions(options.asScala.toMap)
  }

  override def name(): String = catalogName

  private def conf = Shim.hadoopConf(SparkSession.active, fsOptions)
  private def fs = ManifestIO.fs(warehouse, conf)

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(new Path(warehouse))((p, n) => new Path(p, n))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && ManifestIO.exists(s.getPath.toString, conf))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ManifestIO.exists(tablePath(ident).toString, conf)

  override def loadTable(ident: Identifier): Table = {
    // `db.t$files` = read-only metadata table over t's fragment list
    // (layout introspection: per-fragment rows/bytes/bucket/DV/sketches —
    // the Delta/Iceberg files-table idiom). Metadata is manifest-sized, so
    // it plans as a driver-local scan: zero data IO.
    if (ident.name.contains("$")) {
      val (base, meta) = ident.name.splitAt(ident.name.indexOf('$'))
      val baseIdent = Identifier.of(ident.namespace, base)
      val p = tablePath(baseIdent)
      if (!ManifestIO.exists(p.toString, conf)) throw new NoSuchTableException(baseIdent)
      meta match {
        case "$files" => return new LanceFilesTable(p.toString, conf,
          s"${fullName(baseIdent)}$$files")
        case other => throw new NoSuchTableException(ident)
      }
    }
    val p = tablePath(ident)
    if (!ManifestIO.exists(p.toString, conf)) throw new NoSuchTableException(ident)
    new LanceTable(p.toString, fsOptions, viaCatalog = true,
      providedName = Some(fullName(ident)))
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!ManifestIO.exists(p.toString, conf)) throw new NoSuchTableException(ident)
    new LanceTable(p.toString, fsOptions + ("versionAsOf" -> version), viaCatalog = true,
      providedName = Some(s"${fullName(ident)}@v$version"))
  }

  /** TIMESTAMP AS OF — the TableCatalog contract passes epoch MICROseconds
    * here (not a version number): resolve to the latest version whose
    * manifest commit mtime is at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!ManifestIO.exists(p.toString, conf)) throw new NoSuchTableException(ident)
    new LanceTable(p.toString, fsOptions + ("timestampAsOf" -> (timestamp / 1000L).toString),
      viaCatalog = true, providedName = Some(s"${fullName(ident)}@t$timestamp"))
  }

  private def fullName(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace :+ ident.name).mkString(".")

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // the one partition transform lance supports is bucket(N, col) — the
    // idiomatic DSv2 spelling of the write.bucket-by layout (identity/
    // days/etc. partitioning is rejected: fragments are the split unit)
    val bucketProps: Map[String, String] = partitions match {
      case Array() => Map.empty
      case Array(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value.toString
        }
        val cols = t.arguments.collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference =>
            r.fieldNames.mkString(".")
        }
        require(n.isDefined && cols.length == 1,
          s"lance: bucket transform needs (numBuckets, one column), got $t — " +
            "Spark plans storage-partitioned joins for single-column buckets")
        LanceLayout.bucketProps(cols.head, n.get)
      case other => throw new UnsupportedOperationException(
        s"lance tables support only PARTITIONED BY (bucket(n, col)); got ${other.mkString(", ")}")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val p = tablePath(ident)
    fs.mkdirs(p)
    // persist TBLPROPERTIES in the manifest (engine-internal keys excluded);
    // e.g. write.cluster-by / write.sort-by become the table's durable
    // write defaults (every INSERT/CTAS requests that distribution)
    val props = properties.asScala.toMap -- Seq("provider", "location",
      "external", "owner", "option.path", "path") ++ bucketProps
    ManifestIO.commitAppend(p.toString, schema, Seq.empty, conf,
      props = if (props.isEmpty) None else Some(props))
    loadTable(ident)
  }

  /** Schema evolution is a metadata-only commit: the manifest carries the
    * table schema, and the parquet reader fills columns missing from old
    * fragments with nulls (ADD) or simply stops projecting them (DROP). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!ManifestIO.exists(p.toString, conf)) throw new NoSuchTableException(ident)
    // Read-modify-write: apply the changes to the *freshest* manifest inside
    // the commit closure, so a racing append's fragments are never dropped.
    ManifestIO.commit(p.toString, conf) { latestOpt =>
      val latest = latestOpt.getOrElse(throw new NoSuchTableException(ident))
      var schema = latest.schema
      var dropped = Set.empty[String]
      var renamed = Seq.empty[(String, String)]
      var props = latest.props
      // write.bucket-by/write.bucket-count are LAYOUT, not preferences:
      // live fragments carry bucket tags computed under them, and a scan
      // over all-tagged fragments reports KeyGroupedPartitioning from
      // these props. Changing either on a table with bucketed fragments
      // would group stale tags under the new transform and a storage-
      // partitioned join would silently drop matches — reject instead.
      val hasBucketedFragments = latest.fragments.exists(_.bucket.isDefined)
      changes.foreach {
        case set: TableChange.SetProperty =>
          LanceLayout.bucketSetting(props, set.property()).foreach { current =>
            if (hasBucketedFragments && !current.contains(set.value()))
              throw new UnsupportedOperationException(
                s"lance: cannot change ${set.property()} on a table whose fragments " +
                  "are already bucket-tagged (stale tags would make storage-" +
                  "partitioned joins silently drop matches); rewrite the table instead")
          }
          props += (set.property() -> set.value())
        case rm: TableChange.RemoveProperty =>
          if (LanceLayout.bucketSetting(props, rm.property()).isDefined && hasBucketedFragments)
            throw new UnsupportedOperationException(
              s"lance: cannot remove ${rm.property()} on a table whose fragments " +
                "are already bucket-tagged (a later re-bucketing under a different " +
                "layout would make storage-partitioned joins silently drop matches)")
          props -= rm.property()
        case add: TableChange.AddColumn if add.fieldNames.length == 1 =>
          // added columns are nullable by construction: old fragments have
          // no values for them. Spark's analyzer rejects duplicates on the
          // SQL path only — guard the direct API too (StructType.add would
          // happily append a second field with the same name).
          val name = add.fieldNames()(0)
          require(!schema.fieldNames.contains(name), s"column already exists: $name")
          schema = schema.add(name, add.dataType(), nullable = true)
        case del: TableChange.DeleteColumn if del.fieldNames.length == 1 =>
          val name = del.fieldNames()(0)
          require(schema.fieldNames.contains(name), s"no such column: $name")
          schema = StructType(schema.fields.filterNot(_.name == name))
          dropped += name
        case ren: TableChange.RenameColumn if ren.fieldNames.length == 1 =>
          val from = ren.fieldNames()(0)
          val to = ren.newName()
          require(schema.fieldNames.contains(from), s"no such column: $from")
          require(!schema.fieldNames.contains(to), s"column already exists: $to")
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          renamed :+= (from -> to)
        case other => throw new UnsupportedOperationException(
          s"lance: unsupported table change $other (only top-level ADD/DROP/RENAME COLUMN)")
      }
      // Identity bookkeeping per live fragment (see FragmentMeta):
      // RENAME redirects the new logical name to the fragment's physical
      // name and hides the old logical name (a future re-ADD of it reads
      // NULL); DROP hides the name, strips its stats, and severs any
      // redirect so a re-ADD can never reach the dead physical column.
      val frags =
        if (dropped.isEmpty && renamed.isEmpty) latest.fragments
        else latest.fragments.map { f =>
          var nf = f
          // the DV's removed-row stats are keyed by logical name like
          // fragment stats — re-key/strip them in lockstep
          def mapRemoved(g: Map[String, ColStats] => Map[String, ColStats]) =
            nf.deletes.map(d => d.copy(removed = g(d.removed)))
          // stats (and removed-stats) keys include struct-nested paths
          // ("st.id") — re-key / strip them with the top-level name
          def rekey(m: Map[String, ColStats], from: String, to: String) =
            m.map { case (k, v) =>
              (if (k == from) to
               else if (k.startsWith(from + ".")) to + k.substring(from.length)
               else k) -> v
            }
          def strip(m: Map[String, ColStats], gone: Set[String]) =
            m.filterNot { case (k, _) =>
              gone.exists(d => k == d || k.startsWith(d + "."))
            }
          renamed.foreach { case (from, to) =>
            nf = nf.copy(
              physicalNames = (nf.physicalNames - from) +
                (to -> nf.physicalNames.getOrElse(from, from)),
              hidden = (nf.hidden :+ from).distinct,
              stats = rekey(nf.stats, from, to),
              deletes = mapRemoved(rekey(_, from, to)))
          }
          if (dropped.nonEmpty) nf = nf.copy(
            hidden = (nf.hidden ++ dropped).distinct,
            stats = strip(nf.stats, dropped),
            physicalNames = nf.physicalNames -- dropped,
            deletes = mapRemoved(strip(_, dropped)))
          nf
        }
      Some(LanceCommit(schema, frags, latest.txns, "alter", Some(props)))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!ManifestIO.exists(p.toString, conf)) false
    else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(nsPath(newIdent.namespace))
    fs.rename(tablePath(oldIdent), tablePath(newIdent))
  }

  // ---- namespaces (databases = subdirs) ----------------------------------

  override def listNamespaces(): Array[Array[String]] =
    fs.listStatus(new Path(warehouse)).toSeq
      .filter(_.isDirectory)
      .map(s => Array(s.getPath.getName))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("lance: ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace not empty: ${namespace.mkString(".")}")
      fs.delete(p, true)
    }
  }
}

object LanceCatalog {
  /** Map the reference catalog's object-store options
    * (table/LanceCatalogFactory.java:77-113 — s3-access-key /
    * s3-secret-key / s3-region / s3-endpoint / s3-virtual-hosted-style /
    * s3-allow-http, exercised by LanceCatalogS3Test.java:217-239) onto the
    * Hadoop S3A keys Spark's filesystems read. Purely a conf passthrough:
    * multi-store deployments give each catalog its own credentials via
    * `spark.sql.catalog.<name>.s3-access-key` etc. instead of one global
    * Hadoop conf. */
  private[graft] def s3FsOptions(opts: Map[String, String]): Map[String, String] = {
    val direct = Seq(
      "s3-access-key" -> "fs.s3a.access.key",
      "s3-secret-key" -> "fs.s3a.secret.key",
      "s3-region" -> "fs.s3a.endpoint.region",
      "s3-endpoint" -> "fs.s3a.endpoint").flatMap { case (ref, hadoop) =>
      LanceOptions.get(opts, ref).map(hadoop -> _)
    }
    // boolean options invert: virtual-hosted-style=false means path-style;
    // allow-http=true means plain connections (ssl off)
    val style = LanceOptions.get(opts, "s3-virtual-hosted-style").map(v =>
      "fs.s3a.path.style.access" -> (!v.toBoolean).toString)
    val http = LanceOptions.get(opts, "s3-allow-http").map(v =>
      "fs.s3a.connection.ssl.enabled" -> (!v.toBoolean).toString)
    (direct ++ style ++ http).toMap
  }
}
