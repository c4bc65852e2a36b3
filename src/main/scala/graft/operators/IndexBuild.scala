package graft.operators

import graft.sources.lance.{LanceVectorOptions, VectorIndexOptions}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets

/** Options-driven vector index build / load / search — the Spark-side
  * equivalent of the reference's LanceIndexBuilder + LanceVectorSearch pair
  * (LanceIndexBuilder.java:116-152 index types and params;
  * LanceVectorSearch.java:341-345 search knobs).
  *
  * The index IS a lance dataset: the source rows written under
  * `write.cluster-by=cell`, so every fragment holds one KMeans cell and a
  * probe's `cell IN (…)` is decided by fragment stats alone (the scan
  * consumes it; no per-probe-set filter reaches codegen), with an extra
  * PQ `codes` column for the *_PQ types, plus a JSON sidecar
  * (`<root>/_index/meta-<uuid>.json`, named by the manifest's `index.meta`
  * property) carrying centroids, PQ codebooks and the HNSW adjacency — so
  * a fresh session `load`s and searches without rebuilding. All per-row
  * math (encode, ADC, exact re-rank) is codegen'd expressions;
  * driver-side work is O(cells), never O(rows).
  */
object IndexBuild {

  case class PqMeta(flat: Array[Double], m: Int, codes: Int, subDim: Int)

  /** IVF_SQ per-dimension affine quantizer: code_d maps [mins(d),
    * mins(d) + 255·scales(d)] → [0, 255] ([[graft.functions.SqEncode]]). */
  case class SqMeta(mins: Array[Double], scales: Array[Double])

  /** `epoch` is the sidecar file this handle's centroids/codebooks came
    * from (`meta-<uuid>.json`); reads through the handle verify the
    * table still points at it, so a handle that outlives a rebuild fails
    * loudly instead of mixing old codebooks with re-encoded data. */
  case class BuiltIndex(root: String, opts: VectorIndexOptions,
                        centroids: Array[Vector], pq: Option[PqMeta],
                        graph: Option[CentroidGraph],
                        residual: Option[Double] = None,
                        epoch: Option[String] = None,
                        sq: Option[SqMeta] = None)

  /** The manifest property naming the live index sidecar file — stamped in
    * the SAME commit as the indexed data (see `commit.prop.` in
    * LanceWrite), which is what makes rebuild atomic. */
  val MetaProp = "index.meta"

  /** The write layout of every index write: fragments roll at each cell
    * change, so each holds one cell. */
  private val IndexLayout = Map("write.cluster-by" -> "cell")

  /** Largest power-of-two sub-vector count ≤ 16 dividing `dim` (the
    * reference auto-calculates when index.num-sub-vectors is unset). */
  private def autoSubVectors(dim: Int): Int =
    Seq(16, 8, 4, 2, 1).find(dim % _ == 0).get

  def build(s: SparkSession, source: DataFrame, root: String,
            options: Map[String, String]): BuiltIndex =
    buildWith(s, source, root, LanceVectorOptions.index(options), overwrite = false)

  /** Full rebuild IN PLACE — fresh centroids / codebooks / graph trained
    * from the dataset's CURRENT rows (the repair step once appended data
    * has drifted past the frozen centroids): reads the indexed rows at
    * ONE pinned version, drops the stale cell/codes columns, retrains
    * with the index's own recorded options and overwrites atomically.
    * Atomicity is the sidecar EPOCH swap: the new sidecar lands at an
    * invisible `meta-<uuid>.json` path BEFORE the data commit, and the
    * overwrite commit itself stamps `index.meta` at the new file — so at
    * every crash point readers resolve a manifest whose data and sidecar
    * were written together (old pair before the commit, new pair after;
    * old fragments stay on disk until vacuum for time travel). */
  def rebuild(s: SparkSession, idx: BuiltIndex): BuiltIndex = {
    val data = s.read.format("lance").options(pinnedOptions(s, idx)).load(idx.root)
      .drop("cell", "codes", "scodes")
    buildWith(s, data, idx.root, idx.opts, overwrite = true)
  }

  /** Resolve ONE manifest version for every read an index operation makes
    * (multi-read plans like the ADC join's codes-then-vectors pair must
    * not straddle a concurrent commit), and verify the table still points
    * at this handle's sidecar — a handle that outlives a rebuild would
    * otherwise score fresh codes with stale codebooks. */
  private[graft] def pinnedOptions(s: SparkSession, idx: BuiltIndex): Map[String, String] = {
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty)
    graft.sources.lance.ManifestIO.loadLatest(idx.root, conf) match {
      case None => Map.empty
      case Some(m) =>
        val cur = m.props.get(MetaProp)
        if (idx.epoch.isDefined && cur.isDefined && cur != idx.epoch)
          throw new IllegalStateException(
            s"index at ${idx.root} was rebuilt since this handle loaded " +
              s"(sidecar ${idx.epoch.get} -> ${cur.get}); IndexBuild.load a fresh handle")
        Map("versionAsOf" -> m.version.toString)
    }
  }

  /** One manifest resolution of a vector CALL's table: `table` carries
    * the latest manifest, read once, and `index` is the handle that
    * manifest's sidecar pointer names (None on a plain table). Every read
    * of the call goes through [[read]], so a rebuild committed mid-call
    * cannot pair this version's `cell` column with newer centroids. */
  private[graft] final case class Pinned(table: graft.sources.lance.LanceTable,
                                         index: Option[BuiltIndex]) {
    def root: String = table.root

    /** The table at this version, planned from the parsed manifest: no
      * data-source lookup, no `_versions` listing, no manifest read. */
    def read(s: SparkSession): DataFrame = org.apache.spark.sql.graft.Shim.readTable(s, table)
  }

  /** The latest version of `root` as a [[Pinned]] (None when `root` holds
    * no table): one `_versions` listing and one manifest read, through a
    * table whose Hadoop conf carries `fsOptions`. */
  private[graft] def pinnedLatest(s: SparkSession, root: String,
                                  fsOptions: Map[String, String] = Map.empty): Option[Pinned] = {
    val table = new graft.sources.lance.LanceTable(root, fsOptions)
    table.manifest.map(m => Pinned(table, loadAt(s, root, Some(m))))
  }

  /** Does `root` carry a persisted index? Its manifest's sidecar pointer
    * (the atomic source of truth) says. */
  def exists(s: SparkSession, root: String): Boolean =
    latestManifest(s, root).exists(_.props.contains(MetaProp))

  private def latestManifest(s: SparkSession, root: String) =
    graft.sources.lance.ManifestIO.loadLatest(root,
      org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty))

  private def buildWith(s: SparkSession, source: DataFrame, root: String,
                        io: VectorIndexOptions, overwrite: Boolean): BuiltIndex = {
    val vecCol = io.column
    val dim = source.select(size(col(vecCol))).first().getInt(0)
    val cells = io.numPartitions

    // adaptive trainer (driver-local LocalKMeans under the sample bounds,
    // MLlib above); rows are assigned and encoded by assignToCells, the
    // rule appends use, so build and append share one tie-break
    val centArr = VectorIndex.trainCentroids(source, vecCol, cells)
    val centroids = centArr.map(Vectors.dense)

    val isPq = io.indexType.endsWith("_PQ")
    val pq = if (!isPq) None else {
      val m = io.numSubVectors.getOrElse(autoSubVectors(dim))
      val codes = 1 << io.numBits
      val subDim = dim / m
      // the M subspace fits are independent — train them concurrently from
      // one cached sample pass (same seeds, bit-identical codebooks)
      val flat = VectorIndex.trainPqCodebooks(
        VectorIndex.trainingSample(source), vecCol, m, codes, subDim)
      Some(PqMeta(flat, m, codes, subDim))
    }
    val sq = if (io.indexType != "IVF_SQ") None else {
      val (mins, scales) = VectorIndex.sqStats(source, vecCol)
      Some(SqMeta(mins, scales))
    }
    val indexed = assignToCells(source, vecCol, centArr, pq, sq)
    val graph = if (!io.indexType.startsWith("IVF_HNSW")) None
                else Some(CentroidGraph.build(s, centroids, io.hnswM,
                  io.efConstruction, io.maxLevel))
    // baseline quantization error, recorded for drift monitoring: the mean
    // distance of a row to its assigned centroid — computed from the
    // pre-write plan (the same rows the write persists) so the sidecar is
    // COMPLETE before the data commit makes it visible
    val residual = meanResidual(s, indexed, vecCol, centroids)
    // sidecar first, at an epoch path no reader resolves yet; THEN the data
    // commit stamps `index.meta` at it — data and sidecar swap atomically,
    // so a crash at any point leaves readers on a consistent (old or new)
    // data+sidecar pair, never new cell/codes under old centroids/codebooks
    val epochFile = s"meta-${java.util.UUID.randomUUID().toString.take(12)}.json"
    writeMeta(s, root, io, dim, centroids, pq, graph, Some(residual), epochFile, sq)
    indexed.write.format("lance")
      .options(IndexLayout)
      .option(s"commit.prop.$MetaProp", epochFile)
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .save(root)
    BuiltIndex(root, io, centroids, pq, graph, Some(residual), Some(epochFile), sq)
  }

  /** Mean L2 distance of each row to its assigned cell's centroid — the
    * index's quantization error. One broadcast join + codegen'd distance,
    * a single distributed pass. */
  private def meanResidual(s: SparkSession, indexed: DataFrame, vecCol: String,
                           centroids: Array[Vector]): Double = {
    import s.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq
      .toDF("cell", "__centroid")
    indexed.join(broadcast(cdf), "cell")
      .agg(avg(graft.functions.vec_l2(col(vecCol), col("__centroid"))))
      .first().getDouble(0)
  }

  /** Drift monitor for incrementally-appended indexes: current mean
    * quantization error over the stored baseline. Appends drawn from the
    * training distribution keep this ~1; a shifted distribution inflates
    * it — past `rebuildAt` (e.g. 1.5) the frozen centroids are stale and
    * a full rebuild is warranted. O(rows) map + one broadcast join, no
    * driver data. */
  def driftRatio(s: SparkSession, idx: BuiltIndex): Double = {
    val base = idx.residual.getOrElse(throw new IllegalStateException(
      s"index at ${idx.root} has no recorded baseline residual (pre-drift sidecar)"))
    val cur = meanResidual(s,
      s.read.format("lance").options(pinnedOptions(s, idx)).load(idx.root),
      idx.opts.column, idx.centroids)
    if (base == 0.0) 1.0 else cur / base
  }

  /** The append path's per-row plan: [[assignToCells]] with the stored
    * centroids, codebooks and quantizer. Exposed so specs can assert the
    * plan stays UDF-free. */
  private[graft] def assignToCells(newRows: DataFrame, idx: BuiltIndex): DataFrame =
    assignToCells(newRows, idx.opts.column, idx.centroids.map(_.toArray), idx.pq, idx.sq)

  /** The one encode rule of every index write (build, append, streamed
    * appends): codegen'd nearest-centroid assignment (NearestCell handles
    * float and double vectors natively — no cast, no boxed UDF on the hot
    * path) + PQ or SQ encode, with the centroids and codebooks folded in
    * as literals. A malformed vector gets a null cell and null codes. */
  private[graft] def assignToCells(rows: DataFrame, vecCol: String,
                                   cents: Array[Array[Double]], pq: Option[PqMeta],
                                   sq: Option[SqMeta]): DataFrame = {
    val assigned = rows.withColumn("cell", graft.functions.nearest_cell(
      col(vecCol), cents.flatten, cents.length, cents.head.length))
    (pq, sq) match {
      case (Some(p), _) => assigned.withColumn("codes",
        graft.functions.pq_encode(col(vecCol), p.flat, p.m, p.codes, p.subDim))
      case (_, Some(q)) => assigned.withColumn("scodes",
        graft.functions.sq_encode(col(vecCol), q.mins, q.scales))
      case _ => assigned
    }
  }

  /** Incrementally index new rows into an EXISTING index: assign each row
    * to its nearest stored centroid — O(new rows · cells · dim) map-only
    * work, no retrain, no touch of the already-indexed corpus — PQ-encode
    * with the stored codebooks, and append one fragment per cell the batch
    * touches, like the build, so probe pruning stays exact. The index
    * stays fresh under batch/streaming growth at any corpus size; centroid
    * drift is repaired by an occasional full rebuild (the reference's
    * append-then-reindex story, LanceIndexBuilder.java:116-152). */
  def append(s: SparkSession, newRows: DataFrame, idx: BuiltIndex): Unit =
    assignToCells(newRows, idx).write.format("lance")
      .options(IndexLayout)
      .mode("append").save(idx.root)

  /** Search a built/loaded index with reference-named vector.* knobs:
    * graph-or-exact probe selection, flat or ADC scoring, optional
    * refine-factor exact re-rank. `pred` is the reference's optional
    * search filter (LanceVectorSearch.java:133,170-171 — the filter rides
    * the scan next to the nearest query): applied to candidate rows
    * BEFORE ranking, inside the probed-cell scan, so pushdown/pruning
    * still narrow the read.
    *
    * The search is EAGER: it runs [[searchPlan]] as one Spark job with no
    * shuffle and no broadcast, and returns the k (id, dist) rows as a
    * local DataFrame. The driver merges at most tasks·k rows (tasks·k·r
    * with a refine factor r on a quantized index) and re-ranks the
    * refine candidates itself ([[VectorIndex.refineRows]]). */
  def search(s: SparkSession, idx: BuiltIndex, queryVec: Array[Double],
             options: Map[String, String], excludeVecId: Long = -1L,
             idCol: String = "vec_id",
             pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (schema, rows) = searchRows(s, idx, queryVec, options, excludeVecId, idCol, pred)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The k ranked (id, dist) rows of [[search]] and their schema, as the
    * driver holds them after the one job (`CALL system.knn` returns them
    * as they are). The job is [[VectorIndex.collectTop]]'s: the ranked
    * plan's top-k node run as one `runJob` with one small cleaned closure,
    * its InternalRows handed to the refine with no Row conversion. `from`
    * is the rows to search, a CALL's pinned read; by default `idx.root`
    * read with `options`. */
  private[graft] def searchRows(s: SparkSession, idx: BuiltIndex, queryVec: Array[Double],
                                options: Map[String, String], excludeVecId: Long = -1L,
                                idCol: String = "vec_id",
                                pred: Option[org.apache.spark.sql.Column] = None,
                                from: Option[DataFrame] = None)
      : (StructType, Array[Row]) = {
    val so = LanceVectorOptions.search(options)
    val top = searchPlan(s, idx, queryVec, options, excludeVecId, idCol, pred, from)
    if (refines(idx, so)) VectorIndex.refineRows(top, queryVec, so.k, idCol, idx.opts.column)
    else {
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(top.schema)
      (top.schema, VectorIndex.collectTop(top, "dist").map(toRow(_).asInstanceOf[Row]))
    }
  }

  /** Only the quantized arms re-rank; a flat index's distances are exact. */
  private def refines(idx: BuiltIndex, so: graft.sources.lance.VectorSearchOptions): Boolean =
    so.refineFactor.isDefined && (idx.pq.isDefined || idx.sq.isDefined)

  /** The one Spark plan [[search]] collects: the probed-cell scan ranked
    * by its scorer with nulls last ([[VectorIndex.rankTop]]), whose
    * executed root is a `TakeOrderedAndProject`. The flat arm and the
    * ADC-only arms keep k (id, dist) rows; a refine search keeps k·r (id,
    * vector, adc_dist) candidates. */
  private[graft] def searchPlan(s: SparkSession, idx: BuiltIndex, queryVec: Array[Double],
                                options: Map[String, String], excludeVecId: Long = -1L,
                                idCol: String = "vec_id",
                                pred: Option[org.apache.spark.sql.Column] = None,
                                from: Option[DataFrame] = None): DataFrame = {
    val so = LanceVectorOptions.search(options)
    val probed = idx.graph match {
      case Some(g) => g.probe(queryVec, so.nprobes, so.ef)
      case None => VectorIndex.selectProbesExact(idx.centroids, queryVec, so.nprobes)
    }
    // every arm ranks the same probed base: fragment pruning on the cell
    // range, then the caller's filter. The query vector is a literal (a
    // reference object in the generated code), so the code is the same for
    // every query and no broadcast join is planned. Lazy: a bad metric
    // fails before any read.
    lazy val base = from.getOrElse(s.read.format("lance").options(options).load(idx.root))
    val probedRows = (col("cell").isin(probed.toIndexedSeq: _*) && col(idCol) =!= excludeVecId) +:
      pred.toSeq
    def ranked(cols: Seq[org.apache.spark.sql.Column], by: String, asc: Boolean, n: Int) =
      VectorIndex.rankTop(base, probedRows, cols, by, asc, n, idCol)
    // the quantized arms share one ADC scan; only the scorer differs (PQ
    // LUT lookups vs SQ dequantized subtraction)
    def adcTop(adc: org.apache.spark.sql.Column): DataFrame = {
      // ADC reconstructs L2 — answering a cosine/dot query with L2-ascending
      // ranking would be silently wrong (knn_join's PQ path has the same
      // guard); use the flat index type for other metrics
      require(so.metric == "l2",
        s"lance index search: the quantized (ADC) path reconstructs L2; " +
          s"metric '${so.metric}' needs an IVF_FLAT/IVF_HNSW index")
      if (refines(idx, so))
        ranked(Seq(col(idCol), col(idx.opts.column), adc.as("adc_dist")),
          "adc_dist", asc = true, so.k * so.refineFactor.get)
      else
        ranked(Seq(col(idCol), round(adc, 6).as("dist")), "dist", asc = true, so.k)
    }
    (idx.pq, idx.sq) match {
      case (None, None) =>
        val (score, asc) = graft.functions.vec_score(so.metric,
          col(idx.opts.column), typedLit(queryVec.map(_.toFloat)), "lance index search")
        ranked(Seq(col(idCol), round(score, 6).as("dist")), "dist", asc, so.k)
      case (Some(p), _) =>
        val lut = new Array[Double](p.m * p.codes)
        for (mm <- 0 until p.m; c <- 0 until p.codes) {
          var acc = 0.0
          for (d <- 0 until p.subDim) {
            val diff = queryVec(mm * p.subDim + d) - p.flat((mm * p.codes + c) * p.subDim + d)
            acc += diff * diff
          }
          lut(mm * p.codes + c) = acc
        }
        adcTop(graft.functions.pq_adc(col("codes"), lut, p.m, p.codes))
      case (_, Some(q)) =>
        val qm = Array.tabulate(queryVec.length)(d => queryVec(d) - q.mins(d))
        adcTop(graft.functions.sq_adc(col("scodes"), qm, q.scales))
    }
  }

  // ---- sidecar persistence (json4s, as ManifestIO) -----------------------

  private def metaPath(root: String, file: String) =
    new org.apache.hadoop.fs.Path(root, s"_index/$file")

  private def writeMeta(s: SparkSession, root: String, io: VectorIndexOptions,
                        dim: Int, centroids: Array[Vector], pq: Option[PqMeta],
                        graph: Option[CentroidGraph],
                        residual: Option[Double], file: String,
                        sq: Option[SqMeta]): Unit = {
    val j = JObject(
      "indexType" -> JString(io.indexType),
      "column" -> JString(io.column),
      "dim" -> JInt(dim),
      "residual" -> residual.map(JDouble(_)).getOrElse(JNothing),
      "cells" -> JInt(centroids.length),
      "centroids" -> JArray(centroids.toList.flatMap(_.toArray.toList).map(JDouble(_))),
      "pq" -> pq.map(p => JObject(
        "m" -> JInt(p.m), "codes" -> JInt(p.codes), "subDim" -> JInt(p.subDim),
        "flat" -> JArray(p.flat.toList.map(JDouble(_))))).getOrElse(JNothing),
      "sq" -> sq.map(q => JObject(
        "mins" -> JArray(q.mins.toList.map(JDouble(_))),
        "scales" -> JArray(q.scales.toList.map(JDouble(_))))).getOrElse(JNothing),
      "hnsw" -> graph.map(g => JObject(
        "m" -> JInt(io.hnswM), "efConstruction" -> JInt(io.efConstruction),
        "maxLevel" -> JInt(io.maxLevel),
        "layers" -> JArray(g.layers.toList.map(layer => JObject(
          "members" -> JArray(layer.members.toList.map(JInt(_))),
          "adj" -> JArray(layer.members.toList.map(gid =>
            JArray(layer.adj(gid).toList.map(JInt(_)))))))))).getOrElse(JNothing))
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty)
    val fs = metaPath(root, file).getFileSystem(conf)
    val out = fs.create(metaPath(root, file), true)
    try out.write(JsonMethods.compact(JsonMethods.render(j))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def load(s: SparkSession, root: String): BuiltIndex =
    loadAt(s, root, latestManifest(s, root)).getOrElse(
      throw new java.io.FileNotFoundException(s"no vector index at $root"))

  /** The index handle `m`, a resolved manifest of `root`, points at (None
    * when it carries no index). A caller that pins its reads to `m` gets
    * the sidecar written in the same commit as the data it reads, so the
    * handle's epoch always matches the pinned version. */
  private[graft] def loadAt(s: SparkSession, root: String,
                            m: Option[graft.sources.lance.LanceManifest]): Option[BuiltIndex] =
    m.flatMap(_.props.get(MetaProp)).map { epoch =>
      val k = (root, epoch)
      handles.synchronized(Option(handles.get(k))).getOrElse {
        val h = readMeta(s, root, epoch)
        handles.synchronized(handles.put(k, h))
        h
      }
    }

  /** Parsed handles by (root, epoch sidecar file). An epoch file
    * (`meta-<uuid>.json`) is written once, before the commit that points at
    * it, and never rewritten, so its handle holds for every manifest that
    * names it. LRU-bounded like [[graft.sources.lance.SidecarCache]]. */
  private val MaxHandles = 64
  private val handles = new java.util.LinkedHashMap[(String, String), BuiltIndex](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, String), BuiltIndex]): Boolean =
      size() > MaxHandles
  }

  private def readMeta(s: SparkSession, root: String, epoch: String): BuiltIndex = {
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty)
    val p = metaPath(root, epoch)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val j = JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
    def num(v: JValue): Double = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble
      case x => throw new IllegalStateException(s"expected number, got $x")
    }
    def int(v: JValue): Int = num(v).toInt
    val dim = int(j \ "dim")
    val flatCentroids = (j \ "centroids").asInstanceOf[JArray].arr.map(num).toArray
    val centroids = flatCentroids.grouped(dim).map(Vectors.dense).toArray
    val pq = (j \ "pq") match {
      case JNothing | JNull => None
      case pj => Some(PqMeta(
        (pj \ "flat").asInstanceOf[JArray].arr.map(num).toArray,
        int(pj \ "m"), int(pj \ "codes"), int(pj \ "subDim")))
    }
    val sq = (j \ "sq") match {
      case JNothing | JNull => None
      case qj => Some(SqMeta(
        (qj \ "mins").asInstanceOf[JArray].arr.map(num).toArray,
        (qj \ "scales").asInstanceOf[JArray].arr.map(num).toArray))
    }
    val indexType = (j \ "indexType").asInstanceOf[JString].s
    val (graph, hnswM, efc, maxLevel) = (j \ "hnsw") match {
      case JNothing | JNull => (None, 16, 100, 7)
      case hj =>
        val layers = (hj \ "layers").asInstanceOf[JArray].arr.map { lj =>
          val members = (lj \ "members").asInstanceOf[JArray].arr.map(int).toArray
          val adjLists = (lj \ "adj").asInstanceOf[JArray].arr
            .map(_.asInstanceOf[JArray].arr.map(int).toArray)
          val adj = new Array[Array[Int]](centroids.length)
          members.zip(adjLists).foreach { case (gid, ns) => adj(gid) = ns }
          CentroidGraph.Layer(members, adj)
        }
        (Some(CentroidGraph.fromLayers(centroids, layers)), int(hj \ "m"),
          int(hj \ "efConstruction"), int(hj \ "maxLevel"))
    }
    val io = VectorIndexOptions(indexType, (j \ "column").asInstanceOf[JString].s,
      centroids.length, pq.map(_.m), pq.map(p => 31 - Integer.numberOfLeadingZeros(p.codes)).getOrElse(8),
      hnswM, efc, maxLevel)
    val residual = (j \ "residual") match {
      case JNothing | JNull => None
      case v => Some(num(v))
    }
    BuiltIndex(root, io, centroids, pq, graph, residual, epoch = Some(epoch), sq = sq)
  }
}
