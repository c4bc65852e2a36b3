package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.vec_l2
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.Files

/** IVF vector indexes (reference: LanceIndexBuilder.java:116-141 — IVF_FLAT
  * num-partitions, IVF_PQ num-sub-vectors/num-bits).
  *
  * IVF_FLAT build: KMeans centroids (MLlib), every vector assigned to its
  * nearest cell, the assigned dataset written through the lance connector
  * `repartitionByRange(cell)` — so each fragment covers a contiguous cell
  * range and carries cell min/max stats. Search: pick `nprobes` nearest
  * centroids driver-side (k-sized work), read the index with
  * `cell IN (probed…)` — LanceScan's fragment pruning skips every fragment
  * whose cell range misses the probe set, so IO scales with nprobes/k, not
  * dataset size; the in-cell scan is the codegen'd VectorDistance + a
  * TakeOrderedAndProject top-k. At 100 TB: the index dataset is built once
  * (the build is one KMeans + one shuffled write) and each query touches
  * only the probed fragments.
  *
  * The `ivf_flat_search` correctness key probes ALL cells — IVF with full
  * probing is exactly brute-force KNN, so the DuckDB oracle is the exact
  * scan; the recall/pruning behavior at nprobes < k is covered by
  * VectorIndexSpec instead (approximate results can't hash-match a SQL
  * oracle).
  */
object VectorIndex extends QueryModule {
  import Tables._

  val QueryVecId = 1L
  val K = 15
  val Cells = 16

  /** MLlib KMeans needs its ml.Vector type on the BUILD path only (query
    * paths are codegen'd expressions). Double-based with a Catalyst cast at
    * the call sites, so float32 and float64 embedding columns both feed it
    * (reference maps FixedSizeList<Float64>: LanceTypeConverter.java:69-70). */
  private val toVec = udf { a: Seq[Double] => Vectors.dense(a.toArray) }
  private[operators] def asVec(c: org.apache.spark.sql.Column) =
    toVec(c.cast("array<double>"))

  /** Cap KMeans TRAINING input (deterministic seed); assignment/encoding
    * still runs over the full dataset. Centroid quality saturates long
    * before millions of training rows, and at 100 TB a full-data fit per
    * codebook would dominate the build — this bounds it to one cheap
    * count + a sampled fit. Full-probe searches stay exact no matter what
    * centroids come out, so oracle keys are unaffected. */
  private[operators] val TrainCap = 200000L
  private[operators] def trainingSample(df: DataFrame): DataFrame = {
    val n = df.count()
    if (n <= TrainCap) df
    else df.sample(withReplacement = false, TrainCap.toDouble / n, 42L)
  }

  /** Bounds for the driver-local trainer (r20): run [[LocalKMeans]] when
    * the sample is small in bytes (collect cost) AND the Lloyd's
    * arithmetic n·k·dim·iters is driver-core-sized; above either bound
    * the former MLlib fit runs unchanged. The TrainCap cap already made
    * training a corpus-size-independent constant — these bounds decide
    * only WHERE that constant is paid (driver arithmetic vs per-iteration
    * distributed jobs, which dominate below them; measured ~1.5-2 s of
    * fixed scheduling inside nine timed serving keys at sf0.1). */
  private[operators] val LocalTrainBytes = 64L << 20
  private[operators] val LocalTrainFlops = 2000000000L

  /** Train `k` centroids over an (already TrainCap-capped) sample of
    * `vecCol` vectors — [[LocalKMeans]] under the bounds (collected ONCE,
    * sorted for layout-independent determinism), MLlib above them.
    * Returns dense double centroids; min(k, n) rows like MLlib. */
  private[operators] def fitCentroids(sample: DataFrame, vecCol: String,
                                      k: Int, seed: Long): Array[Array[Double]] = {
    val head = sample.agg(count(lit(1)), max(size(col(vecCol)))).first()
    val n = head.getLong(0)
    val dim = if (head.isNullAt(1)) 0 else head.getInt(1)
    require(n > 0, s"fitCentroids: empty training sample for $vecCol")
    if (n * dim * 4 <= LocalTrainBytes &&
        n * dim * math.min(k, n) * 10L <= LocalTrainFlops) {
      val pts = sample.select(col(vecCol).cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)
      java.util.Arrays.sort(pts, LocalKMeans.floatArrayOrdering)
      LocalKMeans.fit(pts, k, seed)
    } else {
      new KMeans().setK(k).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(sample.select(asVec(col(vecCol)).as("fv")))
        .clusterCenters.map(_.toArray)
    }
  }

  /** Train the M per-subspace PQ codebooks CONCURRENTLY from one cached
    * sample pass: the sample is sliced into every subspace column in a
    * single job, then the M independent KMeans fits run as parallel Spark
    * jobs (they are independent by construction — same seeds as the old
    * serial loop, so centroids are bit-identical, just ~min(M, pool)×
    * less wall-clock). Returns the flattened [m][code][dim] codebooks. */
  private[operators] def trainPqCodebooks(sampled: DataFrame, vecCol: String,
                                          m: Int, codes: Int,
                                          subDim: Int): Array[Double] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // r20: driver-local subspace fits under the same bounds as
    // fitCentroids — ONE collect of the capped sample, M seeded
    // LocalKMeans fits (seed 42+mm, as the MLlib loop used) over slices
    // of the lexicographically-sorted sample. Above the bounds the
    // cached-sample concurrent MLlib fits below run unchanged.
    val head = sampled.agg(count(lit(1))).first()
    val n = head.getLong(0)
    require(n > 0, s"trainPqCodebooks: empty training sample for $vecCol")
    if (n * m * subDim * 4 <= LocalTrainBytes &&
        n * subDim * math.min(codes, n) * 10L <= LocalTrainFlops) {
      val pts = sampled.select(col(vecCol).cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)
      java.util.Arrays.sort(pts, LocalKMeans.floatArrayOrdering)
      val flat = new Array[Double](m * codes * subDim)
      var mm = 0
      while (mm < m) {
        val sub = pts.map(p => java.util.Arrays.copyOfRange(p, mm * subDim, (mm + 1) * subDim))
        val cb = LocalKMeans.fit(sub, codes, 42L + mm)
        var c = 0
        while (c < cb.length) {
          System.arraycopy(cb(c), 0, flat, (mm * codes + c) * subDim, subDim)
          c += 1
        }
        mm += 1
      }
      return flat
    }
    val subCols = (0 until m).map(mm =>
      asVec(expr(s"slice($vecCol, ${mm * subDim + 1}, $subDim)")).as(s"sub$mm"))
    val subs = sampled.select(subCols: _*).cache()
    subs.count() // materialize once; the fits below read the cache only
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fits = (0 until m).map { mm =>
        Future {
          new KMeans().setK(codes).setSeed(42L + mm).setMaxIter(10)
            .setFeaturesCol(s"sub$mm").setPredictionCol(s"pred$mm")
            .fit(subs).clusterCenters
        }
      }
      val codebooks = Await.result(Future.sequence(fits), Duration(600, "seconds"))
      val flat = new Array[Double](m * codes * subDim)
      for (mm <- 0 until m; c <- 0 until codes; d <- 0 until subDim)
        flat((mm * codes + c) * subDim + d) = codebooks(mm)(c)(d)
      flat
    } finally {
      subs.unpersist(false)
      pool.shutdown()
    }
  }

  /** Build the IVF_FLAT index: returns (index dataset root, centroids). */
  def buildIvfFlat(s: SparkSession, dir: String, cells: Int = Cells): (String, Array[Vector]) = {
    val root = Files.createTempDirectory("graft-ivf-").toString
    val e = t(s, dir, "embeddings")
    val cents = fitCentroids(trainingSample(e.select(col("embedding"))),
      "embedding", cells, 42L)
    // assignment via the codegen'd NearestCell (the append path's rule,
    // IndexBuild.assignToCells) instead of an MLlib transform — build and
    // append now share one tie-break (strict <, lowest index); full-probe
    // searches are exact under ANY assignment, so gated answers are
    // unchanged
    e.withColumn("cell", graft.functions.nearest_cell(col("embedding"),
        cents.flatten, cents.length, cents.head.length))
      .select(col("vec_id"), col("embedding"), col("label"), col("cell"))
      .repartitionByRange(cells, col("cell"))
      .sortWithinPartitions("cell")
      .write.format("lance").save(root)
    (root, cents.map(Vectors.dense))
  }

  /** Exact probe selection: the `nprobes` nearest centroids, driver-side
    * O(cells) — fine at thousands of cells; [[CentroidGraph.probe]] is the
    * sub-linear alternative at 100k+ cells. */
  def selectProbesExact(centroids: Array[Vector], queryVec: Array[Double],
                        nprobes: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(c, Vectors.dense(queryVec))) }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobes).map(_._1)

  /** The probed-cell scan shared by every IVF variant, ranked: fragment
    * pruning on the cell range, the codegen'd distance against the query
    * vector as a literal, top-k by [[rankTop]]. A literal array is a
    * reference object in the generated code, so the code is the same for
    * every query and no broadcast join is planned. [[probedScan]] drops
    * null scores lazily; `IndexBuild.search` collects this plan instead. */
  private[operators] def probedTop(s: SparkSession, indexRoot: String,
                         readOptions: Map[String, String], probed: Array[Int],
                         queryVec: Array[Double], metric: String, k: Int,
                         excludeVecId: Long, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val score = metric match {
      case "l2" => vec_l2 _
      case "cosine" => graft.functions.vec_cosine _
      case "dot" => graft.functions.vec_dot _
    }
    val base0 = s.read.format("lance").options(readOptions).load(indexRoot)
      .filter(col("cell").isin(probed.toIndexedSeq: _*) && col(idCol) =!= excludeVecId)
    val scored = pred.map(base0.filter).getOrElse(base0)
      .select(col(idCol),
        round(score(col(vecCol), typedLit(queryVec.map(_.toFloat))), 6).as("dist"))
    rankTop(scored, "dist", asc = metric == "l2", k, idCol)
  }

  /** [[probedTop]] as a lazy frame: a malformed row scores null, and the
    * nulls the limit let through are dropped here. */
  private[operators] def probedScan(s: SparkSession, indexRoot: String,
                         readOptions: Map[String, String], probed: Array[Int],
                         queryVec: Array[Double], metric: String, k: Int,
                         excludeVecId: Long, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    probedTop(s, indexRoot, readOptions, probed, queryVec, metric, k, excludeVecId,
      idCol, vecCol, pred).filter(col("dist").isNotNull)

  /** Rank `scored` by (`by`, id) and keep `n` rows, nulls LAST. Null
    * scores come from malformed rows (ragged dims, a null element). They
    * are not filtered before the sort: Spark pushes an `IS NOT NULL` on
    * the alias below the projection, which evaluates the distance kernel
    * twice per row. A null can reach the `n` rows only when fewer than `n`
    * rows score, so dropping nulls after the limit keeps the same scored
    * rows ([[collectTop]], [[probedScan]]). */
  private[operators] def rankTop(scored: DataFrame, by: String, asc: Boolean, n: Int,
                                 idCol: String): DataFrame =
    scored.orderBy(if (asc) col(by).asc_nulls_last else col(by).desc_nulls_last,
      col(idCol).asc).limit(n)

  /** Collect a [[rankTop]] plan in ONE Spark job: `TakeOrderedAndProject`
    * at the plan root keeps a k-heap per partition and merges at most
    * tasks·n rows on the driver, with no shuffle and no second stage.
    * Rows with a null `by` score are dropped. */
  private[operators] def collectTop(top: DataFrame, by: String): Array[Row] = {
    val i = top.schema.fieldIndex(by)
    top.collect().filterNot(_.isNullAt(i))
  }

  /** The exact re-rank behind every refine search (`IndexBuild.search`'s
    * quantized arms, [[ivfPqRefine]], [[sqTopKRefined]]). `top` is a
    * [[rankTop]] plan of (id, vector, `adc_dist`) limited to k·r
    * candidates; it is collected in one job ([[collectTop]]). The
    * candidates are then scored on the driver with the same
    * `round(vec_l2(vector, query), 6)` Catalyst expression the distributed
    * plan used. Interpreted eval runs the same double arithmetic as the
    * generated code, so distances are bit-identical. The k rows are kept
    * by (dist ASC NULLS FIRST, id ASC), Spark's default ordering. Driver
    * work is O(tasks·k·r) rows; the result is a local DataFrame. */
  private[operators] def refineOnDriver(s: SparkSession, top: DataFrame, qv: Array[Double],
                                        k: Int, idCol: String, vecCol: String): DataFrame = {
    val (schema, rows) = refineRows(top, qv, k, idCol, vecCol)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** [[refineOnDriver]]'s k (id, dist) rows and their schema. */
  private[operators] def refineRows(top: DataFrame, qv: Array[Double], k: Int,
                                    idCol: String, vecCol: String): (StructType, Array[Row]) = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
      InterpretedOrdering, Literal, Round, SortOrder}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}
    val idF = top.schema(idCol)
    val vecF = top.schema(vecCol)
    val dist = Round(graft.functions.VectorDistance(
      BoundReference(0, vecF.dataType, vecF.nullable),
      Literal.create(qv.map(_.toFloat), ArrayType(FloatType, containsNull = false)), "l2"),
      Literal(6))
    val out = StructType(Seq(idF, StructField("dist", DoubleType, nullable = true)))
    val toId = CatalystTypeConverters.createToCatalystConverter(idF.dataType)
    val toVec = CatalystTypeConverters.createToCatalystConverter(vecF.dataType)
    val (iId, iVec) = (top.schema.fieldIndex(idCol), top.schema.fieldIndex(vecCol))
    val scored = collectTop(top, "adc_dist").map { r =>
      InternalRow(toId(r.get(iId)), dist.eval(InternalRow(toVec(r.get(iVec)))))
    }
    val byDistThenId = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(1, DoubleType, nullable = true), Ascending),
      SortOrder(BoundReference(0, idF.dataType, idF.nullable), Ascending)))
    val toRow = CatalystTypeConverters.createToScalaConverter(out)
    (out, scored.sorted(byDistThenId).take(k).map(toRow(_).asInstanceOf[Row]))
  }

  /** Probe the `nprobes` cells nearest to the query vector (L2). */
  def ivfSearch(s: SparkSession, indexRoot: String, centroids: Array[Vector],
                queryVec: Array[Double], nprobes: Int, k: Int,
                excludeVecId: Long = -1L): DataFrame =
    probedScan(s, indexRoot, Map.empty, selectProbesExact(centroids, queryVec, nprobes),
      queryVec, "l2", k, excludeVecId)

  /** Options-driven index search: one option map carries both the lance
    * read options (versionAsOf, …) and the reference-named vector knobs
    * (vector.metric / vector.k / vector.nprobes / vector.ef /
    * vector.refine-factor — config/LanceOptions.java:197-238). With a
    * [[CentroidGraph]] the ef knob bounds the graph search; without one,
    * probe selection is exact and ef is inert (as in the reference's
    * non-HNSW indexes). */
  def searchIndex(s: SparkSession, indexRoot: String, centroids: Array[Vector],
                  queryVec: Array[Double], options: Map[String, String],
                  excludeVecId: Long = -1L,
                  graph: Option[CentroidGraph] = None): DataFrame = {
    val o = graft.sources.lance.LanceVectorOptions.search(options)
    val probed = graph match {
      case Some(g) => g.probe(queryVec, o.nprobes, o.ef)
      case None => selectProbesExact(centroids, queryVec, o.nprobes)
    }
    probedScan(s, indexRoot, options, probed, queryVec, o.metric, o.k, excludeVecId)
  }

  /** Driver-side fetch of one embedding (k-sized, not a data scan). */
  def embeddingOf(s: SparkSession, dir: String, vecId: Long): Array[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === vecId)
      .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray

  private def ivfFlatSearch(s: SparkSession, dir: String): DataFrame = {
    val (root, centroids) = buildIvfFlat(s, dir)
    val qv = embeddingOf(s, dir, QueryVecId)
    // nprobes = all cells → exact KNN (the oracle-checkable configuration)
    ivfSearch(s, root, centroids, qv, nprobes = Cells, k = K, excludeVecId = QueryVecId)
  }

  /** FILTERED ANN over the index — the vector-store feature plain KNN
    * keys don't exercise: the filterable payload column (`label`) is
    * STORED IN the index table (exactly how production filtered-ANN
    * works — pre-filtering needs the predicate column beside the
    * vectors), the predicate applies INSIDE the probed-cell scan (before
    * any distance math, pushed to the lance scan's fragment/row pruning),
    * and the k-heap ranks only surviving rows. Probing all cells makes
    * the gate configuration exact, so the key carries the full
    * brute-force-filtered oracle; production trades probes for recall
    * exactly as the unfiltered keys do. */
  private def ivfFilteredSearch(s: SparkSession, dir: String): DataFrame = {
    val (root, centroids) = buildIvfFlat(s, dir)
    val qv = embeddingOf(s, dir, QueryVecId)
    probedScan(s, root, Map.empty, selectProbesExact(centroids, qv, Cells),
      qv, "l2", K, excludeVecId = QueryVecId,
      pred = Some(col("label") === 3))
  }

  /** IVF_HNSW-equivalent: probe selection via the centroid graph's greedy
    * ef-search instead of the exact O(cells) scan. With ef = nprobes =
    * all cells the graph provably visits every node (ring edge), so the
    * result equals exact KNN and shares the ivf_flat oracle; sub-full ef
    * behavior is covered by VectorIndexSpec. */
  private def ivfHnswSearch(s: SparkSession, dir: String): DataFrame = {
    val (root, centroids) = buildIvfFlat(s, dir)
    val io = graft.sources.lance.LanceVectorOptions.index(Map("index.type" -> "IVF_HNSW"))
    val graph = CentroidGraph.build(s, centroids, io.hnswM, io.efConstruction, io.maxLevel)
    val qv = embeddingOf(s, dir, QueryVecId)
    searchIndex(s, root, centroids, qv,
      Map("vector.nprobes" -> Cells.toString, "vector.ef" -> Cells.toString,
          "vector.k" -> K.toString),
      excludeVecId = QueryVecId, graph = Some(graph))
  }

  // ---- IVF_PQ ------------------------------------------------------------

  /** Product quantization: split the 64-dim space into `M` subspaces,
    * KMeans a 2^bits codebook per subspace, encode every vector as M code
    * ids, and answer queries with an asymmetric-distance (ADC) scan: a
    * per-query M×codes lookup table makes each row's approximate distance
    * M table lookups instead of a 64-dim loop. Encode and ADC are native
    * codegen'd expressions (functions/PqExpressions.scala) so both the
    * build and the query scan stay inside WholeStageCodegen — no UDF on
    * either hot path. Approximate by construction → rows-only keys +
    * recall covered in VectorIndexSpec.
    */
  private val M = 8
  private val CodeBits = 4 // 16 codes per subspace
  private val Codes = 1 << CodeBits

  /** Encoded dataset (vec_id, embedding, codes) + flattened [m][code][dim]
    * codebooks. Codebook training is M small KMeans fits run concurrently
    * from one cached sample ([[trainPqCodebooks]]); encoding is the
    * codegen'd PqEncode over the full dataset. */
  def buildPq(s: SparkSession, dir: String): (DataFrame, Array[Double], Int) = {
    val e = t(s, dir, "embeddings")
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val subDim = dim / M
    val flat = trainPqCodebooks(trainingSample(e), "embedding", M, Codes, subDim)
    val encoded = e.select(col("vec_id"), col("embedding"),
      graft.functions.pq_encode(col("embedding"), flat, M, Codes, subDim).as("codes"))
    (encoded, flat, subDim)
  }

  /** Per-query flattened ADC LUT: lut[m*Codes + c] = ||q_sub − codebook||². */
  def pqLut(qv: Array[Double], flat: Array[Double], subDim: Int): Array[Double] = {
    val lut = new Array[Double](M * Codes)
    for (m <- 0 until M; c <- 0 until Codes) {
      var s = 0.0
      for (d <- 0 until subDim) {
        val diff = qv(m * subDim + d) - flat((m * Codes + c) * subDim + d)
        s += diff * diff
      }
      lut(m * Codes + c) = s
    }
    lut
  }

  /** Query-time ADC top-k over an encoded dataset (no build work). */
  def pqAdcTopK(encoded: DataFrame, lut: Array[Double], k: Int,
                excludeVecId: Long): DataFrame =
    encoded.filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"),
        round(graft.functions.pq_adc(col("codes"), lut, M, Codes), 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)

  private def ivfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val (encoded, flat, subDim) = buildPq(s, dir)
    val qv = embeddingOf(s, dir, QueryVecId)
    pqAdcTopK(encoded, pqLut(qv, flat, subDim), k = 10, excludeVecId = QueryVecId)
  }

  /** PQ search with refine: fetch k×refineFactor ADC candidates, re-rank
    * them with the exact L2 on the driver ([[refineOnDriver]]), keep k (reference:
    * LanceVectorSearch.java:159-161 refine-factor). */
  def ivfPqRefine(s: SparkSession, dir: String, k: Int, refineFactor: Int): DataFrame = {
    val (encoded, flat, subDim) = buildPq(s, dir)
    val qv = embeddingOf(s, dir, QueryVecId)
    val lut = pqLut(qv, flat, subDim)
    val scored = encoded.filter(col("vec_id") =!= QueryVecId)
      .select(col("vec_id"), col("embedding"),
        graft.functions.pq_adc(col("codes"), lut, M, Codes).as("adc_dist"))
    refineOnDriver(s, rankTop(scored, "adc_dist", asc = true, k * refineFactor, "vec_id"),
      qv, k, "vec_id", "embedding")
  }

  // ---- IVF_SQ8 (scalar quantization) --------------------------------------

  /** Per-dimension [min, max] → uint8 scalar quantization — the
    * quantization ladder's middle rung (NOT in the reference, whose ladder
    * stops at IVF_PQ; added for the LLM-pipeline ANN surface): 4× less
    * vector IO than float32 while keeping 8 bits per DIMENSION of precision
    * (vs PQ's 4 bits per 8-dim subspace), so an SQ candidate scan plus a
    * small exact refine reproduces exact KNN where PQ needs a far larger
    * refine. Build = ONE stats pass (per-dimension min/max, 2·dim
    * aggregates) + the codegen'd [[graft.functions.SqEncode]] map; the
    * mins/scales ride the plan as literals. At 100 TB both stages are
    * single agg/map passes over the corpus. */
  /** Per-dimension [min, max] → (mins, scales) for SQ8, in ONE narrow
    * posexplode + groupBy(dim) pass instead of a 2·dim-column agg: the
    * wide-agg plan's generated code grows with dim (seconds of janino
    * compile at 64 dims, worse at 1024); this shape compiles small and
    * shuffles only dim rows after partial agg, at any dim. Shared by the
    * flat key and the persisted IVF_SQ build. */
  private[operators] def sqStats(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val stats = df.select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy("d").agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val dim = stats.size
    val mins = Array.tabulate(dim)(d => stats(d)._1)
    val scales = Array.tabulate(dim)(d => (stats(d)._2 - mins(d)) / 255.0)
    (mins, scales)
  }

  def buildSq(s: SparkSession, dir: String): (DataFrame, Array[Double], Array[Double]) = {
    val e = t(s, dir, "embeddings")
    val (mins, scales) = sqStats(e, "embedding")
    val encoded = e.select(col("vec_id"), col("embedding"),
      graft.functions.sq_encode(col("embedding"), mins, scales).as("scodes"))
    (encoded, mins, scales)
  }

  /** SQ ADC candidates + exact re-rank via [[refineOnDriver]]. At refine = 4
    * the 8-bit codes' per-coordinate error (≤ scale/2) keeps the true
    * top-k inside the candidate set, so the key reproduces exact KNN and
    * carries the FULL oracle. Like knn_join_pq's generous-refine gate this
    * is an EMPIRICAL posture, verified by the refine==exact spec and the
    * oracle on the gate corpus, not a proof — embeddings whose rank-k
    * distance boundary is tighter than the accumulated half-step error
    * would need a larger refine (the exactness knob, not a code change). */
  def sqTopKRefined(s: SparkSession, encoded: DataFrame, mins: Array[Double],
                    scales: Array[Double], qv: Array[Double], k: Int,
                    refineFactor: Int, excludeVecId: Long): DataFrame = {
    val qm = Array.tabulate(qv.length)(d => qv(d) - mins(d))
    val scored = encoded.filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), col("embedding"),
        graft.functions.sq_adc(col("scodes"), qm, scales).as("adc_dist"))
    refineOnDriver(s, rankTop(scored, "adc_dist", asc = true, k * refineFactor, "vec_id"),
      qv, k, "vec_id", "embedding")
  }

  private def ivfSqSearch(s: SparkSession, dir: String): DataFrame = {
    val (encoded, mins, scales) = buildSq(s, dir)
    sqTopKRefined(s, encoded, mins, scales, embeddingOf(s, dir, QueryVecId),
      k = K, refineFactor = 4, excludeVecId = QueryVecId)
  }

  /** IVF_SQ through the PERSISTED index path: the SQ quantizer lives in
    * the atomic sidecar next to the centroids, the scan is cell-pruned
    * (fragment ranges on `cell`), appends re-encode against the FROZEN
    * mins/scales (out-of-envelope values clamp — bounded error, never a
    * wrong-range read), and search is the shared ADC+refine tail. Full
    * probes + refine ⇒ exact — the same gate configuration as ivf_flat. */
  private def ivfSqIndexSearch(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.t(s, dir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfsq-").toString
    val idx = IndexBuild.build(s, e, root,
      Map("index.type" -> "IVF_SQ", "index.num-partitions" -> Cells.toString))
    IndexBuild.search(s, idx, embeddingOf(s, dir, QueryVecId),
      Map("vector.nprobes" -> Cells.toString, "vector.k" -> K.toString,
        "vector.refine-factor" -> "4"),
      excludeVecId = QueryVecId)
  }

  /** Incremental maintenance: index 80% of the corpus, IndexBuild.append
    * the rest against the FROZEN centroids/codebooks (no retrain, no
    * rewrite of indexed fragments), then full-probe search — which must
    * equal exact KNN over the whole corpus, proving appended vectors are
    * first-class index citizens. */
  private def ivfAppendSearch(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.t(s, dir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-append-").toString
    val idx = IndexBuild.build(s, e.filter(col("vec_id") % 5 =!= 0), root,
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> Cells.toString))
    IndexBuild.append(s, e.filter(col("vec_id") % 5 === 0), idx)
    val qv = embeddingOf(s, dir, QueryVecId)
    IndexBuild.search(s, IndexBuild.load(s, root), qv,
      Map("vector.nprobes" -> Cells.toString, "vector.k" -> K.toString),
      excludeVecId = QueryVecId)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivf_flat_search" -> ivfFlatSearch,
    "ivf_filtered_search" -> ivfFilteredSearch,
    "ivf_append_search" -> ivfAppendSearch,
    "ivf_hnsw_search" -> ivfHnswSearch,
    "ivf_pq_search" -> ivfPqSearch,
    "ivf_pq_refine" -> ((s, dir) => ivfPqRefine(s, dir, k = 10, refineFactor = 4)),
    "ivf_sq_search" -> ivfSqSearch,
    "ivf_sq_index_search" -> ivfSqIndexSearch)

  private[operators] val exactKnnSql =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT * FROM (
       |  SELECT e.vec_id, round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> $QueryVecId)
       |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin

  /** Full-probe IVF == exact KNN, so the oracle is the brute-force scan —
    * and full-ef/full-probe HNSW visits every cell, so it shares it.
    * ivf_pq is approximate by construction → rows-only (no SQL oracle). */
  val oracleSql: Map[String, String] = Map(
    "ivf_flat_search" -> exactKnnSql,
    // the filtered gate probes all cells, so the oracle is the exact
    // brute-force KNN under the same predicate
    "ivf_filtered_search" ->
      exactKnnSql.replace("WHERE e.vec_id <>", "WHERE e.label = 3 AND e.vec_id <>"),
    "ivf_append_search" -> exactKnnSql,
    "ivf_hnsw_search" -> exactKnnSql,
    // SQ ADC + exact refine reproduces exact KNN (8-bit precision keeps
    // the true top-k inside the 4× candidate set) → the same oracle
    "ivf_sq_search" -> exactKnnSql,
    "ivf_sq_index_search" -> exactKnnSql)
}
