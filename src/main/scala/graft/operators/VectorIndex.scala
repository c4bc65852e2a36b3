package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Jobs
import org.apache.spark.sql.types.StructType

/** The IVF training kernels, the top-k ranking helpers and the `ivf_*` keys
  * (reference: LanceIndexBuilder.java:116-141 — IVF_FLAT num-partitions,
  * IVF_PQ num-sub-vectors/num-bits).
  *
  * The index itself is [[IndexBuild]]'s persisted, cell-clustered lance
  * dataset: every `ivf_*` key is data ([[IvfKey]]: index options, search
  * options, an optional filter) built by `IndexBuild.build` and searched
  * by `IndexBuild.search`, the path `CALL system.knn` serves. A search
  * picks `nprobes` centroids driver-side (k-sized work) and reads the
  * index with `cell IN (probed…)`: LanceScan's fragment pruning skips
  * every fragment of an unprobed cell, so IO scales with nprobes/cells,
  * not dataset size.
  *
  * The oracle-checked keys probe ALL cells — IVF with full probing is
  * exactly brute-force KNN, so the DuckDB oracle is the exact scan; the
  * recall/pruning behavior at nprobes < cells is covered by
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
  private[operators] def asVec(c: Column) =
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

  /** The one centroid trainer — every index build, streamed cell store,
    * ad-hoc knn_join and SemDeDup pass trains through it: `cells`
    * centroids of `vecCol` over the TrainCap-capped sample of `df`, seed
    * 42 — [[LocalKMeans]] under the bounds (collected ONCE, sorted for
    * layout-independent determinism), MLlib above them. Returns dense
    * double centroids; min(cells, n) rows like MLlib. */
  private[graft] def trainCentroids(df: DataFrame, vecCol: String,
                                    cells: Int): Array[Array[Double]] = {
    val sample = trainingSample(df.select(col(vecCol)))
    val head = sample.agg(count(lit(1)), max(size(col(vecCol)))).first()
    val n = head.getLong(0)
    val dim = if (head.isNullAt(1)) 0 else head.getInt(1)
    require(n > 0, s"trainCentroids: empty training sample for $vecCol")
    if (n * dim * 4 <= LocalTrainBytes &&
        n * dim * math.min(cells, n) * 10L <= LocalTrainFlops) {
      val pts = sample.select(col(vecCol).cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)
      java.util.Arrays.sort(pts, LocalKMeans.floatArrayOrdering)
      LocalKMeans.fit(pts, cells, 42L)
    } else {
      new KMeans().setK(cells).setSeed(42L).setMaxIter(10)
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
    // trainCentroids — ONE collect of the capped sample, M seeded
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

  /** Exact probe selection: the `nprobes` nearest centroids, driver-side
    * O(cells) — fine at thousands of cells; [[CentroidGraph.probe]] is the
    * sub-linear alternative at 100k+ cells. */
  def selectProbesExact(centroids: Array[Vector], queryVec: Array[Double],
                        nprobes: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(c, Vectors.dense(queryVec))) }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobes).map(_._1)

  /** `base` filtered by each of `filters`, projected to `cols`, ranked by
    * (`by`, id) with nulls LAST, keeping `n` rows: the plan of
    * `base.filter(…).select(cols: _*).orderBy(…).limit(n)`, analysed once
    * (`Shim.filterSelectTop`). Null scores come from malformed rows (ragged
    * dims, a null element). They are not filtered before the sort: Spark
    * pushes an `IS NOT NULL` on the alias below the projection, which
    * evaluates the distance kernel twice per row. A null can reach the `n`
    * rows only when fewer than `n` rows score, so dropping nulls after the
    * limit ([[collectTop]]) keeps the same scored rows. */
  private[operators] def rankTop(base: DataFrame, filters: Seq[Column], cols: Seq[Column],
                                 by: String, asc: Boolean, n: Int, idCol: String): DataFrame =
    org.apache.spark.sql.graft.Shim.filterSelectTop(base, filters, cols,
      Seq(if (asc) col(by).asc_nulls_last else col(by).desc_nulls_last, col(idCol).asc), n)

  /** Collect a [[rankTop]] plan in ONE Spark job, labelled
    * `graft:knn:rank`: the executed plan's root `TakeOrderedAndProject`
    * runs its child through `Jobs.takeOrdered` (a bounded heap per
    * partition, at most tasks·n rows merged on the driver, no shuffle, no
    * second stage; the only closure Spark cleans is `Jobs`' own). Any
    * other plan root fails. Rows with a null `by` score are dropped. The
    * rows stay InternalRows, in the plan's output layout. */
  private[operators] def collectTop(top: DataFrame, by: String): Array[InternalRow] = {
    val i = top.schema.fieldIndex(by)
    Jobs.takeOrdered(top.queryExecution, "graft:knn:rank").filterNot(_.isNullAt(i))
  }

  /** The exact re-rank behind every refine search (`IndexBuild.search`'s
    * quantized arms). `top` is a [[rankTop]] plan of (id, vector,
    * `adc_dist`) limited to k·r candidates; it is collected in one job
    * ([[collectTop]]), and its InternalRows are scored on the driver as
    * they are, with the same `round(vec_l2(vector, query), 6)` Catalyst
    * expression the distributed plan used. Interpreted eval runs the same
    * double arithmetic as the generated code, so distances are
    * bit-identical. The k rows are kept by (dist ASC NULLS FIRST, id ASC),
    * Spark's default ordering. Driver work is O(tasks·k·r) rows. Returns
    * the k (id, dist) rows and their schema. */
  private[operators] def refineRows(top: DataFrame, qv: Array[Double], k: Int,
                                    idCol: String, vecCol: String): (StructType, Array[Row]) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
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
    val (iId, iVec) = (top.schema.fieldIndex(idCol), top.schema.fieldIndex(vecCol))
    val scored = collectTop(top, "adc_dist").map { r =>
      InternalRow(r.get(iId, idF.dataType), dist.eval(InternalRow(r.getArray(iVec))))
    }
    val byDistThenId = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(1, DoubleType, nullable = true), Ascending),
      SortOrder(BoundReference(0, idF.dataType, idF.nullable), Ascending)))
    val toRow = CatalystTypeConverters.createToScalaConverter(out)
    (out, scored.sorted(byDistThenId).take(k).map(toRow(_).asInstanceOf[Row]))
  }

  /** Driver-side fetch of one embedding (k-sized, not a data scan). */
  def embeddingOf(s: SparkSession, dir: String, vecId: Long): Array[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === vecId)
      .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray

  /** Per-dimension [min, max] → (mins, scales) for the IVF_SQ quantizer,
    * in ONE narrow posexplode + groupBy(dim) pass instead of a 2·dim-column
    * agg: the wide-agg plan's generated code grows with dim (seconds of
    * janino compile at 64 dims, worse at 1024); this shape compiles small
    * and shuffles only dim rows after partial agg, at any dim. */
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

  /** An IVF index of `tpe` over [[Cells]] cells, plus `opts`. */
  private[operators] def ivf(tpe: String, opts: (String, String)*): Map[String, String] =
    Map("index.type" -> tpe, "index.num-partitions" -> Cells.toString) ++ opts

  /** Top-[[K]] search options probing EVERY cell, plus `opts`: IVF with
    * full probing is exact KNN under any centroids, the oracle-checkable
    * configuration (recall at nprobes < cells is VectorIndexSpec's). */
  private[operators] def probeAll(opts: (String, String)*): Map[String, String] =
    Map("vector.nprobes" -> Cells.toString, "vector.k" -> K.toString) ++ opts

  /** One `ivf_*` key as data: the `IndexBuild` index options, the search
    * options, an optional search filter, and the `embeddings` rows
    * appended after the build (the other rows build the index). */
  case class IvfKey(index: Map[String, String], search: Map[String, String],
                    pred: Option[Column] = None, appended: Option[Column] = None)

  /** 8 sub-vectors of 4-bit codes: 16 codes per 8-dim subspace. */
  private val Pq = ivf("IVF_PQ", "index.num-sub-vectors" -> "8", "index.num-bits" -> "4")

  /** Every key probes all cells. `ivf_filtered_search` stores the `label`
    * payload in the index and filters inside the probed-cell scan, before
    * ranking. `ivf_append_search` appends a fifth of the corpus against
    * the frozen centroids and searches a fresh handle. The HNSW key's full
    * ef visits every graph node. PQ ranks by ADC alone (rows-only keys);
    * SQ's 8-bit codes plus a 4x exact refine reproduce exact KNN. */
  val ivfKeys: Map[String, IvfKey] = Map(
    "ivf_flat_search" -> IvfKey(ivf("IVF_FLAT"), probeAll()),
    "ivf_filtered_search" -> IvfKey(ivf("IVF_FLAT"), probeAll(), pred = Some(col("label") === 3)),
    "ivf_append_search" -> IvfKey(ivf("IVF_FLAT"), probeAll(),
      appended = Some(col("vec_id") % 5 === 0)),
    "ivf_hnsw_search" -> IvfKey(ivf("IVF_HNSW"), probeAll("vector.ef" -> Cells.toString)),
    "ivf_pq_search" -> IvfKey(Pq, probeAll("vector.k" -> "10")),
    "ivf_pq_refine" -> IvfKey(Pq, probeAll("vector.k" -> "10", "vector.refine-factor" -> "4")),
    "ivf_sq_search" -> IvfKey(ivf("IVF_SQ"), probeAll("vector.refine-factor" -> "4")),
    "ivf_sq_index_search" -> IvfKey(ivf("IVF_SQ"), probeAll("vector.refine-factor" -> "4")))

  /** Build `key`'s index over `embeddings` in a fresh directory. */
  def buildKey(s: SparkSession, dir: String, key: IvfKey): IndexBuild.BuiltIndex = {
    val e = t(s, dir, "embeddings")
    val root = FixtureMemo.tempDir("ivf")
    key.appended match {
      case None => IndexBuild.build(s, e, root, key.index)
      case Some(rest) =>
        IndexBuild.append(s, e.filter(rest), IndexBuild.build(s, e.filter(!rest), root, key.index))
        IndexBuild.load(s, root)
    }
  }

  /** `key`'s search of `idx` for `qv`: the eager `IndexBuild.search`. */
  def searchKey(s: SparkSession, idx: IndexBuild.BuiltIndex, key: IvfKey,
                qv: Array[Double]): DataFrame =
    IndexBuild.search(s, idx, qv, key.search, excludeVecId = QueryVecId, pred = key.pred)

  /** The one Spark plan [[searchKey]] collects. */
  def searchKeyPlan(s: SparkSession, idx: IndexBuild.BuiltIndex, key: IvfKey,
                    qv: Array[Double]): DataFrame =
    IndexBuild.searchPlan(s, idx, qv, key.search, excludeVecId = QueryVecId, pred = key.pred)

  val queries: Map[String, (SparkSession, String) => DataFrame] = ivfKeys.map {
    case (name, key) => name -> ((s: SparkSession, dir: String) =>
      searchKey(s, buildKey(s, dir, key), key, embeddingOf(s, dir, QueryVecId)))
  }

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
