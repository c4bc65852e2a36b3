package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.{distance_to_similarity, vec_cosine, vec_dot, vec_l2}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Brute-force KNN over the `embeddings` table (reference:
  * LanceVectorSearch.java:133 filtered KNN, :272-286 L2/COSINE/DOT metrics,
  * :420-424 distance→similarity).
  *
  * Spark-first shape: the query vector is a 1-row broadcast (so the probe
  * side streams — no shuffle of the base table), the distance is a
  * codegen'd Catalyst expression ([[graft.functions.VectorDistance]]), and
  * `orderBy(score).limit(k)` plans `TakeOrderedAndProject` — a per-partition
  * top-k heap with a k-sized driver merge, which is the scale-safe top-k
  * (no global sort, no collect). At 100 TB the same plan holds: the scan
  * parallelizes per file, each task keeps a k-row heap.
  *
  * Scores are rounded to 6dp on both the Spark and DuckDB side so the
  * hash-compare is insensitive to last-bit accumulation differences; ORDER
  * BY is on the rounded score with vec_id as tiebreak (deterministic).
  */
object VectorSearch extends QueryModule {
  import Tables._

  private val QueryVecId = 0L
  private val K = 10

  /** Base table with the broadcast query vector attached. */
  private def withQueryVec(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qv = e.filter(col("vec_id") === QueryVecId).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= QueryVecId).crossJoin(broadcast(qv))
  }

  private def knn(s: SparkSession, dir: String, scoreCol: Column, asc: Boolean,
                  pred: Option[Column] = None): DataFrame = {
    val base = withQueryVec(s, dir)
    val filtered = pred.map(base.filter).getOrElse(base)
    val scored = filtered.select(col("vec_id"), col("label"),
      round(scoreCol, 6).as("score"))
    val ordered =
      if (asc) scored.orderBy(col("score").asc, col("vec_id").asc)
      else scored.orderBy(col("score").desc, col("vec_id").asc)
    ordered.limit(K)
  }

  /** Double-precision variant (reference maps FixedSizeList<Float64>:
    * LanceTypeConverter.java:69-70): derive a genuine float64 embedding
    * (x/3 is not float-representable) and run the same codegen'd distance
    * over array<double> end-to-end. */
  private def knn64(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("v64", transform(col("embedding"), x => x.cast("double") / 3.0))
    val qv = e.filter(col("vec_id") === QueryVecId).select(col("v64").as("qv"))
    e.filter(col("vec_id") =!= QueryVecId).crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("v64"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(K)
  }

  /** int8 symmetric quantization — the standard embedding-storage
    * reduction (4x smaller, recall-neutral at rerank): per-vector scale =
    * max |x|, codes = floor(x / scale * 127). Pure builtin higher-order
    * functions (aggregate/transform) — map-only, codegen-friendly, no
    * UDF; floor (not round) so Spark and DuckDB agree bit-for-bit. */
  private def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val withM = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      aggregate(col("embedding"), lit(0.0d),
        (a, x) => greatest(a, abs(x.cast("double")))).as("m"))
    val q = when(col("m") > 0d,
      transform(col("embedding"),
        x => floor(x.cast("double") / col("m") * 127.0d).cast("long")))
      .otherwise(transform(col("embedding"), _ => lit(0L)))
    withM.select(col("vec_id"), q.as("q"))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")
  }

  /** 1-bit sign binarization — the extreme end of the quantization ladder
    * (float32 → int8 `emb_quantize` → PQ codes → sign bits): bit_i =
    * (x_i > 0), packed MSB-first into 32-bit halves (two BIGINT words for
    * the 64-dim column — 32-bit halves because the SQL oracle's BIGINT
    * fold would overflow packing 64 bits). The gated key uses pure builtin
    * higher-order functions so DuckDB can mirror the fold exactly; the
    * scale path is the codegen'd [[graft.functions.BitPackSign]] (full
    * 64-bit words, one popcount per word) — equivalence between the two
    * packings is spec-gated. Map-only at any scale. */
  private def embBinarize(s: SparkSession, dir: String): DataFrame = {
    val bits = transform(col("embedding"),
      x => when(x.cast("double") > 0.0d, 1L).otherwise(0L))
    t(s, dir, "embeddings").select(col("vec_id"), bits.as("bits"))
      .select(col("vec_id"),
        aggregate(slice(col("bits"), 1, 32), lit(0L), (a, b) => a * 2 + b)
          .as("word_hi"),
        aggregate(slice(col("bits"), 33, 32), lit(0L), (a, b) => a * 2 + b)
          .as("word_lo"),
        aggregate(col("bits"), lit(0L), (a, b) => a + b).as("popcnt"))
      .orderBy("vec_id")
  }

  /** KNN under Hamming distance over sign-binarized vectors — the
    * first-pass candidate sweep for memory-bound corpora: the scan reads
    * 8 bytes/vector instead of 256 (vectors never leave the parquet scan;
    * only the packed words flow), the distance is one XOR+popcount per
    * word inside WholeStageCodegen, and orderBy+limit plans the usual
    * per-partition k-heap TakeOrderedAndProject. Integer distances ⇒ the
    * oracle compare is exact with no rounding at all. At 100 TB this is
    * the sweep that shortlists candidates for an exact (float) re-rank —
    * the same two-phase shape as knnJoinPq's ADC→refine. */
  private def knnHamming(s: SparkSession, dir: String): DataFrame = {
    val packed = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
      graft.functions.bit_pack_sign(col("embedding")).as("bv"))
    val qv = packed.filter(col("vec_id") === QueryVecId).select(col("bv").as("qbv"))
    packed.filter(col("vec_id") =!= QueryVecId).crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        graft.functions.hamming_dist(col("bv"), col("qbv")).as("score"))
      .orderBy(col("score").asc, col("vec_id").asc)
      .limit(K)
  }

  /** Two-phase memory-bound retrieval — the scale path the 1-bit sweep
    * exists for: phase 1 scans ONLY the packed sign words (8 B/vector at
    * 64 dims instead of 256 — XOR+popcount inside codegen) and shortlists
    * the `shortlist` hamming-nearest candidates via the usual pre-shuffle
    * k-heap; phase 2 re-ranks JUST the shortlist with exact float cosine
    * (the shortlist id set broadcasts into a semi-join against the float
    * table). Scan IO drops 32× and exact math touches `shortlist` rows,
    * not the corpus. shortlist >= corpus provably equals the exact KNN
    * (spec); the gate's shortlist=100 measures recall vs exact in the
    * spec. rows-only key — recall is corpus-dependent by construction. */
  private def knnHammingRerank(s: SparkSession, dir: String): DataFrame =
    knnHammingRerankAt(s, dir, 100)

  private[graft] def knnHammingRerankAt(s: SparkSession, dir: String,
                                        shortlist: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val packed = e.select(col("vec_id"),
      graft.functions.bit_pack_sign(col("embedding")).as("bv"))
    val qb = packed.filter(col("vec_id") === QueryVecId).select(col("bv").as("qbv"))
    val short = packed.filter(col("vec_id") =!= QueryVecId).crossJoin(broadcast(qb))
      .select(col("vec_id"), graft.functions.hamming_dist(col("bv"), col("qbv")).as("hd"))
      .orderBy(col("hd").asc, col("vec_id").asc)
      .limit(shortlist)
    val qv = e.filter(col("vec_id") === QueryVecId).select(col("embedding").as("qv"))
    e.join(broadcast(short.select("vec_id")), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        round(vec_cosine(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(K)
  }

  /** Distributed KNN JOIN — top-k neighbors in `corpus` for EVERY row of
    * `queries` (the batch form of the reference's lateral vector-search
    * table function, table/LanceVectorSearchFunction.java:55-66; single-
    * query CALLs cover the one-vector case). This is the embedding-
    * retrieval / semantic-dedup workhorse: N queries × M corpus rows must
    * NOT cross-join at scale, so both sides block by IVF cell — corpus
    * rows take their nearest cell (codegen'd NearestCell), query rows
    * explode to their `nprobes` nearest cells (codegen'd NearestCells,
    * per-row probe selection — driver-side selection can't serve millions
    * of query rows), the equi-join on the cell bounds candidates, and a
    * per-query window keeps top-k. nprobes == cells ⇒ every pair is
    * considered ⇒ EXACT KNN (the oracle configuration); nprobes < cells
    * is the approximate scale path (recall measured in spec). Ranking
    * uses the ROUNDED distance with neighbor-id tiebreak so results are
    * deterministic and oracle-comparable.
    *
    * Sizing at scale: the cell equi-join's parallelism is bounded by
    * `cells` (only that many join keys) and candidate volume per query is
    * ~corpus × nprobes / cells — size cells to at least the cluster's
    * core count (thousands at 100 TB; KMeans training stays bounded by
    * the sampling cap), and let AQE's skew handling split hot cells. */
  def knnJoin(s: SparkSession, queries: DataFrame, corpus: DataFrame,
              qIdCol: String, cIdCol: String, vecCol: String, k: Int,
              metric: String = "l2", cells: Int = 0, nprobes: Int = 0,
              excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (qTagged, cTagged) =
      if (cells <= 1) {
        (queries.withColumn("__cell", lit(0)), corpus.withColumn("__cell", lit(0)))
      } else {
        // r21: the ad-hoc cell training rides the SAME adaptive trainer as
        // every index build (VectorIndex.fitCentroids — driver-local
        // LocalKMeans under the 64 MB / 2 GFlop bounds, the former MLlib
        // fit above them): the inline MLlib fit paid ~10 iterations of
        // distributed-job scheduling inside the timed join for a
        // TrainCap-bounded sample whose arithmetic is microseconds.
        // Centroid values legitimately differ; the gated configs probe
        // every cell (nprobes == cells ⇒ exact top-k under ANY centroids)
        // and partial-probe recall is spec-measured, not assumed.
        val centroids = VectorIndex.fitCentroids(
          VectorIndex.trainingSample(corpus.select(col(vecCol))), vecCol, cells, 42L)
        val nc = centroids.length
        val flat = centroids.flatten
        val dim = flat.length / nc
        val p = if (nprobes <= 0) nc else math.min(nprobes, nc)
        // coalesce(cell, -1): NearestCell is nullable (null on a malformed
        // vector), so a nullable join key makes the planner infer
        // IsNotNull(nearestcell(...)) and push it below the projection —
        // evaluating the O(cells·dim) kernel TWICE per corpus row (guide
        // §4.4's duplicate-evaluation trap, visible in the r20 plan as
        // `Filter isnotnull(nearestcell(...))`). The -1 sentinel never
        // matches a probe (cell ids are 0..cells-1), so malformed rows
        // drop in the join exactly as null keys did — one eval per row.
        (queries.withColumn("__cell",
            explode(graft.functions.nearest_cells(col(vecCol), flat, nc, dim, p))),
          corpus.withColumn("__cell",
            coalesce(graft.functions.nearest_cell(col(vecCol), flat, nc, dim), lit(-1))))
      }
    val (score, asc) = metric match {
      case "l2" => ((a: Column, b: Column) => vec_l2(a, b), true)
      case "cosine" => ((a: Column, b: Column) => vec_cosine(a, b), false)
      case "dot" => ((a: Column, b: Column) => vec_dot(a, b), false)
      case other => throw new IllegalArgumentException(
        s"knnJoin: unknown metric $other (expected l2 / cosine / dot)")
    }
    val q = qTagged.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"), col("__cell"))
    val c = cTagged.select(col(cIdCol).as("n_id"), col(vecCol).as("__cv"), col("__cell"))
    val joined0 = q.join(c, "__cell")
    val joined = if (excludeSelf) joined0.filter(col("q_id") =!= col("n_id")) else joined0
    val distOrder = if (asc) col("dist").asc else col("dist").desc
    joined
      .select(col("q_id"), col("n_id"),
        round(score(col("__cv"), col("__qv")), 6).as("dist"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(distOrder, col("n_id").asc))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** Hamming-shortlist KNN JOIN — the two-phase batch-retrieval form for
    * the memory-bound NO-INDEX regime: phase 1 cross-joins the corpus's
    * packed sign words against the broadcast packed queries (8 B move per
    * corpus row, one XOR+popcount per candidate) and keeps each query's
    * `shortlist` hamming-nearest ids through the pre-shuffle k-heap;
    * phase 2 re-ranks ONLY the queries × shortlist pairs with the exact
    * float metric (the pair set broadcasts back onto the float table).
    * Compute stays O(N·M) bit ops — the brute-force regime, right when
    * no index exists or the corpus is mid-sized; for huge corpora the
    * cell-blocked [[knnJoin]] is the path. shortlist >= corpus provably
    * equals the exact join (spec). */
  def knnJoinHamming(s: SparkSession, queries: DataFrame, corpus: DataFrame,
                     qIdCol: String, cIdCol: String, vecCol: String, k: Int,
                     shortlist: Int, metric: String = "l2",
                     excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qp = queries.select(col(qIdCol).as("q_id"),
      graft.functions.bit_pack_sign(col(vecCol)).as("qbv"))
    val cp = corpus.select(col(cIdCol).as("n_id"),
      graft.functions.bit_pack_sign(col(vecCol)).as("nbv"))
    val cand0 = cp.crossJoin(broadcast(qp))
    val cand = if (excludeSelf) cand0.filter(col("q_id") =!= col("n_id")) else cand0
    val short = cand
      .select(col("q_id"), col("n_id"),
        graft.functions.hamming_dist(col("nbv"), col("qbv")).as("hd"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("hd").asc, col("n_id").asc))
        .cast("long"))
      .filter(col("rk") <= shortlist)
      .select("q_id", "n_id")
    val (score, asc) = metric match {
      case "l2" => ((a: Column, b: Column) => vec_l2(a, b), true)
      case "cosine" => ((a: Column, b: Column) => vec_cosine(a, b), false)
      case "dot" => ((a: Column, b: Column) => vec_dot(a, b), false)
      case other => throw new IllegalArgumentException(
        s"knnJoinHamming: unknown metric $other")
    }
    val distOrder = if (asc) col("dist").asc else col("dist").desc
    val qv = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(cIdCol).as("n_id"), col(vecCol).as("__cv"))
    cv.join(broadcast(short), "n_id").join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        round(score(col("__cv"), col("__qv")), 6).as("dist"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(distOrder, col("n_id").asc))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  private def knnJoinHammingQuery(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    knnJoinHamming(s, e.filter(col("vec_id") < 20), e,
      "vec_id", "vec_id", "embedding", k = 5, shortlist = 100)
  }

  /** KNN join against a PERSISTED index: the corpus is the index dataset
    * itself (cell column already materialized, fragments cell-clustered so
    * the probed-cell join prunes their scan), probes come from the stored
    * centroids — no KMeans retrain per call. The repeated-batch-retrieval
    * path: build the index once, join query batches forever. */
  def knnJoin(s: SparkSession, queries: DataFrame, idx: IndexBuild.BuiltIndex,
              qIdCol: String, k: Int, metric: String, nprobes: Int,
              excludeSelf: Boolean, cIdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = idx.centroids.length
    val flat = idx.centroids.flatMap(_.toArray)
    val dim = flat.length / cells
    val p = if (nprobes <= 0) cells else math.min(nprobes, cells)
    val vecCol = idx.opts.column
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"),
      explode(graft.functions.nearest_cells(col(vecCol), flat, cells, dim, p))
        .as("__cell"))
    // pinned: verifies the table still points at this handle's sidecar (a
    // rebuild between load and join would re-cell the data under us)
    val c = s.read.format("lance")
      .options(IndexBuild.pinnedOptions(s, idx)).load(idx.root)
      .select(col(cIdCol).as("n_id"), col(vecCol).as("__cv"),
        col("cell").as("__cell"))
    val (score, asc) = metric match {
      case "l2" => ((a: Column, b: Column) => vec_l2(a, b), true)
      case "cosine" => ((a: Column, b: Column) => vec_cosine(a, b), false)
      case "dot" => ((a: Column, b: Column) => vec_dot(a, b), false)
      case other => throw new IllegalArgumentException(
        s"knnJoin: unknown metric $other (expected l2 / cosine / dot)")
    }
    val distOrder = if (asc) col("dist").asc else col("dist").desc
    val joined0 = q.join(c, "__cell")
    val joined = if (excludeSelf) joined0.filter(col("q_id") =!= col("n_id")) else joined0
    joined
      .select(col("q_id"), col("n_id"),
        round(score(col("__cv"), col("__qv")), 6).as("dist"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(distOrder, col("n_id").asc))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** ADC-scored KNN join against a persisted IVF_PQ index — the
    * memory-bound-corpus variant of [[knnJoin]]: the cell equi-join
    * carries the corpus's M-int PQ `codes` instead of its float vectors
    * (a ~(4·dim)/(4·M)× cut in the join's shuffled bytes — at a 100 TB
    * corpus the difference between an in-memory shuffle and a spilling
    * one; reference analog: the ADC + refine path of
    * LanceVectorSearch.java:159-161 applied at batch scale). Stages:
    *
    *  1. query rows explode to their `nprobes` cells (codegen'd
    *     [[graft.functions.NearestCells]], per-row probe selection);
    *  2. the cell join scores candidates with the codegen'd per-pair ADC
    *     ([[graft.functions.PqAdcPair]] — a per-query LUT cannot be a
    *     plan constant at batch scale) and a window keeps the k×`refine`
    *     best per query — the only stage that touches corpus×nprobes/cells
    *     candidates, now at code-array width;
    *  3. the k×refine survivors join back to the index by id for the
    *     exact re-rank — when the query batch is modest (the common
    *     retrieval shape: thousands of queries against a huge corpus)
    *     that join broadcasts the candidates and the corpus vectors
    *     stream map-side with NO shuffle at all; a huge batch degrades
    *     gracefully to an id-hashed shuffle.
    *
    * nprobes == cells with `refine` sized so candidates ⊇ the true top-k
    * reproduces exact KNN (the gate configuration); smaller nprobes /
    * refine are the approximate scale path (recall measured in spec).
    * L2 only: ADC reconstructs squared-L2 from the codebooks. */
  def knnJoinPq(s: SparkSession, queries: DataFrame, idx: IndexBuild.BuiltIndex,
                qIdCol: String, k: Int, nprobes: Int, refine: Int = 4,
                excludeSelf: Boolean = true, cIdCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pq = idx.pq.getOrElse(throw new IllegalArgumentException(
      s"knnJoinPq: index at ${idx.root} has no PQ codebooks (build with index.type=IVF_PQ)"))
    require(refine >= 1, s"knnJoinPq: refine must be >= 1, got $refine")
    val cells = idx.centroids.length
    val flat = idx.centroids.flatMap(_.toArray)
    val dim = flat.length / cells
    val p = if (nprobes <= 0) cells else math.min(nprobes, cells)
    val vecCol = idx.opts.column
    // ONE pinned version for both index reads below (codes for scoring,
    // vectors for the re-rank): a commit landing between them would score
    // against one snapshot and re-rank against another, silently dropping
    // re-written ids from the inner join
    val pinned = IndexBuild.pinnedOptions(s, idx)
    val q = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"),
      explode(graft.functions.nearest_cells(col(vecCol), flat, cells, dim, p))
        .as("__cell"))
    // corpus side of the cell join: id + codes + cell ONLY — the float
    // vector column stays out of the scan (column pruning) and out of the
    // shuffle; it is read again below for just the k×refine re-rank rows
    val c = s.read.format("lance").options(pinned).load(idx.root)
      .select(col(cIdCol).as("n_id"), col("codes").as("__codes"),
        col("cell").as("__cell"))
    val joined0 = q.join(c, "__cell")
    val joined = if (excludeSelf) joined0.filter(col("q_id") =!= col("n_id")) else joined0
    // the ADC scores while __qv is at hand (it rode the cell join on the
    // QUERY side — |Q|×nprobes rows, not per-candidate), then the window's
    // per-query shuffle moves only (q_id, n_id, __adc): hauling the float
    // query vector per CANDIDATE row through that exchange would give back
    // most of the bytes the codes-not-vectors join saved
    val candidates = joined
      .select(col("q_id"), col("n_id"),
        round(graft.functions.pq_adc_pair(col("__codes"), col("__qv"),
          pq.flat, pq.m, pq.codes, pq.subDim), 6).as("__adc"))
      .withColumn("__ark", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("__adc").asc, col("n_id").asc)))
      .filter(col("__ark") <= k * refine)
      .select("q_id", "n_id")
    val vecs = s.read.format("lance").options(pinned).load(idx.root)
      .select(col(cIdCol).as("n_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"))
    candidates.join(vecs, "n_id").join(qv, "q_id")
      .select(col("q_id"), col("n_id"),
        round(vec_l2(col("__cv"), col("__qv")), 6).as("dist"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** Gate configuration for the ADC join: persisted IVF_PQ index over the
    * whole embeddings table, 8 cells fully probed, refine sized so the
    * exact re-rank provably recovers exact KNN (verified against the same
    * DuckDB exact-KNN oracle as knn_join). */
  private def knnJoinPqQuery(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-knnjoin-pq-").toString
    // 8-bit codebooks: near-uniform synthetic embeddings are PQ's worst
    // case (distances concentrate), so the gate uses full-resolution
    // codebooks + a generous refine to keep the true top-k inside the
    // ADC candidate set; coarser codebooks/refine are the measured-recall
    // spec's territory, not the exactness gate's
    val idx = IndexBuild.build(s, e, root, Map(
      "index.type" -> "IVF_PQ", "index.num-partitions" -> "8",
      "index.num-sub-vectors" -> "8", "index.num-bits" -> "8"))
    knnJoinPq(s, e.filter(col("vec_id") < 20), idx,
      "vec_id", k = 5, nprobes = 8, refine = 20)
  }

  /** Gate configuration: 20 query vectors against the whole embeddings
    * table, 8 cells fully probed ⇒ exact (cell blocking is a pure
    * optimization at full probes, whatever centroids KMeans picks). */
  private def knnJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    knnJoin(s, e.filter(col("vec_id") < 20), e,
      "vec_id", "vec_id", "embedding", k = 5, metric = "l2",
      cells = 8, nprobes = 8)
  }

  // ---- knn_negatives -----------------------------------------------------
  // Hard-negative mining for retrieval/embedding training: for each query
  // vector, the k NEAREST corpus vectors with a DIFFERENT label — the
  // examples a contrastive loss learns the most from. Exact gated form:
  // the query subset broadcasts (the corpus never shuffles to meet it),
  // the label-mismatch filter rides the scan, and the per-query top-k is
  // a rank window over (q_id) that Spark's InferWindowGroupLimit rewrites
  // into a per-partition k-heap BEFORE the shuffle — shuffled volume is
  // k·partitions per query, not the corpus. A full-matrix mining run
  // (millions of queries) routes through knnJoin/knnJoinPq with k·over
  // oversampling and this same label filter applied post-join.
  private val NegK = 5

  private def knnNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val byQ = Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc)
    e.crossJoin(broadcast(qs))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("label").as("n_label"),
        round(vec_l2(col("embedding"), col("qv")), 6).as("dist"))
      .withColumn("rk", row_number().over(byQ).cast("long"))
      .filter(col("rk") <= NegK)
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** Hard-negative mining AT SCALE: route the full query set through the
    * cell-blocked ANN join with k·over oversampling, then label-filter and
    * re-rank to k — the shape for millions of queries, where the exact
    * window form's corpus-wide scoring is off the table. Oversampling
    * covers label-dominant neighborhoods (a query whose top k·over is
    * mostly same-label still yields ≥ k negatives with high probability);
    * recall vs the exact form is measured in the spec, not assumed.
    * The label joins are |corpus(id,label)|-slim and AQE-broadcast at
    * gate scale; at 100 TB the n_id join rides the same shuffle key as
    * the candidate stream and the re-rank window is k·over-bounded. */
  def knnNegativesMined(s: SparkSession, queries: DataFrame, corpus: DataFrame,
                        k: Int, over: Int, cells: Int, nprobes: Int): DataFrame =
    negativeFilter(
      knnJoin(s, queries, corpus, "vec_id", "vec_id", "embedding",
        k = k * over, metric = "l2", cells = cells, nprobes = nprobes),
      corpus.select(col("vec_id"), col("label")), k)

  /** The memory-bound variant: mine through a persisted IVF_PQ index —
    * u8 codes ride the cell join and ADC ranks the oversampled pool
    * before the exact re-rank, so the corpus's float vectors never
    * shuffle. Same label post-filter + bounded re-rank as the float
    * path; recall vs the exact window form is measured in the spec. */
  def knnNegativesMinedPq(s: SparkSession, queries: DataFrame,
                          idx: IndexBuild.BuiltIndex, labels: DataFrame,
                          k: Int, over: Int, nprobes: Int,
                          refine: Int = 4): DataFrame =
    negativeFilter(
      knnJoinPq(s, queries, idx, "vec_id", k = k * over, nprobes = nprobes,
        refine = refine),
      labels, k)

  /** Label-mismatch filter + per-query re-rank to k over an oversampled
    * candidate set (q_id, n_id, dist). The label joins carry only
    * (id, label); the re-rank window is k·over-bounded per query. */
  private def negativeFilter(cand: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cand
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("neg_rk", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc))
        .cast("long"))
      .filter(col("neg_rk") <= k)
      .select("q_id", "n_id", "n_label", "dist", "neg_rk")
      .orderBy(col("q_id").asc, col("neg_rk").asc)
  }

  // ---- emb_project (random-projection dimensionality reduction) ----------
  // Johnson-Lindenstrauss sign random projection — the standard pre-ANN /
  // pre-clustering shrink for embedding corpora at 100 TB (64 → 16 dims =
  // 4× less vector IO for every downstream join): y_j = Σ_i s_ji·x_i / √k
  // with a FROZEN deterministic ±1 matrix (splitmix64 of (j, i)). The
  // matrix rides both plans as literals and each output coordinate is an
  // explicit left-fold addition chain, so Spark and DuckDB sum the same
  // doubles in the same order — bit-identical, full-oracle gate. Long-form
  // output (vec_id, dim, value); pure map stage at any scale.
  private[operators] val ProjK = 16
  private[operators] val ProjD = 64

  /** ±1 sign matrix [k][d], deterministic (splitmix64). */
  private[operators] lazy val projSigns: Array[Array[Int]] =
    Array.tabulate(ProjK, ProjD) { (j, i) =>
      var z = (j.toLong * ProjD + i) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      if ((z & 1L) == 0L) 1 else -1
    }

  /** The j-th projected coordinate as an explicit addition chain (Spark
    * SQL, 0-based array indexing). */
  private def projExprSpark(j: Int): String = {
    val terms = (0 until ProjD).map { i =>
      s"(CAST(embedding[$i] AS DOUBLE) * ${projSigns(j)(i)}.0D)"
    }
    s"round((${terms.mkString(" + ")}) / 4.0D, 6)"
  }

  private def embProject(s: SparkSession, dir: String): DataFrame = {
    val dims = (0 until ProjK).map(j =>
      struct(lit(j.toLong).as("dim"), expr(projExprSpark(j)).as("value")))
    t(s, dir, "embeddings")
      .select(col("vec_id"), explode(array(dims: _*)).as("p"))
      .select(col("vec_id"), col("p.dim").as("dim"), col("p.value").as("value"))
      .orderBy("vec_id", "dim")
  }

  // ---- contamination_semantic ---------------------------------------------
  // EMBEDDING-SPACE decontamination — the semantic complement of the n-gram
  // rules (text_contamination / text_contamination_ratio): a paraphrased
  // eval item shares no shingles with its source but lands next to it in
  // embedding space, so the modern rule flags corpus vectors with cosine
  // >= SemTau to ANY benchmark vector. Scale shape: the benchmark side is
  // small BY CONSTRUCTION (eval sets are thousands of rows against a 100 TB
  // corpus; the % 20 split is the gate's stand-in), so the exact form is ONE
  // map-side broadcast nested-loop pass over the corpus scan — per-row cost
  // |bench| codegen'd dot products, zero shuffle of the corpus, one tiny
  // per-vector aggregate after the tau filter. A centroid-bound cell prune
  // (skip bench cells whose angular lower bound angle(x,c) - maxAngle_c
  // clears acos(tau)) was MEASURED OUT on this geometry: label cells are
  // ~60 deg wide against the acos(0.4) = 66.4 deg threshold, leaving 88% of
  // pairs candidates — the bound buys nothing while the broadcast pass is
  // already exact and linear in the corpus. The tau comparison uses
  // UNROUNDED cosines (bit-identical doubles in both engines — the knn keys
  // prove pairwise parity); only the reported max is rounded.
  private[operators] val SemTau = 0.4

  /** Prescreen slack in binomial σ units (σ ≤ √d/2 for any bit-flip
    * probability). 4σ: a true match slipping past costs recall, so the
    * bound errs far on the admit side — at the fixture's 64 dims that
    * admits most pairs (the prescreen is a no-op-ish pass-through there),
    * while at production dims (≥512) the same formula concentrates hard:
    * sign-flip mass for a cos ≥ τ pair sits ≈ acos(τ)/π per dim, random
    * pairs at 1/2 per dim, and 4σ slack separates them by construction. */
  private[operators] val PrescreenSigmas = 4.0

  /** Auto-mode crossover for the semantic prescreen (dimension at and
    * above which [[semanticMatches]]'s default arms the sign-sketch
    * screen). Two forces set it, both measured by PrescreenCurve's dim
    * sweep (SURVEY §4): below 256 dims the 4σ admit bound is loose
    * enough that the screen rejects little (measured admit 0.98 at d=64,
    * 0.87 at 128; wall 1.01-1.05× — parity) while still carrying its
    * not-a-theorem drop risk; from 256 the bound concentrates and the
    * XOR/popcount pass pays (admit 0.48/speedup 1.78× at 256 → 0.035/
    * 6.7× at 512 → 0.00005/14.4× at 1024, 50M pairs). Production
    * embedding dims (512-4096) sit far above; gate fixtures (64) below. */
  private[graft] val PrescreenMinDim = 256

  /** Hamming admit bound for a cos ≥ tau pair over d sign bits:
    * acos(tau)/π·d expected flips + PrescreenSigmas·√d/2 slack, capped at
    * d. Package-visible so the recall spec asserts against the SAME
    * number the screen uses — and the arithmetic below is TERM-FOR-TERM
    * the Column expression inside [[semanticMatches]] (same operand
    * order, so identical IEEE rounding; a per-d parity spec pins the two
    * encodings together). */
  private[graft] def prescreenBound(d: Int, tau: Double): Long = {
    val flipFrac = math.acos(tau) / math.Pi
    math.min(d.toLong,
      math.ceil(flipFrac * d + PrescreenSigmas * math.sqrt(d.toDouble) / 2.0).toLong)
  }

  /** The Column form of [[prescreenBound]] over a per-row dimension — the
    * ONE encoding the screen filters with (mixed-dim corpora get each
    * row's own bound). Mirrors the scalar term-for-term; the parity spec
    * evaluates both over a d sweep. */
  private[graft] def prescreenBoundCol(dInt: org.apache.spark.sql.Column,
                                       tau: Double): org.apache.spark.sql.Column = {
    val d = dInt.cast("double")
    least(dInt.cast("long"),
      ceil(lit(math.acos(tau) / math.Pi) * d +
        lit(PrescreenSigmas) * sqrt(d) / 2).cast("long"))
  }

  /** The ONE τ/NaN definition of the semantic match — shared by the batch
    * key, the streaming twin, and CALL system.decontaminate: corpus rows
    * cross the broadcast benchmark vectors (a `vb` column), keep pairs
    * with cosine >= tau, drop NaN. A zero-norm vector has no direction:
    * its cosine is NaN, which both engines order ABOVE every real value
    * (NaN >= tau admits it) — dropped explicitly on both sides so no gate
    * or caller can hinge on NaN ordering/hashing.
    *
    * TWO-PHASE since r17: an eval suite is 10⁴-10⁵ items, so the exact
    * broadcast-BNL pays |corpus|·|bench| d-dim float dot products. Phase 1
    * reuses the knn_hamming sign-sketch machinery — per-pair cost drops to
    * one XOR+popcount pass over d/64 packed words (~32× cheaper than the
    * float dot) and admits every pair within [[prescreenBound]] flips;
    * phase 2 runs the EXACT cosine + τ/NaN rule on survivors only. The
    * bound is probabilistic-conservative (4σ), not a theorem — sign bits
    * carry no magnitudes, so NO hamming threshold is losslessly tight in
    * the adversarial case (a cos ≥ τ pair whose similarity rides a few
    * large-magnitude coordinates can exceed it); the recall spec proves
    * losslessness on the fixture at τ=0.4 and the planted-pair separation
    * at production dims, and `prescreen = Some(false)` keeps the exact
    * single-phase body one flag away (it is also the spec's comparison
    * arm).
    *
    * DIMENSION-GATED since r18 (the default, `prescreen = None`): the
    * probabilistic drop risk is only worth buying where the bound
    * concentrates AND the float math is expensive — both scale with d.
    * Below [[PrescreenMinDim]] (measured crossover, PrescreenCurve dim
    * sweep in SURVEY §4) a row passes the screen UNCONDITIONALLY via a
    * per-row `size(vec) < minDim` short-circuit, so low-dim corpora get
    * the exact semantics with no admit-bound exposure and mixed-dim
    * corpora gate row-by-row. `Some(true)` forces the screen at every
    * dimension (the measurement arm); `Some(false)` forces exact. */
  private[graft] def semanticMatches(corpus: DataFrame, benchVecs: DataFrame,
                                     vecCol: String, tau: Double,
                                     prescreen: Option[Boolean] = None): DataFrame = {
    val exact = (df: DataFrame) => df
      .withColumn("cos", vec_cosine(col(vecCol), col("vb")))
      .filter(col("cos") >= tau && !isnan(col("cos")))
    if (prescreen.contains(false))
      exact(corpus.crossJoin(broadcast(benchVecs)))
    else {
      // sketches computed ONCE per row/bench vector inside the scan /
      // broadcast build, never per pair; internal names __sem_-prefixed so
      // arbitrary procedure id columns can't collide
      val paired = corpus
        .withColumn("__sem_sig", graft.functions.bit_pack_sign(col(vecCol)))
        .crossJoin(broadcast(benchVecs
          .withColumn("__sem_bsig", graft.functions.bit_pack_sign(col("vb")))))
      val bound = prescreenBoundCol(size(col(vecCol)), tau)
      val admit =
        graft.functions.hamming_dist(col("__sem_sig"), col("__sem_bsig")) <= bound
      // auto mode: sub-crossover rows short-circuit past the hamming eval
      // and keep the exact contract; the screen arms only at dims where
      // the 4σ bound is meaningful and the dot product is worth skipping
      val keep =
        if (prescreen.contains(true)) admit
        else (size(col(vecCol)) < lit(PrescreenMinDim)) || admit
      exact(paired.filter(keep)).drop("__sem_sig", "__sem_bsig")
    }
  }

  /** The gate-shaped screen over any corpus slice — the batch key's and
    * the streaming twin's shared body (per-vector output is complete
    * whenever the slice holds whole rows, so micro-batches screen
    * independently). */
  private[graft] def semanticScreen(corpus: DataFrame, bench: DataFrame): DataFrame =
    semanticMatches(corpus.filter(col("vec_id") % 20 =!= 0)
        .select("vec_id", "label", "embedding"),
        bench.select("vb"), "embedding", SemTau)
      .groupBy("vec_id", "label")
      .agg(round(max(col("cos")), 6).as("max_cos"),
        count(lit(1)).as("n_matched"))

  private[graft] def semanticBench(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("bid"), col("embedding").as("vb"))

  private def contaminationSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    semanticScreen(e, semanticBench(e)).orderBy("vec_id")
  }

  // ---- knn_maxsim ----------------------------------------------------------
  // MULTI-VECTOR (late-interaction) retrieval — the MaxSim scoring of
  // ColBERT (Khattab & Zaharia 2020): a document is a SET of token
  // vectors, a query is a set of token vectors, and
  // score(q, d) = Σ_{u ∈ q} max_{v ∈ d} cos(u, v) — each query token
  // matches its best document token, so multi-aspect queries beat any
  // single-vector pooling. Expressed RELATIONALLY (no custom operator
  // needed): explode doc token sets, one broadcast of the query token
  // sets over a codegen'd cosine scan, max per (query, doc, query-token),
  // micro-unit sum per (query, doc), pre-shuffle k-heap rank. Scale
  // shape: the scan is |corpus tokens| × |query tokens| codegen'd dots —
  // the same linear broadcast pass as knn_cosine with a tokens-per-doc
  // factor; the two aggregates are map-side-combinable; at production
  // scale the IVF cell machinery prunes the token store exactly as it
  // prunes single vectors (cells over token vectors). Determinism: max
  // over 6-dp ROUNDED cosines (order-free), Σ as integer micro-units
  // (order-free), doc_id tiebreaks.
  //
  // Token sets derive from the embeddings table by pure id arithmetic —
  // SQL-reproducible, so the key carries a full oracle: doc d's tokens =
  // vectors {d, (d+131) mod N, (d+263) mod N}; query q's tokens =
  // vectors {100q, 100q+1, 100q+2} (the HybridQueryVecs posture).
  private[graft] val MaxSimDocOffsets = Seq(0L, 131L, 263L)
  private[graft] val MaxSimQueries = Seq(1L, 2L, 3L)
  private[graft] val MaxSimK = 5

  /** The gate fixture's doc-token derivation over any (vec_id, embedding)
    * slice: doc d's token set = vectors {d, (d+131) mod n, (d+263) mod n},
    * i.e. each vector serves as a token of 3 docs. Pure per-row arithmetic
    * (explode over the 3 offsets), so it runs unchanged over a batch scan
    * AND inside a streaming projection — the ONE definition the batch key
    * and [[StreamingOps]]'s maintained-token-store twin both use. */
  private[graft] def maxSimDocTokens(e: DataFrame, n: Long): DataFrame =
    e.select(col("vec_id").as("tok_id"), col("embedding"))
      .withColumn("doc_id", explode(array(
        MaxSimDocOffsets.map(off =>
          pmod(col("tok_id") - off + n, lit(n))): _*)))
      .select("doc_id", "embedding")

  /** The broadcast query-token sets: 3 tokens per query, resolved from the
    * embeddings slice (the HybridQueryVecs posture). */
  private[graft] def maxSimQueryVecs(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val qTokens = MaxSimQueries.flatMap(q => (0 until 3).map(j => (q, 100 * q + j)))
      .toDF("query_id", "tok_id")
    e.join(broadcast(qTokens), col("vec_id") === col("tok_id"))
      .select(col("query_id"), col("tok_id").as("q_tok"), col("embedding").as("qv"))
  }

  /** The relational MaxSim tail — ONE definition for the batch key and the
    * streaming twin: broadcast the query tokens over a codegen'd cosine
    * scan of the token store, max per (query, doc, q-token) on 6-dp
    * rounded cosines, integer micro-unit Σ per (query, doc), pre-shuffle
    * k-heap rank with doc_id tiebreaks. */
  private[graft] def maxSimRank(docTokens: DataFrame, qv: DataFrame,
                                k: Int = MaxSimK): DataFrame =
    maxSimTail(docTokens.crossJoin(broadcast(qv))
      .select(col("query_id"), col("q_tok"), col("doc_id"),
        round(vec_cosine(col("embedding"), col("qv")), 6).as("cos")), k)

  /** The max-per-q-token → micro-Σ → k-heap tail over scored
    * (query_id, q_tok, doc_id, cos) pairs — ONE definition whether the
    * pairs came from the broadcast cross-join (exact arms) or the probed
    * slice ([[maxSimRankPruned]]). */
  private[graft] def maxSimTail(scored: DataFrame, k: Int = MaxSimK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .groupBy("query_id", "q_tok", "doc_id")
      .agg(max(col("cos")).as("best"))
      .select(col("query_id"), col("doc_id"),
        round(col("best") * 1e6).cast("long").as("micro"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("micro")).cast("double") / 1e6, 6).as("score"))
      .withColumn("rk", row_number().over(byScore).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "score", "rk")
      .orderBy(col("query_id").asc, col("rk").asc)
  }

  private def knnMaxSim(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    maxSimRank(maxSimDocTokens(e, n), maxSimQueryVecs(s, e))
  }

  /** The knn_maxsim DuckDB twin — shared verbatim by `knn_maxsim_indexed`
    * (full-probe serving over the persisted store is provably the same
    * scored-pair set, so one oracle gates both). */
  private lazy val maxSimOracleSql: String = {
    val qtValues = MaxSimQueries.flatMap(q => (0 until 3).map(j =>
      s"(CAST($q AS BIGINT), ${100 * q + j})")).mkString(", ")
    val offValues = MaxSimDocOffsets.map(o => s"($o)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |n AS (SELECT count(*) AS n FROM e),
       |dt AS (SELECT ((vec_id - o.off) % n.n + n.n) % n.n AS doc_id,
       |    embedding
       |  FROM e, n, (VALUES $offValues) o(off)),
       |qt AS (SELECT q.query_id, q.tok_id AS q_tok, e.embedding AS qv
       |  FROM (VALUES $qtValues) q(query_id, tok_id)
       |  JOIN e ON e.vec_id = q.tok_id),
       |best AS (SELECT query_id, q_tok, dt.doc_id,
       |    max(round(list_cosine_similarity(CAST(dt.embedding AS DOUBLE[]),
       |      CAST(qv AS DOUBLE[])), 6)) AS best
       |  FROM dt CROSS JOIN qt GROUP BY 1, 2, 3),
       |sc AS (SELECT query_id, doc_id,
       |    round(CAST(sum(CAST(round(best * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / 1000000.0, 6) AS score
       |  FROM best GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk FROM sc)
       |SELECT query_id, doc_id, score, rk FROM r WHERE rk <= $MaxSimK
       |ORDER BY query_id ASC, rk ASC""".stripMargin
  }

  /** Session-memoized PERSISTED token store per (session, dir): the
    * cell-clustered lance table + frozen centroids the batch index-served
    * MaxSim key reads — built once, reused across Verify/Bench consumers
    * (the trainedSemIndex posture, shutdown reaper included). */
  private val tokStoreCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, Array[Array[Double]])]()
  private val tokStoreReaper: java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      q.forEach { root =>
        // java.nio-created LOCAL roots — qualify with an explicit file:
        // scheme so a non-local fs.defaultFS cannot redirect the delete
        val p = new org.apache.hadoop.fs.Path("file:" + root).getParent
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        fs.delete(p, true); ()
      }, "graft-tokstore-reaper"))
    q
  }

  private[graft] def persistedTokenStore(
      s: SparkSession, dir: String): (String, Array[Array[Double]]) = {
    { val conf = org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty)
      tokStoreCache.entrySet().removeIf(e =>
        !graft.sources.lance.ManifestIO.pathExists(e.getValue._1, conf)) }
    tokStoreCache.computeIfAbsent(
      (org.apache.spark.sql.graft.Shim.sessionUUID(s), dir), _ => {
        val e = t(s, dir, "embeddings").select("vec_id", "embedding")
        val n = e.count()
        val toks = maxSimDocTokens(e, n)
        val cents = Dedup.trainCentroids(s, toks, "embedding", VectorIndex.Cells)
        val root = java.nio.file.Files
          .createTempDirectory("graft-tokstore-").toString + "/t"
        tokStoreReaper.add(root)
        toks.withColumn("cell", graft.functions.nearest_cell(
            col("embedding"), cents.flatten, cents.length, cents.head.length))
          .write.format("lance")
          .option("write.cluster-by", "cell")
          .save(root)
        (root, cents)
      })
  }

  /** knn_maxsim served from the PERSISTED cell-clustered token store —
    * the batch twin of q_stream_maxsim_pruned, completing the MaxSim side
    * of VERDICT r18 item 2 (index-served candidates): the standing token
    * table lands cell-clustered at write, each query TOKEN reads only its
    * probed cells ([[maxSimRankPruned]]), and the shared tail reproduces
    * the exact ranking. Gate config probes every cell ⇒ row-for-row equal
    * to knn_maxsim (full oracle unchanged); partial probes are the scale
    * path, recall-spec'd with a fragment-prune plan assert
    * (RetrievalPrunedSpec). */
  private def knnMaxSimIndexed(s: SparkSession, dir: String): DataFrame = {
    val (root, cents) = persistedTokenStore(s, dir)
    maxSimRankPruned(s,
      s.read.format("lance").load(root).select("doc_id", "embedding", "cell"),
      maxSimQueryToks(t(s, dir, "embeddings")), cents, nprobes = cents.length)
  }

  /** The (query_id, q_tok, vector) triples of the fixture's query-token
    * sets, resolved with the k-bounded id lookup — the driver-side form
    * the probed-slice servers take (one definition for the batch indexed
    * key and the streaming pruned twin). */
  private[graft] def maxSimQueryToks(e: DataFrame): Seq[(Long, Long, Array[Float])] = {
    val ids = MaxSimQueries.flatMap(q => (0 until 3).map(j => 100 * q + j))
    val vecs = resolveVecs(e, ids)
    MaxSimQueries.flatMap(q =>
      (0 until 3).map(j => (q, 100 * q + j, vecs(100 * q + j))))
  }

  // ---- knn_mmr ---------------------------------------------------------
  // DIVERSIFIED retrieval — Maximal Marginal Relevance (Carbonell &
  // Goldstein 1998), the standard post-retrieval diversifier vector
  // stores ship: plain top-k returns near-duplicate neighbors; MMR
  // greedily re-ranks a candidate pool so each pick maximizes relevance
  // MINUS redundancy against what is already picked (λ = 0.5; scores
  // reported in the order-equivalent integer form qsim − max-selected-sim,
  // micro-units). Spark shape: candidates per query via the knn k-heap
  // (broadcast query vecs over one codegen'd cosine scan, WindowGroupLimit
  // top-N), the N×N candidate-pair cosines RELATIONALLY (a rank-keyed
  // self-join — never |corpus|²), then ONE expression per query runs the
  // O(k·N) greedy ([[graft.functions.MmrSelect]]) on pre-rounded integer
  // micro-sims. Queries are the unit of parallelism; per-query state is
  // N² longs (8 MB at N = 1000 — the candidate budget is the deployment
  // knob). Every similarity crosses engines pre-rounded (the knn gate's
  // proven 6-dp contract), so the greedy is deterministic and the DuckDB
  // twin (recursive CTE + LATERAL argmax over the same integers) matches
  // hash-for-hash.
  private[graft] val MmrN = 40
  private[graft] val MmrK = 10
  private[graft] val MmrQueries = Seq((1L, 100L), (2L, 200L), (3L, 300L))

  /** The candidate stage alone (pre-materialization), so its plan shape —
    * broadcast query vecs over one codegen'd cosine scan, top-N as a
    * pre-shuffle k-heap — is assertable by the spec. The operator
    * materializes the (N × |queries|)-bounded result before fanning it
    * into the pair self-join. */
  /** The candidate stage over ANY (vec_id, embedding) store — one scan
    * whether the store is the fixture table (batch key) or the streamed
    * standing table (q_stream_mmr). Query vectors resolve from the same
    * store and broadcast. */
  private[graft] def mmrCandidatesFrom(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = e0.select("vec_id", "embedding")
    val qv = e.join(broadcast(MmrQueries.toDF("query_id", "qvid")),
        col("vec_id") === col("qvid"))
      .select(col("query_id"), col("embedding").as("qv"))
    val excl = MmrQueries.map(_._2)
    val byQ = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("doc_id").asc)
    e.filter(!col("vec_id").isin(excl: _*))
      .crossJoin(broadcast(qv))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(round(vec_cosine(col("embedding"), col("qv")), 6) * 1e6)
          .cast("long").as("qsim"),
        col("embedding"))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= MmrN)
  }

  /** The candidate stage alone (pre-materialization), so its plan shape —
    * broadcast query vecs over one codegen'd cosine scan, top-N as a
    * pre-shuffle k-heap — is assertable by the spec. The operator
    * materializes the (N × |queries|)-bounded result before fanning it
    * into the pair self-join. */
  private[graft] def mmrCandidates(s: SparkSession, dir: String): DataFrame =
    mmrCandidatesFrom(s, t(s, dir, "embeddings"))

  /** The pair-sims + greedy tail over MATERIALIZED candidates — shared
    * verbatim by the batch key and the streaming serving twin. */
  private[graft] def mmrServe(cand: DataFrame, k: Int = MmrK): DataFrame = {
    val a = cand.select(col("query_id"), col("rnk").as("ai"),
      col("embedding").as("av"))
    val b = cand.select(col("query_id"), col("rnk").as("bi"),
      col("embedding").as("bv"))
    val pairs = a.join(b, Seq("query_id")).filter(col("ai") =!= col("bi"))
      .select(col("query_id"), col("ai"), col("bi"),
        round(round(vec_cosine(col("av"), col("bv")), 6) * 1e6)
          .cast("long").as("psim"))
    val g = cand.groupBy("query_id").agg(
      sort_array(collect_list(struct(col("rnk"), col("doc_id"), col("qsim"))))
        .as("cands"))
    val pg = pairs.groupBy("query_id").agg(
      sort_array(collect_list(struct(col("ai"), col("bi"), col("psim"))))
        .as("pairs"))
    // LEFT join: a single-candidate query has no pairs — it must still
    // select its one doc, not silently vanish from the answer
    g.join(pg, Seq("query_id"), "left")
      .withColumn("pairs", coalesce(col("pairs"),
        array().cast("array<struct<ai:int,bi:int,psim:bigint>>")))
      .select(col("query_id"),
        explode(graft.functions.mmr_select(col("cands"), col("pairs"), k))
          .as("s"))
      .select(col("query_id"), col("s.doc_id").as("doc_id"),
        col("s.rk").as("rk"),
        round(col("s.qsim").cast("double") / 1e6, 6).as("cos"),
        col("s.mmr").as("mmr_micro"))
      .orderBy("query_id", "rk")
  }

  private def knnMmr(s: SparkSession, dir: String): DataFrame =
    // consumed 3× in the tail (pair self-join + collect): materialize the
    // N × |queries| candidate rows instead of re-scanning the corpus
    mmrServe(mmrCandidates(s, dir).localCheckpoint())

  // ---- probe-pruned serving (the production config of the retrieval
  // family) ----------------------------------------------------------------
  // A serving workload is a HANDFUL of queries against a huge clustered
  // store. The brute-force arms above scan the store once per workload —
  // exact, and the right gate config — but at 100 TB the plan you want
  // reads ONLY the fragments holding the queries' probed IVF cells. With
  // the query set k-bounded, probe selection runs on the DRIVER (exact
  // argmin over the trained centroids — the IndexBuild.search posture) and
  // the probe union pushes into the scan as one STATIC `cell IN (...)`
  // filter, the form the manifest's fragment stats actually prune on; a
  // broadcast (query, cell) join then narrows each query to ITS OWN
  // probes. A million-query batch would instead keep per-row probe
  // selection inside codegen (the knnJoin NearestCells shape — join-side
  // reduction without static pruning); serving workloads take this path.
  // At nprobes == cells the slice is the whole store and every pruned arm
  // equals its brute-force twin row-for-row (the full-oracle gate config);
  // partial probes trade recall for fragments read, measured in spec.

  /** The k-bounded query-vector lookup (pushed-down `vec_id IN`, |ids|
    * rows collected — never a corpus materialization). */
  private[graft] def resolveVecs(e: DataFrame, ids: Seq[Long],
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): Map[Long, Array[Float]] =
    e.filter(col(idCol).isin(ids: _*)).select(col(idCol), col(vecCol))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  /** The probed slice of a CELL-CLUSTERED store for a k-bounded query
    * workload: rows of each query's `nprobes` nearest cells, tagged
    * `__pq` (the query's id) and `__qv` (its vector). One fragment-pruned
    * scan + two broadcast joins; output rows ≤ |store ∩ probed cells| ×
    * (probes sharing a cell). */
  private[graft] def probedSlice(s: SparkSession, store: DataFrame,
                                 queries: Seq[(Long, Array[Float])],
                                 cents: Array[Array[Double]],
                                 nprobes: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val cvecs = cents.map(Vectors.dense)
    val p = math.max(1, math.min(nprobes, cents.length))
    val probes = queries.flatMap { case (qid, v) =>
      VectorIndex.selectProbesExact(cvecs, v.map(_.toDouble), p).map(c => (qid, c))
    }
    val union = probes.map(_._2).distinct.sorted
    val qvDf = queries.toDF("__pq", "__qv")
    store.filter(col("cell").isin(union: _*))
      .join(broadcast(probes.toDF("__pq", "cell")), "cell")
      .join(broadcast(qvDf), "__pq")
  }

  /** [[mmrCandidatesFrom]]'s probe-pruned twin over a cell-clustered
    * store: identical qsim/rank math on the probed slice. nprobes ==
    * |cells| ⇒ row-for-row equal to the brute-force candidate stage. */
  private[graft] def mmrCandidatesPruned(s: SparkSession, store: DataFrame,
                                         cents: Array[Array[Double]],
                                         nprobes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = resolveVecs(store, MmrQueries.map(_._2))
    val queries = MmrQueries.map { case (q, vid) => (q, qv(vid)) }
    val excl = MmrQueries.map(_._2)
    val byQ = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("doc_id").asc)
    probedSlice(s, store.select("vec_id", "embedding", "cell"), queries, cents, nprobes)
      .filter(!col("vec_id").isin(excl: _*))
      .select(col("__pq").as("query_id"), col("vec_id").as("doc_id"),
        round(round(vec_cosine(col("embedding"), col("__qv")), 6) * 1e6)
          .cast("long").as("qsim"),
        col("embedding"))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= MmrN)
  }

  /** The MMR candidate stage for an ARBITRARY k-bounded query-vector
    * workload — the `CALL system.knn(mode => 'mmr')` router. Same
    * qsim/rank math as the gated keys' stages: probe-pruned over a
    * cell-clustered store when `probed` carries (centroids, nprobes)
    * ([[probedSlice]] — one fragment-pruned scan + broadcast joins), the
    * broadcast-queries codegen'd cosine scan + pre-shuffle k-heap
    * otherwise. `store` arrives pre-filtered (the procedure applies its
    * `filter` predicate against the user's column names before the
    * rename) with columns (vec_id, embedding[, cell]). */
  private[graft] def mmrCandidatesForVecs(
      s: SparkSession, store: DataFrame,
      queries: Seq[(Long, Array[Float])],
      probed: Option[(Array[Array[Double]], Int)],
      n: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("doc_id").asc)
    val base = probed match {
      case Some((cents, np)) =>
        probedSlice(s, store.select("vec_id", "embedding", "cell"),
          queries, cents, np)
      case None =>
        store.select("vec_id", "embedding")
          .crossJoin(broadcast(queries.toDF("__pq", "__qv")))
    }
    base
      .select(col("__pq").as("query_id"), col("vec_id").as("doc_id"),
        round(round(vec_cosine(col("embedding"), col("__qv")), 6) * 1e6)
          .cast("long").as("qsim"),
        col("embedding"))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= n)
  }

  /** knn_mmr served from the PERSISTED index (VERDICT r18 item 2): the
    * candidate shortlist comes from the cell-clustered index table — the
    * knn_join_pq routing — instead of a brute-force corpus scan, then the
    * pair-sims + greedy tail runs verbatim. Gate config probes every
    * cell (== knn_mmr row-for-row, full oracle); partial probes are the
    * scale path, recall-spec'd with a fragment-pruned plan assert. */
  private def knnMmrIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = Dedup.trainedSemIndex(s, dir)
    val store = s.read.format("lance")
      .options(IndexBuild.pinnedOptions(s, idx)).load(idx.root)
      .select("vec_id", "embedding", "cell")
    mmrServe(mmrCandidatesPruned(s, store, idx.centroids.map(_.toArray),
      idx.centroids.length).localCheckpoint())
  }

  /** [[maxSimRank]]'s probe-pruned twin: the query TOKEN is the probe
    * unit; each q-token reads only its probed cells of the token store.
    * nprobes == |cells| ⇒ the scored pairs equal the broadcast
    * cross-join's exactly, so the shared tail reproduces the exact
    * ranking. */
  private[graft] def maxSimRankPruned(s: SparkSession, tokenStore: DataFrame,
                                      qtoks: Seq[(Long, Long, Array[Float])],
                                      cents: Array[Array[Double]],
                                      nprobes: Int,
                                      k: Int = MaxSimK): DataFrame = {
    import s.implicits._
    val queries = qtoks.map { case (_, tok, v) => (tok, v) }
    val qmap = qtoks.map { case (q, tok, _) => (q, tok) }.toDF("query_id", "q_tok")
    maxSimTail(
      probedSlice(s, tokenStore.select("doc_id", "embedding", "cell"),
          queries, cents, nprobes)
        .select(col("__pq").as("q_tok"), col("doc_id"),
          round(vec_cosine(col("embedding"), col("__qv")), 6).as("cos"))
        .join(broadcast(qmap), "q_tok")
        .select("query_id", "q_tok", "doc_id", "cos"), k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_maxsim" -> knnMaxSim,
    "knn_maxsim_indexed" -> knnMaxSimIndexed,
    "knn_mmr" -> knnMmr,
    "knn_mmr_indexed" -> knnMmrIndexed,
    "contamination_semantic" -> contaminationSemantic,
    "knn_negatives" -> knnNegatives,
    "knn_join" -> knnJoinQuery,
    "knn_join_hamming" -> knnJoinHammingQuery,
    "knn_join_pq" -> knnJoinPqQuery,
    "emb_quantize" -> embQuantize,
    "emb_project" -> embProject,
    "emb_binarize" -> embBinarize,
    "knn_hamming" -> knnHamming,
    "knn_hamming_rerank" -> knnHammingRerank,
    "knn_cosine_f64" -> ((s, dir) => knn64(s, dir)),
    "knn_cosine" -> ((s, dir) =>
      knn(s, dir, vec_cosine(col("embedding"), col("qv")), asc = false)),
    "knn_l2" -> ((s, dir) =>
      knn(s, dir, vec_l2(col("embedding"), col("qv")), asc = true)),
    "knn_dot" -> ((s, dir) =>
      knn(s, dir, vec_dot(col("embedding"), col("qv")), asc = false)),
    "knn_filtered" -> ((s, dir) =>
      knn(s, dir, vec_cosine(col("embedding"), col("qv")), asc = false,
        pred = Some(col("label") === 3))),
    "vector_similarity" -> ((s, dir) =>
      knn(s, dir, distance_to_similarity(vec_l2(col("embedding"), col("qv"))),
        asc = false)))

  /** DuckDB oracles: identical math, lists cast to DOUBLE[] so both engines
    * accumulate in double precision before the shared 6dp rounding. */
  private def oracle(scoreSql: String, order: String, filter: String = ""): String =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT * FROM (
       |  SELECT e.vec_id, e.label, round($scoreSql, 6) AS score
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> $QueryVecId $filter)
       |ORDER BY score $order, vec_id ASC LIMIT $K""".stripMargin

  private val ev = "CAST(e.embedding AS DOUBLE[])"

  /** knn_join-family oracle: exact KNN for every query row (DuckDB cross
    * join + window top-k) — shared by the vector gate, the ADC-scored gate
    * (full probes + generous refine ⇒ both exact) and the SQL CALL gate. */
  private[operators] def knnJoinOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |r AS (SELECT q.q_id, c.n_id,
       |    round(list_distance(c.cv, q.qv), 6) AS dist,
       |    CAST(row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY round(list_distance(c.cv, q.qv), 6) ASC, c.n_id ASC) AS BIGINT) AS rk
       |  FROM q CROSS JOIN c WHERE c.n_id <> q.q_id)
       |SELECT q_id, n_id, dist, rk FROM r WHERE rk <= $k
       |ORDER BY q_id ASC, rk ASC""".stripMargin

  /** The greedy MMR re-derived independently in SQL: same integer
    * micro-sims, recursive CTE carrying the selected set, LATERAL argmax
    * per step with the same (mmr DESC, doc_id ASC) tiebreak. */
  private lazy val mmrOracleSql: String = {
    val qVals = MmrQueries.map { case (q, v) =>
      s"(CAST($q AS BIGINT), CAST($v AS BIGINT))" }.mkString(", ")
    s"""WITH RECURSIVE q(query_id, qvid) AS (VALUES $qVals),
       |qv AS (SELECT query_id, CAST(e.embedding AS DOUBLE[]) AS v
       |  FROM q JOIN embeddings e ON e.vec_id = qvid),
       |scored AS (SELECT query_id, e.vec_id AS doc_id,
       |    CAST(round(round(list_cosine_similarity(
       |      CAST(e.embedding AS DOUBLE[]), qv.v), 6) * 1000000.0) AS BIGINT)
       |      AS qsim
       |  FROM embeddings e CROSS JOIN qv
       |  WHERE e.vec_id NOT IN (SELECT qvid FROM q)),
       |cand AS (SELECT query_id, doc_id, qsim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY qsim DESC, doc_id ASC) AS rnk
       |    FROM scored) WHERE rnk <= $MmrN),
       |cv AS (SELECT c.query_id, c.doc_id, c.qsim,
       |    CAST(e.embedding AS DOUBLE[]) AS v
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id),
       |p AS (SELECT a.query_id, a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(round(round(list_cosine_similarity(a.v, b.v), 6)
       |      * 1000000.0) AS BIGINT) AS psim
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.doc_id != b.doc_id),
       |sel(query_id, step, sel_ids, doc_id, qsim, mmr) AS (
       |  (SELECT query_id, CAST(1 AS BIGINT), [doc_id], doc_id, qsim, qsim
       |   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |       ORDER BY qsim DESC, doc_id ASC) AS rn FROM cand)
       |   WHERE rn = 1)
       |  UNION ALL
       |  (SELECT s.query_id, s.step + 1, list_append(s.sel_ids, pick.doc_id),
       |          pick.doc_id, pick.qsim, pick.mmr
       |   FROM sel s, LATERAL (
       |     SELECT c.doc_id, c.qsim,
       |        c.qsim - (SELECT max(p.psim) FROM p
       |                  WHERE p.query_id = s.query_id AND p.a_id = c.doc_id
       |                    AND list_contains(s.sel_ids, p.b_id)) AS mmr
       |     FROM cand c
       |     WHERE c.query_id = s.query_id
       |       AND NOT list_contains(s.sel_ids, c.doc_id)
       |     ORDER BY mmr DESC, c.doc_id ASC LIMIT 1) pick
       |   WHERE s.step < $MmrK))
       |SELECT query_id, doc_id, step AS rk,
       |  round(qsim / 1000000.0, 6) AS cos, mmr AS mmr_micro
       |FROM sel ORDER BY query_id, rk""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // the MaxSim pipeline re-derived relationally: same offset-arithmetic
    // token sets, max over 6-dp rounded cosines, integer micro-unit sums.
    // The indexed key serves through the probed slice at FULL probes —
    // provably the same scored pairs — so one oracle gates both.
    "knn_maxsim" -> maxSimOracleSql,
    "knn_maxsim_indexed" -> maxSimOracleSql,
    // contamination_semantic: identical pairwise cosine math (lists cast to
    // DOUBLE[]); the tau filter runs on the unrounded value in both engines
    "contamination_semantic" ->
      s"""WITH b AS (SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS vb
         |           FROM embeddings WHERE vec_id % 20 = 0),
         |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vc
         |      FROM embeddings WHERE vec_id % 20 <> 0),
         |p AS (SELECT c.vec_id, c.label,
         |    list_cosine_similarity(vc, vb) AS cos
         |  FROM c CROSS JOIN b)
         |SELECT vec_id, label, round(max(cos), 6) AS max_cos,
         |  count(*) AS n_matched
         |FROM p WHERE cos >= $SemTau AND NOT isnan(cos)
         |GROUP BY vec_id, label ORDER BY vec_id""".stripMargin,
    "knn_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
         |             label AS q_label
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS n_id, label AS n_label,
         |    CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |r AS (SELECT q.q_id, c.n_id, c.n_label,
         |    round(list_distance(c.cv, q.qv), 6) AS dist,
         |    CAST(row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_distance(c.cv, q.qv), 6) ASC, c.n_id ASC) AS BIGINT) AS rk
         |  FROM q CROSS JOIN c WHERE c.n_label <> q.q_label)
         |SELECT q_id, n_id, n_label, dist, rk FROM r WHERE rk <= $NegK
         |ORDER BY q_id ASC, rk ASC""".stripMargin,
    "knn_join_pq" -> knnJoinOracle(5),
    "knn_join" ->
      s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |r AS (SELECT q.q_id, c.n_id,
         |    round(list_distance(c.cv, q.qv), 6) AS dist,
         |    CAST(row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_distance(c.cv, q.qv), 6) ASC, c.n_id ASC) AS BIGINT) AS rk
         |  FROM q CROSS JOIN c WHERE c.n_id <> q.q_id)
         |SELECT q_id, n_id, dist, rk FROM r WHERE rk <= 5
         |ORDER BY q_id ASC, rk ASC""".stripMargin,
    // emb_project: the same ±1 matrix and the same left-fold addition
    // chain, 1-based list indexing on the DuckDB side
    "emb_project" -> {
      val selects = (0 until ProjK).map { j =>
        val terms = (0 until ProjD).map { i =>
          s"(CAST(embedding[${i + 1}] AS DOUBLE) * ${projSigns(j)(i)}.0)"
        }
        s"""SELECT vec_id, CAST($j AS BIGINT) AS dim,
           |  round((${terms.mkString(" + ")}) / 4.0, 6) AS value
           |FROM embeddings""".stripMargin
      }
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY vec_id, dim")
    },
    "emb_quantize" ->
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |m AS (SELECT vec_id, e,
         |  list_max(list_transform(e, x -> abs(x))) AS m FROM d),
         |q AS (SELECT vec_id, CASE WHEN m > 0
         |  THEN list_transform(e, x -> CAST(floor(x / m * 127.0) AS BIGINT))
         |  ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS q FROM m)
         |SELECT vec_id, CAST(list_sum(q) AS BIGINT) AS q_sum,
         |  list_min(q) AS q_min, list_max(q) AS q_max
         |FROM q ORDER BY vec_id""".stripMargin,
    "knn_cosine_f64" ->
      s"""WITH q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]), x -> x / 3.0) AS qv
         |           FROM embeddings WHERE vec_id = $QueryVecId)
         |SELECT * FROM (
         |  SELECT e.vec_id, e.label,
         |    round(list_cosine_similarity(
         |      list_transform(CAST(e.embedding AS DOUBLE[]), x -> x / 3.0), q.qv), 6) AS score
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> $QueryVecId)
         |ORDER BY score DESC, vec_id ASC LIMIT $K""".stripMargin,
    "emb_binarize" ->
      """WITH d AS (SELECT vec_id,
        |  list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(CASE WHEN x > 0.0 THEN 1 ELSE 0 END AS BIGINT)) AS bits
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bits[1:32]),
        |    (acc, b) -> acc * 2 + b) AS BIGINT) AS word_hi,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bits[33:64]),
        |    (acc, b) -> acc * 2 + b) AS BIGINT) AS word_lo,
        |  CAST(list_sum(bits) AS BIGINT) AS popcnt
        |FROM d ORDER BY vec_id""".stripMargin,
    "knn_hamming" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
         |SELECT * FROM (
         |  SELECT e.vec_id, e.label,
         |    CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
         |      p -> CASE WHEN (CAST(p[1] AS DOUBLE) > 0.0) <> (CAST(p[2] AS DOUBLE) > 0.0)
         |           THEN 1 ELSE 0 END)) AS BIGINT) AS score
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> $QueryVecId)
         |ORDER BY score ASC, vec_id ASC LIMIT $K""".stripMargin,
    // the greedy MMR re-derived independently: same integer micro-sims,
    // recursive CTE carrying the selected set, LATERAL argmax per step
    // with the same (mmr DESC, doc_id ASC) tiebreak. The indexed key
    // serves through the probed-slice machinery at FULL probes, which is
    // provably the same candidate set — one oracle for both.
    "knn_mmr" -> mmrOracleSql,
    "knn_mmr_indexed" -> mmrOracleSql,
    "knn_cosine" -> oracle(s"list_cosine_similarity($ev, q.qv)", "DESC"),
    "knn_l2" -> oracle(s"list_distance($ev, q.qv)", "ASC"),
    "knn_dot" -> oracle(s"list_inner_product($ev, q.qv)", "DESC"),
    "knn_filtered" -> oracle(s"list_cosine_similarity($ev, q.qv)", "DESC",
      "AND e.label = 3"),
    "vector_similarity" -> oracle(s"1.0/(1.0 + list_distance($ev, q.qv))", "DESC"))
}
