package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Shim.{column => Column, expression}

/** Column-API facade over graft's native Catalyst expressions, mirroring the
  * reference's function surface (vector metrics: LanceVectorSearch.java;
  * text primitives are the LLM-pipeline additions).
  */
package object functions {

  /** Dot product of two float/double array columns (double result). */
  def vec_dot(a: Column, b: Column): Column =
    Column(VectorDistance(expression(a), expression(b), "dot"))

  /** Euclidean (L2) distance. */
  def vec_l2(a: Column, b: Column): Column =
    Column(VectorDistance(expression(a), expression(b), "l2"))

  /** Cosine similarity. */
  def vec_cosine(a: Column, b: Column): Column =
    Column(VectorDistance(expression(a), expression(b), "cosine"))

  /** The ranking score of `metric` between `a` and `b`, and whether it
    * ranks ascending: l2 is a distance (ascending), cosine and dot are
    * similarities (descending). Another metric fails naming `caller`. */
  def vec_score(metric: String, a: Column, b: Column, caller: String): (Column, Boolean) =
    metric match {
      case "l2" | "cosine" | "dot" =>
        (Column(VectorDistance(expression(a), expression(b), metric)), metric == "l2")
      case other => throw new IllegalArgumentException(
        s"$caller: unknown metric $other (expected l2 / cosine / dot)")
    }

  /** distance → similarity, as the reference defines it
    * (LanceVectorSearch.SearchResult.getSimilarity: 1/(1+d), 1.0 at d=0). */
  def distance_to_similarity(d: Column): Column = {
    import org.apache.spark.sql.functions._
    when(d === 0.0, 1.0).otherwise(lit(1.0) / (lit(1.0) + d))
  }

  /** PQ-encode a vector column against flattened [m][code][dim] codebooks. */
  def pq_encode(v: Column, codebooks: Array[Double], m: Int, codes: Int, subDim: Int): Column =
    Column(PqEncode(expression(v), codebooks, m, codes, subDim))

  /** ADC distance of a PQ code column against a per-query flattened LUT. */
  def pq_adc(codesCol: Column, lut: Array[Double], m: Int, codes: Int): Column =
    Column(PqAdc(expression(codesCol), lut, m, codes))

  /** ADC distance of a PQ code column against a RAW query-vector column
    * (per-pair reconstruction from the shipped codebooks — the batch KNN
    * join's scorer, where a per-query LUT cannot be a plan constant). */
  def pq_adc_pair(codesCol: Column, queryVec: Column, codebooks: Array[Double],
                  m: Int, codes: Int, subDim: Int): Column =
    Column(PqAdcPair(expression(codesCol), expression(queryVec), codebooks, m, codes, subDim))

  /** SQ8-encode a vector column: one byte per dimension via per-dimension
    * affine [min, max] → [0, 255] quantization (4× storage cut). */
  def sq_encode(v: Column, mins: Array[Double], scales: Array[Double]): Column =
    Column(SqEncode(expression(v), mins, scales))

  /** ADC L2² of an SQ8 code column against a query, with qm_d = q_d − min_d
    * precomputed driver-side. */
  def sq_adc(codesCol: Column, qm: Array[Double], scales: Array[Double]): Column =
    Column(SqAdc(expression(codesCol), qm, scales))

  /** Nearest-centroid cell id of a vector column against a flattened
    * [cell][dim] centroid matrix (codegen'd; the index-append hot path). */
  def nearest_cell(v: Column, centroids: Array[Double], cells: Int, dim: Int): Column =
    Column(NearestCell(expression(v), centroids, cells, dim))

  /** The p nearest cell ids, ascending by distance (codegen'd; per-row
    * probe selection for the batch KNN join). */
  def nearest_cells(v: Column, centroids: Array[Double], cells: Int, dim: Int,
                    p: Int): Column =
    Column(NearestCells(expression(v), centroids, cells, dim, p))

  /** Pack a float/double vector's sign bits into array<long> words (the
    * 1-bit/32× storage form — see [[BitPackSign]]). */
  def bit_pack_sign(v: Column): Column = Column(BitPackSign(expression(v)))

  /** Hamming distance between two packed-bit array<long> columns. */
  def hamming_dist(a: Column, b: Column): Column =
    Column(HammingDistance(expression(a), expression(b)))

  /** Rabin-Karp rolling-hash fingerprint of a string column. */
  def fingerprint(s: Column): Column = Column(RollingFingerprint(expression(s)))

  /** Row-local per-document term frequencies: array<string> →
    * array<struct<term, tf>> (first-occurrence order) — replaces the
    * (doc_id, term) TF exchange. */
  def term_counts(w: Column): Column = Column(TermCounts(expression(w)))

  /** 64-bit SimHash of an array<string> token column. */
  def simhash(tokens: Column, seed: Long = 42L): Column =
    Column(SimHash64(expression(tokens), seed))

  /** MinHash signature (array<long> of length numHashes) of a shingle set. */
  def minhash(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    Column(MinHashSignature(expression(shingles), numHashes, seed))

  /** One-permutation MinHash signature (array<long> of numSlots slot
    * minima, optimal-densified) — one hash per element instead of
    * numSlots (see [[OnePermMinHash]]). */
  def one_perm_minhash(shingles: Column, numSlots: Int, seed: Long = 42L): Column =
    Column(OnePermMinHash(expression(shingles), numSlots, seed))

  /** Fused char-n-gram OPH signature of a raw string — equals
    * `one_perm_minhash(ngram_hashes(text, n), numSlots)` with zero
    * intermediate array/sort work. */
  def ngram_oph(text: Column, n: Int, numSlots: Int, seed: Long = 42L): Column =
    Column(OnePermMinHash(expression(text), numSlots, seed, gramLen = n))

  /** Integer Efraimidis–Spirakis priority key: max of `w` MINSTD draws
    * seeded by id — a native loop, no per-row w-element array (see
    * [[MaxMinstdDraws]]; bit-identical to Sampling.weightedKeySql). */
  def max_minstd_draws(id: Column, w: Column): Column =
    Column(MaxMinstdDraws(expression(id), expression(w)))

  /** Bounded (id, flag, n_chars, grams) struct-collect for block-local
    * dedup verification; NULL on groups exceeding `cap` members or
    * `gramBudget` total gram slots — the latter bounds aggregation state
    * in BYTES, not rows (see [[CappedBlockList]]). */
  def capped_block_list(id: Column, flag: Column, nChars: Column, grams: Column,
                        cap: Int,
                        gramBudget: Long = CappedBlockList.DefaultGramBudget): Column =
    Column(CappedBlockList(expression(id), expression(flag), expression(nChars),
      expression(grams), cap, gramBudget).toAggregateExpression())

  /** Verified (a_id, b_id, jaccard) pairs of a capped block — exact
    * merge-walk Jaccard, no join (see [[VerifiedBlockPairs]]). */
  def verified_block_pairs(items: Column, lenBand: Long, tau: Double): Column =
    Column(VerifiedBlockPairs(expression(items), lenBand, tau))

  /** LSH band-key rows (band_idx, band_key) with neighbor-bucket blocking
    * folded in — a native generator (see [[LshBandKeys]]). */
  def lsh_band_keys(sig: Column, lang: Column, bkt: Column,
                    bands: Int, rowsPerBand: Int): Column =
    Column(LshBandKeys(expression(sig), expression(lang), expression(bkt), bands, rowsPerBand))

  /** Unblocked LSH band-key rows (see [[LshBands]]). */
  def lsh_bands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    Column(LshBands(expression(sig), bands, rowsPerBand))

  /** All unordered (a_id, b_id) pairs of a sorted id list — a native lazy
    * generator (see [[SortedListPairs]]). */
  def sorted_list_pairs(ids: Column): Column = Column(SortedListPairs(expression(ids)))

  /** Pairs over a bucket's sorted `all` list where at least one side is
    * in the sorted `batch` list — the streaming candidate generator. */
  def batch_list_pairs(all: Column, batch: Column): Column =
    Column(BatchListPairs(expression(all), expression(batch)))

  /** Jaccard of two sorted-distinct array<long> columns (merge walk). */
  def sorted_jaccard(a: Column, b: Column): Column =
    Column(SortedJaccard(expression(a), expression(b)))

  /** Sorted-distinct hashed char-n-gram set of a string (single pass). */
  def ngram_hashes(s: Column, n: Int, seed: Long = 42L): Column =
    Column(NgramHashes(expression(s), n, seed))

  /** Sorted-distinct hashed word-k-shingle set of a string (single pass). */
  def shingle_hashes(s: Column, k: Int, seed: Long = 42L): Column =
    Column(ShingleHashes(expression(s), k, seed))

  /** Bounded sorted collect (aggregate): up to `cap` longs per group,
    * NULL for groups that overflow — the LSH mega-bucket skew guard. */
  def capped_sorted_list(v: Column, cap: Int): Column =
    Column(CappedSortedList(expression(v), cap).toAggregateExpression())

  /** HyperLogLog sketch aggregate (binary registers; ~2.3% std error). */
  def hll_sketch(v: Column): Column =
    Column(HllSketchAgg(expression(v)).toAggregateExpression())

  /** Merge aggregate over sketch register arrays. */
  def hll_merge(v: Column): Column =
    Column(HllMergeAgg(expression(v)).toAggregateExpression())

  /** Cardinality estimate of a sketch. */
  def hll_estimate(v: Column): Column = Column(HllEstimate(expression(v)))

  /** Mergeable Misra-Gries top-k heavy hitters over bigint items: bounded
    * state per group, per-group error bound surfaced in the result. */
  def heavy_hitters(item: Column, k: Int, capacity: Int): Column =
    Column(HeavyHitters(expression(item), k, capacity).toAggregateExpression())

  /** Score a document against a frozen bigram LM table: one map pass,
    * [n_bigrams, p_nano_sum]. */
  def lm_doc_score(text: Column, grams: Array[String], pNanos: Array[Long]): Column =
    Column(LmDocScore(expression(text), grams.toIndexedSeq, pNanos.toIndexedSeq))

  /** All adjacent code-point bigrams in one O(n) pass. */
  def char_bigrams(text: Column): Column = Column(CharBigrams(expression(text)))

  /** Greedy MMR selection over one query's rank-sorted candidate structs +
    * rank-keyed pair-sim structs; pure integer micro-unit arithmetic. */
  def mmr_select(cands: Column, pairs: Column, k: Int): Column =
    Column(MmrSelect(expression(cands), expression(pairs), k))

  /** DSIR hashed-gram featurization: one bucket per word uni/bigram
    * occurrence, one pass. */
  def dsir_gram_buckets(text: Column): Column =
    Column(DsirGramBuckets(expression(text)))

  /** DSIR importance scoring against frozen per-bucket log-ratio weights
    * (integer micro-nats): one map pass, [n_grams, micro_sum]. */
  def dsir_doc_score(text: Column, lambdaMicro: Array[Long]): Column =
    Column(DsirDocScore(expression(text), lambdaMicro.toIndexedSeq))

  /** Deterministic standard-Gumbel draw keyed by a bigint id, in integer
    * micro-units (double-MINSTD uniform + StrictMath quantile). */
  def gumbel_micro(id: Column): Column = Column(GumbelMicro(expression(id)))

  /** BPE token stats against a LEARNED merge table (flattened rank-order
    * (left, right) pairs — BpeTrainer output). */
  def bpe_stats_with(text: Column, pairs: Array[Int]): Column =
    Column(BpeStatsWith(expression(text), pairs.toIndexedSeq))

  /** Cavnar-Trenkle n-gram-profile language ID:
    * [dist_en, dist_es, dist_de, dist_fr, langIdx]. */
  def langid_ngram(text: Column): Column = Column(LangIdNgram(expression(text)))

  /** Raw-deflate compressed byte length of a string/binary column (the
    * compression-ratio quality-signal primitive — see [[DeflateLen]]). */
  def deflate_len(s: Column): Column = Column(DeflateLen(expression(s)))

  /** Fixed-vocab byte-level BPE stats of a string column:
    * array<bigint> [token_count, id_poly_hash] (see [[Bpe]]). */
  def bpe_stats(s: Column): Column = Column(BpeStats(expression(s)))

  /** Per-BPE-token-window chunk stats of a string column:
    * array<array<bigint>> of [n_tokens, n_bytes, id_poly_hash] per
    * window of `chunkTokens` tokens advancing by `stride` (see
    * [[BpeChunks]]). */
  def bpe_chunks(s: Column, chunkTokens: Int, stride: Int): Column =
    Column(BpeChunks(expression(s), chunkTokens, stride))

  /** Micro-batch id `bid` as a bigint column whose generated code does not
    * inline the value (see [[BatchId]]): the one way a streaming body
    * stamps its batch id. */
  private[graft] def batch_id(bid: Long): Column = Column(BatchId(bid))

  /** (name, builder) for every SQL-exposed graft function — shared by
    * session-level [[registerAll]] and the [[graft.GraftExtensions]]
    * spark.sql.extensions entry point. */
  private[graft] val sqlFunctions: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    def longLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
      e.eval(null).asInstanceOf[Number].longValue()
    Seq(
      "vec_dot" -> (es => VectorDistance(es.head, es(1), "dot")),
      "vec_l2" -> (es => VectorDistance(es.head, es(1), "l2")),
      "vec_cosine" -> (es => VectorDistance(es.head, es(1), "cosine")),
      "bit_pack_sign" -> (es => BitPackSign(es.head)),
      "hamming_dist" -> (es => HammingDistance(es.head, es(1))),
      "graft_fingerprint" -> (es => RollingFingerprint(es.head)),
      "graft_simhash" -> (es =>
        if (es.size > 1) SimHash64(es.head, longLit(es(1))) else SimHash64(es.head)),
      "graft_minhash" -> (es => MinHashSignature(es.head, longLit(es(1)).toInt,
        if (es.size > 2) longLit(es(2)) else 42L)),
      "one_perm_minhash" -> (es => OnePermMinHash(es.head, longLit(es(1)).toInt,
        if (es.size > 2) longLit(es(2)) else 42L)),
      "ngram_oph" -> (es => OnePermMinHash(es.head, longLit(es(2)).toInt,
        if (es.size > 3) longLit(es(3)) else 42L, gramLen = longLit(es(1)).toInt)),
      "hll_sketch" -> (es => HllSketchAgg(es.head)),
      "hll_merge" -> (es => HllMergeAgg(es.head)),
      "hll_estimate" -> (es => HllEstimate(es.head)),
      "sorted_jaccard" -> (es => SortedJaccard(es.head, es(1))),
      "ngram_hashes" -> (es => NgramHashes(es.head, longLit(es(1)).toInt,
        if (es.size > 2) longLit(es(2)) else 42L)),
      "shingle_hashes" -> (es => ShingleHashes(es.head, longLit(es(1)).toInt,
        if (es.size > 2) longLit(es(2)) else 42L)),
      "deflate_len" -> (es => DeflateLen(es.head)),
      "bpe_stats" -> (es => BpeStats(es.head)),
      "bpe_chunks" -> (es =>
        BpeChunks(es.head, longLit(es(1)).toInt, longLit(es(2)).toInt)))
  }

  /** Register all graft functions for SQL use on this session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
