package graft.operators

import graft.Tables
import graft.functions.batch_id
import graft.sources.lance.ManifestIO
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 keyword search — the text twin of the
  * vector index family (reference analog: the lateral search function,
  * table/LanceVectorSearchFunction.java:55-66). A standing query workload
  * should not re-tokenize the corpus per query batch (the posture
  * text_search_bm25 documents); this materializes the posting lists once:
  *
  *   - `postings` (term, doc_id, tf, dl): lance table BUCKETED by term —
  *     a query's vocabulary hashes to a handful of buckets, and search
  *     reads ONLY those through `read.buckets` (fragment-pruned scan; at
  *     100 TB the posting store is the only per-query IO and it is
  *     vocabulary-selective, never corpus-sized).
  *   - `terms` (term, df): document frequencies, vocabulary-sized.
  *   - `stats` (n_docs, sum_dl): one row of corpus aggregates.
  *
  * Search = bucket-restricted postings read → [[TextAnalysis.bm25Rank]]
  * (the IDENTICAL scoring expression tree as the scan-side key, so
  * index-served results hash-match it). Build is one tokenize+TF pass —
  * the same work ONE ad-hoc query pays, amortized over every query after.
  */
object TextIndex {
  /** Bucket count for the postings table. At 100 TB this scales with the
    * posting volume (buckets ≈ store size / target fragment size); the
    * bucket cover of a query's vocabulary stays ≤ |vocabulary| regardless. */
  val Buckets = 8

  /** Sidecar root naming for a corpus table root. */
  def indexRootFor(corpusRoot: String): String = corpusRoot + "_textidx"

  /** Build the standing index from a (doc_id, text) corpus. Stamps every
    * table with generation `bid = 0` — identical layout to a one-batch
    * [[appendDelta]] stream, so the two builders are interchangeable on
    * one root: a procedure-built index can later take streaming deltas
    * (appendDelta's high-water read sees 0) and [[compact]]'s max("bid")
    * resolves instead of failing on an unresolved column. [[search]]
    * already sums across generations, so the stamp is an identity for
    * query results. */
  def build(s: SparkSession, corpus: DataFrame, root: String): Unit = {
    val d = corpus
      .withColumn("w", TextAnalysis.toksCol)
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    // TF is row-local (term_counts) — no (doc_id, term) exchange before
    // the bucketed write; the only shuffle left is the write's own
    // term-bucket clustering (r20, guide §2.4)
    val dt = d.select(col("doc_id"), col("dl"),
        explode(graft.functions.term_counts(col("w"))).as("tc"))
      .select(col("doc_id"), col("dl"),
        col("tc.term").as("term"), col("tc.tf").as("tf"))
    dt.select(col("term"), col("doc_id"), col("tf"), col("dl"), lit(0L).as("bid"))
      .write.format("lance")
      .option("write.bucket-by", "term")
      .option("write.bucket-count", Buckets.toString)
      .mode("overwrite").save(root + "/postings")
    dt.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bid", lit(0L))
      .write.format("lance").mode("overwrite").save(root + "/terms")
    d.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .withColumn("bid", lit(0L))
      .write.format("lance").mode("overwrite").save(root + "/stats")
  }

  /** The per-batch INCREMENTAL index append — the streaming maintenance
    * path (see StreamingOps.streamTextIndex): a document batch's postings
    * append into the term-bucketed postings table, and df / corpus stats
    * append as ADDITIVE deltas (a doc lands in exactly one batch, so
    * per-term df and the corpus aggregates sum across generations —
    * [[search]] folds them back). Each table is guarded by its own
    * batch-id high-water mark, so an at-least-once foreachBatch retry
    * re-appends only the tables the crashed attempt missed — per-table
    * exactly-once. */
  def appendDelta(s: SparkSession, corpusBatch: DataFrame, root: String, bid: Long): Unit = {
    val d = corpusBatch
      .withColumn("w", TextAnalysis.toksCol)
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      .localCheckpoint() // dt AND the stats agg consume d: one tokenize pass
    // dt is a NARROW projection of the checkpointed d since term_counts
    // (r20) — no shuffle to save, so no second checkpoint: its two
    // consumers re-run one explode over the cached batch instead of
    // paying an eager materialization job per micro-batch
    val dt = d.select(col("doc_id"), col("dl"),
        explode(graft.functions.term_counts(col("w"))).as("tc"))
      .select(col("doc_id"), col("dl"),
        col("tc.term").as("term"), col("tc.tf").as("tf"))
    def lastBid(path: String): Long = StreamingOps.lastBidOf(s, path)
    if (bid > lastBid(root + "/postings"))
      dt.select(col("term"), col("doc_id"), col("tf"), col("dl"), batch_id(bid).as("bid"))
        .write.format("lance")
        .option("write.bucket-by", "term")
        .option("write.bucket-count", Buckets.toString)
        .mode(if (StreamingOps.tableExists(s, root + "/postings")) "append" else "overwrite")
        .save(root + "/postings")
    if (bid > lastBid(root + "/terms"))
      dt.groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("bid", batch_id(bid))
        .write.format("lance")
        .mode(if (StreamingOps.tableExists(s, root + "/terms")) "append" else "overwrite")
        .save(root + "/terms")
    if (bid > lastBid(root + "/stats"))
      d.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
        .withColumn("bid", batch_id(bid))
        .write.format("lance")
        .mode(if (StreamingOps.tableExists(s, root + "/stats")) "append" else "overwrite")
        .save(root + "/stats")
  }

  /** Fold a streamed index's accumulated generations: per-term df rows
    * collapse to one summed row, the per-batch stats rows to one row, and
    * the postings rewrite re-bucketed (their ROWS are already unique —
    * a doc's postings land in exactly one generation — so this is
    * fragment compaction, not dedup). Search results are provably
    * unchanged (search already folds with sums); what compaction buys is
    * bounded df/stats read cost after long streaming runs. */
  def compact(s: SparkSession, root: String): Unit = {
    val maxBid = s.read.format("lance").load(root + "/stats")
      .agg(max("bid")).first().getLong(0)
    val terms = s.read.format("lance").load(root + "/terms")
      .groupBy("term").agg(sum("df").cast("long").as("df"))
      .withColumn("bid", lit(maxBid))
      .localCheckpoint()
    terms.write.format("lance").mode("overwrite").save(root + "/terms")
    val stats = s.read.format("lance").load(root + "/stats")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("sum_dl").cast("long").as("sum_dl"))
      .withColumn("bid", lit(maxBid))
      .localCheckpoint()
    stats.write.format("lance").mode("overwrite").save(root + "/stats")
    val postings = s.read.format("lance").load(root + "/postings")
      .localCheckpoint()
    postings.write.format("lance")
      .option("write.bucket-by", "term")
      .option("write.bucket-count", Buckets.toString)
      .mode("overwrite").save(root + "/postings")
  }

  /** Whether a standing index exists at `root` — FS-routed: on an
    * object-store warehouse a `java.io.File` check is always false, which
    * would make every CALL rebuild the index (correct answers, standing
    * amortization silently gone). */
  def exists(root: String, conf: Configuration): Boolean =
    ManifestIO.exists(root + "/postings", conf)

  /** The corpus manifest version a procedure-built index was derived from
    * (None for indexes that never recorded one, e.g. streaming-maintained
    * roots — those track the corpus through their own delta appends).
    * CALL system.search compares this against the corpus's current version
    * and rebuilds on mismatch, so a corpus that moved after the first CALL
    * is never served from the stale sidecar. */
  def recordedCorpusVersion(root: String, conf: Configuration): Option[Long] = {
    val p = new Path(root, "corpus_version")
    ManifestIO.readSmallFile(p.getFileSystem(conf), p).flatMap(b =>
      scala.util.Try(
        new String(b, java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption)
  }

  /** Record the corpus manifest version the index at `root` was built from
    * (overwrite: a rebuild re-stamps the pin). */
  def recordCorpusVersion(root: String, version: Long, conf: Configuration): Unit = {
    val p = new Path(root, "corpus_version")
    ManifestIO.writeSmallFileOverwrite(p.getFileSystem(conf), p,
      version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Serve a (query_id, term) workload from the standing index at `root`.
    * The postings scan is restricted to the buckets the query vocabulary
    * hashes into — the driver computes the ≤|vocab| bucket cover with the
    * same pmod(murmur3(term), N) the bucketed write used. */
  def search(s: SparkSession, root: String, queries: DataFrame, topK: Int): DataFrame = {
    val qTerms = queries.select("term").distinct()
    val buckets = qTerms
      .select(pmod(hash(col("term")), lit(Buckets)).as("b"))
      .distinct().collect().map(_.getInt(0))
    val postings = s.read.format("lance")
      .option("read.buckets", buckets.mkString(","))
      .load(root + "/postings")
      .join(broadcast(qTerms), Seq("term"), "left_semi")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    // df and corpus stats aggregate across GENERATIONS (the streamed
    // index appends per-batch additive deltas; a batch-built index has
    // one generation and the sums are identities)
    val dfreq = s.read.format("lance").load(root + "/terms")
      .join(broadcast(qTerms), Seq("term"), "left_semi")
      .groupBy("term").agg(sum("df").cast("long").as("df"))
    val stats = s.read.format("lance").load(root + "/stats")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("sum_dl").cast("long").as("sum_dl"))
    TextAnalysis.bm25Rank(postings, dfreq, stats, queries, topK)
  }

  // per-(session, dir) memo of the built index root: the standing index
  // is built ONCE and every query batch after reads it — the posture the
  // operator exists to prove
  private val indexes = new FixtureMemo[String]("textidx", identity)

  /** The standing index for a testdata corpus dir (built on first use). */
  def indexFor(s: SparkSession, dir: String): String =
    indexes(s, dir) { root =>
      build(s, Tables.t(s, dir, "documents").select("doc_id", "text"), root)
      root
    }
}
