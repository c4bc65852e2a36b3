package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.fingerprint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline text operators over `documents`: token counting, quality
  * scoring, language-ID heuristic, and rolling-hash fingerprinting.
  *
  * All four are pure per-row Column expressions — no shuffle at all except
  * the final presentation ORDER BY, so they scale linearly with input
  * splits: at 100 TB these run as a single map stage over the parquet scan
  * with only the projected columns read.
  *
  * Every formula is mirrored exactly (same expression tree, same
  * left-to-right double ops) in the DuckDB oracle so results hash-match.
  */
object TextAnalysis extends QueryModule {
  import Tables._

  /** Whitespace tokens with empties dropped — `\s+` split semantics agree
    * between Java regex (Spark) and RE2 (DuckDB) for this charset. */
  private[operators] val toksCol: Column =
    filter(split(col("text"), "\\s+"), x => x =!= "")

  private[graft] def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("w", toksCol)

  // ---- text_tokens -------------------------------------------------------
  // GPT-2-style pretokenizer shape (no backreferences → identical semantics
  // in Java regex and DuckDB's RE2): word / number / punctuation runs, each
  // optionally absorbing one leading space.
  private[operators] val BpeIsh = " ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"

  private def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      // counts cast to long: DuckDB len() is BIGINT and the driver compares
      // schemas, so int-sized Spark counts would schema-mismatch
      size(col("w")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("n_re_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeIsh), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      size(array_distinct(col("w"))).cast("long").as("n_distinct"),
      round(aggregate(col("w"), lit(0L), (acc, x) => acc + length(x))
        .cast("double") / size(col("w")), 6).as("avg_token_len"))
      .orderBy("doc_id")

  // ---- text_tokens_bpe ---------------------------------------------------
  // REAL subword token counting — fixed-vocab byte-level BPE (merge table
  // shipped as a resource; scripts/gen_bpe_vocab.py documents its
  // deterministic derivation) run as a codegen'd expression
  // ([[graft.functions.BpeStats]]). Production corpus budgets, packing
  // and chunking are defined in subword tokens; whitespace counts skew
  // them 1.3-1.7× with language-dependent bias, so text_tokens'
  // n_bpe_tokens column (a token-SHAPED regex count) is only a proxy —
  // this key counts actual greedy-merge BPE tokens. Map-only at any
  // scale (the single shuffle below is the presentation ORDER BY). No
  // SQL engine runs BPE → rows-only gated key, with the tokenization
  // itself pinned bit-exactly by the polynomial id-hash column and
  // spec-gated: lossless roundtrip over the corpus, scanner ==
  // pretokenizer regex, codegen == interpreted eval, exchange-free plan.
  private def textTokensBpe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("st", graft.functions.bpe_stats(col("text")))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_bpe_tokens"),
        col("st").getItem(1).as("bpe_id_hash"),
        round(length(col("text")).cast("double") / col("st").getItem(0), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")

  // ---- text_quality ------------------------------------------------------
  // Heuristic score in [0,1]: length saturation, vocabulary diversity, and
  // a stopword-presence signal (natural text has stopwords; keyword spam
  // doesn't). Same shape as classic C4/Gopher-style quality filters.
  private[graft] val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** The quality score over a tokenized `w` column — shared with the
    * cleaning pipeline so both stay formula-identical with the oracle. */
  private[graft] def qualityScore: Column = {
    val nTok = size(col("w")).cast("double")
    val stopCnt = size(filter(col("w"), x => x.isin(StopEn: _*))).cast("double")
    val distinctRatio = size(array_distinct(col("w"))).cast("double") / nTok
    val lenScore = least(lit(1.0), nTok / lit(100.0))
    val stopScore = least(lit(1.0), stopCnt / nTok * lit(5.0))
    lenScore * lit(0.4) + distinctRatio * lit(0.4) + stopScore * lit(0.2)
  }

  /** SQL mirror of [[qualityScore]] given CTE columns nt/sc/dr. */
  private[operators] val qualityScoreSql: String =
    "least(1.0, nt / 100.0) * 0.4 + dr * 0.4 + least(1.0, sc / nt * 5.0) * 0.2"

  /** Tokenizer column shared with the pipeline. */
  private[graft] def tokens: Column = toksCol

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(Seq(col("doc_id")) ++ qualityMetricCols(col("n_chars")): _*)
      .orderBy("doc_id")

  /** The quality metric columns over a frame carrying (text, w) —
    * factored so `CALL system.score` annotates arbitrary corpora through
    * the same expressions (r20); `nChars` is the table's stored count in
    * the gated key and length(text) in the procedure (same value by the
    * fixture's construction, same value by definition on any corpus that
    * stores the true count). */
  private[graft] def qualityMetricCols(nChars: Column): Seq[Column] = {
    val nTok = size(col("w")).cast("double")
    val stopCnt = size(filter(col("w"), x => x.isin(StopEn: _*))).cast("double")
    val distinctRatio = size(array_distinct(col("w"))).cast("double") / nTok
    Seq(
      nChars.cast("long").as("n_chars"),
      size(col("w")).cast("long").as("n_tokens"),
      round(distinctRatio, 6).as("distinct_ratio"),
      round(stopCnt / nTok, 6).as("stop_ratio"),
      round(qualityScore, 6).as("quality"))
  }

  // ---- text_langid -------------------------------------------------------
  // Stopword-hit language scores + deterministic argmax (ties resolve in
  // fixed en>es>de>fr>zh priority). The synthetic corpus is English-vocab
  // for every `lang` label, so the heuristic (correctly) says "en" — the
  // operator contract is the scoring machinery, not the labels.
  private val StopSets: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn,
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "fr" -> Seq("le", "les", "une", "et", "est", "dans", "pour", "que"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有"))

  private def textLangid(s: SparkSession, dir: String): DataFrame = {
    val (scoreCols, pred) = langidMetricCols
    docs(s, dir).select(
      Seq(col("doc_id")) ++ scoreCols ++ Seq(
        pred.as("pred_lang"), col("lang"),
        (pred === col("lang")).as("is_match")): _*)
      .orderBy("doc_id")
  }

  /** The stopword-langid machinery over a frame carrying (w) — per-language
    * hit-count columns + the argmax prediction (foldRight gives an en-first
    * WHEN chain: ties resolve at the first match); factored so
    * `CALL system.score` rides the same expressions (r20). */
  private[graft] def langidMetricCols: (Seq[Column], Column) = {
    val scores = StopSets.map { case (l, words) =>
      l -> size(filter(col("w"), x => x.isin(words: _*)))
    }
    val scoreCols = scores.map { case (l, c) => c.cast("long").as(s"score_$l") }
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.foldRight(lit("??"): Column) { case ((l, c), els) =>
      when(c === best, lit(l)).otherwise(els)
    }
    (scoreCols, pred)
  }

  // ---- bpe_train_tokenize ------------------------------------------------
  // The train→encode loop CLOSED: learn a merge table from the corpus
  // (BpeTrainer — histogram shuffle + driver merge learning) and tokenize
  // the same corpus with the LEARNED vocabulary via the runtime-table
  // bpe_stats_with expression — the same codegen'd map stage as the
  // frozen-vocab key, the rank table riding the plan as a reference
  // object. What a production pipeline does when it trains a tokenizer on
  // its own corpus before budgeting/packing with it. rows-only key; the
  // spec re-derives the tokenization with an independent driver encoder.
  private def bpeTrainTokenize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = BpeTrainer.train(s, d, 256).orderBy("rank").collect()
    val flat = merges.flatMap(r => Array(r.getLong(1).toInt, r.getLong(2).toInt))
    d.withColumn("st", graft.functions.bpe_stats_with(col("text"), flat))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_tokens"),
        col("st").getItem(1).as("id_hash"),
        round(length(col("text")).cast("double") / col("st").getItem(0), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  // ---- text_langid_ngram -------------------------------------------------
  // Cavnar-Trenkle rank-order profiles — the model-based sibling of the
  // stopword langid (and the classic production method): the codegen'd
  // langid_ngram expression ranks each doc's top char-1-3-grams in-row and
  // scores the out-of-place distance against frozen per-language profiles
  // built by the same code from seed texts. Pure map stage, integer
  // distances; rows-only key (no SQL engine ranks n-gram profiles), with
  // per-language snippet classification + plan specs.
  private def textLangidNgram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("st", graft.functions.langid_ngram(lower(col("text"))))
      .select(col("doc_id"),
        col("st").getItem(0).as("dist_en"),
        col("st").getItem(1).as("dist_es"),
        col("st").getItem(2).as("dist_de"),
        col("st").getItem(3).as("dist_fr"),
        element_at(
          lit(graft.functions.LangIdNgram.Languages.toArray),
          (col("st").getItem(4) + 1).cast("int")).as("pred_lang"))
      .orderBy("doc_id")

  // ---- text_fingerprint --------------------------------------------------
  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      (fingerprint(col("text")) % 1024).as("fp_bucket"))
      .orderBy("doc_id")

  // ---- text_contamination ------------------------------------------------
  // Benchmark-contamination detection: flag corpus documents sharing >= Tau
  // 3-word shingles with any document of a held-out "benchmark" set (here a
  // deterministic 5% of the corpus, doc_id % 20 == 0 — in production, the
  // eval sets). Spark shape: explode hashed shingles on both sides and
  // equi-join on the shingle hash — candidate pairs form only inside a
  // shingle bucket (never all-pairs), and the benchmark side is small by
  // construction, so Spark broadcasts it: at 100 TB this is one map-side
  // join over the corpus scan plus a doc-level aggregation.
  private val ContaminationTau = 3

  /** Shared decontamination scaffolding — the ONE definition of the n-gram
    * contamination contract (3-word distinct shingle hash sets; benchmark =
    * doc_id % 20 == 0, in production the eval sets), exploded to
    * (doc, shingle) rows. The bench side carries its own set size so ratio
    * rules are a post-agg expression; it is standing + broadcastable, so
    * the streaming twin builds it ONCE and screens each arriving batch. */
  private def shingled(docs: DataFrame): DataFrame =
    docs.withColumn("sh", graft.functions.shingle_hashes(col("text"), 3))
      .filter(size(col("sh")) > 0)

  private[graft] def contaminationBench(docs: DataFrame): DataFrame =
    shingled(docs).filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("bid"),
        size(col("sh")).cast("long").as("b_size"), explode(col("sh")).as("s"))

  private def contaminationCorpus(docs: DataFrame): DataFrame =
    shingled(docs).filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))

  /** The batch text_contamination body over any corpus slice: per-document
    * output is complete whenever the slice holds whole documents, so the
    * streaming twin can screen micro-batches independently. */
  private[graft] def contaminationScreen(docs: DataFrame, bench: DataFrame): DataFrame =
    contaminationCorpus(docs).join(broadcast(bench.drop("b_size")), "s")
      .groupBy("doc_id", "bid").count() // shingle sets are distinct → overlap size
      .filter(col("count") >= ContaminationTau)
      .groupBy("doc_id")
      .agg(max(col("count")).as("max_overlap"),
        count(lit(1)).as("n_matched"))

  private def textContamination(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    contaminationScreen(d, contaminationBench(d)).orderBy("doc_id")
  }

  /** Procedure-facing n-gram decontamination flags over ARBITRARY corpus /
    * benchmark tables (the CALL system.decontaminate body): a corpus doc is
    * flagged when it shares >= minOverlap 3-word shingles with any bench
    * doc, OR (when minContainment > 0) contains >= minContainment of some
    * bench doc's own shingle set. Returns the distinct flagged ids (one
    * column named idCol). Same shape as the gated keys: shingle-bucket
    * equi-join against the broadcast bench side, never all-pairs; both
    * thresholds compare unrounded values. */
  private[graft] def decontaminationFlags(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, minOverlap: Int,
      minContainment: Double): DataFrame = {
    def sides(df: DataFrame, out: String) = df
      .withColumn("sh", graft.functions.shingle_hashes(col(textCol), 3))
      .filter(size(col("sh")) > 0)
      .select(col(idCol).as(out),
        size(col("sh")).cast("long").as(s"${out}_size"), explode(col("sh")).as("s"))
    sides(corpus, "cid").drop("cid_size")
      .join(broadcast(sides(bench, "bid")), "s")
      .groupBy("cid", "bid", "bid_size").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap ||
        (lit(minContainment) > 0.0 &&
          col("overlap").cast("double") / col("bid_size") >= minContainment))
      .select(col("cid").as(idCol)).distinct()
  }

  // ---- text_contamination_ratio -------------------------------------------
  // CONTAINMENT decontamination — the asymmetric complement of
  // text_contamination's absolute-overlap rule: a short benchmark item
  // (an eval question) pasted inside a long web page shares only a few
  // shingles in absolute terms but nearly ALL of ITS OWN shingles, so the
  // production rule (cf. GPT-3/PaLM decontamination reports) thresholds
  // |S_corpus ∩ S_bench| / |S_bench| — the fraction of the BENCHMARK
  // document contained in the corpus document. Same Spark shape as
  // text_contamination (shingle-bucket equi-join against the broadcast
  // benchmark side; never all-pairs), with the benchmark's set size
  // riding the broadcast so the ratio is a pure post-agg expression.
  // The threshold compares the UNROUNDED ratio in both engines (rounding
  // only the reported column) so boundary rows cannot flip between them.
  private val ContainRatio = 0.5

  private def textContaminationRatio(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val (bench, corpus) = (contaminationBench(d), contaminationCorpus(d))
    corpus.join(broadcast(bench), "s")
      .groupBy("doc_id", "bid", "b_size")
      .agg(count(lit(1)).as("overlap")) // shingle sets are distinct → overlap size
      .withColumn("r", col("overlap").cast("double") / col("b_size"))
      .filter(col("r") >= ContainRatio)
      .select(col("doc_id"), col("bid"), col("overlap"), col("b_size"),
        round(col("r"), 6).as("containment"))
      .orderBy("doc_id", "bid")
  }

  // ---- text_scrub --------------------------------------------------------
  // PII redaction: regexp_replace of email / IPv4 shapes with placeholder
  // tokens — the standard pre-training scrub pass. Pure per-row expressions
  // (map-only at any scale); patterns avoid backreferences/lookarounds so
  // Java regex (Spark) and RE2 (DuckDB) agree symbol-for-symbol. The key
  // injects deterministic PII into every document so the redaction path is
  // actually exercised, then reports match counts and the cleaned shape.
  private[operators] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[operators] val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  private def textScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com at 10.0."), col("doc_id") % 256, lit(".7 now"))
        .as("text"))
    val clean = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
    aug.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ip"),
      length(clean).cast("long").as("len_clean"),
      substring(clean, -22, 22).as("tail_clean"))
      .orderBy("doc_id")
  }

  // ---- text_pack ---------------------------------------------------------
  // Sequence packing (token-budget sharding): assemble documents into
  // training shards of ~Budget tokens. Docs are spread over Shards
  // deterministic shards (doc_id mod — the window state then distributes
  // instead of serializing on one global sort), ordered by doc_id within
  // a shard, and a doc joins the pack its token prefix-sum STARTS in (the
  // streaming-pack convention: a pack may overflow by at most one doc,
  // never undershoot). One shuffle total; window + groupBy share the
  // (shard) partitioning.
  private[graft] val PackBudget = 2048L
  /** The GATE's pinned shard count (the DuckDB oracle is written against
    * it). Production callers use [[pack]] with shards <= 0, which derives
    * the count from the cluster instead of a constant. */
  private[graft] val PackShards = 8

  /** Sequence-pack `docs` (doc_id, n_tokens) into ~`budget`-token training
    * shards. `shards <= 0` sizes the shard count to the cluster
    * (defaultParallelism), so window state distributes over every core at
    * any scale instead of serializing on a constant. */
  def pack(s: SparkSession, docs: DataFrame, budget: Long = PackBudget,
           shards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = if (shards > 0) shards else s.sparkContext.defaultParallelism
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs.select(col("doc_id"), col("n_tokens"), (col("doc_id") % n).as("shard"))
      .withColumn("start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("pack_id", floor(col("start") / lit(budget)).cast("long"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("sum_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("shard", "pack_id")
  }

  private def textPack(s: SparkSession, dir: String): DataFrame =
    pack(s,
      t(s, dir, "documents").select(col("doc_id"),
        size(toksCol).cast("long").as("n_tokens")),
      PackBudget, PackShards)

  // ---- text_chunk --------------------------------------------------------
  // Overlapping token-window chunking — the standard preprocessing step of
  // an embedding/RAG pipeline (each chunk becomes one embedding): windows
  // of ChunkTokens tokens advancing by ChunkStride (= ChunkTokens − the
  // overlap), last chunk truncated. sequence() + posexplode keeps it one
  // builtin-only map stage — a doc's chunk list never leaves its task —
  // so chunking scales linearly with input splits at any corpus size.
  private[graft] val ChunkTokens = 64
  private[graft] val ChunkStride = 48 // 16-token overlap

  private def textChunk(s: SparkSession, dir: String): DataFrame =
    chunkOver(docs(s, dir), ChunkTokens, ChunkStride, withText = false)

  /** The chunking map stage over a frame carrying (doc_id, w) — factored
    * so `CALL system.chunk` parameterizes window/stride and (unlike the
    * counts-only gated key) can materialize the chunk TEXT itself for a
    * downstream embedding pass (r20). `withText` joins the window's
    * tokens with single spaces — the reconstruction convention of a
    * whitespace tokenizer, stated rather than hidden. */
  private[graft] def chunkOver(docs: DataFrame, chunkTokens: Int,
                               stride: Int, withText: Boolean): DataFrame = {
    val d = docs.filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
    val len = least(lit(chunkTokens), col("n") - col("start"))
    val base = d.select(col("doc_id"), col("w"), col("n"),
        posexplode(expr(s"sequence(0, n - 1, $stride)")))
      .toDF("doc_id", "w", "n", "chunk_idx", "start")
    val cols = Seq(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        len.cast("long").as("chunk_tokens"),
        aggregate(slice(col("w"), col("start") + 1, len), lit(0L),
          (a, x) => a + length(x)).as("chunk_chars")) ++
      (if (withText)
        Seq(concat_ws(" ", slice(col("w"), col("start") + 1, len)).as("chunk_text"))
       else Nil)
    base.select(cols: _*).orderBy("doc_id", "chunk_idx")
  }

  // ---- text_pack_bpe / text_chunk_bpe ------------------------------------
  // The REAL-tokenizer forms of packing and chunking: identical recipes to
  // text_pack / text_chunk but budgeted in actual byte-level-BPE subword
  // tokens (graft.functions.Bpe) instead of whitespace tokens — what a
  // production training-shard or RAG pipeline actually budgets in. No SQL
  // engine runs BPE → rows-only gated keys; each is pinned by an
  // equivalence spec against the driver-side Bpe.encode reference. Scale
  // shapes are inherited unchanged: pack is the same single (shard)
  // shuffle; chunk is a pure map stage (bpe_chunks is codegen'd, a doc's
  // chunk list never leaves its task).

  private def textPackBpe(s: SparkSession, dir: String): DataFrame =
    pack(s,
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.bpe_stats(col("text")).getItem(0).as("n_tokens")),
      PackBudget, PackShards)

  private def textChunkBpe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.bpe_chunks(col("text"), ChunkTokens, ChunkStride)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").getItem(0).as("chunk_tokens"),
        col("col").getItem(1).as("chunk_bytes"),
        col("col").getItem(2).as("chunk_id_hash"))
      .orderBy("doc_id", "chunk_idx")

  // ---- text_source_cap ---------------------------------------------------
  // Per-source contribution quota: keep at most SourceCap docs per source,
  // ranked by quality — the per-domain cap every web-scale corpus applies
  // so no single domain dominates training data. One shuffle on `source`;
  // ranking uses the ROUNDED score (ties broken by doc_id) so Spark and
  // the oracle rank identically despite last-bit fp differences.
  private val SourceCap = 10

  private def textSourceCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs(s, dir).filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("source"), round(qualityScore, 6).as("q"))
    val w = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SourceCap)
      .orderBy("source", "rk")
  }

  // ---- text_crossdup -----------------------------------------------------
  // INTER-document repetition (RefinedWeb-family signal, the cross-corpus
  // sibling of text_repetition's within-doc duplicates): the fraction of a
  // doc's distinct word-3-grams that also appear in >= CrossdupMinDocs
  // OTHER documents — near-1 for mirrored/templated content. Shape at
  // scale: the gram groupBy shuffles the full doc-gram pair stream once
  // (linear in corpus token volume; the JOIN-KEY cardinality is the
  // vocabulary, the shuffled volume is the corpus) — unavoidable, the nd
  // counts need global grouping. Everything after is cut down: n_grams is
  // computed map-side from the per-doc distinct-gram array (no join), and
  // n_common semi-joins the gram stream against only the COMMON grams
  // (nd >= threshold) — on a real corpus a tiny fraction of the
  // vocabulary (template boilerplate), so the semi-join broadcasts and
  // the doc_id re-aggregation shuffles only the common-gram hits instead
  // of the full stream. No all-pairs anything.
  private val CrossdupMinDocs = 6 // the doc itself + 5 others

  private def textCrossdup(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
        .as("gs"))
    val grams = base.select(col("doc_id"), explode(col("gs")).as("g"))
    val commonGrams = grams.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= CrossdupMinDocs)
      .select("g")
    val nCommon = grams.join(commonGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    base.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(nCommon, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("crossdup_frac"))
      .orderBy("doc_id")
  }

  // ---- text_repetition ---------------------------------------------------
  // Gopher-family repetition signals: the fraction of duplicate word
  // 3-grams (near-1 for looping/spammy text) and the share of the single
  // most frequent token. Pure higher-order-function expressions over the
  // token array — map-only at any scale, no shuffle, no UDF.
  private def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val grams = expr(
      "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")
    // max token multiplicity as the longest equal-run of the SORTED array —
    // O(n log n) per doc (an aggregate over distinct tokens would go
    // quadratic on diverse documents)
    val topShare = expr(
      """aggregate(array_sort(w), named_struct('prev', '', 'run', 0L, 'best', 0L),
        |  (s, x) -> named_struct(
        |    'prev', x,
        |    'run', IF(x = s.prev, s.run + 1L, 1L),
        |    'best', GREATEST(s.best, IF(x = s.prev, s.run + 1L, 1L))),
        |  s -> s.best)""".stripMargin)
    docs(s, dir)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        grams.as("g"),
        topShare.as("top_tok"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - size(array_distinct(col("g"))).cast("double")
          / size(col("g")), 6).as("dup_gram_frac"),
        round(col("top_tok").cast("double") / col("n_tokens"), 6).as("top_token_share"))
      .orderBy("doc_id")
  }

  // ---- text_commonness ---------------------------------------------------
  // CCNet-family corpus-frequency signal: how "ordinary" a document's
  // vocabulary is relative to the WHOLE corpus — the cheap stand-in for an
  // LM-perplexity filter (rare-word-heavy docs are gibberish or
  // high-information; both deserve a look before training). Per doc:
  // mean corpus occurrence count over token OCCURRENCES (mean_tf), the
  // rarest token's count (min_tf), and the share of occurrences whose
  // corpus count <= RareTf. All-integer until one final division, so
  // DuckDB computes bit-identical values.
  //
  // Scale shape — the frequency join is the textbook skew case: the join
  // key IS the Zipf distribution, so "the" would route a billion probe
  // rows to one reducer. Split the dictionary at HeadTf: the head (each
  // word >= HeadTf occurrences) has at most corpusTokens/HeadTf entries —
  // set HeadTf ~ tokens/1e6 in production and the head is a <=1e6-row
  // broadcast that absorbs ALL skewed keys map-side; the tail join's key
  // multiplicity is < HeadTf by construction, so the residual shuffle is
  // skew-free and touches only the occurrence minority the broadcast
  // missed. The corpus shuffles once for the dictionary groupBy (partial
  // agg collapses each split to its distinct words first) and once more
  // for the per-doc re-aggregation of tail hits + doc-level partials.
  private val HeadTf = 500L
  private val RareTf = 100L

  private def textCommonness(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(col("w")).as("tok"))
    val counts = words.groupBy("tok").agg(count(lit(1)).as("c"))
    val withHead = words.join(
      broadcast(counts.filter(col("c") >= HeadTf)), Seq("tok"), "left")
    val cold = withHead.filter(col("c").isNull).drop("c")
      .join(counts.filter(col("c") < HeadTf), Seq("tok"))
    withHead.filter(col("c").isNotNull).unionByName(cold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("c").cast("double") / count(lit(1)), 6).as("mean_tf"),
        min("c").as("min_tf"),
        round(sum(when(col("c") <= RareTf, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("rare_frac"))
      .orderBy("doc_id")
  }

  // ---- text_keywords -----------------------------------------------------
  // TF-IDF keyword extraction — the classic per-doc salient-term signal
  // (search indexing, topic tagging, near-dup explanation). The IDF factor
  // is the RATIONAL form (n_docs+1)/(df+1) rather than its logarithm:
  // log() is not IEEE-bit-specified so Spark's and DuckDB's libm could
  // disagree in the last ulp right at a rounding boundary, while +,*,/ are
  // exactly specified — same monotone ranking, bit-identical score. Scale
  // shape: one (doc_id, term) shuffle for TF (map-side partials), a
  // term-keyed aggregate for DF whose join back is vocabulary-sized (AQE
  // broadcasts it at gate scale; Zipf keeps it tiny relative to the corpus
  // at any scale), a 1-row broadcast for the corpus count, and the per-doc
  // top-k rank window rewrites to a pre-shuffle k-heap
  // (InferWindowGroupLimit) — shuffled volume ∝ k·docs, not term pairs.
  private val KeywordK = 3

  private def textKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    // TF row-local (term_counts): no (doc_id, term) exchange (r20 §2.4)
    val tf = d.select(col("doc_id"), explode(graft.functions.term_counts(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.select(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * (col("n_docs") + 1.0d) / (col("df") + 1.0d), 6)
          .as("score"))
      .withColumn("rk", row_number().over(byDoc).cast("long"))
      .filter(col("rk") <= KeywordK)
      .orderBy(col("doc_id").asc, col("rk").asc)
  }

  // ---- text_search_bm25 --------------------------------------------------
  // Ranked keyword search — the retrieval-side counterpart of the
  // text_keywords extraction: BM25 scoring of a fixed query workload over
  // the corpus, top-k docs per query. Like text_keywords the IDF factor is
  // RATIONAL (BM25's (N-df+0.5)/(df+0.5) WITHOUT the log wrapper — log is
  // not IEEE-bit-specified, +,*,/ are; the ranking stays monotone) and the
  // per-(query,doc) term-score sum accumulates integer micro-units so the
  // aggregate is order-independent (exactSum pattern). Scale shape: terms
  // are pruned to the query vocabulary BEFORE the (doc,term) TF shuffle —
  // the only event-volume exchange; DF and the query table join broadcast
  // (both vocabulary-sized); corpus stats are a 1-row broadcast; the
  // per-query top-k rank window rewrites to a pre-shuffle k-heap. At
  // 100 TB the same plan serves ad-hoc keyword search over a corpus
  // directly, no offline index required (posting lists materialize as the
  // pruned TF shuffle); a standing query workload would persist `dt` as
  // the inverted index and skip the scan.
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "vector",
    2L -> "merge", 2L -> "stream", 2L -> "hash",
    3L -> "customer", 3L -> "query")
  private[graft] val Bm25TopK = 5

  /** K successive DISTINCT query workloads for the standing-index
    * amortization key (text_search_indexed_multi): a standing index's
    * value is reuse across query batches, so the multi key serves three
    * disjoint vocabularies from ONE build — per-batch marginal cost is
    * the key's bench time / 3, with zero corpus scans after the first. */
  private[graft] val Bm25Batches: Seq[(Long, Seq[(Long, String)])] = Seq(
    0L -> Bm25Queries,
    1L -> Seq(1L -> "join", 1L -> "row",
      2L -> "scan", 2L -> "filter",
      3L -> "window", 3L -> "sort"),
    2L -> Seq(1L -> "table", 1L -> "column",
      2L -> "group", 2L -> "key",
      3L -> "batch", 3L -> "data"))

  /** The BM25 scoring stage shared by the scan-side key and the
    * persisted-index path ([[TextIndex]]): identical expression tree on
    * both, so index-served results hash-match the direct scan. Inputs:
    * dt (doc_id, dl, term, tf) — postings for (at least) the query
    * vocabulary; dfreq (term, df); stats (n_docs, sum_dl) one row;
    * q (query_id, term). k1 = 1.2, b = 0.75 — the conventional
    * constants, written as plain literals on both engines so the parsed
    * doubles are identical. */
  private[operators] def bm25Rank(dt: DataFrame, dfreq: DataFrame,
      stats: DataFrame, q: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idf = (col("n_docs").cast("double") - col("df") + lit(0.5d)) /
      (col("df") + lit(0.5d))
    val tfn = (col("tf").cast("double") * lit(2.2d)) /
      (col("tf").cast("double") + lit(1.2d) *
        (lit(0.25d) + lit(0.75d) * col("dl").cast("double") /
          (col("sum_dl").cast("double") / col("n_docs"))))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    dt.join(broadcast(dfreq), "term").join(broadcast(q), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(round(idf * tfn, 6) * 1e6).cast("long").as("s_micro"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("long").as("n_terms"),
        round(sum("s_micro").cast("double") / 1e6, 6).as("score"))
      .withColumn("rk", row_number().over(byQuery).cast("long"))
      .filter(col("rk") <= topK)
      .orderBy(col("query_id").asc, col("rk").asc)
  }

  private def textSearchBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val vocab = Bm25Queries.map(_._2).distinct
    // TF row-local (term_counts): the former vocabulary-pruned TF shuffle
    // is now no shuffle at all (r20 §2.4). r21: the vocabulary prune moves
    // INSIDE the row — term_counts over the full token array built a
    // per-row count map of the document's whole vocabulary only for the
    // isin() to discard all but the ~7 query terms (the r20 wall
    // regression on this key); filtering the array first keeps the
    // zero-exchange shape and the count map at |query vocab|. Identical
    // output: tf of a kept term is its count in w, and a doc with no
    // query term yields an empty map = no rows, exactly the old filter.
    val dt = d.select(col("doc_id"), col("dl"),
        explode(graft.functions.term_counts(
          filter(col("w"), tok => tok.isInCollection(vocab)))).as("tc"))
      .select(col("doc_id"), col("dl"),
        col("tc.term").as("term"), col("tc.tf").as("tf"))
    val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Rank(dt, dfreq, stats, Bm25Queries.toDF("query_id", "term"), Bm25TopK)
  }

  // ---- text_search_hybrid --------------------------------------------------
  // HYBRID retrieval (r18): BM25 keyword ranks + embedding-cosine ranks
  // fused by Reciprocal Rank Fusion (Cormack et al. 2009; the fusion
  // lance/LanceDB ships for its hybrid search) — rrf(d) = Σ_arms
  // 1/(K + rank_arm(d)), K = 60, over each arm's top-k list. RRF is
  // rank-only by design: the two arms' scores live on incomparable scales
  // (BM25 vs cosine), ranks don't. Cross-engine determinism: each arm
  // ranks exactly as its gated parent key does (BM25's integer micro-unit
  // sums; cosine rounded to 6dp, vec_id tiebreak), the fused score is at
  // most TWO double terms 1/(60+r) (addition of two IEEE doubles is
  // order-free), rounded to 6dp with doc_id tiebreak. Scale shape: the
  // lexical arm is the text_search_bm25 plan (vocabulary-pruned TF
  // shuffle, broadcast df/query/stats, pre-shuffle k-heap); the vector
  // arm is one broadcast of 3 query vectors over a linear codegen'd
  // cosine scan with the same k-heap; the fuse touches 2·k·|queries|
  // rows — nothing.
  private[graft] val RrfK = 60

  /** query_id → the corpus vector serving as that query's embedding (the
    * paired-modality workload: each Bm25 query also carries a vector). */
  private[graft] val HybridQueryVecs: Seq[(Long, Long)] =
    Seq(1L -> 100L, 2L -> 200L, 3L -> 300L)

  private def textSearchHybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = textSearchBm25(s, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("r"))
    val e = t(s, dir, "embeddings")
    hybridRrfFuse(lex, hybridVectorArm(s, e, hybridQueries(e), None))
  }

  /** The fixture's [[HybridQueryVecs]] resolved from a (vec_id,
    * embedding) store with the k-bounded id lookup. */
  private[graft] def hybridQueries(store: DataFrame): Seq[(Long, Array[Float])] = {
    val qv = VectorSearch.resolveVecs(store, HybridQueryVecs.map(_._2))
    HybridQueryVecs.map { case (q, vid) => (q, qv(vid)) }
  }

  /** The hybrid VECTOR arm: per query, top-k of `store` (vec_id,
    * embedding[, cell]) by 6-dp rounded cosine, vec_id tiebreak, read
    * through [[VectorSearch.probedSlice]] — each query's probed cells of
    * a cell-clustered store (a static cell-IN pushdown the fragment stats
    * prune on), or the whole store with `probe = None`. Full probes are
    * row-for-row the brute-force arm (the full-oracle gate config);
    * partial probes trade recall for fragments read (recall-spec'd). */
  private[graft] def hybridVectorArm(s: SparkSession, store: DataFrame,
                                     queries: Seq[(Long, Array[Float])],
                                     probe: Option[(Array[Array[Double]], Int)],
                                     topK: Int = Bm25TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQcos = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    VectorSearch.probedSlice(s, store, queries, probe)
      .select(col("__pq").as("query_id"), col("vec_id").as("doc_id"),
        round(graft.functions.vec_cosine(col("embedding"), col("__qv")), 6).as("cos"))
      .withColumn("r", row_number().over(byQcos).cast("long"))
      .filter(col("r") <= topK)
      .select("query_id", "doc_id", "r")
  }

  /** The RRF fuse over two (query_id, doc_id, r) rank arms — ONE
    * definition for the batch key and the streaming twin. */
  private[graft] def hybridRrfFuse(lex: DataFrame, vec: DataFrame,
                                   k: Int = Bm25TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRrf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.unionByName(vec)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_arms"),
        round(sum(lit(1.0d) / (lit(RrfK) + col("r"))), 6).as("rrf"))
      .withColumn("rk", row_number().over(byRrf).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "n_arms", "rrf", "rk")
      .orderBy(col("query_id").asc, col("rk").asc)
  }

  private[operators] lazy val hybridOracleSql: String = {
    val qvValues = HybridQueryVecs
      .map { case (q, v) => s"(CAST($q AS BIGINT), CAST($v AS BIGINT))" }
      .mkString(", ")
    s"""WITH lex AS (${bm25OracleBody(Bm25Queries)}),
       |qmap(query_id, qvec_id) AS (VALUES $qvValues),
       |qv AS (SELECT query_id, e.embedding AS qv FROM qmap
       |  JOIN embeddings e ON e.vec_id = qvec_id),
       |vecarm AS (SELECT query_id, doc_id, rv FROM (
       |  SELECT query_id, e.vec_id AS doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |        CAST(qv AS DOUBLE[])), 6) DESC, e.vec_id ASC) AS BIGINT) AS rv
       |  FROM embeddings e CROSS JOIN qv)
       |  WHERE rv <= $Bm25TopK),
       |fused AS (SELECT query_id, doc_id,
       |    CAST(count(*) AS BIGINT) AS n_arms,
       |    round(sum(1.0 / ($RrfK + r)), 6) AS rrf
       |  FROM (SELECT query_id, doc_id, rk AS r FROM lex
       |        UNION ALL SELECT query_id, doc_id, rv FROM vecarm)
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_arms, rrf, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rk FROM fused)
       |WHERE rk <= $Bm25TopK ORDER BY query_id ASC, rk ASC""".stripMargin
  }

  // ---- text_search_indexed -----------------------------------------------
  // The same query workload served from a PERSISTED inverted index
  // ([[TextIndex]]): postings bucketed by term in a lance table, df and
  // corpus stats persisted beside them. Search reads ONLY the buckets the
  // query vocabulary hashes into (read.buckets restricted scan) — no
  // corpus scan, no tokenization, no TF shuffle at query time. Output is
  // gated against the SAME oracle as text_search_bm25: the index path
  // must reproduce the scan path bit-for-bit.
  private def textSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = TextIndex.indexFor(s, dir)
    TextIndex.search(s, root, Bm25Queries.toDF("query_id", "term"), Bm25TopK)
  }

  // ---- text_search_indexed_multi -----------------------------------------
  // The amortization the standing index exists for, made measurable: K=3
  // successive query batches with DISJOINT vocabularies served from ONE
  // index build. Each batch pays only its own bucket-restricted postings
  // read (the bucket cover tracks the batch's vocabulary, never the
  // corpus); the tokenize+TF build cost is paid zero times here (the
  // standing index is memoized) and once ever per corpus. The oracle is
  // the scan-side BM25 SQL instantiated per workload and unioned — the
  // index must reproduce all three scans bit-for-bit.
  private def textSearchIndexedMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = TextIndex.indexFor(s, dir)
    Bm25Batches.map { case (b, qs) =>
      TextIndex.search(s, root, qs.toDF("query_id", "term"), Bm25TopK)
        .withColumn("batch", lit(b))
    }.reduce(_.unionAll(_))
      .select(col("batch"), col("query_id"), col("doc_id"),
        col("n_terms"), col("score"), col("rk"))
      .orderBy(col("batch").asc, col("query_id").asc, col("rk").asc)
  }

  // ---- text_lm_score -----------------------------------------------------
  // CCNet-style LM fluency scoring: train a character-bigram language model
  // on the corpus itself, score each document by its mean bigram
  // probability — fluent text in the corpus's dominant style scores high,
  // character noise / boilerplate scores low (the same train-on-reference,
  // score-everything shape as CCNet's KenLM perplexity filter; the mean
  // probability replaces mean log-prob because log() is not bit-specified
  // across engines while the pure-rational form is). Per-doc sums
  // accumulate INTEGER nano-units of each bigram's probability (the
  // exactSum pattern — float sums are order-dependent across engines, and
  // Spark's partial aggs don't fix an order). Scale shape: the "LM" is a
  // bigram→count table bounded by the charset² vocabulary, so training is
  // one map + one tiny shuffle and the model BROADCASTS to the scoring
  // join; scoring is explode → broadcast-join → one (doc_id) shuffle with
  // map-side partials. At 100 TB train on a sampled/reference slice and
  // broadcast the same way.
  private def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(length(col("text")) >= 2)
    // one-pass bigram expression: the transform+substr phrasing is O(n²)
    // per document (substr seeks from the string start each call)
    val big = d.select(col("doc_id"),
      explode(graft.functions.char_bigrams(col("text"))).as("g"))
    val c2 = big.groupBy("g").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(substring(col("g"), 1, 1).as("p")).agg(sum("c2").as("c1"))
    val probs = c2.join(c1, substring(col("g"), 1, 1) === col("p"))
      .select(col("g"),
        round(col("c2").cast("double") / col("c1") * 1e9, 0).cast("long")
          .as("p_nano"))
    // scoring: the trained LM is charset²-bounded, so it collects to a
    // (gram → p_nano) table and scores as ONE codegen'd map expression —
    // same integer nano-unit sums over the same code-point bigrams as the
    // explode → broadcast-join → (doc_id)-shuffle pipeline it replaced
    // (LmScoreSpec pins the equivalence; the gate hash still matches the
    // unchanged SQL oracle), but with zero scoring shuffles.
    d.select(col("doc_id"), lmDocScore(col("text"), probs).as("st"))
      .select(col("doc_id"), col("st").getItem(0).as("n_bigrams"),
        round(col("st").getItem(1).cast("double") / col("st").getItem(0) / 1e9, 6)
          .as("fluency"))
      .filter(col("n_bigrams") > 0) // inner-join semantics: unscored docs drop
      .orderBy("doc_id")
  }

  /** `lm_doc_score(text)` over the collected (gram, p_nano) table `probs`,
    * in gram order: the collect returns rows in arrival order, and a table
    * in that order would make the expression (and the plan fingerprint)
    * differ from run to run while scoring the same. */
  private[graft] def lmDocScore(text: Column, probs: DataFrame): Column = {
    val tbl = probs.collect().sortBy(_.getString(0))
    graft.functions.lm_doc_score(text, tbl.map(_.getString(0)), tbl.map(_.getLong(1)))
  }

  // ---- corpus_stats ------------------------------------------------------
  // Per-source corpus report — the numbers a pipeline operator reads before
  // setting filter cutoffs and mixture weights: doc/token volume, EXACT
  // rank-based token-count percentiles (p50/p90 as "value at row ceil(p·n)"
  // — pure integer rank selection, no interpolation, so any engine computes
  // the identical answer), mean quality, and how many docs are exact-dup
  // copies corpus-wide. Mean quality dodges float-sum order-dependence by
  // summing INTEGER micro-units of the rounded score (the rounded score is
  // already proven bit-identical cross-engine by the text_quality gate) —
  // one division at the end. Scale: one shuffle on source (rank window +
  // totals share it), one uniform shuffle on the content hash for the dup
  // flags; every post-agg join is |sources|-sized.
  private def corpusStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).filter(size(col("w")) > 0)
      .select(col("doc_id"), col("source"), col("text"),
        size(col("w")).cast("long").as("n_tokens"),
        round(round(qualityScore, 6) * 1e6).cast("long").as("q_micro"))
    val totals = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
      sum("q_micro").as("q_sum"))
    val byLen = Window.partitionBy("source")
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    val pcts = d.withColumn("rn", row_number().over(byLen))
      .join(totals.select("source", "n_docs"), "source")
      .groupBy("source").agg(
        max(when(col("rn") === expr("(n_docs * 50 + 99) div 100"),
          col("n_tokens"))).as("p50_tokens"),
        max(when(col("rn") === expr("(n_docs * 90 + 99) div 100"),
          col("n_tokens"))).as("p90_tokens"))
    val dups = d.select(col("source"), sha2(col("text"), 256).as("h"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("source")
      .agg(sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
    totals.join(pcts, "source").join(dups, "source")
      .select(col("source"), col("n_docs"), col("sum_tokens").as("n_tokens"),
        col("p50_tokens"), col("p90_tokens"),
        round(col("q_sum").cast("double") / col("n_docs") / 1e6, 6)
          .as("mean_quality"),
        col("n_dup_docs"))
      .orderBy("source")
  }

  // ---- text_compress_ratio ----------------------------------------------
  // ---- corpus_drift ------------------------------------------------------
  // Distribution-DRIFT report over the DSIR hashed-gram feature space —
  // the monitoring number a mixture pipeline reads to catch a source
  // whose content shifted (a crawl gone templated, a scrape swapping
  // language): per source, the χ² divergence between the source's
  // bag-of-buckets distribution and the corpus-wide one, smoothed add-1
  // over the same 1024 hashed uni+bigram buckets sample_dsir featurizes
  // with. χ² instead of KL DELIBERATELY: it is pure-rational (no ln), so
  // the whole report — counts, smoothing, the per-bucket terms — carries
  // a full independent DuckDB oracle (the repo's posture: log() never
  // crosses the engine boundary; sample_dsir pays the armed-literal
  // mechanism for its ln, the drift monitor doesn't have to). Per-bucket
  // terms round to integer nano-units BEFORE the per-source sum (float
  // sums are order-dependent across engines; integer sums aren't).
  // Scale shape: ONE (source, bucket) shuffle with map-side partials
  // (result ≤ |sources|·B rows), the scaffold/corpus joins are
  // B-bounded, the global total is a 1-row broadcast — never a collect.
  private[operators] val DriftB = graft.functions.DsirHash.Buckets

  /** The report tail over (source, h, c) gram-bucket counts — ONE
    * definition for the batch key and the streaming twin (whose standing
    * count table is additive, so its stream-end counts equal the batch
    * aggregation exactly). */
  private[graft] def driftReport(bySrc: DataFrame): DataFrame = {
    val s = bySrc.sparkSession
    val B = DriftB
    val tots = bySrc.groupBy("source").agg(sum("c").as("tot_s"))
    val corpus = bySrc.groupBy("h").agg(sum("c").as("c_all"))
    val totAll = corpus.agg(sum("c_all").as("tot_all"))
    val scaffold = tots.crossJoin(
      s.range(B).select(col("id").cast("int").as("h")))
    val ps = (coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("tot_s") + B)
    val pa = (coalesce(col("c_all"), lit(0L)) + 1).cast("double") / (col("tot_all") + B)
    scaffold
      .join(bySrc, Seq("source", "h"), "left")
      .join(corpus, Seq("h"), "left")
      .crossJoin(broadcast(totAll))
      .select(col("source"), col("tot_s"),
        round((ps - pa) * (ps - pa) / pa * 1e9).cast("long").as("t_nano"))
      .groupBy("source")
      .agg(max(col("tot_s")).as("n_grams"),
        round(sum(col("t_nano")).cast("double") / 1e9, 6).as("chi2"))
      .select(col("source"), col("n_grams"), col("chi2"))
      .orderBy("source")
  }

  private[graft] def driftCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(graft.functions.dsir_gram_buckets(col("text"))).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("c"))

  private def corpusDrift(s: SparkSession, dir: String): DataFrame =
    driftReport(driftCounts(t(s, dir, "documents")))

  /** The TWO-SNAPSHOT drift tail: per source, χ² between the source's
    * distribution in the NEW snapshot vs the OLD one (same smoothing and
    * integer-nano-term discipline as [[driftReport]]) — what a pipeline
    * reads after each ingest cycle to see which sources actually moved.
    * A source absent from the old snapshot compares against the uniform
    * add-1 prior (tot_o = 0), flagging it loudly rather than erroring. */
  private[graft] def driftPair(oldC: DataFrame, newC: DataFrame): DataFrame = {
    val s = newC.sparkSession
    val B = DriftB
    val totsN = newC.groupBy("source").agg(sum("c").as("tot_n"))
    val totsO = oldC.groupBy("source").agg(sum("c").as("tot_o"))
    val scaffold = totsN.join(totsO, Seq("source"), "left")
      .na.fill(0L, Seq("tot_o"))
      .crossJoin(s.range(B).select(col("id").cast("int").as("h")))
    val pn = (coalesce(col("cn"), lit(0L)) + 1).cast("double") / (col("tot_n") + B)
    val po = (coalesce(col("co"), lit(0L)) + 1).cast("double") / (col("tot_o") + B)
    scaffold
      .join(newC.select(col("source"), col("h"), col("c").as("cn")),
        Seq("source", "h"), "left")
      .join(oldC.select(col("source"), col("h"), col("c").as("co")),
        Seq("source", "h"), "left")
      .select(col("source"), col("tot_o"), col("tot_n"),
        round((pn - po) * (pn - po) / po * 1e9).cast("long").as("t_nano"))
      .groupBy("source")
      .agg(max("tot_o").as("n_grams_old"), max("tot_n").as("n_grams_new"),
        round(sum(col("t_nano")).cast("double") / 1e9, 6).as("chi2"))
      .orderBy("source")
  }

  /** The lance_drift oracle body: both snapshots re-derived from the
    * parquet with the gated key's own version-defining predicate. */
  private[operators] def driftPairOracleSql(oldWhere: String): String =
    s"""WITH d AS (SELECT doc_id, source, $wSql AS w FROM documents),
       |g AS (SELECT doc_id, source,
       |  list_concat(w, list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i + 1])) AS grams
       |  FROM d WHERE len(w) >= 1),
       |e AS (SELECT doc_id, source, unnest(list_transform(grams, gg ->
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length(gg) + 1),
       |      i -> CAST(ascii(gg[i:i]) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % 1000000007) % 1024 AS INT))) AS h
       |  FROM g),
       |cn AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c
       |  FROM e GROUP BY 1, 2),
       |co AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c
       |  FROM e WHERE $oldWhere GROUP BY 1, 2),
       |totn AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot_n
       |  FROM cn GROUP BY 1),
       |toto AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot_o
       |  FROM co GROUP BY 1),
       |scaffold AS (SELECT n.source, n.tot_n,
       |    coalesce(o.tot_o, 0) AS tot_o, CAST(r.range AS INT) AS h
       |  FROM totn n LEFT JOIN toto o USING (source), range(0, 1024) AS r),
       |pr AS (SELECT sc.source, sc.tot_o, sc.tot_n,
       |    CAST(coalesce(nn.c, 0) + 1 AS DOUBLE) / (sc.tot_n + 1024) AS pn,
       |    CAST(coalesce(oo.c, 0) + 1 AS DOUBLE) / (sc.tot_o + 1024) AS po
       |  FROM scaffold sc
       |  LEFT JOIN cn nn ON nn.source = sc.source AND nn.h = sc.h
       |  LEFT JOIN co oo ON oo.source = sc.source AND oo.h = sc.h),
       |term AS (SELECT source, tot_o, tot_n,
       |    CAST(round((pn - po) * (pn - po) / po * 1000000000.0) AS BIGINT)
       |      AS t_nano
       |  FROM pr)
       |SELECT source, max(tot_o) AS n_grams_old, max(tot_n) AS n_grams_new,
       |  round(CAST(sum(t_nano) AS DOUBLE) / 1000000000.0, 6) AS chi2
       |FROM term GROUP BY source ORDER BY source""".stripMargin

  // Compression-ratio quality signal (Gopher/Dolma posture): templated or
  // repetitive spam deflates far below natural prose, (near-)random bytes
  // barely deflate, so deflate_len/octet_length separates both junk tails
  // with one cheap pass. The banding thresholds are the conventional
  // web-filtering ones (repetitive < 0.30 ≤ natural ≤ 0.95 <
  // incompressible). Pure map stage inside whole-stage codegen (native
  // deflate via a codegen'd static call, [[graft.functions.DeflateLen]]);
  // the only exchange is the presentation ORDER BY. rows-only gated key —
  // no SQL engine exposes deflate — with the exact lengths pinned by a
  // driver-side-Deflater equivalence spec.
  private def textCompressRatio(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("n_deflate", graft.functions.deflate_len(col("text")))
      .withColumn("n_bytes", octet_length(col("text")).cast("long"))
      .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        round(col("n_deflate").cast("double") / col("n_bytes"), 6)
          .as("compress_ratio"),
        when(col("n_deflate").cast("double") / col("n_bytes") < 0.30, "repetitive")
          .when(col("n_deflate").cast("double") / col("n_bytes") > 0.95, "incompressible")
          .otherwise("natural").as("band"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_stats" -> corpusStats,
    "corpus_drift" -> corpusDrift,
    "text_compress_ratio" -> textCompressRatio,
    "text_commonness" -> textCommonness,
    "text_pack" -> textPack,
    "text_pack_bpe" -> textPackBpe,
    "text_chunk" -> textChunk,
    "text_chunk_bpe" -> textChunkBpe,
    "text_crossdup" -> textCrossdup,
    "text_source_cap" -> textSourceCap,
    "text_repetition" -> textRepetition,
    "text_tokens" -> textTokens,
    "text_tokens_bpe" -> textTokensBpe,
    "bpe_train" -> ((s, dir) => BpeTrainer.train(s, t(s, dir, "documents"), 48)),
    "bpe_train_tokenize" -> bpeTrainTokenize,
    "text_quality_classifier" -> ((s, dir) => QualityClassifier.run(s, dir)),
    "text_keywords" -> textKeywords,
    "text_search_bm25" -> textSearchBm25,
    "text_search_hybrid" -> textSearchHybrid,
    "text_search_indexed" -> textSearchIndexed,
    "text_search_indexed_multi" -> textSearchIndexedMulti,
    "text_lm_score" -> textLmScore,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_langid_ngram" -> textLangidNgram,
    "text_fingerprint" -> textFingerprint,
    "text_scrub" -> textScrub,
    "text_contamination" -> textContamination,
    "text_contamination_ratio" -> textContaminationRatio)

  private val wSql = """list_filter(regexp_split_to_array(text, '[\t\n\x0B\f\r ]+'), x -> x != '')"""

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The scan-side BM25 oracle instantiated for one query workload —
    * shared by the single-batch keys (Bm25Queries) and the K-batch
    * standing-index key (each batch's workload in turn). No ORDER BY:
    * callers append their own so the body can sit inside a UNION ALL. */
  private[operators] def bm25OracleBody(queries: Seq[(Long, String)]): String = {
      val queryValues = queries
        .map { case (id, term) => s"(CAST($id AS BIGINT), '$term')" }
        .mkString(", ")
      val vocabList = inList(queries.map(_._2).distinct)
      s"""WITH dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w
         |    FROM (SELECT doc_id, $wSql AS w FROM documents) WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
         |dt AS (SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
         |  WHERE term IN $vocabList
         |  GROUP BY 1, 2, 3),
         |dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
         |q(query_id, term) AS (VALUES $queryValues),
         |sc AS (SELECT q.query_id, dt.doc_id,
         |    CAST(round(round(
         |      (((CAST(n_docs AS DOUBLE) - df) + 0.5) / (df + 0.5))
         |      * ((CAST(tf AS DOUBLE) * 2.2)
         |        / (CAST(tf AS DOUBLE) + (1.2 * (0.25
         |          + ((0.75 * CAST(dl AS DOUBLE))
         |            / (CAST(sum_dl AS DOUBLE) / n_docs)))))),
         |      6) * 1000000.0) AS BIGINT) AS s_micro
         |  FROM dt JOIN dfreq USING (term) JOIN q USING (term), stats),
         |g AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    round(CAST(sum(s_micro) AS DOUBLE) / 1000000.0, 6) AS score
         |  FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, n_terms, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk FROM g)
         |SELECT query_id, doc_id, n_terms, score, rk FROM r WHERE rk <= $Bm25TopK""".stripMargin
  }

  private[operators] lazy val bm25OracleSql: String =
    bm25OracleBody(Bm25Queries) + "\nORDER BY query_id ASC, rk ASC"

  private[operators] lazy val bm25MultiOracleSql: String =
    Bm25Batches.map { case (b, qs) =>
      s"SELECT CAST($b AS BIGINT) AS batch, * FROM (${bm25OracleBody(qs)})"
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY batch ASC, query_id ASC, rk ASC")

  val oracleSql: Map[String, String] = Map(
    // integer rank selection + integer micro-unit quality sum keep every
    // aggregate order-independent — the only doubles are single divisions
    // the same featurize → count → smooth → χ² chain, independently: the
    // per-bucket term's double arithmetic is written in the IDENTICAL
    // operation order as the Spark column expression (every IEEE op is
    // correctly rounded, so same order ⇒ same bits), and the per-source
    // sum is over integer nano-units
    "corpus_drift" ->
      s"""WITH d AS (SELECT source, $wSql AS w FROM documents),
         |g AS (SELECT source,
         |  list_concat(w, list_transform(range(1, len(w)),
         |    i -> w[i] || ' ' || w[i + 1])) AS grams
         |  FROM d WHERE len(w) >= 1),
         |e AS (SELECT source, unnest(list_transform(grams, gg ->
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(gg) + 1),
         |      i -> CAST(ascii(gg[i:i]) AS BIGINT))),
         |    (h, c) -> (h * 31 + c) % 1000000007) % 1024 AS INT))) AS h
         |  FROM g),
         |bysrc AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c
         |  FROM e GROUP BY 1, 2),
         |tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot_s
         |  FROM bysrc GROUP BY 1),
         |corpus AS (SELECT h, CAST(sum(c) AS BIGINT) AS c_all
         |  FROM bysrc GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS tot_all FROM corpus),
         |scaffold AS (SELECT source, tot_s, CAST(r.range AS INT) AS h
         |  FROM tots, range(0, 1024) AS r),
         |pr AS (SELECT sc.source, sc.tot_s,
         |    CAST(coalesce(b.c, 0) + 1 AS DOUBLE) / (sc.tot_s + 1024) AS ps,
         |    CAST(coalesce(co.c_all, 0) + 1 AS DOUBLE) / (t.tot_all + 1024) AS pa
         |  FROM scaffold sc
         |  LEFT JOIN bysrc b ON b.source = sc.source AND b.h = sc.h
         |  LEFT JOIN corpus co ON co.h = sc.h, tot t),
         |term AS (SELECT source, tot_s,
         |    CAST(round((ps - pa) * (ps - pa) / pa * 1000000000.0) AS BIGINT)
         |      AS t_nano
         |  FROM pr)
         |SELECT source, max(tot_s) AS n_grams,
         |  round(CAST(sum(t_nano) AS DOUBLE) / 1000000000.0, 6) AS chi2
         |FROM term GROUP BY source ORDER BY source""".stripMargin,
    "corpus_stats" ->
      s"""WITH d AS (SELECT doc_id, source, text, $wSql AS w FROM documents),
         |s AS (SELECT doc_id, source, text,
         |    CAST(len(w) AS DOUBLE) AS nt,
         |    CAST(len(list_filter(w, x -> x IN ${inList(StopEn)})) AS DOUBLE) AS sc,
         |    CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dr,
         |    CAST(len(w) AS BIGINT) AS n_tokens
         |  FROM d WHERE len(w) > 0),
         |b AS (SELECT doc_id, source, text, n_tokens,
         |    CAST(round(round($qualityScoreSql, 6) * 1000000.0) AS BIGINT) AS q_micro
         |  FROM s),
         |t AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |    CAST(sum(q_micro) AS BIGINT) AS q_sum
         |  FROM b GROUP BY source),
         |r AS (SELECT source, n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn
         |  FROM b),
         |p AS (SELECT r.source,
         |    max(CASE WHEN r.rn = (t.n_docs * 50 + 99) // 100 THEN r.n_tokens END) AS p50_tokens,
         |    max(CASE WHEN r.rn = (t.n_docs * 90 + 99) // 100 THEN r.n_tokens END) AS p90_tokens
         |  FROM r JOIN t USING (source) GROUP BY r.source),
         |h AS (SELECT source, count(*) OVER (PARTITION BY sha256(text)) AS cnt FROM b),
         |dup AS (SELECT source,
         |    CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
         |  FROM h GROUP BY source)
         |SELECT t.source, t.n_docs, t.sum_tokens AS n_tokens,
         |  p.p50_tokens, p.p90_tokens,
         |  round(CAST(t.q_sum AS DOUBLE) / t.n_docs / 1000000.0, 6) AS mean_quality,
         |  dup.n_dup_docs
         |FROM t JOIN p USING (source) JOIN dup USING (source)
         |ORDER BY source""".stripMargin,
    "text_keywords" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |r AS (SELECT tf.doc_id, tf.term,
         |    round(tf.tf * (n.n_docs + 1.0) / (df.df + 1.0), 6) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |k AS (SELECT doc_id, term, score,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term ASC) AS BIGINT) AS rk FROM r)
         |SELECT doc_id, term, score, rk FROM k WHERE rk <= $KeywordK
         |ORDER BY doc_id ASC, rk ASC""".stripMargin,
    // BM25 with rational idf; micro-unit integer term-score sums keep the
    // per-(query,doc) aggregate order-independent; every double op is
    // mirrored with identical parenthesization
    "text_search_bm25" -> bm25OracleSql,
    "text_search_hybrid" -> hybridOracleSql,
    // the index path must reproduce the scan path exactly — same oracle
    "text_search_indexed" -> bm25OracleSql,
    // three disjoint workloads from one build — union of three scan oracles
    "text_search_indexed_multi" -> bm25MultiOracleSql,
    "text_lm_score" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, length(text)),
        |    i -> substring(text, CAST(i AS INTEGER), 2))) AS g FROM d),
        |c2 AS (SELECT g, count(*) AS c2 FROM big GROUP BY g),
        |c1 AS (SELECT substring(g, 1, 1) AS p, CAST(sum(c2) AS BIGINT) AS c1
        |  FROM c2 GROUP BY 1),
        |probs AS (SELECT g,
        |    CAST(round(CAST(c2 AS DOUBLE) / c1 * 1000000000.0, 0) AS BIGINT) AS p_nano
        |  FROM c2 JOIN c1 ON substring(g, 1, 1) = c1.p)
        |SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(p_nano) AS DOUBLE) / count(*) / 1000000000.0, 6) AS fluency
        |FROM big JOIN probs USING (g)
        |GROUP BY big.doc_id ORDER BY big.doc_id""".stripMargin,
    // head/tail dictionary split is a PLAN detail — the oracle states the
    // semantics directly: count every word, join, aggregate per doc
    "text_commonness" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |t AS (SELECT doc_id, unnest(w) AS tok FROM d WHERE len(w) > 0),
         |c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |  round(CAST(sum(c.c) AS DOUBLE) / count(*), 6) AS mean_tf,
         |  min(c.c) AS min_tf,
         |  round(CAST(sum(CASE WHEN c.c <= $RareTf THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS rare_frac
         |FROM t JOIN c USING (tok)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "text_chunk" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |n AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) > 0),
         |s AS (SELECT doc_id, w, n, unnest(range(0, n, $ChunkStride)) AS start FROM n)
         |SELECT doc_id, CAST(start // $ChunkStride AS BIGINT) AS chunk_idx,
         |  CAST(least($ChunkTokens, n - start) AS BIGINT) AS chunk_tokens,
         |  CAST(list_sum(list_transform(
         |    list_slice(w, start + 1, start + least($ChunkTokens, n - start)),
         |    x -> length(x))) AS BIGINT) AS chunk_chars
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_source_cap" ->
      s"""WITH d AS (SELECT doc_id, source, $wSql AS w FROM documents),
         |s AS (SELECT doc_id, source,
         |  CAST(len(w) AS DOUBLE) AS nt,
         |  CAST(len(list_filter(w, x -> x IN ${inList(StopEn)})) AS DOUBLE) AS sc,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dr
         |  FROM d WHERE len(w) >= 1),
         |q AS (SELECT doc_id, source, round($qualityScoreSql, 6) AS q FROM s),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS BIGINT) AS rk FROM q)
         |SELECT doc_id, source, q, rk FROM r WHERE rk <= $SourceCap
         |ORDER BY source, rk""".stripMargin,
    "text_tokens" ->
      s"""WITH d AS (SELECT doc_id, text, $wSql AS w FROM documents)
         |SELECT doc_id, len(w) AS n_ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_re_tokens,
         |  len(regexp_extract_all(text, '$BpeIsh')) AS n_bpe_tokens,
         |  len(list_distinct(w)) AS n_distinct,
         |  round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6) AS avg_token_len
         |FROM d ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH d AS (SELECT doc_id, n_chars, $wSql AS w FROM documents),
         |s AS (SELECT doc_id, n_chars,
         |  CAST(len(w) AS DOUBLE) AS nt, len(w) AS n_tokens,
         |  CAST(len(list_filter(w, x -> x IN ${inList(StopEn)})) AS DOUBLE) AS sc,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dr
         |  FROM d)
         |SELECT doc_id, n_chars, n_tokens,
         |  round(dr, 6) AS distinct_ratio,
         |  round(sc / nt, 6) AS stop_ratio,
         |  round(least(1.0, nt / 100.0) * 0.4 + dr * 0.4 + least(1.0, sc / nt * 5.0) * 0.2, 6) AS quality
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_langid" -> {
      val scoreExprs = StopSets.map { case (l, words) =>
        s"len(list_filter(w, x -> x IN ${inList(words)})) AS score_$l"
      }.mkString(",\n  ")
      val best = StopSets.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val whens = StopSets.map { case (l, _) =>
        s"WHEN score_$l = $best THEN '$l'"
      }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, lang, $wSql AS w FROM documents),
         |s AS (SELECT doc_id, lang, $scoreExprs FROM d),
         |p AS (SELECT *, CASE $whens ELSE '??' END AS pred_lang FROM s)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
         |  pred_lang, lang, pred_lang = lang AS is_match
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // oracle builds the same 3-word shingle sets as strings (hashed-set
    // overlap == string-set overlap modulo 64-bit collisions, ~1e-9 here)
    "text_contamination" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3),
         |o AS (SELECT c.doc_id, b.doc_id AS bid,
         |    len(list_intersect(c.s, b.s)) AS n
         |  FROM g c JOIN g b
         |    ON c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0)
         |SELECT doc_id, CAST(max(n) AS BIGINT) AS max_overlap,
         |  count(*) AS n_matched
         |FROM o WHERE n >= $ContaminationTau
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // containment variant: ratio thresholds the UNROUNDED division in both
    // engines; only the reported column is rounded
    "text_contamination_ratio" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3),
         |o AS (SELECT c.doc_id, b.doc_id AS bid,
         |    CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS overlap,
         |    CAST(len(b.s) AS BIGINT) AS b_size
         |  FROM g c JOIN g b
         |    ON c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0)
         |SELECT doc_id, bid, overlap, b_size,
         |  round(CAST(overlap AS DOUBLE) / b_size, 6) AS containment
         |FROM o WHERE CAST(overlap AS DOUBLE) / b_size >= $ContainRatio
         |ORDER BY doc_id, bid""".stripMargin,
    "text_crossdup" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, len(w) - 1),
         |  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS g
         |  FROM d WHERE len(w) >= 3),
         |c AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  round(CAST(sum(CASE WHEN c.nd >= $CrossdupMinDocs THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS crossdup_frac
         |FROM g JOIN c ON g.g = c.g GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |f AS (SELECT doc_id, w FROM d WHERE len(w) >= 3),
         |g AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS grams
         |  FROM f),
         |top AS (SELECT doc_id, max(c) AS top_tok FROM (
         |  SELECT doc_id, t, count(*) AS c FROM (
         |    SELECT doc_id, unnest(w) AS t FROM f) GROUP BY doc_id, t)
         |  GROUP BY doc_id)
         |SELECT g.doc_id, g.n_tokens,
         |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         |    AS dup_gram_frac,
         |  round(CAST(top.top_tok AS DOUBLE) / g.n_tokens, 6) AS top_token_share
         |FROM g JOIN top ON g.doc_id = top.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    "text_pack" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($wSql) AS BIGINT) AS n_tokens,
         |  doc_id % $PackShards AS shard FROM documents),
         |c AS (SELECT *, sum(n_tokens) OVER
         |  (PARTITION BY shard ORDER BY doc_id) - n_tokens AS start FROM d)
         |SELECT shard, CAST(floor(start / $PackBudget.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc
         |FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin,
    "text_scrub" ->
      s"""WITH a AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS text
         |  FROM documents),
         |c AS (SELECT doc_id, text,
         |  regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS clean
         |  FROM a)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ip,
         |  CAST(length(clean) AS BIGINT) AS len_clean,
         |  right(clean, 22) AS tail_clean
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH f AS (SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i:i]) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, fp % 1024 AS fp_bucket FROM f ORDER BY doc_id""".stripMargin)
}
