package graft.operators

import graft.{QueryModule, Tables}
import graft.sources.lance.LanceCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.util.UUID

/** Driver-contract queries for the lance-style connector (§A of the
  * inventory): each writes a dataset through the connector, reads it back,
  * and reduces to a small deterministic result the DuckDB oracle reproduces
  * from the ORIGINAL parquet — value-equality proves the roundtrip.
  */
object LanceOps extends QueryModule {
  import Tables._

  private def tmp(prefix: String): String = FixtureMemo.tempDir(prefix)

  private def read(s: SparkSession, root: String): DataFrame =
    s.read.format("lance").load(root)

  // ---- basic roundtrip / modes ------------------------------------------

  private def roundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("roundtrip")
    t(s, dir, "customer").write.format("lance").save(root)
    read(s, root).agg(
      count(lit(1)).as("n"),
      min("c_custkey").as("min_key"),
      max("c_custkey").as("max_key"),
      exactSum(col("c_acctbal"), 100L).as("sum_bal"))
  }

  private def overwrite(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("overwrite")
    t(s, dir, "region").write.format("lance").save(root)
    // overwrite replaces the dataset contents entirely (new manifest, no
    // union with v1) — reading back must see only nation
    t(s, dir, "nation").write.format("lance").mode("overwrite").save(root)
    read(s, root).agg(
      count(lit(1)).as("n"),
      min("n_nationkey").as("min_key"),
      max("n_nationkey").as("max_key"))
  }

  private def appendMulti(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("append")
    val orders = t(s, dir, "orders")
    orders.write.format("lance").option("maxRowsPerFile", "4000").save(root)
    // second append: manifest v2 = v1 fragments + the new ones
    orders.write.format("lance").option("maxRowsPerFile", "4000")
      .mode("append").save(root)
    read(s, root).agg(
      count(lit(1)).as("n"),
      count_distinct(col("o_orderkey")).as("n_keys"))
  }

  // ---- pushdowns ---------------------------------------------------------

  private def projection(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("projection")
    t(s, dir, "part").write.format("lance").save(root)
    read(s, root)
      .select("p_partkey", "p_name") // column pruning reaches the scan
      .orderBy("p_partkey")
      .limit(20)
  }

  private def filterPushdown(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("filter")
    t(s, dir, "orders").write.format("lance").option("maxRowsPerFile", "2000").save(root)
    read(s, root)
      .filter(col("o_orderpriority").isNotNull &&
        (col("o_orderstatus") === "F" || col("o_orderstatus") === "O") &&
        col("o_custkey") < 500 &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
  }

  private def limitPushdown(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("limit")
    t(s, dir, "orders").write.format("lance").option("maxRowsPerFile", "2000").save(root)
    read(s, root).limit(137).agg(count(lit(1)).as("n"))
  }

  private def aggPushdown(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("agg")
    // price_dec: exact decimal column (integral + exact quarter) so the
    // decimal SUM/AVG stats answers are reproducible in the oracle
    t(s, dir, "orders")
      .withColumn("price_dec",
        expr("CAST(CAST(o_custkey AS DECIMAL(10,2)) + 0.25 AS DECIMAL(12,2))"))
      .write.format("lance").option("maxRowsPerFile", "3000").save(root)
    // answered from manifest stats (LanceStatsScan): zero data files read
    read(s, root).agg(
      count(lit(1)).as("n"),
      count(col("o_custkey")).as("n_cust"),
      min("o_custkey").as("min_cust"),
      max("o_custkey").as("max_cust"),
      min("o_totalprice").as("min_price"),
      max("o_totalprice").as("max_price"),
      sum("o_custkey").as("sum_cust"),
      avg("o_custkey").as("avg_cust"),
      sum(col("price_dec")).cast("double").as("sum_dec"),
      avg(col("price_dec")).cast("double").as("avg_dec"),
      min("o_orderstatus").as("min_status"),
      max("o_orderstatus").as("max_status"),
      count_distinct(col("o_orderstatus")).as("n_status"))
  }

  /** Aggregates under an exactly-enforced filter: orders land in
    * status-pure appends, so `o_orderstatus = 'F'` provably decides every
    * fragment (all-match or empty from manifest stats) — the filter is
    * consumed by fragment pruning and COUNT/SUM/MIN/MAX/AVG answer from
    * the manifest with zero data files read (reference filters before
    * aggregating source-side: AggregateExecutor.java:102-161). */
  private def filteredAgg(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("filtagg")
    val orders = t(s, dir, "orders")
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").option("maxRowsPerFile", "3000").save(root)
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "3000").save(root)
    read(s, root).filter(col("o_orderstatus") === "F").agg(
      count(lit(1)).as("n"),
      count(col("o_custkey")).as("n_cust"),
      sum("o_custkey").as("sum_cust"),
      min("o_orderkey").as("min_key"),
      max("o_orderkey").as("max_key"),
      avg("o_custkey").as("avg_cust"))
  }

  /** GROUP BY pushdown: one append per status clusters the dataset by the
    * group key, so every fragment is single-valued in `o_orderstatus` and
    * grouped COUNT/SUM/MIN/MAX answer from per-fragment stats — zero data
    * files read (reference: AggregateExecutor.java:81-197 keeps per-group
    * state source-side). */
  private def aggGroupBy(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("groupby")
    val orders = t(s, dir, "orders")
    for (st <- Seq("F", "O", "P"))
      orders.filter(col("o_orderstatus") === st)
        .write.format("lance").mode("append").option("maxRowsPerFile", "3000").save(root)
    read(s, root).groupBy("o_orderstatus").agg(
      count(lit(1)).as("n"),
      sum("o_custkey").as("sum_cust"),
      min("o_orderkey").as("min_key"),
      max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  // ---- versioning --------------------------------------------------------

  private def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("timetravel")
    val region = t(s, dir, "region")
    region.write.format("lance").save(root) // version 1
    region.write.format("lance").mode("append").save(root) // version 2
    val v1 = s.read.format("lance").option("versionAsOf", "1").load(root)
      .agg(count(lit(1))).first().getLong(0)
    val v2 = read(s, root).agg(count(lit(1))).first().getLong(0)
    import s.implicits._
    Seq((v1, v2)).toDF("v1_rows", "v2_rows")
  }

  // ---- type matrix -------------------------------------------------------

  private def typesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("types")
    val src = t(s, dir, "embeddings").select(
      col("vec_id"),
      col("embedding"), // array<float>
      col("label"), // int32
      encode(col("vec_id").cast("string"), "UTF-8").as("bin"), // binary
      date_add(lit(java.sql.Date.valueOf("2000-01-01")),
        (col("vec_id") % 1000).cast("int")).as("d"), // date
      timestamp_millis(col("vec_id") * 1000).as("ts"), // timestamp
      // timestamp_ntz (UTC session ⇒ same wall-clock as ts)
      timestamp_millis(col("vec_id") * 1000).cast("timestamp_ntz").as("tsn"),
      (col("vec_id").cast(DecimalType(18, 4)) + lit(0.5)).cast(DecimalType(18, 4)).as("dec"),
      concat(lit("v"), col("vec_id").cast("string")).as("str"),
      // nested types (reference: LanceTypeConverter.java:383-389 maps ROW/ARRAY)
      struct(col("vec_id").as("id"),
        concat(lit("s"), col("vec_id").cast("string")).as("tag")).as("st"),
      array(struct(col("vec_id").as("v")),
        struct((col("vec_id") * 2).as("v"))).as("arr_st"))
    src.write.format("lance").save(root)
    read(s, root).agg(
      count(lit(1)).as("n"),
      sum(size(col("embedding"))).as("emb_cells"),
      sum(round(element_at(col("embedding"), 1).cast("double") * 1000000.0, 0).cast("long"))
        .as("emb_checksum"),
      sum(length(col("bin"))).as("bin_bytes"),
      min("d").as("d_min"), max("d").as("d_max"),
      min("ts").as("ts_min"), max("ts").as("ts_max"),
      min("tsn").as("tsn_min"), max("tsn").as("tsn_max"),
      sum(col("dec")).cast("double").as("dec_sum"),
      count_distinct(col("str")).as("n_str"),
      sum(col("st").getField("id")).as("st_id_sum"),
      count_distinct(col("st").getField("tag")).as("n_st_tag"),
      sum(size(col("arr_st"))).as("arr_cells"),
      sum(expr("aggregate(arr_st, CAST(0 AS BIGINT), (a, x) -> a + x.v)")).as("arr_v_sum"))
  }

  // ---- SQL catalog -------------------------------------------------------

  /** Stable warehouse so the session-cached catalog instance stays valid;
    * table names are unique per invocation. Explicitly file:-qualified so
    * creation here and every later catalog resolution hit the SAME
    * (local) filesystem even when the session sets a non-local
    * fs.defaultFS. */
  private val warehouse = {
    val w = "file:/tmp/graft-lance-warehouse"
    val p = new org.apache.hadoop.fs.Path(w)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).mkdirs(p)
    w
  }

  /** Registers the `graft_lance` catalog on `s` (the same two values on
    * every call, so the session-cached plugin stays valid), ensures its
    * `db` namespace, and returns one fresh table name per prefix, all
    * `<prefix>_<32 hex>` with one shared suffix. Each key keeps its own
    * prefix: Bench's plan normalizer strips only the hex suffix. */
  private def catalogTables(s: SparkSession, prefixes: String*): Seq[String] = {
    s.conf.set("spark.sql.catalog.graft_lance", classOf[LanceCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_lance.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_lance.db")
    val sfx = UUID.randomUUID().toString.replace("-", "")
    prefixes.map(p => s"${p}_$sfx")
  }

  /** Copies `df` into the new catalog table `graft_lance.db.<tbl>` with SQL
    * `CREATE TABLE … AS SELECT` (the V2 CTAS write the SQL keys gate),
    * reading the temp view `src_<tbl>`, which stays registered for reuse. */
  private def ctas(tbl: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(s"src_$tbl")
    df.sparkSession.sql(s"CREATE TABLE graft_lance.db.$tbl AS SELECT * FROM src_$tbl")
  }

  private def sqlCatalog(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "t")
    ctas(tbl, t(s, dir, "nation"))
    s.sql(s"INSERT INTO graft_lance.db.$tbl SELECT * FROM src_$tbl") // append → V2 write
    s.sql(
      s"""SELECT count(*) AS n, count(DISTINCT n_nationkey) AS n_keys,
         |  min(n_name) AS first_name, max(n_name) AS last_name
         |FROM graft_lance.db.$tbl""".stripMargin)
  }

  /** DELETE FROM through the catalog: row-level predicate delete, then the
    * survivors must equal the oracle's complement filter on the source. */
  private def deleteOp(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "t")
    ctas(tbl, t(s, dir, "orders"))
    s.sql(s"DELETE FROM graft_lance.db.$tbl " +
      "WHERE o_orderstatus = 'F' OR o_custkey < 100")
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         |  count(DISTINCT o_orderstatus) AS n_status
         |FROM graft_lance.db.$tbl""".stripMargin)
  }

  /** UPDATE through the catalog: the delta row-level path (delete vectors
    * on the matched rows' fragments + insert fragments for their new
    * versions), verified against the oracle's CASE-expression equivalent
    * on the source. */
  private def updateOp(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "t")
    ctas(tbl, t(s, dir, "orders"))
    s.sql(s"UPDATE graft_lance.db.$tbl SET o_custkey = o_custkey + 1000000 " +
      "WHERE o_orderstatus = 'F'")
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         |FROM graft_lance.db.$tbl""".stripMargin)
  }

  /** INSERT INTO ... REPLACE WHERE through the catalog: one atomic commit
    * deletes the matching rows (DV sidecars / fragment drops) and appends
    * the replacement — verified against the oracle's complement + union. */
  private def replaceOp(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "t")
    ctas(tbl, t(s, dir, "orders"))
    // replace the 'F' segment with a recomputed summary slice of itself
    s.sql(s"INSERT INTO graft_lance.db.$tbl REPLACE WHERE o_orderstatus = 'F' " +
      s"SELECT o_orderkey, o_custkey + 5000000, o_orderstatus, o_totalprice, " +
      s"o_orderdate, o_orderpriority FROM src_$tbl WHERE o_orderstatus = 'F'")
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         |FROM graft_lance.db.$tbl""".stripMargin)
  }

  /** Clustered SQL writes: TBLPROPERTIES('write.cluster-by') persists in
    * the manifest and every INSERT requests a global sort on the key via
    * RequiresDistributionAndOrdering — fragments come out single-valued in
    * the key, so the grouped aggregate answers from per-fragment stats
    * (LanceSpec asserts the LanceStatsScan plan; here the values gate). */
  private def clusteredWrite(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "t")
    val view = s"src_$tbl"
    t(s, dir, "orders").createOrReplaceTempView(view)
    s.sql(s"CREATE TABLE graft_lance.db.$tbl " +
      "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING) " +
      "TBLPROPERTIES('write.cluster-by'='o_orderstatus', 'write.sort-by'='o_orderkey')")
    s.sql(s"INSERT INTO graft_lance.db.$tbl " +
      s"SELECT o_orderkey, o_custkey, o_orderstatus FROM $view")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM graft_lance.db.$tbl GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** MERGE INTO through the delta (merge-on-read) row-level path: matched
    * rows update via DV + re-insert, unmatched rows insert — one atomic
    * commit, no untouched-fragment rewrites. The key re-aggregates the
    * final table; the oracle reconstructs the same end state
    * declaratively. */
  private def mergeOp(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "m")
    val view = s"src_$tbl"
    t(s, dir, "orders").createOrReplaceTempView(view)
    s.sql(s"CREATE TABLE graft_lance.db.$tbl AS " +
      s"SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice " +
      s"FROM $view WHERE o_orderkey % 3 <> 0")
    s.sql(
      s"""MERGE INTO graft_lance.db.$tbl t
         |USING (SELECT o_orderkey, o_custkey FROM $view WHERE o_custkey < 500) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET t.o_totalprice = -CAST(s.o_custkey AS DOUBLE) - 1.0
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice)
         |  VALUES (s.o_orderkey, s.o_custkey, -CAST(s.o_custkey AS DOUBLE) - 1.0)""".stripMargin)
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         |  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_merged
         |FROM graft_lance.db.$tbl""".stripMargin)
  }

  /** Z-order rewrite (CALL system.zorder analog): re-cluster by the Morton
    * interleave of two numeric columns so range slices on EITHER dimension
    * prune fragments; the key re-aggregates after the rewrite, proving the
    * row set is untouched. */
  private def zorderOp(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("zorder")
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    graft.sources.lance.LanceMaintenance.zorder(s, root,
      Seq("o_orderkey", "o_custkey"), targetRows = 2000)
    read(s, root)
      .filter(col("o_custkey") < 300)
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** SQL-callable vector search — CALL system.knn, reference parity with
    * the Flink table function (table/LanceVectorSearchFunction.java:1-357).
    * The gate table carries no index sidecar, so the procedure's exact
    * brute-force path (codegen'd distance + TakeOrderedAndProject) answers
    * and the DuckDB oracle reproduces it symbol-for-symbol; the indexed
    * path is spec-covered against IndexBuild.search. */
  private def knnSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "knn")
    ctas(tbl, t(s, dir, "embeddings"))
    // the query vector ships as an array literal — Double.toString
    // round-trips exactly, so the CALL sees bit-identical values
    val qv = t(s, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
    val lits = qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
    s.sql(s"CALL graft_lance.system.knn(table => 'db.$tbl', " +
        s"query => array($lits), k => 10)")
      .orderBy(col("dist").asc, col("id").asc)
  }

  /** SQL-callable BATCH retrieval — CALL system.knn_join over two catalog
    * tables (the set-oriented form of the reference's lateral table
    * function). The gate corpus carries no index, so the procedure trains
    * ad-hoc cells and full probes make the join exact — the same DuckDB
    * exact-KNN oracle as the Scala-API knn_join key. */
  private def knnJoinSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tq, tc) = catalogTables(s, "kjq", "kjc")
    val e = t(s, dir, "embeddings")
    ctas(tc, e)
    ctas(tq, e.filter(col("vec_id") < 20))
    s.sql(s"CALL graft_lance.system.knn_join(queries => 'db.$tq', " +
        s"corpus => 'db.$tc', k => 5, cells => 8, nprobes => 8, " +
        "exclude_self => true)")
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** SQL-callable DECONTAMINATION — CALL system.decontaminate over two
    * catalog tables (corpus + the standing benchmark), survivors (every
    * corpus column) materialized to a lance output table the key reads
    * back. Both n-gram rules active (overlap >= 3 OR containment >= 0.5);
    * the oracle reproduces them with string shingles — the inverse of
    * text_contamination's flag set union'd with the ratio rule's. */
  private def decontaminateSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, tb, to) = catalogTables(s, "decc", "decb", "deco")
    ctas(tc, t(s, dir, "documents").filter(col("doc_id") % 20 =!= 0))
    ctas(tb, t(s, dir, "documents").filter(col("doc_id") % 20 === 0))
    s.sql(s"CALL graft_lance.system.decontaminate(corpus => 'db.$tc', " +
      s"bench => 'db.$tb', min_overlap => 3, min_containment => 0.5, " +
      s"output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** The semdedup procedure's gated key: embeddings → a catalog table →
    * CALL system.semdedup at the trained family's defaults (τ=0.4,
    * 16 cells) → the survivor table's (vec_id, label). The DuckDB oracle
    * re-derives the whole pipeline from the procedure's recorded
    * centroid literals (assignment argmin → in-cell pairs → recursive
    * closure → anti-join) — the same gate shape as
    * dedup_semantic_trained, entered through SQL. */
  private def semdedupSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "semc", "semo")
    ctas(tc, t(s, dir, "embeddings"))
    graft.operators.OracleArming.arming("lance_semdedup") {
      s.sql(s"CALL graft_lance.system.semdedup(table => 'db.$tc', " +
        s"output_table => 'db.$to')")
    }
    s.table(s"graft_lance.db.$to")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** SQL-served DIVERSIFIED retrieval — CALL system.knn(mode => 'mmr')
    * (r20; closes VERDICT r19 item 1): one CALL per fixture query over an
    * un-indexed catalog copy of the embeddings, so the procedure's exact
    * brute-force candidate stage answers (the knn_sql_call posture — the
    * probe-pruned indexed path is spec-covered against the gated key) and
    * knn_mmr's recursive-CTE DuckDB oracle gates the whole SQL route:
    * literal marshalling, procedure binding, candidate ranking, greedy
    * tail. Query vectors ship as Double.toString literals (exact
    * roundtrip); the gated key's self-exclusion rides the CALL's `filter`
    * parameter. */
  private def knnMmrSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "mmr")
    val e = t(s, dir, "embeddings")
    ctas(tbl, e)
    val excl = VectorSearch.MmrQueries.map(_._2)
    VectorSearch.MmrQueries.map { case (q, vid) =>
      val qv = e.filter(col("vec_id") === vid)
        .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
      val lits = qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
      s.sql(s"CALL graft_lance.system.knn(table => 'db.$tbl', " +
          s"query => array($lits), mode => 'mmr', metric => 'cosine', " +
          s"k => ${VectorSearch.MmrK}, candidates => ${VectorSearch.MmrN}, " +
          s"filter => 'vec_id NOT IN (${excl.mkString(", ")})')")
        .select(lit(q).as("query_id"), col("id").as("doc_id"),
          col("rk"), col("cos"), col("mmr_micro"))
    }.reduce(_.unionByName(_)).orderBy("query_id", "rk")
  }

  /** SQL-served LATE-INTERACTION retrieval — CALL system.knn(mode =>
    * 'maxsim') (r20): the catalog table is the gated key's doc-token
    * derivation (one (doc_id, token-vector) row per doc token), the CALL
    * carries each query's token SET as query_toks => array(array(...)),
    * and knn_maxsim's DuckDB oracle gates the SQL route end to end. */
  private def knnMaxSimSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tbl) = catalogTables(s, "mxs")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    ctas(tbl, VectorSearch.maxSimDocTokens(e, e.count()))
    VectorSearch.MaxSimQueries.map { q =>
      val tokLits = (0 until 3).map { j =>
        val v = e.filter(col("vec_id") === 100 * q + j)
          .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
        "array(" + v.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ") + ")"
      }.mkString(", ")
      s.sql(s"CALL graft_lance.system.knn(table => 'db.$tbl', " +
          s"mode => 'maxsim', metric => 'cosine', id_column => 'doc_id', " +
          s"k => ${VectorSearch.MaxSimK}, query_toks => array($tokLits))")
        .select(lit(q).as("query_id"), col("id").as("doc_id"),
          col("score"), col("rk"))
    }.reduce(_.unionByName(_)).orderBy(col("query_id").asc, col("rk").asc)
  }

  /** SQL-served HYBRID retrieval — CALL system.hybrid (r20): catalog
    * copies of the documents (text corpus) and embeddings (vector store,
    * un-indexed ⇒ exact brute vector arm), one CALL per fixture query
    * with its BM25 terms + query vector, gated on text_search_hybrid's
    * full oracle — the lexical arm is INDEX-served inside the procedure
    * (built once, corpus-version-keyed) and proven scan-identical by
    * text_search_indexed's own gate, so the fused rows must reproduce
    * the batch key's bit-for-bit. */
  private def hybridSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(td, tv) = catalogTables(s, "hyd", "hyv")
    ctas(td, t(s, dir, "documents").select("doc_id", "text"))
    val e = t(s, dir, "embeddings")
    ctas(tv, e)
    TextAnalysis.HybridQueryVecs.map { case (q, vid) =>
      val terms = TextAnalysis.Bm25Queries.filter(_._1 == q).map(_._2).mkString(" ")
      val qv = e.filter(col("vec_id") === vid)
        .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
      val lits = qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
      s.sql(s"CALL graft_lance.system.hybrid(table => 'db.$td', " +
          s"vector_table => 'db.$tv', terms => '$terms', " +
          s"query_vec => array($lits), k => ${TextAnalysis.Bm25TopK})")
        .select(lit(q).as("query_id"), col("id").as("doc_id"),
          col("n_arms"), col("rrf"), col("rk"))
    }.reduce(_.unionByName(_)).orderBy(col("query_id").asc, col("rk").asc)
  }

  /** SQL-callable EXACT DEDUP — CALL system.dedup(method => 'exact')
    * (r20): a catalog copy of the documents deduplicates by content hash
    * into a materialized survivor table (min doc_id keeps per sha2-256
    * group, every column), which the key reads back. The oracle re-derives
    * the survivor set declaratively in DuckDB — so the procedure's hash
    * groupBy, semi-join and distributed write are all value-gated. */
  private def dedupSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "ddc", "ddo")
    ctas(tc, t(s, dir, "documents"))
    s.sql(s"CALL graft_lance.system.dedup(table => 'db.$tc', " +
      s"method => 'exact', output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** SQL-callable NEAR-DUP PAIRS — CALL system.dedup(method => 'pairs')
    * (r20): the banded MinHash-LSH pipeline over a catalog table, rows
    * returned directly (near-dup pairs are small by construction; the
    * driver cap + output_table escape guard the degenerate corpus).
    * Shares dedup_minhash_lsh's all-pairs exact-Jaccard oracle verbatim —
    * the procedure must reproduce the gated key's pair set and values. */
  private def dedupPairsSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "ddp")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.dedup(table => 'db.$tc', method => 'pairs')")
      .orderBy("a_id", "b_id")
  }

  /** SQL-callable NEAR-DUP CLUSTERS — CALL system.dedup(method =>
    * 'clusters') (r20): connected components over the verified pairs via
    * the gated key's label propagation, returned as the per-component
    * report. Shares dedup_clusters' recursive-CTE oracle verbatim. */
  private def dedupClustersSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "ddk")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.dedup(table => 'db.$tc', method => 'clusters')")
      .orderBy("keep_id")
  }

  /** SQL-callable CANONICAL SELECTION — CALL system.dedup(method =>
    * 'canonical') (r20): best-quality survivor per near-dup cluster
    * (singletons are their own canonical) through the factored
    * canonicalOver; shares dedup_canonical's oracle verbatim. */
  private def dedupCanonicalSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "ddn")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.dedup(table => 'db.$tc', method => 'canonical')")
      .orderBy("cluster_id")
  }

  /** SQL-callable MIXTURE SAMPLING — CALL system.sample(method =>
    * 'mixture') (r20): a catalog copy of the documents composes to the
    * gated key's share targets through the procedure's shares-string
    * parsing and the factored mixtureOver machinery. Shares
    * sample_mixture's oracle verbatim — shares marshalling, binding
    * arithmetic and the hash-ordered prefix-sum selection are all
    * value-gated. */
  private def sampleMixtureSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "smx")
    ctas(tc, t(s, dir, "documents").select("doc_id", "source", "text"))
    val shares = Sampling.MixturePct.map { case (k, v) => s"$k:$v" }.mkString(",")
    s.sql(s"CALL graft_lance.system.sample(table => 'db.$tc', " +
        s"method => 'mixture', shares => '$shares')")
      .orderBy("source", "cum_tokens", "doc_id")
  }

  /** SQL-callable TEMPERATURE SAMPLING — CALL system.sample(method =>
    * 'temperature') (r20) at the gated key's total budget; shares
    * sample_temperature's oracle verbatim. */
  private def sampleTemperatureSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "stp")
    ctas(tc, t(s, dir, "documents").select("doc_id", "source", "text"))
    s.sql(s"CALL graft_lance.system.sample(table => 'db.$tc', " +
        s"method => 'temperature', budget => ${Sampling.TempBudget})")
      .orderBy("source", "cum_tokens", "doc_id")
  }

  /** SQL-callable EPOCH-BOUNDED UPSAMPLING — CALL system.sample(method =>
    * 'epochs') (r20) at the gated key's shares/total/cap; shares
    * sample_epochs' oracle verbatim. */
  private def sampleEpochsSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "sep")
    ctas(tc, t(s, dir, "documents").select("doc_id", "source", "text"))
    val shares = Sampling.MixturePct.map { case (k, v) => s"$k:$v" }.mkString(",")
    s.sql(s"CALL graft_lance.system.sample(table => 'db.$tc', " +
        s"method => 'epochs', shares => '$shares', " +
        s"budget => ${Sampling.EpochTotal}, max_epochs => ${Sampling.MaxEpochs})")
      .orderBy("source", "epoch", "cum_tokens", "doc_id")
  }

  /** SQL-callable PER-SOURCE TOKEN BUDGET — CALL system.sample(method =>
    * 'token_budget') (r20) at the gated key's per-source budget; shares
    * sample_token_budget's oracle verbatim. */
  private def sampleBudgetSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "stb")
    ctas(tc, t(s, dir, "documents").select("doc_id", "source", "text"))
    s.sql(s"CALL graft_lance.system.sample(table => 'db.$tc', " +
        s"method => 'token_budget', budget => ${Sampling.TokenBudget})")
      .orderBy("source", "cum_tokens", "doc_id")
  }

  /** SQL-callable HASH SPLIT — CALL system.split(method => 'hash') (r20)
    * at the gated key's 90/5/5 boundaries over a catalog copy; the key
    * reads the materialized labeled corpus back and shares sample_hash's
    * oracle verbatim — parameter marshalling, the MINSTD arithmetic and
    * the labeled write are value-gated. */
  private def splitSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "spc", "spo")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.split(table => 'db.$tc', " +
      s"method => 'hash', train_pct => 90, val_pct => 5, " +
      s"output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(col("doc_id"), col("pct"), col("split"))
      .orderBy("doc_id")
  }

  /** SQL-callable LEAK-FREE SPLIT — CALL system.split(method =>
    * 'leakfree') (r20): cluster-consistent splits through the procedure's
    * own pair generation + label propagation + rep-hash labeling; shares
    * sample_split_leakfree's recursive-CTE oracle verbatim. */
  private def splitLeakfreeSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "slc", "slo")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.split(table => 'db.$tc', " +
      s"method => 'leakfree', train_pct => 90, val_pct => 5, " +
      s"output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(col("doc_id"), col("rep_id"), col("pct"), col("split"))
      .orderBy("doc_id")
  }

  /** Shared body of the CALL system.score gated keys (r20): catalog copy
    * of the documents, one CALL with the given metrics/label, read the
    * scored table back under the given projection. Each key shares its
    * text-analysis twin's oracle verbatim — the procedure computes
    * n_chars as length(text), which equals the stored count by the
    * fixture's construction. */
  private def scoreCallOn(s: SparkSession, dir: String, metrics: String,
                          label: String, project: Seq[String]): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "scc", "sco")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text", "lang"))
    val labelArg = if (label.nonEmpty) s", label_column => '$label'" else ""
    s.sql(s"CALL graft_lance.system.score(table => 'db.$tc', " +
      s"metrics => '$metrics'$labelArg, output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(project.map(col): _*)
      .orderBy("doc_id")
  }

  /** SQL-callable QUALITY SCORING — CALL system.score(metrics =>
    * 'quality') (r20); shares text_quality's oracle verbatim. */
  private def scoreSqlCall(s: SparkSession, dir: String): DataFrame =
    scoreCallOn(s, dir, "quality", "",
      Seq("doc_id", "n_chars", "n_tokens", "distinct_ratio", "stop_ratio", "quality"))

  /** SQL-callable LANGUAGE ID — CALL system.score(metrics => 'langid',
    * label_column => 'lang') (r20); shares text_langid's oracle. */
  private def scoreLangidSqlCall(s: SparkSession, dir: String): DataFrame =
    scoreCallOn(s, dir, "langid", "lang",
      Seq("doc_id", "score_en", "score_es", "score_de", "score_fr", "score_zh",
        "pred_lang", "lang", "is_match"))

  /** SQL-callable FINGERPRINTING — CALL system.score(metrics =>
    * 'fingerprint') (r20); shares text_fingerprint's oracle. */
  private def scoreFingerprintSqlCall(s: SparkSession, dir: String): DataFrame =
    scoreCallOn(s, dir, "fingerprint", "", Seq("doc_id", "fp", "fp_bucket"))

  /** SQL-callable CHUNKING — CALL system.chunk (r20) at the gated key's
    * 64/48 window over a catalog copy; the key reads the materialized
    * chunk table back WITHOUT chunk_text (the counts projection) and
    * shares text_chunk's oracle verbatim. */
  private def chunkSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "chc", "cho")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.chunk(table => 'db.$tc', " +
      s"chunk_tokens => ${TextAnalysis.ChunkTokens}, " +
      s"stride => ${TextAnalysis.ChunkStride}, output_table => 'db.$to')")
    s.table(s"graft_lance.db.$to")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"), col("chunk_chars"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** SQL-callable SEQUENCE PACKING — CALL system.pack (r20) at the gated
    * key's budget and pinned shard count; shares text_pack's oracle
    * verbatim. */
  private def packSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc) = catalogTables(s, "pkc")
    ctas(tc, t(s, dir, "documents").select("doc_id", "text"))
    s.sql(s"CALL graft_lance.system.pack(table => 'db.$tc', " +
        s"budget => ${TextAnalysis.PackBudget}, shards => ${TextAnalysis.PackShards})")
      .orderBy("shard", "pack_id")
  }

  /** TIME-TRAVEL-powered drift monitoring: ingest writes corpus snapshot
    * v1, an append makes v2, and the report compares each source's
    * hashed-gram distribution ACROSS VERSIONS — old side read through
    * `versionAsOf`, new side the latest manifest, χ² tail shared with
    * corpus_drift ([[TextAnalysis.driftPair]]). This is the monitoring
    * loop versioned storage exists for: no second copy of the old corpus,
    * no pre-computed baselines — the connector's version pin IS the
    * baseline. The oracle re-derives both snapshots from the original
    * parquet with the same version-defining predicate. */
  private def lanceDrift(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("drift")
    val d = t(s, dir, "documents").select("doc_id", "source", "lang", "text")
    d.filter(col("doc_id") % 3 =!= 0)
      .write.format("lance").save(root) // version 1
    d.filter(col("doc_id") % 3 === 0)
      .write.format("lance").mode("append").save(root) // version 2
    val old = s.read.format("lance").option("versionAsOf", "1").load(root)
    TextAnalysis.driftPair(
      TextAnalysis.driftCounts(old),
      TextAnalysis.driftCounts(read(s, root)))
  }

  /** `CALL system.drift` driven through SQL end to end: register the two
    * corpus snapshots as catalog tables (reference = the v1 slice, table =
    * the full corpus — the same version-defining predicate as
    * lance_drift), run the cross-table monitoring procedure, and gate its
    * row output on the SAME two-snapshot χ² oracle. */
  private def driftSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tOld, tNew) = catalogTables(s, "drfo", "drfn")
    val d = t(s, dir, "documents").select("doc_id", "source", "lang", "text")
    ctas(tNew, d)
    ctas(tOld, d.filter(col("doc_id") % 3 =!= 0))
    s.sql(s"CALL graft_lance.system.drift(table => 'db.$tNew', " +
      s"reference_table => 'db.$tOld')")
      .orderBy("source")
  }

  /** `CALL system.dsir` driven through SQL end to end: register the
    * documents table in the catalog, run the data-selection procedure
    * (target = the en slice, k = sample_dsir's K), read back the
    * materialized selection. Gated on the armed λ-literal oracle's
    * WHOLE-ROW form — the DuckDB twin re-derives featurization → scores →
    * top-k → row materialization from the procedure's recorded λ. */
  private def dsirSqlCall(s: SparkSession, dir: String): DataFrame = {
    val Seq(tc, to) = catalogTables(s, "dsrc", "dsro")
    ctas(tc, t(s, dir, "documents"))
    graft.operators.OracleArming.arming("lance_dsir") {
      s.sql(s"CALL graft_lance.system.dsir(table => 'db.$tc', " +
        s"target_predicate => 'lang = ''en''', output_table => 'db.$to')")
    }
    s.table(s"graft_lance.db.$to").orderBy("doc_id")
  }

  /** Z-order with a STRING dimension (dictionary keys like country/tenant
    * are what real users cluster on): the rewrite ranks strings by their
    * zero-padded 8-byte UTF-8 prefix — monotonic in the byte order the
    * fragment stats compare in — so equality/range predicates on the
    * string column prune the clustered layout. */
  private def zorderString(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("zorder-str")
    t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    graft.sources.lance.LanceMaintenance.zorder(s, root,
      Seq("o_orderpriority", "o_orderkey"), targetRows = 2000)
    read(s, root)
      .filter(col("o_orderpriority") < "3")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        min(col("o_orderpriority")).as("min_pri"),
        max(col("o_orderpriority")).as("max_pri"))
  }

  /** Storage-partitioned join: both sides written with the same
    * write.bucket-by/bucket-count land co-partitioned on disk; the scans
    * report KeyGroupedPartitioning over bucket(N, key) and the equi-join
    * between them plans with no shuffle on either side (LanceParquetScan
    * .outputPartitioning + the catalog's `bucket` function). At 100 TB a
    * fact-fact join's shuffle is the dominant cost — this deletes it. */
  private def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val Seq(ta, tb) = catalogTables(s, "bjo", "bjl")
    t(s, dir, "orders").createOrReplaceTempView(s"src_$ta")
    t(s, dir, "lineitem").createOrReplaceTempView(s"src_$tb")
    s.sql(s"CREATE TABLE graft_lance.db.$ta (o_orderkey BIGINT, o_custkey BIGINT) " +
      "TBLPROPERTIES('write.bucket-by'='o_orderkey','write.bucket-count'='8')")
    s.sql(s"CREATE TABLE graft_lance.db.$tb (l_orderkey BIGINT, l_quantity DOUBLE) " +
      "TBLPROPERTIES('write.bucket-by'='l_orderkey','write.bucket-count'='8')")
    s.sql(s"INSERT INTO graft_lance.db.$ta SELECT o_orderkey, o_custkey FROM src_$ta")
    s.sql(s"INSERT INTO graft_lance.db.$tb " +
      s"SELECT l_orderkey, CAST(l_quantity AS DOUBLE) FROM src_$tb")
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
         |FROM graft_lance.db.$ta a JOIN graft_lance.db.$tb b
         |  ON a.o_orderkey = b.l_orderkey
         |WHERE a.o_custkey % 10 = 3""".stripMargin)
  }

  /** Runtime (dynamic) fragment pruning: the join keys surviving the dim
    * side's selective filter reach the key-clustered fact scan at
    * execution time and prune fragments before any fact IO
    * (LanceParquetScan.filter — the DSv2 dynamic-partition-pruning path).
    * At 100 TB this is the fact-table saver: dim filters cut fact reads
    * by orders of magnitude without touching the query text. */
  private def runtimePrune(s: SparkSession, dir: String): DataFrame = {
    val factRoot = tmp("rtfact")
    val dimRoot = tmp("rtdim")
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .repartitionByRange(8, col("l_orderkey"))
      .write.format("lance").save(factRoot)
    // dim fragments stay MIXED under the filter (natural order), so the
    // selective predicate remains residual — the shape Spark's dynamic
    // pruning rule keys on
    t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .write.format("lance").option("maxRowsPerFile", "5000").save(dimRoot)
    read(s, factRoot)
      .join(read(s, dimRoot).filter(col("o_custkey") < 20),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(col("l_orderkey")).cast("long").as("sum_key"))
  }

  /** CDC change feed: the stream over a scripted append → delete → append
    * history must emit exactly the per-commit inserts and deletes; the
    * collected feed aggregates to a SQL-expressible oracle. */
  private def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("cdc")
    val ckpt = tmp("cdc-ckpt")
    val orders = t(s, dir, "orders")
    // v1: non-'F' orders; v2: positional delete of low keys; v3: append 'F'
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    graft.sources.lance.LanceDelete.deleteWhere(s, root,
      Array(org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L)), Map.empty)
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "2000").save(root)
    val outRoot = tmp("cdc-out")
    StreamingOps.drain(s, ckpt, StreamingOps.SessionParts) {
      s.readStream.format("lance").option("read.change-feed", "true")
        .load(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("_change_type"))
        .writeStream.format("lance")
        .outputMode("append")
    }(StreamingOps.Into(outRoot))
    // read back the collected feed and aggregate per change type
    s.read.format("lance").load(outRoot)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("sum_key"))
      .orderBy("_change_type")
  }

  /** Batch change-feed read over a version range (Delta CDF batch
    * semantics): same scripted history as q_stream_cdc, read in one batch
    * DataFrame instead of a stream — per-commit inserts and deletes with
    * `_change_type`, aggregated per change kind. */
  private def batchCdc(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("bcdc")
    val orders = t(s, dir, "orders")
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    graft.sources.lance.LanceDelete.deleteWhere(s, root,
      Array(org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L)), Map.empty)
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "2000").save(root)
    s.read.format("lance")
      .option("read.change-feed", "true").option("read.start-version", "1")
      .load(root)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("sum_key"))
      .orderBy("_change_type")
  }

  /** Incremental MATERIALIZED-AGGREGATE maintenance from the CDC feed —
    * the capability change feeds exist for: a persisted aggregate stays
    * fresh at O(delta) maintenance cost, never an O(base) recompute.
    * Recipe: snapshot v1 → materialize the per-priority aggregate (counts
    * + integer-cent sums: ADDITIVE state, so deltas merge exactly); the
    * base then takes a DELETE and an append; maintenance reads ONLY the
    * change feed since the snapshot (deletes stream just the removed
    * rows, appends just the new fragments), folds signed per-group deltas
    * (insert +1/+cents, delete −1/−cents), merges them into the MV with a
    * full-outer join on the group key (|MV|-sized), drops emptied groups,
    * and writes the refreshed MV back (O(MV) overwrite — the MV is
    * group-cardinality-sized). The oracle recomputes the final aggregate
    * from scratch; equality IS the maintenance-correctness statement. */
  private def cdcMaterialized(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("cdcmv"); val mvTable = tmp("cdcmv-mv")
    val orders = t(s, dir, "orders")
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").option("maxRowsPerFile", "2000").save(root)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    read(s, root).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
      .write.format("lance").save(mvTable)
    // base mutations after the snapshot
    graft.sources.lance.LanceDelete.deleteWhere(s, root,
      Array(org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L)), Map.empty)
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "2000").save(root)
    // O(delta): signed per-group deltas from the feed since the snapshot
    val deltas = s.read.format("lance")
      .option("read.change-feed", "true").option("read.start-version", "2")
      .load(root)
      .select(col("o_orderpriority"),
        when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"),
        cents.as("c"))
      .groupBy("o_orderpriority")
      .agg(sum("sgn").as("dn"), sum(col("sgn") * col("c")).as("dsum"))
    val refreshed = s.read.format("lance").load(mvTable)
      .join(deltas, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dsum"), lit(0L)))
          .as("sum_cents"))
      .filter(col("n") > 0)
    refreshed.write.format("lance").mode("overwrite").save(mvTable)
    read(s, mvTable)
      .select(col("o_orderpriority"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // ---- streaming sink ----------------------------------------------------

  /** TIMESTAMP_NTZ end-to-end through the connector, oracle-gated: the
    * events table's `ts` arrives as parquet timestamp[us] with
    * isAdjustedToUTC=false (what pandas/pyarrow/DuckDB writers emit),
    * reads as NTZ, round-trips through a lance write (INT64 micros,
    * footer stats recorded), and aggregates back out — DuckDB's naive
    * timestamps ARE the NTZ semantics, so min/max hash-match exactly. */
  private def eventsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("events-ntz")
    t(s, dir, "events").select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .write.format("lance").option("maxRowsPerFile", "20000").save(root)
    read(s, root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("ts").as("ts_min"), max("ts").as("ts_max"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  private def streamingSink(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("streaming")
    val srcDir = tmp("streaming-src")
    val ckpt = tmp("streaming-ckpt")
    s.range(1000).toDF("i").write.mode("overwrite").parquet(srcDir)
    StreamingOps.drain(s, ckpt, StreamingOps.SessionParts) {
      s.readStream
        .schema("i BIGINT")
        .parquet(srcDir)
        .writeStream
        .format("lance")
        .outputMode("append")
    }(StreamingOps.Into(root))
    read(s, root).agg(count(lit(1)).as("n"), sum(col("i")).as("s"))
  }

  /** Approximate COUNT(DISTINCT) from the per-fragment HLL sidecars —
    * zero data files read (the exact dictionary path declines once a
    * column's cardinality exceeds the dictionary cap; the sketch is the
    * scale answer). Deterministic (fixed XXH64 seed) but approximate by
    * construction → rows-only key; the error bound is asserted in
    * LanceSpec against exact counts. */
  private def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val root = tmp("hll")
    t(s, dir, "orders").write.format("lance").option("maxRowsPerFile", "2000").save(root)
    val est = graft.sources.lance.Hll.approxCountDistinct(s, root,
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    import s.implicits._
    est.toSeq.sortBy(_._1).map { case (c, v) => (c, v.getOrElse(-1L)) }
      .toDF("column", "approx_distinct")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lance_hll_distinct" -> hllDistinct,
    "lance_roundtrip" -> roundtrip,
    "lance_overwrite" -> overwrite,
    "lance_append_multi" -> appendMulti,
    "lance_projection" -> projection,
    "lance_filter_pushdown" -> filterPushdown,
    "lance_limit_pushdown" -> limitPushdown,
    "lance_agg_pushdown" -> aggPushdown,
    "lance_filtered_stats" -> filteredAgg,
    "lance_agg_groupby" -> aggGroupBy,
    "lance_clustered_write" -> clusteredWrite,
    "lance_runtime_prune" -> runtimePrune,
    "lance_bucket_join" -> bucketJoin,
    "knn_sql_call" -> knnSqlCall,
    "knn_mmr_sql" -> knnMmrSqlCall,
    "knn_maxsim_sql" -> knnMaxSimSqlCall,
    "hybrid_sql" -> hybridSqlCall,
    "knn_join_sql" -> knnJoinSqlCall,
    "lance_zorder" -> zorderOp,
    "lance_zorder_string" -> zorderString,
    "lance_merge" -> mergeOp,
    "lance_time_travel" -> timeTravel,
    "lance_types_roundtrip" -> typesRoundtrip,
    "lance_sql_catalog" -> sqlCatalog,
    "lance_delete" -> deleteOp,
    "lance_update" -> updateOp,
    "lance_replace" -> replaceOp,
    "q_stream_cdc" -> streamCdc,
    "q_batch_cdc" -> batchCdc,
    "q_cdc_materialized" -> cdcMaterialized,
    "lance_streaming_sink" -> streamingSink,
    "lance_decontaminate" -> decontaminateSqlCall,
    "dedup_sql" -> dedupSqlCall,
    "dedup_pairs_sql" -> dedupPairsSqlCall,
    "dedup_clusters_sql" -> dedupClustersSqlCall,
    "dedup_canonical_sql" -> dedupCanonicalSqlCall,
    "sample_mixture_sql" -> sampleMixtureSqlCall,
    "sample_temperature_sql" -> sampleTemperatureSqlCall,
    "sample_budget_sql" -> sampleBudgetSqlCall,
    "sample_epochs_sql" -> sampleEpochsSqlCall,
    "split_sql" -> splitSqlCall,
    "split_leakfree_sql" -> splitLeakfreeSqlCall,
    "score_sql" -> scoreSqlCall,
    "score_langid_sql" -> scoreLangidSqlCall,
    "score_fingerprint_sql" -> scoreFingerprintSqlCall,
    "chunk_sql" -> chunkSqlCall,
    "pack_sql" -> packSqlCall,
    "lance_semdedup" -> semdedupSqlCall,
    "lance_dsir" -> dsirSqlCall,
    "lance_drift" -> lanceDrift,
    "lance_drift_call" -> driftSqlCall,
    "lance_events_roundtrip" -> eventsRoundtrip)

  // a `def`: lance_semdedup's oracle is lazily armed by the procedure run
  // (its trained centroids become the statement's literals — see
  // Dedup.TrainedSemOracle; Verify dumps oracle_sql.json after queries)
  def oracleSql: Map[String, String] =
    graft.operators.Dedup.TrainedSemOracle.entry.get("lance_semdedup")
      .map("lance_semdedup" -> _).toMap ++
    // lance_dsir gates on the armed λ-literal statement's WHOLE-ROW form
    // (the procedure materializes every corpus column of the selection)
    graft.operators.Sampling.DsirOracle.entryFullRows("lance_dsir")
      .map("lance_dsir" -> _).toMap ++ Map(
    // both snapshots re-derived from the parquet with the key's own
    // version-defining predicate (v1 = doc_id % 3 != 0; v2 = all)
    "lance_drift" -> TextAnalysis.driftPairOracleSql("doc_id % 3 != 0"),
    // the procedure's row output over the same snapshot pair → the same
    // two-snapshot oracle
    "lance_drift_call" -> TextAnalysis.driftPairOracleSql("doc_id % 3 != 0"),
    // survivors = corpus minus docs flagged by overlap >= 3 OR containment
    // >= 0.5 (string shingles mirror the hashed sets, collisions ~1e-9)
    "lance_decontaminate" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '[\t\n\x0B\f\r ]+'), x -> x != '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
        |  FROM d WHERE len(w) >= 3),
        |f AS (SELECT DISTINCT c.doc_id
        |  FROM g c JOIN g b ON c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
        |  WHERE len(list_intersect(c.s, b.s)) >= 3
        |     OR CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) / len(b.s) >= 0.5)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM f)
        |ORDER BY doc_id""".stripMargin,
    "lance_roundtrip" ->
      s"""SELECT count(*) AS n, min(c_custkey) AS min_key, max(c_custkey) AS max_key,
         |  ${sqlExactSum("c_acctbal", 100L)} AS sum_bal
         |FROM customer""".stripMargin,
    "lance_overwrite" ->
      """SELECT count(*) AS n, min(n_nationkey) AS min_key, max(n_nationkey) AS max_key
        |FROM nation""".stripMargin,
    "lance_append_multi" ->
      """SELECT 2 * count(*) AS n, count(DISTINCT o_orderkey) AS n_keys FROM orders""",
    "lance_projection" ->
      """SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 20""",
    "lance_filter_pushdown" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key FROM orders
        |WHERE o_orderpriority IS NOT NULL AND (o_orderstatus = 'F' OR o_orderstatus = 'O')
        |  AND o_custkey < 500 AND o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin,
    "lance_limit_pushdown" ->
      """SELECT least(137, count(*)) AS n FROM orders""",
    "lance_agg_pushdown" ->
      // decimal sum compares exactly through the unscaled-integer domain;
      // decimal avg replicates Spark's HALF_UP at scale+4 (=6) with exact
      // integer arithmetic: round(u*10^4 / n) where u = unscaled(sum)
      """WITH d AS (
        |  SELECT CAST(sum(CAST(o_custkey AS DECIMAL(10,2)) * 100 + 25) AS BIGINT) AS u,
        |         count(o_custkey) AS nd
        |  FROM orders)
        |SELECT count(*) AS n, count(o_custkey) AS n_cust,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  avg(o_custkey) AS avg_cust,
        |  CAST((SELECT u FROM d) AS DOUBLE) / 100.0 AS sum_dec,
        |  CAST((SELECT u*10000 // nd + (CASE WHEN 2*((u*10000) % nd) >= nd THEN 1 ELSE 0 END) FROM d) AS DOUBLE)
        |    / 1000000.0 AS avg_dec,
        |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
        |  count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin,
    "lance_filtered_stats" ->
      """SELECT count(*) AS n, count(o_custkey) AS n_cust,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  avg(o_custkey) AS avg_cust
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "lance_agg_groupby" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "lance_clustered_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "lance_runtime_prune" ->
      """SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey < 20""".stripMargin,
    "lance_bucket_join" ->
      """SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey % 10 = 3""".stripMargin,
    "lance_zorder" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders WHERE o_custkey < 300""".stripMargin,
    "lance_zorder_string" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri
        |FROM orders WHERE o_orderpriority < '3'""".stripMargin,
    "knn_sql_call" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT * FROM (
        |  SELECT e.vec_id AS id,
        |    round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
        |  FROM embeddings e CROSS JOIN q)
        |ORDER BY dist ASC, id ASC LIMIT 10""".stripMargin,
    "knn_join_sql" -> VectorSearch.knnJoinOracle(5),
    // the SQL serving modes are provably the gated keys' answers (exact
    // brute path over un-indexed gate tables), so each shares its twin's
    // oracle verbatim
    "knn_mmr_sql" -> VectorSearch.oracleSql("knn_mmr"),
    "knn_maxsim_sql" -> VectorSearch.oracleSql("knn_maxsim"),
    "hybrid_sql" -> TextAnalysis.hybridOracleSql,
    // CALL system.dedup routes: exact-mode survivors re-derived
    // declaratively; pairs/clusters share the gated dedup keys' oracles
    // verbatim (the procedure runs their exact machinery)
    "dedup_sql" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
        |ORDER BY doc_id""".stripMargin,
    "dedup_pairs_sql" -> Dedup.oracleSql("dedup_minhash_lsh"),
    "dedup_clusters_sql" -> Dedup.oracleSql("dedup_clusters"),
    "dedup_canonical_sql" -> Dedup.oracleSql("dedup_canonical"),
    // CALL system.sample routes at the gated keys' exact configs share
    // the sampling twins' oracles verbatim
    "sample_mixture_sql" -> Sampling.oracleSql("sample_mixture"),
    "sample_temperature_sql" -> Sampling.oracleSql("sample_temperature"),
    "sample_budget_sql" -> Sampling.oracleSql("sample_token_budget"),
    "sample_epochs_sql" -> Sampling.oracleSql("sample_epochs"),
    "split_sql" -> Sampling.oracleSql("sample_hash"),
    "split_leakfree_sql" -> Sampling.oracleSql("sample_split_leakfree"),
    "score_sql" -> TextAnalysis.oracleSql("text_quality"),
    "score_langid_sql" -> TextAnalysis.oracleSql("text_langid"),
    "score_fingerprint_sql" -> TextAnalysis.oracleSql("text_fingerprint"),
    "chunk_sql" -> TextAnalysis.oracleSql("text_chunk"),
    "pack_sql" -> TextAnalysis.oracleSql("text_pack"),
    "lance_merge" ->
      // final state = target keys ∪ source keys; every source row ends
      // with a negative price (matched update or unmatched insert)
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CASE WHEN o_custkey < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_merged
        |FROM orders WHERE o_orderkey % 3 <> 0 OR o_custkey < 500""".stripMargin,
    "lance_time_travel" ->
      """SELECT count(*) AS v1_rows, 2 * count(*) AS v2_rows FROM region""",
    "lance_types_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(len(embedding)) AS BIGINT) AS emb_cells,
        |  CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS emb_checksum,
        |  CAST(sum(octet_length(encode(CAST(vec_id AS VARCHAR)))) AS BIGINT) AS bin_bytes,
        |  min(DATE '2000-01-01' + CAST(vec_id % 1000 AS INTEGER)) AS d_min,
        |  max(DATE '2000-01-01' + CAST(vec_id % 1000 AS INTEGER)) AS d_max,
        |  min(epoch_ms(vec_id * 1000)) AS ts_min,
        |  max(epoch_ms(vec_id * 1000)) AS ts_max,
        |  min(epoch_ms(vec_id * 1000)) AS tsn_min,
        |  max(epoch_ms(vec_id * 1000)) AS tsn_max,
        |  CAST(sum(CAST(CAST(vec_id AS DECIMAL(18,4)) + 0.5 AS DECIMAL(18,4))) AS DOUBLE) AS dec_sum,
        |  count(DISTINCT 'v' || CAST(vec_id AS VARCHAR)) AS n_str,
        |  CAST(sum(vec_id) AS BIGINT) AS st_id_sum,
        |  count(DISTINCT 's' || CAST(vec_id AS VARCHAR)) AS n_st_tag,
        |  CAST(2 * count(*) AS BIGINT) AS arr_cells,
        |  CAST(sum(3 * vec_id) AS BIGINT) AS arr_v_sum
        |FROM embeddings""".stripMargin,
    "lance_sql_catalog" ->
      """SELECT 2 * count(*) AS n, count(DISTINCT n_nationkey) AS n_keys,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM nation""".stripMargin,
    "lance_delete" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  count(DISTINCT o_orderstatus) AS n_status
        |FROM orders WHERE NOT (o_orderstatus = 'F' OR o_custkey < 100)""".stripMargin,
    "lance_update" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN o_custkey + 1000000
        |                ELSE o_custkey END) AS BIGINT) AS sum_cust,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders""".stripMargin,
    "lance_replace" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN o_custkey + 5000000
        |                ELSE o_custkey END) AS BIGINT) AS sum_cust,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders""".stripMargin,
    "q_batch_cdc" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |  FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey < 1000
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, count(*) AS n,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |  FROM orders
        |) ORDER BY _change_type""".stripMargin,
    // the incrementally maintained MV == a from-scratch aggregate over the
    // final logical table (non-F survivors of the delete, plus appended F)
    "q_cdc_materialized" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_price
        |FROM orders
        |WHERE (o_orderstatus <> 'F' AND o_orderkey >= 1000)
        |   OR o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_stream_cdc" ->
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |  FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey < 1000
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, count(*) AS n,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |  FROM orders
        |) ORDER BY _change_type""".stripMargin,
    "lance_streaming_sink" ->
      """SELECT count(*) AS n, CAST(sum(i) AS BIGINT) AS s FROM range(1000) t(i)""",
    "lance_events_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  min(CAST(ts AS TIMESTAMP)) AS ts_min, max(CAST(ts AS TIMESTAMP)) AS ts_max,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
