package graft

import graft.sources.lance.{ColStats, FragmentMeta, LanceCommit, LancePruning, ManifestIO}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.json4s.{JLong, JString}

import java.nio.file.Files

/** Connector-level tests: pushdowns visible in the plan, fragment layout,
  * version history, pruning logic, catalog DDL. */
class LanceSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-lancespec-").toString
  private def conf = spark.sessionState.newHadoopConf()

  private lazy val orders = Tables.t(spark, sf, "orders")

  test("write respects maxRowsPerFile and append accumulates fragments + versions") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val m1 = ManifestIO.loadLatest(root, conf).get
    assert(m1.version === 1)
    assert(m1.fragments.size >= 2, "expected multiple fragments")
    assert(m1.fragments.forall(_.rows <= 500))
    assert(m1.totalRows === orders.count())

    orders.write.format("lance").mode("append").save(root)
    val m2 = ManifestIO.loadLatest(root, conf).get
    assert(m2.version === 2)
    assert(m2.totalRows === 2 * orders.count())
    assert(ManifestIO.listVersions(root, conf) === Seq(1L, 2L))
    // fragments carry stats for numeric columns
    val frag = m2.fragments.head
    assert(frag.stats.contains("o_orderkey"))
    assert(frag.stats("o_orderkey").min.isDefined)
  }

  test("explain shows pushed filters, limit, projection and stats-agg scans") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)

    val filtered = ds.filter(col("o_custkey") < 10).select("o_orderkey", "o_custkey")
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(fPlan.contains("LanceScan"), fPlan)
    assert(fPlan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,10)]"), fPlan)
    assert(fPlan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"), fPlan)

    val lPlan = ds.limit(7).queryExecution.executedPlan.toString
    assert(lPlan.contains("PushedLimit: 7"), lPlan)

    val aPlan = ds.agg(count(lit(1)), min("o_custkey"), max("o_custkey"))
      .queryExecution.executedPlan.toString
    assert(aPlan.contains("LanceStatsScan"), aPlan)
    assert(aPlan.contains("answered from manifest stats"), aPlan)
  }

  test("SUM/AVG over integral columns are answered from manifest stats") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)
    val q = ds.agg(sum("o_custkey"), avg("o_custkey"), count(lit(1)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    val viaStats = q.collect()(0)
    val viaScan = orders.agg(sum("o_custkey"), avg("o_custkey"), count(lit(1))).collect()(0)
    assert(viaStats === viaScan)
  }

  test("SUM/AVG over decimal columns answer from unscaled-long stats, Spark-exact") {
    import spark.implicits._
    val root = tmp()
    // decimal(12,2) incl. nulls and negative values; multiple fragments
    val src = orders.select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise((col("o_totalprice") - lit(1000)).cast("decimal(12,2)"))
          .as("price_dec"))
    src.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)
    val q = ds.agg(sum("price_dec"), avg("price_dec"), count(col("price_dec")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    val viaStats = q.collect()(0)
    val viaScan = src.agg(sum("price_dec"), avg("price_dec"), count(col("price_dec"))).collect()(0)
    assert(viaStats === viaScan)
    // result types match Spark's aggregate types exactly
    assert(q.schema.fields.map(_.dataType.simpleString).toSeq ===
      src.agg(sum("price_dec"), avg("price_dec"), count(col("price_dec")))
        .schema.fields.map(_.dataType.simpleString).toSeq)
    // all-null decimal column answers NULL from stats
    val root2 = tmp()
    Seq(1L, 2L, 3L).toDF("id")
      .withColumn("d", lit(null).cast("decimal(10,3)"))
      .write.format("lance").save(root2)
    val q2 = spark.read.format("lance").load(root2).agg(sum("d"), avg("d"))
    assert(q2.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    val r2 = q2.collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    // precision > 18 declines to a full scan (no unscaled-long domain)
    val root3 = tmp()
    Seq((1L, "12345678901234567890.12")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(25,2)").as("big"))
      .write.format("lance").save(root3)
    val q3 = spark.read.format("lance").load(root3).agg(sum("big"))
    assert(!q3.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(q3.first().getDecimal(0).toString === "12345678901234567890.12")
  }

  test("aggregates over an empty table: COUNT answers 0, MIN/MAX answer NULL") {
    spark.conf.set("spark.sql.catalog.lance_empty",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_empty.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_empty.db")
    spark.sql("CREATE TABLE lance_empty.db.t (id BIGINT, s STRING)")
    val r = spark.sql(
      "SELECT count(*), count(id), min(id), max(id), sum(id), min(s) FROM lance_empty.db.t")
      .collect()(0)
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 0L)
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
  }

  test("string MIN/MAX and COUNT DISTINCT answer from value dictionaries") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)
    val q = ds.agg(min("o_orderstatus"), max("o_orderstatus"),
      count_distinct(col("o_orderstatus")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    val viaStats = q.collect()(0)
    val viaScan = orders.agg(min("o_orderstatus"), max("o_orderstatus"),
      count_distinct(col("o_orderstatus"))).collect()(0)
    assert(viaStats === viaScan)
    // no dictionary (numeric column) → falls back to a real scan
    val fb = ds.agg(count_distinct(col("o_custkey")))
      .queryExecution.executedPlan.toString
    assert(!fb.contains("LanceStatsScan"), fb)
    assert(ds.agg(count_distinct(col("o_custkey"))).first().getLong(0) ===
      orders.agg(count_distinct(col("o_custkey"))).first().getLong(0))
  }

  test("atomic-schema reads are columnar (batches into ColumnarToRow)") {
    val root = tmp()
    orders.write.format("lance").save(root)
    val plan = spark.read.format("lance").load(root)
      .select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // and results round-trip identically through the columnar path
    val viaLance = spark.read.format("lance").load(root)
      .agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val direct = orders.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(viaLance === direct)
  }

  test("aggregate pushdown falls back to a real scan when not answerable") {
    val root = tmp()
    orders.write.format("lance").save(root)
    val ds = spark.read.format("lance").load(root)
    // SUM is not answerable from min/max stats → normal scan, same result
    val sPlan = ds.agg(sum("o_totalprice")).queryExecution.executedPlan.toString
    assert(!sPlan.contains("LanceStatsScan"), sPlan)
    // a filter some fragment is UNDECIDED under (the one holding custkey<=3
    // spans the boundary) stays residual → no stats answer
    val fPlan = ds.filter(col("o_custkey") > 3).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!fPlan.contains("LanceStatsScan"), fPlan)
    // and stats answers equal scan answers
    val viaStats = ds.agg(count(lit(1)), min("o_custkey")).collect()(0)
    val viaScan = orders.agg(count(lit(1)), min("o_custkey")).collect()(0)
    assert(viaStats === viaScan)
  }

  test("exactly-decided filters are consumed: filtered aggregates answer from stats") {
    val root = tmp()
    // status-pure appends → `o_orderstatus = 'F'` decides every fragment
    orders.filter(col("o_orderstatus") === "F")
      .write.format("lance").option("maxRowsPerFile", "500").save(root)
    orders.filter(col("o_orderstatus") =!= "F")
      .write.format("lance").mode("append").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)

    def fAgg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("o_orderstatus") === "F").agg(count(lit(1)), sum("o_custkey"),
        min("o_orderkey"), max("o_orderkey"), avg("o_custkey"))
    val q = fAgg(ds)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    assert(q.collect()(0) === fAgg(orders).collect()(0))

    // the consumed filter governs plain row scans too (no Filter node left)
    val keys = ds.filter(col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val expectKeys = orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(keys === expectKeys)

    // limit pushes under an exactly-enforced filter
    val lim = ds.filter(col("o_orderstatus") === "F").limit(7)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 7"))
    assert(lim.count() === 7)

    // a filter matching NOTHING: empty-domain answers (0 / NULL) from stats
    val zq = ds.filter(col("o_orderstatus") === "Z")
      .agg(count(lit(1)), min("o_orderkey"), sum("o_custkey"))
    assert(zq.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    val zr = zq.collect()(0)
    assert(zr.getLong(0) === 0L && zr.isNullAt(1) && zr.isNullAt(2))
  }

  test("GROUP BY on a fragment-clustered key answers from per-fragment stats") {
    val root = tmp()
    for (st <- Seq("F", "O", "P"))
      orders.filter(col("o_orderstatus") === st)
        .write.format("lance").mode("append").option("maxRowsPerFile", "500").save(root)
    val ds = spark.read.format("lance").load(root)
    def gAgg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_custkey"),
        min("o_orderkey"), max("o_orderkey"), avg("o_custkey")).orderBy("o_orderstatus")
    val q = gAgg(ds)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    assert(q.collect().toSeq === gAgg(orders).collect().toSeq)

    // grouped + exactly-filtered: domain narrows to the matching fragments
    val fq = ds.filter(col("o_orderstatus") =!= "P").groupBy("o_orderstatus")
      .agg(count(lit(1))).orderBy("o_orderstatus")
    assert(fq.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(fq.collect().toSeq ===
      orders.filter(col("o_orderstatus") =!= "P").groupBy("o_orderstatus")
        .agg(count(lit(1))).orderBy("o_orderstatus").collect().toSeq)

    // an UNCLUSTERED layout declines (fragments are multi-valued in the key)
    val root2 = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root2)
    val q2 = gAgg(spark.read.format("lance").load(root2))
    assert(!q2.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(q2.collect().toSeq === gAgg(orders).collect().toSeq)
  }

  test("CALL procedures: compact, vacuum, history through SQL") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.lance_proc",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_proc.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_proc.db")
    spark.sql("CREATE TABLE lance_proc.db.t (id BIGINT, v STRING)")
    val root = s"$wh/db/t"
    // three small fragments across three commits
    for (b <- 0 until 3)
      (b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.format("lance").mode("append").save(root)

    val hist = spark.sql("CALL lance_proc.system.history(table => 'db.t')").collect()
    assert(hist.length === 4) // CREATE + 3 appends
    assert(hist.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(hist.last.getAs[Long]("n_rows") === 30L)

    val c = spark.sql(
      "CALL lance_proc.system.compact(table => 'db.t', smaller_than_rows => 100, " +
        "target_rows => 1000)").collect()(0)
    assert(c.getAs[Int]("fragments_before") === 3)
    assert(c.getAs[Int]("fragments_after") === 1)
    assert(spark.sql("SELECT count(*) FROM lance_proc.db.t").first().getLong(0) === 30L)

    val vac = spark.sql(
      "CALL lance_proc.system.vacuum(table => 'db.t', retain_versions => 1, " +
        "grace_ms => 0)").collect()(0)
    assert(vac.getAs[Int]("retained_versions") === 1)
    // compacted data intact, old versions gone
    assert(spark.sql("SELECT count(*) FROM lance_proc.db.t").first().getLong(0) === 30L)
    assert(ManifestIO.listVersions(root, conf).size === 1)
  }

  test("CALL system.stats reports per-column min/max/nulls/NDV from metadata alone") {
    spark.conf.set("spark.sql.catalog.lance_st",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_st.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_st.db")
    spark.sql("CREATE TABLE lance_st.db.t AS " +
      "SELECT id, CAST(id % 5 AS LONG) AS k, " +
      "  CASE WHEN id % 10 = 0 THEN NULL ELSE concat('g', id % 3) END AS grp " +
      "FROM range(0, 1000, 1, 2)")
    val rows = spark.sql("CALL lance_st.system.stats(table => 'db.t')")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("id", "k", "grp"))
    val id = rows("id")
    assert(id.getLong(2) === 1000L) // n_rows
    assert(id.getLong(3) === 0L) // null_count
    assert((id.getString(4), id.getString(5)) === (("0", "999"))) // min/max
    assert(id.getLong(6) >= 950 && id.getLong(6) <= 1050) // HLL NDV ~1000
    val k = rows("k")
    assert(k.getLong(6) === 5L) // 5 distinct, exact in the linear regime
    val grp = rows("grp")
    assert(grp.getLong(3) === 100L) // the id % 10 = 0 nulls
    assert(grp.getLong(6) === 3L) // exact via the value dictionaries
    assert((grp.getString(4), grp.getString(5)) === (("g0", "g2")))
  }

  test("partial aggregate pushdown scans only the fragments stats can't answer") {
    spark.conf.set("spark.sql.catalog.lance_pp",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_pp.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_pp.db")
    spark.sql("CREATE TABLE lance_pp.db.o " +
      "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)")
    val root = s"$wh/db/o"
    orders.select("o_orderkey", "o_custkey", "o_orderstatus")
      .repartitionByRange(6, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format("lance").mode("append").save(root)
    // delta-path UPDATE: one fragment gets a DV with NO removed stats
    spark.sql("UPDATE lance_pp.db.o SET o_custkey = o_custkey + 7 WHERE o_orderkey < 100")
    val m = ManifestIO.loadLatest(root, conf).get
    val dvd = m.fragments.filter(_.deletes.isDefined)
    assert(dvd.nonEmpty && dvd.forall(_.deletes.get.removed.isEmpty))

    val q = spark.sql("SELECT count(*), count(o_custkey), sum(o_custkey), " +
      "min(o_orderkey), max(o_orderkey), min(o_orderstatus), avg(o_custkey) " +
      "FROM lance_pp.db.o")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LancePartialAggScan"), plan)
    assert(plan.contains(s"${dvd.size}/${m.fragments.size} fragments scanned"), plan)
    val expected = orders.select(
      col("o_orderkey"),
      when(col("o_orderkey") < 100, col("o_custkey") + 7)
        .otherwise(col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"))
    assert(q.collect()(0) === expected.agg(count(lit(1)), count(col("o_custkey")),
      sum("o_custkey"), min("o_orderkey"), max("o_orderkey"), min("o_orderstatus"),
      avg("o_custkey")).collect()(0))
  }

  test("struct-field stats prune fragments; nested stats strip on DROP") {
    import spark.implicits._
    val root = tmp()
    // three fragments clustered by st.id range: [0,99], [100,199], [200,299]
    for (base <- Seq(0, 100, 200))
      (base until base + 100).map(i => (i.toLong, (i.toLong, s"tag$i")))
        .toDF("id", "st")
        .select(col("id"), col("st").cast("struct<sid: BIGINT, tag: STRING>").as("st"))
        .coalesce(1).write.format("lance").mode("append").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.size === 3)
    assert(m.fragments.forall(_.stats.contains("st.sid")), m.fragments.head.stats.keys)
    assert(m.fragments.forall(_.stats.contains("st.tag")))

    val ds = spark.read.format("lance").load(root)
    val q = ds.filter(col("st.sid") === 150L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("fragments=1/3"), plan) // two fragments pruned by nested range
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(150L))

    // DROP the struct strips nested stats → a re-ADD never prunes on them
    spark.conf.set("spark.sql.catalog.lance_ns",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_ns.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_ns.db")
    spark.sql("CREATE TABLE lance_ns.db.s (id BIGINT, st STRUCT<sid: BIGINT, tag: STRING>)")
    val sroot = s"$wh/db/s"
    Seq((1L, (10L, "x"))).toDF("id", "st")
      .select(col("id"), col("st").cast("struct<sid: BIGINT, tag: STRING>").as("st"))
      .write.format("lance").mode("append").save(sroot)
    assert(ManifestIO.loadLatest(sroot, conf).get.fragments.head.stats.contains("st.sid"))
    spark.sql("ALTER TABLE lance_ns.db.s DROP COLUMN st")
    val stripped = ManifestIO.loadLatest(sroot, conf).get.fragments.head
    assert(!stripped.stats.keys.exists(_.startsWith("st")), stripped.stats.keys)
    spark.sql("ALTER TABLE lance_ns.db.s ADD COLUMN st STRUCT<sid: BIGINT, tag: STRING>")
    // old fragment reads the re-added struct as NULL; nested equality on it
    // is provably empty (hidden top-level propagates to nested references)
    val r = spark.sql("SELECT count(*) FROM lance_ns.db.s WHERE st.sid = 10").first()
    assert(r.getLong(0) === 0L)
  }

  test("metadata delete refreshes sketch sidecars: HLL tracks survivors, bloom prunes deleted values") {
    import graft.sources.lance.Hll
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    val before = Hll.approxCountDistinct(spark, root, Seq("o_orderkey"))("o_orderkey").get
    // delete a key range strictly inside one fragment
    graft.sources.lance.LanceDelete.deleteWhere(spark, root,
      Array(org.apache.spark.sql.sources.LessThan("o_orderkey", 400L)), Map.empty)
    val m = ManifestIO.loadLatest(root, conf).get
    val dvd = m.fragments.filter(_.deletes.isDefined)
    assert(dvd.nonEmpty)
    // refreshed sidecars referenced by the DV'd fragments
    assert(dvd.forall(_.sketches.isDefined))
    val live = spark.read.format("lance").load(root)
      .agg(count_distinct(col("o_orderkey"))).first().getLong(0)
    val after = Hll.approxCountDistinct(spark, root, Seq("o_orderkey"))("o_orderkey").get
    assert(math.abs(after - live).toDouble / live < 0.05,
      s"estimate $after vs live $live (before-delete estimate was $before)")
    assert(after < before, "estimate should drop after deleting a key range")
    // the refreshed bloom proves deleted keys absent → equality scan on a
    // deleted key reads zero rows and zero partitions after pruning
    val gone = spark.read.format("lance").load(root).filter(col("o_orderkey") === 5L)
    assert(gone.count() === 0L)
  }

  test("clustered writes: table property drives fragment clustering and survives commits") {
    spark.conf.set("spark.sql.catalog.lance_clu",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_clu.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_clu.db")
    spark.sql("CREATE TABLE lance_clu.db.t " +
      "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING) " +
      "TBLPROPERTIES('write.cluster-by'='o_orderstatus', 'write.sort-by'='o_orderkey')")
    val view = "clu_src"
    orders.createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO lance_clu.db.t " +
      s"SELECT o_orderkey, o_custkey, o_orderstatus FROM $view")
    val root = s"$wh/db/t"
    val m = ManifestIO.loadLatest(root, conf).get
    // every fragment single-valued in the cluster key (dict of size 1)
    assert(m.fragments.nonEmpty)
    assert(m.fragments.forall(_.stats.get("o_orderstatus")
      .flatMap(_.distinct).exists(_.size == 1)), m.fragments.map(_.stats.get("o_orderstatus")))
    // ... so the grouped aggregate answers from per-fragment stats
    val q = spark.sql("SELECT o_orderstatus, count(*), sum(o_custkey) " +
      "FROM lance_clu.db.t GROUP BY o_orderstatus ORDER BY o_orderstatus")
    assert(q.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      orders.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_custkey"))
        .orderBy("o_orderstatus")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // SHOW TBLPROPERTIES reads the manifest props; they survive the INSERT
    val props = spark.sql("SHOW TBLPROPERTIES lance_clu.db.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.cluster-by").contains("o_orderstatus"))
    // ALTER TABLE UNSET clears a property; SET updates it
    spark.sql("ALTER TABLE lance_clu.db.t SET TBLPROPERTIES('write.sort-by'='o_custkey')")
    spark.sql("ALTER TABLE lance_clu.db.t UNSET TBLPROPERTIES('write.cluster-by')")
    val m2 = ManifestIO.loadLatest(root, conf).get
    assert(m2.props.get("write.sort-by").contains("o_custkey"))
    assert(!m2.props.contains("write.cluster-by"))

    // V1 path saves honor the options (and persisted props) too
    val root2 = tmp()
    orders.select("o_orderkey", "o_custkey", "o_orderstatus")
      .write.format("lance").option("write.cluster-by", "o_orderstatus").save(root2)
    val m3 = ManifestIO.loadLatest(root2, conf).get
    assert(m3.fragments.forall(_.stats.get("o_orderstatus")
      .flatMap(_.distinct).exists(_.size == 1)))
  }

  test("fragment pruning: provably-empty fragments are skipped") {
    val stats = Map("k" -> ColStats(Some(JLong(100)), Some(JLong(200)), Some(0L)),
      "s" -> ColStats(Some(JString("ccc")), Some(JString("mmm")), Some(0L)))
    val fr = FragmentMeta("f.parquet", 10, 1000, stats)
    val schema = StructType(Seq(StructField("k", LongType)))
    import org.apache.spark.sql.sources._
    assert(LancePruning.provablyEmpty(fr, schema, EqualTo("k", 50L)))
    assert(!LancePruning.provablyEmpty(fr, schema, EqualTo("k", 150L)))
    assert(LancePruning.provablyEmpty(fr, schema, GreaterThan("k", 200L)))
    assert(!LancePruning.provablyEmpty(fr, schema, GreaterThanOrEqual("k", 200L)))
    assert(LancePruning.provablyEmpty(fr, schema, LessThan("k", 100L)))
    assert(LancePruning.provablyEmpty(fr, schema, In("k", Array(1L, 99L, 201L))))
    assert(!LancePruning.provablyEmpty(fr, schema, In("k", Array(1L, 150L))))
    assert(LancePruning.provablyEmpty(fr, schema, IsNull("k")))
    assert(LancePruning.provablyEmpty(fr, schema, EqualTo("s", "zzz")))
    assert(!LancePruning.provablyEmpty(fr, schema, EqualTo("s", "def")))
    assert(LancePruning.provablyEmpty(fr, schema,
      And(EqualTo("k", 150L), EqualTo("s", "aaa"))))
    assert(!LancePruning.provablyEmpty(fr, schema,
      Or(EqualTo("k", 150L), EqualTo("s", "aaa"))))
    // unknown stats → never pruned
    assert(!LancePruning.provablyEmpty(fr, schema, EqualTo("unknown_col", 1L)))
  }

  test("concurrent manifest commits both land (create-exclusive + retry)") {
    val root = tmp()
    Tables.t(spark, sf, "region").write.format("lance").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val futures = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          gate.await()
          ManifestIO.commit(root, conf)(_ => Some(LanceCommit(m.schema, m.fragments, m.txns))).get.version
        }
      })
    }
    gate.countDown()
    val versions = futures.map(_.get()).sorted
    pool.shutdown()
    // all four commits succeeded with distinct consecutive versions
    assert(versions === Seq(2L, 3L, 4L, 5L))
    assert(ManifestIO.listVersions(root, conf) === (1L to 5L))
  }

  test("time travel reads pinned versions") {
    val root = tmp()
    val region = Tables.t(spark, sf, "region")
    region.write.format("lance").save(root)
    region.write.format("lance").mode("append").save(root)
    val v1 = spark.read.format("lance").option("versionAsOf", "1").load(root).count()
    val v2 = spark.read.format("lance").load(root).count()
    assert(v1 === region.count())
    assert(v2 === 2 * region.count())
  }

  test("oversized fragments split into byte-range partitions without loss or duplication") {
    val root = tmp()
    orders.coalesce(1).write.format("lance").save(root) // one big fragment
    val frag = ManifestIO.loadLatest(root, conf).get.fragments
    assert(frag.size === 1)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val ds = spark.read.format("lance").load(root)
      assert(ds.rdd.getNumPartitions > 1, "fragment did not split")
      assert(ds.count() === orders.count())
      assert(ds.select("o_orderkey").distinct().count() ===
        orders.select("o_orderkey").distinct().count())
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("timestampAsOf resolves versions by manifest commit time") {
    val root = tmp()
    val region = Tables.t(spark, sf, "region")
    region.write.format("lance").save(root) // v1
    Thread.sleep(60)
    val between = System.currentTimeMillis()
    Thread.sleep(60)
    region.write.format("lance").mode("append").save(root) // v2
    val atV1 = spark.read.format("lance")
      .option("timestampAsOf", between.toString).load(root)
    assert(atV1.count() === region.count())
    val now = spark.read.format("lance")
      .option("timestampAsOf", System.currentTimeMillis().toString).load(root)
    assert(now.count() === 2 * region.count())
    // before any commit → error
    intercept[IllegalArgumentException] {
      spark.read.format("lance").option("timestampAsOf", "1000").load(root).count()
    }
    // catalog long overload is TIMESTAMP AS OF in MICROS, not a version
    spark.conf.set("spark.sql.catalog.lance_tt",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_tt.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_tt.db")
    region.createOrReplaceTempView("region_tt_src")
    spark.sql("CREATE TABLE lance_tt.db.r AS SELECT * FROM region_tt_src")
    Thread.sleep(60)
    val betweenCat = System.currentTimeMillis()
    Thread.sleep(60)
    spark.sql("INSERT INTO lance_tt.db.r SELECT * FROM region_tt_src")
    val cat = spark.sessionState.catalogManager.catalog("lance_tt")
      .asInstanceOf[graft.sources.lance.LanceCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "r")
    val tbl = cat.loadTable(ident, betweenCat * 1000L) // micros
      .asInstanceOf[graft.sources.lance.LanceTable]
    assert(tbl.manifest.get.totalRows === region.count())
  }

  test("overwrite replaces contents and schema") {
    val root = tmp()
    Tables.t(spark, sf, "region").write.format("lance").save(root)
    Tables.t(spark, sf, "nation").write.format("lance").mode("overwrite").save(root)
    val ds = spark.read.format("lance").load(root)
    assert(ds.columns.toSeq.contains("n_nationkey"))
    assert(ds.count() === Tables.t(spark, sf, "nation").count())
  }

  test("catalog: ALTER TABLE ADD/DROP COLUMN evolves schema over old fragments") {
    spark.conf.set("spark.sql.catalog.lance_evo",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_evo.warehouse", tmp())
    Tables.t(spark, sf, "region").createOrReplaceTempView("region_evo_src")
    spark.sql("CREATE NAMESPACE lance_evo.db")
    spark.sql("CREATE TABLE lance_evo.db.r AS SELECT r_regionkey, r_name FROM region_evo_src")
    spark.sql("ALTER TABLE lance_evo.db.r ADD COLUMN note STRING")
    // old fragments surface the new column as null
    val afterAdd = spark.sql("SELECT * FROM lance_evo.db.r")
    assert(afterAdd.columns.toSeq === Seq("r_regionkey", "r_name", "note"))
    assert(afterAdd.filter(col("note").isNull).count() === 5)
    // new inserts carry it; old + new read together
    spark.sql("INSERT INTO lance_evo.db.r SELECT r_regionkey, r_name, 'x' FROM region_evo_src")
    assert(spark.sql("SELECT count(*) FROM lance_evo.db.r WHERE note = 'x'").first().getLong(0) === 5)
    assert(spark.sql("SELECT count(*) FROM lance_evo.db.r").first().getLong(0) === 10)
    spark.sql("ALTER TABLE lance_evo.db.r DROP COLUMN note")
    assert(spark.sql("SELECT * FROM lance_evo.db.r").columns.toSeq === Seq("r_regionkey", "r_name"))
  }

  test("catalog: ALTER TABLE ADD COLUMN of struct / array<struct> type evolves") {
    spark.conf.set("spark.sql.catalog.lance_nst",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_nst.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_nst.db")
    spark.sql("CREATE TABLE lance_nst.db.t AS SELECT * FROM VALUES (1), (2) AS v(id)")
    spark.sql("ALTER TABLE lance_nst.db.t ADD COLUMN meta STRUCT<a: BIGINT, b: STRING>")
    // old fragments surface the new struct column as NULL
    val afterAdd = spark.sql("SELECT id, meta FROM lance_nst.db.t ORDER BY id").collect()
    assert(afterAdd.forall(_.isNullAt(1)), afterAdd.mkString(", "))
    // new inserts carry struct values; nested field projection + filter work
    spark.sql("INSERT INTO lance_nst.db.t " +
      "SELECT 3, named_struct('a', CAST(30 AS BIGINT), 'b', 'z')")
    assert(spark.sql("SELECT meta.a FROM lance_nst.db.t WHERE meta.b = 'z'")
      .first().getLong(0) === 30)
    assert(spark.sql("SELECT count(*) FROM lance_nst.db.t WHERE meta IS NULL")
      .first().getLong(0) === 2)
    spark.sql("ALTER TABLE lance_nst.db.t ADD COLUMN tags ARRAY<STRUCT<k: STRING, v: BIGINT>>")
    spark.sql("INSERT INTO lance_nst.db.t " +
      "SELECT 4, named_struct('a', CAST(40 AS BIGINT), 'b', 'w'), " +
      "array(named_struct('k', 'x', 'v', CAST(7 AS BIGINT)))")
    assert(spark.sql("SELECT tags[0].v FROM lance_nst.db.t WHERE id = 4")
      .first().getLong(0) === 7)
    assert(spark.sql("SELECT count(*) FROM lance_nst.db.t").first().getLong(0) === 4)
  }

  test("catalog: DROP then re-ADD same column null-masks pre-drop fragments") {
    spark.conf.set("spark.sql.catalog.lance_mask",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_mask.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_mask.db")
    spark.sql("CREATE TABLE lance_mask.db.t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, c)")
    spark.sql("ALTER TABLE lance_mask.db.t DROP COLUMN c")
    spark.sql("ALTER TABLE lance_mask.db.t ADD COLUMN c STRING")
    // pre-drop fragments must NOT resurrect the old physical values
    val rows = spark.sql("SELECT id, c FROM lance_mask.db.t ORDER BY id").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(rows.forall(_.isNullAt(1)), rows.mkString(", "))
    // filters on the masked column see NULL, not stale values
    assert(spark.sql("SELECT count(*) FROM lance_mask.db.t WHERE c IS NULL").first().getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM lance_mask.db.t WHERE c = 'a'").first().getLong(0) === 0)
    // new inserts carry real values; mixed read stays correct
    spark.sql("INSERT INTO lance_mask.db.t SELECT 3, 'z'")
    val mixed = spark.sql("SELECT id, c FROM lance_mask.db.t ORDER BY id").collect()
    assert(mixed.map(r => Option(r.getString(1))).toSeq === Seq(None, None, Some("z")))
    // duplicate ADD COLUMN via the direct catalog API is rejected
    val cat = spark.sessionState.catalogManager.catalog("lance_mask")
      .asInstanceOf[graft.sources.lance.LanceCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t")
    intercept[IllegalArgumentException] {
      cat.alterTable(ident, org.apache.spark.sql.connector.catalog.TableChange
        .addColumn(Array("c"), org.apache.spark.sql.types.StringType))
    }
  }

  test("DELETE: stats-aligned fragments drop metadata-only, partial ones gain delete vectors") {
    import graft.sources.lance.LanceDelete
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val root = tmp()
    // sorted write → fragments cover contiguous o_orderkey ranges
    orders.orderBy("o_orderkey").repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.format("lance").option("maxRowsPerFile", "400").save(root)
    val before = ManifestIO.loadLatest(root, conf).get
    val maxKey = orders.agg(max("o_orderkey")).first().getLong(0)
    val cut = maxKey / 2
    // fragments entirely above the cut must survive untouched (same paths)
    val untouchedBefore = before.fragments.filter(fr =>
      LancePruning.provablyEmpty(fr, before.schema, GreaterThanOrEqual("o_orderkey", cut)))
      .map(_.path).toSet
    assert(untouchedBefore.nonEmpty, "test needs fragments below the cut")
    LanceDelete.deleteWhere(spark, root,
      Array(GreaterThanOrEqual("o_orderkey", cut)), Map.empty)
    val after = ManifestIO.loadLatest(root, conf).get
    assert(untouchedBefore.subsetOf(after.fragments.map(_.path).toSet))
    // no fragment was rewritten: every surviving path existed before, and
    // partial overlap shows up as a delete vector, not a new file
    assert(after.fragments.map(_.path).toSet.subsetOf(before.fragments.map(_.path).toSet))
    val left = spark.read.format("lance").load(root)
    assert(left.count() === orders.filter(col("o_orderkey") < cut).count())
    assert(left.agg(max("o_orderkey")).first().getLong(0) < cut)
    // second delete: positions merge into the partial fragments' DVs
    LanceDelete.deleteWhere(spark, root, Array(EqualTo("o_orderstatus", "F")), Map.empty)
    val left2 = spark.read.format("lance").load(root)
    assert(ManifestIO.loadLatest(root, conf).get.fragments.exists(_.deletes.isDefined))
    assert(left2.filter(col("o_orderstatus") === "F").count() === 0)
    assert(left2.count() ===
      orders.filter(col("o_orderkey") < cut && col("o_orderstatus") =!= "F").count())
    // provably-no-match delete is a no-op commit-wise
    val v = ManifestIO.loadLatest(root, conf).get.version
    LanceDelete.deleteWhere(spark, root, Array(LessThan("o_orderkey", -1L)), Map.empty)
    assert(ManifestIO.loadLatest(root, conf).get.version === v)
  }

  test("UPDATE / MERGE / subquery DELETE via delta row-level ops") {
    spark.conf.set("spark.sql.catalog.lance_rlo",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_rlo.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_rlo.db")
    spark.sql("CREATE TABLE lance_rlo.db.t AS " +
      "SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, 'd', 40) AS v(id, name, amt)")

    spark.sql("UPDATE lance_rlo.db.t SET amt = amt + 100 WHERE id <= 2")
    val afterUpdate = spark.sql("SELECT id, amt FROM lance_rlo.db.t ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(afterUpdate.toSeq === Seq((1, 110), (2, 120), (3, 30), (4, 40)))

    spark.sql("CREATE OR REPLACE TEMP VIEW rlo_src AS " +
      "SELECT * FROM VALUES (3, 'cc', 333), (5, 'e', 50) AS s(id, name, amt)")
    spark.sql(
      """MERGE INTO lance_rlo.db.t t USING rlo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.amt = s.amt, t.name = s.name
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = spark.sql("SELECT id, name, amt FROM lance_rlo.db.t ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(afterMerge.toSeq === Seq((1, "a", 110), (2, "b", 120),
      (3, "cc", 333), (4, "d", 40), (5, "e", 50)))

    // subquery DELETE: canDeleteWhere declines → row-level rewrite path
    spark.sql("DELETE FROM lance_rlo.db.t WHERE id IN (SELECT id FROM rlo_src)")
    val afterDelete = spark.sql("SELECT id FROM lance_rlo.db.t ORDER BY id")
      .collect().map(_.getInt(0))
    assert(afterDelete.toSeq === Seq(1, 2, 4))
  }

  test("delta UPDATE writes a delete vector; every original fragment file stays in place") {
    import graft.sources.lance.DeleteVectors
    spark.conf.set("spark.sql.catalog.lance_dv",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_dv.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_dv.db")
    spark.sql("CREATE TABLE lance_dv.db.o (o_orderkey BIGINT, o_custkey BIGINT)")
    val root = s"$wh/db/o"
    orders.select("o_orderkey", "o_custkey")
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format("lance").mode("append").save(root)
    val before = ManifestIO.loadLatest(root, conf).get
    val preVersion = before.version
    val total = orders.count()

    val minKey = spark.sql("SELECT min(o_orderkey) FROM lance_dv.db.o").first().getLong(0)
    spark.sql(s"UPDATE lance_dv.db.o SET o_custkey = -7 WHERE o_orderkey = $minKey")

    val after = ManifestIO.loadLatest(root, conf).get
    // zero original fragments rewritten: every pre-update path survives
    assert(before.fragments.map(_.path).toSet.subsetOf(after.fragments.map(_.path).toSet),
      "delta UPDATE must not rewrite any original fragment")
    // exactly one fragment gained a 1-position delete vector
    val dvFrags = after.fragments.filter(_.deletes.isDefined)
    assert(dvFrags.size === 1 && dvFrags.head.deletes.get.count === 1L, dvFrags)
    assert(DeleteVectors.read(root, conf, dvFrags.head.deletes.get.path).length === 1)
    // exactly one new 1-row insert fragment
    val newFrags = after.fragments.filterNot(f => before.fragments.exists(_.path == f.path))
    assert(newFrags.size === 1 && newFrags.head.rows === 1L, newFrags)
    assert(after.totalRows === total)

    // results correct; _pos/_file round through the masked read path
    assert(spark.sql(s"SELECT o_custkey FROM lance_dv.db.o WHERE o_orderkey = $minKey")
      .first().getLong(0) === -7L)
    assert(spark.sql("SELECT count(*) FROM lance_dv.db.o").first().getLong(0) === total)
    // time travel: the pre-update version still reads the old value
    assert(spark.sql(
      s"SELECT o_custkey FROM lance_dv.db.o VERSION AS OF $preVersion WHERE o_orderkey = $minKey")
      .first().getLong(0) !== -7L)
    // COUNT(*) stays stats-answered (liveRows is exact under DVs)…
    val countPlan = spark.sql("SELECT count(*) FROM lance_dv.db.o")
      .queryExecution.executedPlan.toString
    assert(countPlan.contains("LanceStatsScan"), countPlan)
    // …but SUM declines to a full scan and is still correct
    val sumDf = spark.sql("SELECT sum(o_custkey) AS s FROM lance_dv.db.o")
    assert(!sumDf.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    val expected = orders.filter(col("o_orderkey") =!= minKey).agg(sum("o_custkey"))
      .first().getLong(0) - 7L
    assert(sumDf.first().getLong(0) === expected)
  }

  test("delta subquery DELETE: partial fragments gain DVs, fully-deleted fragments drop") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.lance_dvd",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_dvd.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_dvd.db")
    spark.sql("CREATE TABLE lance_dvd.db.t (id BIGINT, v STRING)")
    val root = s"$wh/db/t"
    // fragment A: ids 1-3; fragment B: ids 4-6
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.format("lance").mode("append").save(root)
    Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v").coalesce(1)
      .write.format("lance").mode("append").save(root)
    spark.sql("CREATE OR REPLACE TEMP VIEW dvd_ids AS " +
      "SELECT * FROM VALUES (1), (2), (3), (5) AS x(id)")
    spark.sql("DELETE FROM lance_dvd.db.t WHERE id IN (SELECT id FROM dvd_ids)")
    val m = ManifestIO.loadLatest(root, conf).get
    // fragment A (all rows deleted) dropped from the manifest entirely
    assert(m.fragments.size === 1, m.fragments)
    assert(m.fragments.head.deletes.map(_.count) === Some(1L))
    assert(m.totalRows === 2L)
    assert(spark.sql("SELECT id FROM lance_dvd.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(4L, 6L))
    // second delete layers onto the existing DV (merge, not overwrite)
    spark.sql("DELETE FROM lance_dvd.db.t WHERE id IN (SELECT id FROM dvd_ids WHERE id > 90)")
    spark.sql("CREATE OR REPLACE TEMP VIEW dvd_ids2 AS SELECT * FROM VALUES (6) AS x(id)")
    spark.sql("DELETE FROM lance_dvd.db.t WHERE id IN (SELECT id FROM dvd_ids2)")
    val m2 = ManifestIO.loadLatest(root, conf).get
    assert(m2.fragments.head.deletes.map(_.count) === Some(2L))
    assert(spark.sql("SELECT id FROM lance_dvd.db.t").collect().map(_.getLong(0)).toSeq
      === Seq(4L))
  }

  test("INSERT INTO ... REPLACE WHERE: one atomic commit drops/DVs matches and appends") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.lance_rw",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_rw.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rw.db")
    spark.sql("CREATE TABLE lance_rw.db.t (id BIGINT, status STRING)")
    val root = s"$wh/db/t"
    // fragment A: wholly status='F'; fragment B: mixed
    Seq((1L, "F"), (2L, "F")).toDF("id", "status").coalesce(1)
      .write.format("lance").mode("append").save(root)
    Seq((3L, "F"), (4L, "O")).toDF("id", "status").coalesce(1)
      .write.format("lance").mode("append").save(root)
    val before = ManifestIO.loadLatest(root, conf).get

    spark.sql("INSERT INTO lance_rw.db.t REPLACE WHERE status = 'F' " +
      "VALUES (10, 'R'), (11, 'R')")

    val after = ManifestIO.loadLatest(root, conf).get
    // exactly ONE commit for the whole replace (atomic delete + append)
    assert(after.version === before.version + 1)
    // all-'F' fragment dropped; mixed fragment kept with a 1-position DV
    val kept = after.fragments.filter(f => before.fragments.exists(_.path == f.path))
    assert(kept.size === 1 && kept.head.deletes.map(_.count) === Some(1L), kept)
    assert(spark.sql("SELECT id, status FROM lance_rw.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((4L, "O"), (10L, "R"), (11L, "R")))
    // replace matching nothing appends without touching existing fragments
    spark.sql("INSERT INTO lance_rw.db.t REPLACE WHERE status = 'Z' VALUES (12, 'O')")
    val after2 = ManifestIO.loadLatest(root, conf).get
    assert(after.fragments.map(_.path).toSet.subsetOf(after2.fragments.map(_.path).toSet))
    assert(spark.sql("SELECT count(*) FROM lance_rw.db.t").first().getLong(0) === 4L)
  }

  test("compaction folds delete vectors into clean fragments; vacuum sweeps orphaned DVs") {
    import graft.sources.lance.{LanceDelete, LanceMaintenance}
    import org.apache.spark.sql.sources.EqualTo
    val root = tmp()
    orders.orderBy("o_orderkey").repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.format("lance").option("maxRowsPerFile", "400").save(root)
    LanceDelete.deleteWhere(spark, root, Array(EqualTo("o_orderstatus", "F")), Map.empty)
    val withDv = ManifestIO.loadLatest(root, conf).get
    assert(withDv.fragments.exists(_.deletes.isDefined), "setup needs DVs")
    val expect = orders.filter(col("o_orderstatus") =!= "F").count()
    assert(withDv.totalRows === expect)

    // compaction rewrites every DV-carrying fragment into clean files
    val compacted = LanceMaintenance.compact(spark, root,
      smallerThanRows = 1, targetRows = 10000)
    assert(compacted.fragments.forall(_.deletes.isEmpty), compacted.fragments)
    val after = spark.read.format("lance").load(root)
    assert(after.count() === expect)
    assert(after.filter(col("o_orderstatus") === "F").count() === 0)
    // fragment physical rows now equal live rows (deletes folded in)
    assert(compacted.totalRows === expect)

    // vacuum to the latest version sweeps the now-unreferenced DV files
    LanceMaintenance.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    val fs = ManifestIO.fs(root, conf)
    val dvDir = new org.apache.hadoop.fs.Path(root, graft.sources.lance.DeleteVectors.Dir)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "orphaned delete vectors must be vacuumed")
    assert(spark.read.format("lance").load(root).count() === expect)
  }

  test("aggregates answer from live stats under delete vectors (removed-row stats)") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "500").save(root)
    // partial metadata-path delete strictly inside one fragment's key range
    // (orders are key-ordered, 500-row fragments): that fragment gets a DV
    // with removed-row stats, the rest stay untouched — and the removed
    // o_orderkey range (101..199) stays strictly inside the live bounds,
    // so min/max remain provable
    graft.sources.lance.LanceDelete.deleteWhere(spark, root,
      Array(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThan("o_orderkey", 100L),
        org.apache.spark.sql.sources.LessThan("o_orderkey", 200L))), Map.empty)
    val m = ManifestIO.loadLatest(root, conf).get
    val dvd = m.fragments.filter(_.deletes.isDefined)
    assert(dvd.nonEmpty, "expected at least one DV'd fragment")
    assert(dvd.forall(_.deletes.get.removed.contains("o_orderkey")))

    val expected = orders.filter(!(col("o_orderkey") > 100 && col("o_orderkey") < 200))
    val ds = spark.read.format("lance").load(root)
    // COUNT(col) / SUM / AVG answer from live stats (phys − removed)
    val q = ds.agg(count(lit(1)), count(col("o_custkey")), sum("o_custkey"),
      avg("o_custkey"), min("o_orderkey"), max("o_orderkey"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LanceStatsScan"), plan)
    assert(q.collect()(0) === expected.agg(count(lit(1)), count(col("o_custkey")),
      sum("o_custkey"), avg("o_custkey"), min("o_orderkey"), max("o_orderkey")).collect()(0))

    // MIN/MAX on a column whose removed values may touch the fragment
    // bounds: answers from stats when provable, scans otherwise — equal
    // either way
    val mm = ds.agg(min("o_custkey"), max("o_custkey"))
    assert(mm.collect()(0) === expected.agg(min("o_custkey"), max("o_custkey")).collect()(0))

    // dictionaries never survive a DV: COUNT(DISTINCT status) scans
    val cd = ds.agg(count_distinct(col("o_orderstatus")))
    assert(!cd.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(cd.first().getLong(0) ===
      expected.agg(count_distinct(col("o_orderstatus"))).first().getLong(0))

    // a second delete on the same fragment accumulates removed stats
    // (merged DV: removed = [101,199] ∪ [251,349], still strictly inside)
    graft.sources.lance.LanceDelete.deleteWhere(spark, root,
      Array(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThan("o_orderkey", 250L),
        org.apache.spark.sql.sources.LessThan("o_orderkey", 350L))), Map.empty)
    val expected2 = expected.filter(!(col("o_orderkey") > 250 && col("o_orderkey") < 350))
    val q2 = spark.read.format("lance").load(root)
      .agg(count(col("o_custkey")), sum("o_custkey"), min("o_orderkey"), max("o_orderkey"))
    assert(q2.queryExecution.executedPlan.toString.contains("LanceStatsScan"))
    assert(q2.collect()(0) === expected2.agg(count(col("o_custkey")), sum("o_custkey"),
      min("o_orderkey"), max("o_orderkey")).collect()(0))
  }

  test("subquery DELETE with pushed conjunct rewrites provably-all-match fragments") {
    // Spark pushes the RAW delete condition's translatable conjuncts to the
    // group-based scan (RewriteDeleteFromTable passes un-negated cond to
    // ReplaceData). A fragment wholly matching a pushed conjunct is NOT
    // untouched — its rows may still match the unpushed subquery conjunct.
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.lance_dcj",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_dcj.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_dcj.db")
    spark.sql("CREATE TABLE lance_dcj.db.t (id BIGINT, status STRING)")
    val root = s"$wh/db/t"
    // fragment 1: wholly status='F' (provablyAllMatch(status='F') = true)
    Seq((1L, "F"), (2L, "F"), (3L, "F")).toDF("id", "status").coalesce(1)
      .write.format("lance").mode("append").save(root)
    // fragment 2: mixed statuses
    Seq((4L, "F"), (5L, "O")).toDF("id", "status").coalesce(1)
      .write.format("lance").mode("append").save(root)
    spark.sql("CREATE OR REPLACE TEMP VIEW dcj_ids AS " +
      "SELECT * FROM VALUES (2), (4), (5) AS v(id)")
    // deletes id=2 (all-'F' fragment) and id=4; id=5 is status 'O' → kept
    spark.sql("DELETE FROM lance_dcj.db.t " +
      "WHERE status = 'F' AND id IN (SELECT id FROM dcj_ids)")
    val remaining = spark.sql("SELECT id FROM lance_dcj.db.t ORDER BY id")
      .collect().map(_.getLong(0))
    assert(remaining.toSeq === Seq(1L, 3L, 5L))
  }

  test("_file metadata column; subquery UPDATE writes one DV and rewrites no fragment") {
    spark.conf.set("spark.sql.catalog.lance_rgf",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_rgf.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rgf.db")
    spark.sql("CREATE TABLE lance_rgf.db.o (o_orderkey BIGINT, o_custkey BIGINT)")
    // append range-partitioned fragments through the path API
    val root = s"$wh/db/o"
    orders.select("o_orderkey", "o_custkey")
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.format("lance").mode("append").save(root)
    val before = ManifestIO.loadLatest(root, conf).get

    // _file is selectable and distinct per fragment
    val files = spark.sql("SELECT DISTINCT _file FROM lance_rgf.db.o")
      .collect().map(_.getString(0)).toSet
    assert(files.size === before.fragments.size)
    assert(files.forall(_.contains("data/")), files)

    // subquery UPDATE (no static pushdown): the matched row's fragment
    // gains a 1-position delete vector, its new version lands in an insert
    // fragment, and no original fragment is rewritten
    spark.sql("UPDATE lance_rgf.db.o SET o_custkey = -5 " +
      "WHERE o_orderkey IN (SELECT min(o_orderkey) FROM lance_rgf.db.o)")
    val after = ManifestIO.loadLatest(root, conf).get
    val afterBy = after.fragments.map(f => f.path -> f).toMap
    assert(before.fragments.forall(f => afterBy.contains(f.path)),
      s"a pre-update fragment was dropped: ${after.fragments.map(_.path)}")
    val gained = before.fragments.filter(f => afterBy(f.path).deletes != f.deletes)
    assert(gained.size === 1, s"expected one fragment to gain a DV: $gained")
    assert(gained.head.deletes.isEmpty && afterBy(gained.head.path).deletes.map(_.count)
      .contains(1L), afterBy(gained.head.path).deletes)
    assert(spark.sql("SELECT count(*) FROM lance_rgf.db.o WHERE o_custkey = -5")
      .first().getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM lance_rgf.db.o").first().getLong(0)
      === orders.count())
  }

  test("string value dictionaries prune equality filters inside the min/max range") {
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "2000").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    val dict = m.fragments.head.stats("o_orderstatus").distinct
    assert(dict.isDefined && dict.get.nonEmpty, m.fragments.head.stats)
    // 'G' sorts between the real statuses, so min/max range pruning cannot
    // fire — only the exact dictionary can prove emptiness
    assert(!dict.get.contains("G"))
    def prunedCount(pred: org.apache.spark.sql.Column): Int = {
      val plan = spark.read.format("lance").load(root).filter(pred)
        .queryExecution.executedPlan.toString
      "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get.group(1).toInt
    }
    assert(prunedCount(col("o_orderstatus") === "G") === 0)
    assert(prunedCount(col("o_orderstatus").isin("G", "H")) === 0)
    // present values: no spurious pruning, results intact
    assert(spark.read.format("lance").load(root)
      .filter(col("o_orderstatus") === "F").count()
      === orders.filter(col("o_orderstatus") === "F").count())
    // high-cardinality columns overflow the cap → no dictionary recorded
    assert(m.fragments.head.stats.get("o_orderpriority").forall(s =>
      s.distinct.forall(_.size <= graft.sources.lance.ManifestIO.MaxDistinct)))
  }

  test("RENAME COLUMN: physical-name mapping preserves values and identity") {
    spark.conf.set("spark.sql.catalog.lance_ren",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_ren.warehouse", tmp())
    spark.sql("CREATE NAMESPACE lance_ren.db")
    spark.sql("CREATE TABLE lance_ren.db.t AS " +
      "SELECT * FROM VALUES (1, 'x', 10), (2, 'y', 20) AS v(id, tag, amt)")
    // rename: old fragments keep their values under the new name
    spark.sql("ALTER TABLE lance_ren.db.t RENAME COLUMN tag TO label")
    val renamed = spark.sql("SELECT id, label FROM lance_ren.db.t ORDER BY id").collect()
    assert(renamed.map(_.getString(1)).toSeq === Seq("x", "y"))
    // filtering on the renamed column still works (residual re-evaluation)
    assert(spark.sql("SELECT count(*) FROM lance_ren.db.t WHERE label = 'x'")
      .first().getLong(0) === 1)
    // re-ADD the OLD name: pre-rename fragments must read it as NULL
    spark.sql("ALTER TABLE lance_ren.db.t ADD COLUMN tag STRING")
    val readded = spark.sql("SELECT id, label, tag FROM lance_ren.db.t ORDER BY id").collect()
    assert(readded.map(_.getString(1)).toSeq === Seq("x", "y"))
    assert(readded.forall(_.isNullAt(2)), readded.mkString(", "))
    // new inserts under the evolved schema mix correctly with old fragments
    spark.sql("INSERT INTO lance_ren.db.t SELECT 3, 'z', 30, 'fresh'")
    val mixed = spark.sql("SELECT id, label, tag FROM lance_ren.db.t ORDER BY id").collect()
    assert(mixed.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
    assert(mixed.map(r => Option(r.getString(2))).toSeq === Seq(None, None, Some("fresh")))
    // rename chain onto a previously-dropped name: values follow the chain
    spark.sql("ALTER TABLE lance_ren.db.t DROP COLUMN tag")
    spark.sql("ALTER TABLE lance_ren.db.t RENAME COLUMN label TO tag")
    val chained = spark.sql("SELECT id, tag FROM lance_ren.db.t ORDER BY id").collect()
    assert(chained.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
    // compaction rewrites old fragments to identity column maps
    graft.sources.lance.LanceMaintenance.compact(spark,
      spark.conf.get("spark.sql.catalog.lance_ren.warehouse") + "/db/t",
      smallerThanRows = 100, targetRows = 100)
    val compacted = spark.sql("SELECT id, tag FROM lance_ren.db.t ORDER BY id").collect()
    assert(compacted.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
  }

  test("compaction fully replaces small fragments; DELETE composes on the fresh manifest") {
    import graft.sources.lance.{LanceDelete, LanceMaintenance}
    import org.apache.spark.sql.sources.EqualTo
    val root = tmp()
    orders.limit(1000).write.format("lance").option("maxRowsPerFile", "100").save(root)
    val before = spark.read.format("lance").load(root).count()
    val m0 = ManifestIO.loadLatest(root, conf).get
    LanceMaintenance.compact(spark, root, smallerThanRows = 1000, targetRows = 10000)
    val m1 = ManifestIO.loadLatest(root, conf).get
    assert(m1.fragments.map(_.path).toSet.intersect(m0.fragments.map(_.path).toSet).isEmpty)
    LanceDelete.deleteWhere(spark, root, Array(EqualTo("o_orderstatus", "F")), Map.empty)
    val after = spark.read.format("lance").load(root)
    assert(after.filter(col("o_orderstatus") === "F").count() === 0)
    assert(after.count() ===
      spark.read.format("lance").option("versionAsOf", "1").load(root)
        .filter(col("o_orderstatus") =!= "F").count())
    assert(after.count() < before)
  }

  test("append racing a concurrent DROP stamps the dropped column hidden") {
    import graft.sources.lance.LanceWriteUtil
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val frags = Seq(FragmentMeta("data/f.parquet", 10, 100,
      Map("id" -> ColStats(Some(JLong(1)), Some(JLong(10)), Some(0L)),
          "c" -> ColStats(Some(JString("a")), Some(JString("z")), Some(0L)))))
    val writerSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("c", StringType)))
    val tableSchema = StructType(Seq(StructField("id", IntegerType))) // winner dropped c
    val out = LanceWriteUtil.stampRacedDrops(frags, writerSchema, tableSchema)
    assert(out.head.hidden === Seq("c"))
    assert(!out.head.stats.contains("c") && out.head.stats.contains("id"))
    // no-op when schemas agree
    assert(LanceWriteUtil.stampRacedDrops(frags, tableSchema, tableSchema) === frags)
  }

  test("LIKE-family filters prune fragments via string ranges and dictionaries") {
    import spark.implicits._
    val root = tmp()
    // 4 fragments over sorted keys: a-prefixed, b-, c-, d-
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (p, i) =>
      (0 until 50).map(n => (f"$p$n%03d-suffix$i", i.toLong)).toDF("key", "grp")
        .coalesce(1).write.format("lance").mode("append").save(root)
    }
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(
        df.queryExecution.executedPlan.toString).get.group(1).toInt
    val ds = spark.read.format("lance").load(root)
    // prefix LIKE prunes by string range: only the b-fragment can match
    val pre = ds.filter(col("key").startsWith("b0"))
    assert(scanned(pre) === 1, pre.queryExecution.executedPlan.toString)
    assert(pre.count() === 50)
    // absent prefix prunes everything
    assert(scanned(ds.filter(col("key").startsWith("zz"))) === 0)
    // suffix/contains prune through the exact value dictionary... these
    // fragments exceed the dict cap (50 > 32), so LIKE '%x' keeps all —
    // write a small-dict dataset to exercise the dictionary path
    val root2 = tmp()
    Seq.fill(20)("alpha").zipWithIndex.map { case (s, i) => (s + (i % 3), i.toLong) }
      .toDF("key", "n").coalesce(1).write.format("lance").save(root2)
    Seq.fill(20)("beta").zipWithIndex.map { case (s, i) => (s + (i % 3), i.toLong) }
      .toDF("key", "n").coalesce(1).write.format("lance").mode("append").save(root2)
    val ds2 = spark.read.format("lance").load(root2)
    assert(scanned(ds2.filter(col("key").endsWith("0").and(col("key").startsWith("alpha")))) === 1)
    assert(scanned(ds2.filter(col("key").contains("bet"))) === 1)
    assert(ds2.filter(col("key").contains("bet")).count() === 20)
  }

  test("string pruning compares in UTF-8 binary order, not UTF-16") {
    import spark.implicits._
    // U+FFFF sorts ABOVE the emoji in UTF-16 code units but BELOW it in
    // UTF-8 bytes (EF BF BF < F0 9F 98 80) — parquet stats and Spark's
    // string comparisons are both UTF-8 binary, so pruning must be too.
    // A UTF-16-order prune would drop this fragment for `key < '😀'`
    // even though its row matches.
    val root = tmp()
    Seq(("￿", 1L)).toDF("key", "n")
      .write.format("lance").save(root)
    val ds = spark.read.format("lance").load(root)
    assert(ds.filter(col("key") < "😀").count() === 1)
    assert(ds.filter(col("key").startsWith("￿")).count() === 1)
    // and the emoji side: startsWith on a supplementary-plane prefix
    val root2 = tmp()
    Seq(("😀tail", 1L), ("￿", 2L)).toDF("key", "n")
      .write.format("lance").save(root2)
    val ds2 = spark.read.format("lance").load(root2)
    assert(ds2.filter(col("key").startsWith("😀")).count() === 1)
    assert(ds2.filter(col("key") > "￿").count() === 1)
  }

  test("bloom filters prune equality lookups on high-cardinality columns") {
    import spark.implicits._
    val root = tmp()
    // 8 fragments x 2000 rows of unique string ids — far past the value
    // dictionary cap (32), inside bloom capacity (~6.8k @1% fpp); ids are
    // RANDOMLY bucketed so every fragment's min/max range overlaps every
    // lookup (range stats prune nothing — only the bloom can)
    spark.range(16000)
      .select(concat(lit("id-"), lpad(col("id").cast("string"), 8, "0")).as("key"),
        col("id").as("payload"))
      .repartition(8, col("payload"))
      .write.format("lance").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.size === 8)
    assert(m.fragments.forall(_.sketches.isDefined))

    def fragsScanned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      val mm = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
      (mm.group(1).toInt, mm.group(2).toInt)
    }
    val ds = spark.read.format("lance").load(root)
    // a present key lives in exactly one fragment: bloom prunes the rest
    // (fpp may keep the odd extra fragment, never all 8)
    val hit = ds.filter(col("key") === "id-00012345")
    val (scanned, total) = fragsScanned(hit)
    assert(total === 8 && scanned < 8 && scanned >= 1, s"$scanned/$total")
    assert(hit.collect().map(_.getLong(1)).toSeq === Seq(12345L))
    // an absent key prunes everything (no false positive for this value)
    val miss = ds.filter(col("key") === "id-99999999")
    assert(miss.count() === 0L)
    val (scannedMiss, _) = fragsScanned(miss)
    assert(scannedMiss <= 1, s"absent key scanned $scannedMiss fragments")
    // IN lists prune per-value; results stay exact
    val in = ds.filter(col("key").isin("id-00000007", "id-00015999"))
    assert(in.collect().map(_.getLong(1)).sorted.toSeq === Seq(7L, 15999L))
    assert(fragsScanned(in)._1 < 8)
    // integral column lookups prune too
    val (si, _) = fragsScanned(ds.filter(col("payload") === 12345L))
    assert(si < 8)
  }

  test("runtime join-key filters prune fact fragments (dynamic pruning analog)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val factRoot = tmp()
    spark.range(4000)
      .select(col("id").as("f_id"), (col("id") % 97).as("payload"))
      .repartitionByRange(4, col("f_id"))
      .write.format("lance").save(factRoot)
    val m = ManifestIO.loadLatest(factRoot, conf).get
    assert(m.fragments.size === 4)
    val dimRoot = tmp()
    // one MIXED fragment: the tag filter stays residual (a consumed-exact
    // filter would drop the dim-side Filter node, and Spark's DPP rule
    // requires a selective predicate on the filtering side)
    Seq((5L, "keep"), (17L, "keep"), (2905L, "drop")).toDF("d_id", "tag")
      .coalesce(1).write.format("lance").save(dimRoot)

    // direct scan-interface check: an IN predicate narrows the partition plan
    val ds = spark.read.format("lance").load(factRoot)
    val direct = ds.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: BatchScanExec => b
    }.get.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    assert(direct.filterAttributes().map(_.fieldNames().head).toSet === Set("f_id", "payload"))
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    direct.filter(Array(new Predicate("IN", Array[org.apache.spark.sql.connector.expressions.Expression](
      Expressions.column("f_id"), Expressions.literal(5L), Expressions.literal(17L)))))
    assert(direct.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
      .toBatch.planInputPartitions().length === 1)

    // end-to-end: a selective dim filter dynamically prunes the fact scan —
    // only fragments whose f_id range covers a surviving key are read
    val coveringRows = m.fragments.filter { fr =>
      val s = fr.stats("f_id")
      Seq(5L, 17L).exists(k => s.min.exists { case JLong(mn) => mn <= k case _ => false } &&
        s.max.exists { case JLong(mx) => mx >= k case _ => false })
    }.map(_.rows).sum
    assert(coveringRows < 4000, "test setup: keys must not span every fragment")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fact = spark.read.format("lance").load(factRoot)
      val dim = spark.read.format("lance").load(dimRoot).filter(col("tag") === "keep")
      val joined = fact.join(dim, col("f_id") === col("d_id"))
      assert(joined.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 17L))
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"), plan.toString)
      val factScan = plan.collectLeaves().collectFirst {
        case b: BatchScanExec if b.output.exists(_.name == "f_id") => b
      }.get
      assert(factScan.metrics("numOutputRows").value === coveringRows)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // under AQE (the production path) the adaptive planner injects the same
    // runtime filter; the fact scan again reads only the covering fragments
    val factA = spark.read.format("lance").load(factRoot)
    val dimA = spark.read.format("lance").load(dimRoot).filter(col("tag") === "keep")
    val joinedA = factA.join(dimA, col("f_id") === col("d_id"))
    assert(joinedA.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 17L))
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case other => other.collect {
        case b: BatchScanExec => Seq(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      }.flatten
    }
    val factScanA = scans(joinedA.queryExecution.executedPlan)
      .find(_.output.exists(_.name == "f_id")).get
    assert(factScanA.metrics("numOutputRows").value === coveringRows)
  }

  test("zorder with a string dimension: equality/range on the string prunes fragments") {
    val root = tmp()
    // 64 countries × 1024 ts, written ts-clustered: country predicates see
    // every fragment until the zorder rewrite folds both dimensions in
    spark.range(65536)
      .selectExpr("concat('C', lpad(CAST(id % 64 AS STRING), 2, '0')) AS country",
        "id DIV 64 AS ts", "id AS payload")
      .orderBy("ts")
      .write.format("lance").option("maxRowsPerFile", "1024").save(root)
    def fragsScanned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val mm = "fragments=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (mm.group(1).toInt, mm.group(2).toInt)
    }
    val pre = spark.read.format("lance").load(root)
    assert(fragsScanned(pre.filter(col("country") === "C07"))._1 === 64)
    val expect = pre.filter(col("country") < "C08")
      .agg(sum("payload")).first().getLong(0)

    graft.sources.lance.LanceMaintenance.zorder(spark, root,
      Seq("country", "ts"), targetRows = 1024)
    val ds = spark.read.format("lance").load(root)
    assert(ds.count() === 65536)
    // a 1/8 slice of the string dimension must prune decisively (≤1/3 of
    // fragments — range-partition boundary SAMPLING is nondeterministic,
    // so exact tile edges wobble run to run)
    val (ss, ts) = fragsScanned(ds.filter(col("country") < "C08"))
    assert(3 * ss <= ts, s"string-slice scanned $ss/$ts")
    // ... and the time dimension keeps pruning too
    val (st, tt) = fragsScanned(ds.filter(col("ts") < 128))
    assert(3 * st <= tt, s"ts-slice scanned $st/$tt")
    // results unchanged by the rewrite
    assert(ds.filter(col("country") < "C08").agg(sum("payload"))
      .first().getLong(0) === expect)
  }

  test("string zorder discriminates past a shared 8+-byte prefix (URL-style keys)") {
    val root = tmp()
    // every key shares the 21-byte prefix 'https://example.com/C' — a rank
    // over the first 8 bytes alone collapses all keys to ONE value (zero
    // clustering on the string dimension); the rank window skips the
    // [min, max] common prefix, so the first DIFFERING bytes discriminate
    spark.range(65536)
      .selectExpr(
        "concat('https://example.com/C', lpad(CAST(id % 64 AS STRING), 2, '0')) AS url",
        "id DIV 64 AS ts", "id AS payload")
      .orderBy("ts")
      .write.format("lance").option("maxRowsPerFile", "1024").save(root)
    def fragsScanned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val mm = "fragments=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (mm.group(1).toInt, mm.group(2).toInt)
    }
    val pre = spark.read.format("lance").load(root)
    assert(fragsScanned(pre.filter(col("url") === "https://example.com/C07"))._1 === 64)
    val expect = pre.filter(col("url") < "https://example.com/C08")
      .agg(sum("payload")).first().getLong(0)
    graft.sources.lance.LanceMaintenance.zorder(spark, root,
      Seq("url", "ts"), targetRows = 1024)
    val ds = spark.read.format("lance").load(root)
    assert(ds.count() === 65536)
    val (ss, ts2) = fragsScanned(ds.filter(col("url") < "https://example.com/C08"))
    assert(3 * ss <= ts2, s"shared-prefix string slice scanned $ss/$ts2")
    val (st, tt) = fragsScanned(ds.filter(col("ts") < 128))
    assert(3 * st <= tt, s"ts-slice scanned $st/$tt")
    assert(ds.filter(col("url") < "https://example.com/C08").agg(sum("payload"))
      .first().getLong(0) === expect)
  }

  test("zorder rewrite: range predicates on BOTH dimensions prune fragments") {
    val root = tmp()
    // 256x256 grid written x-clustered: x predicates prune, y predicates
    // see every fragment (each holds the full y range)
    spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).as("y"),
        col("id").as("payload"))
      .orderBy("y") // y-major: each 1024-row fragment = 4 full-x rows
      .write.format("lance").option("maxRowsPerFile", "1024").save(root)
    val m0 = ManifestIO.loadLatest(root, conf).get
    assert(m0.fragments.size === 64)

    def fragsScanned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val mm = "fragments=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (mm.group(1).toInt, mm.group(2).toInt)
    }
    val pre = spark.read.format("lance").load(root)
    assert(fragsScanned(pre.filter(col("x") < 32))._1 === 64) // x unclustered
    val expect = pre.filter(col("x") < 32).agg(sum("payload")).first().getLong(0)

    graft.sources.lance.LanceMaintenance.compact(spark, root, 0, 0) // no-op: nothing small
    graft.sources.lance.LanceMaintenance.zorder(spark, root,
      Seq("x", "y"), targetRows = 1024)
    val ds = spark.read.format("lance").load(root)
    assert(ds.count() === 65536)
    // both single-dimension slices now prune most fragments (a 1/8 slice
    // of either dimension should touch ~1/8 of the tiles; allow 2x slack —
    // range-partition sampling makes tile boundaries approximate)
    val (sx, tx) = fragsScanned(ds.filter(col("x") < 32))
    val (sy, ty) = fragsScanned(ds.filter(col("y") < 32))
    assert(tx >= 64 && 4 * sx <= tx, s"x-slice scanned $sx/$tx")
    assert(4 * sy <= ty, s"y-slice scanned $sy/$ty")
    assert(ds.filter(col("x") < 32).agg(sum("payload")).first().getLong(0) === expect)

    // CALL surface: zorder is a stored procedure like compact/vacuum
    spark.conf.set("spark.sql.catalog.lance_zo", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_zo.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_zo.db")
    spark.sql("CREATE TABLE lance_zo.db.g (x BIGINT, d DATE)")
    spark.range(4096)
      .selectExpr("id % 64 AS x", "date_add(DATE '2026-01-01', CAST(id DIV 64 AS INT)) AS d")
      .createOrReplaceTempView("zo_src")
    spark.sql("INSERT INTO lance_zo.db.g SELECT * FROM zo_src")
    val res = spark.sql(
      "CALL lance_zo.system.zorder(table => 'db.g', columns => 'x,d', target_rows => 512)")
      .collect()
    // ~8 partitions of ~512 rows; sampling skew can split several
    assert(res.length === 1 && res.head.getInt(1) >= 8 && res.head.getInt(1) <= 16,
      res.mkString(","))
    assert(spark.sql("SELECT count(*) FROM lance_zo.db.g").first().getLong(0) === 4096L)
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    spark.conf.set("spark.sql.catalog.lance_spj", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_spj.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_spj.db")
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE lance_spj.db.$t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    spark.range(1000).selectExpr("id", "id*2 AS v").createOrReplaceTempView("spj_a")
    spark.range(500).selectExpr("id", "id*3 AS v").createOrReplaceTempView("spj_b")
    spark.sql("INSERT INTO lance_spj.db.a SELECT * FROM spj_a")
    spark.sql("INSERT INTO lance_spj.db.b SELECT * FROM spj_b")

    // every fragment is bucket-tagged, and the tag equals the actual
    // pmod(murmur3(id), 4) of every row in the file (hash() is the same
    // murmur3/seed-42 the write shuffle partitioned by)
    val m = ManifestIO.loadLatest(s"$wh/db/a", conf).get
    assert(m.fragments.nonEmpty && m.fragments.forall(_.bucket.isDefined))
    assert(m.fragments.flatMap(_.bucket).distinct.sorted === Seq(0, 1, 2, 3))
    val perFile = spark.sql(
      "SELECT _file, pmod(hash(id), 4) AS b FROM lance_spj.db.a")
      .groupBy("_file").agg(countDistinct(col("b")).as("nb"), first(col("b")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(perFile.forall(_._2 === 1L), s"mixed-bucket fragment: $perFile")
    for (fr <- m.fragments) {
      val actual = perFile.find(_._1.endsWith(fr.path)).get._3
      assert(fr.bucket.contains(actual), s"${fr.path}: tag=${fr.bucket} actual=$actual")
    }

    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql("SELECT a.id AS id, a.v AS va, b.v AS vb " +
        "FROM lance_spj.db.a a JOIN lance_spj.db.b b ON a.id = b.id")
      val rows = j.collect()
      assert(rows.length === 500)
      assert(rows.forall(r => r.getLong(1) == 2 * r.getLong(0) &&
        r.getLong(2) == 3 * r.getLong(0)))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free SPJ plan:\n$plan")

      // compaction merges WITHIN buckets: a second insert doubles the
      // fragment count, compact folds back to one per bucket, and the
      // join stays shuffle-free on the compacted layout
      spark.sql("INSERT INTO lance_spj.db.a SELECT * FROM spj_a")
      val mc0 = ManifestIO.loadLatest(s"$wh/db/a", conf).get
      assert(mc0.fragments.size === 8)
      graft.sources.lance.LanceMaintenance.compact(spark, s"$wh/db/a",
        smallerThanRows = 100000L, targetRows = 100000L)
      val mc = ManifestIO.loadLatest(s"$wh/db/a", conf).get
      assert(mc.fragments.size === 4, mc.fragments.map(f => f.path -> f.bucket))
      assert(mc.fragments.flatMap(_.bucket).distinct.sorted === Seq(0, 1, 2, 3))
      val j2 = spark.sql("SELECT a.id AS id, count(*) AS n " +
        "FROM lance_spj.db.a a JOIN lance_spj.db.b b ON a.id = b.id GROUP BY a.id")
      assert(j2.collect().forall(_.getLong(1) === 2L))
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.toLowerCase.contains("exchange hashpartitioning(id"),
        s"join side re-shuffled after compaction:\n$plan2")

      // a metadata-path DELETE layers DV sidecars on bucketed fragments:
      // tags survive, the join stays shuffle-free and sees the deletion
      spark.sql("DELETE FROM lance_spj.db.b WHERE id < 100")
      val mb = ManifestIO.loadLatest(s"$wh/db/b", conf).get
      assert(mb.fragments.forall(_.bucket.isDefined))
      val j3 = spark.sql("SELECT a.id AS id " +
        "FROM lance_spj.db.a a JOIN lance_spj.db.b b ON a.id = b.id")
      assert(j3.collect().length === 800) // 400 surviving b-ids x 2 copies in a
      assert(!j3.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange hashpartitioning(id"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("PARTITIONED BY (bucket(n, col)) DDL maps onto the bucketed layout") {
    spark.conf.set("spark.sql.catalog.lance_pb", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_pb.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_pb.db")
    spark.sql("CREATE TABLE lance_pb.db.p (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    // the transform persisted as the bucket-by properties...
    val m0 = ManifestIO.loadLatest(s"$wh/db/p", conf).get
    assert(m0.props.get("write.bucket-by").contains("id"))
    assert(m0.props.get("write.bucket-count").contains("4"))
    // ...the table reports it back...
    val tbl = spark.sessionState.catalogManager.catalog("lance_pb")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "p"))
    assert(tbl.partitioning().map(_.toString).toSeq === Seq("bucket(4, id)"))
    // ...and inserts come out bucket-tagged, co-partitioned with a
    // TBLPROPERTIES-declared table of the same spec
    spark.range(500).selectExpr("id", "id AS v").createOrReplaceTempView("pb_src")
    spark.sql("INSERT INTO lance_pb.db.p SELECT * FROM pb_src")
    assert(ManifestIO.loadLatest(s"$wh/db/p", conf).get
      .fragments.forall(_.bucket.isDefined))
    spark.sql("CREATE TABLE lance_pb.db.q (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    spark.sql("INSERT INTO lance_pb.db.q SELECT * FROM pb_src")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql("SELECT p.id FROM lance_pb.db.p p JOIN lance_pb.db.q q ON p.id = q.id")
      assert(j.collect().length === 500)
      assert(!j.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange hashpartitioning(id"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // non-bucket transforms are rejected outright
    intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE lance_pb.db.r (id BIGINT, d DATE) PARTITIONED BY (days(d))")
    }

    // the $files metadata table reads the fragment layout driver-locally
    val files = spark.sql("SELECT path, rows, live_rows, bucket " +
      "FROM lance_pb.db.`p$files` ORDER BY bucket")
    val fr = files.collect()
    assert(fr.length === 4 && fr.map(_.getInt(3)).toSeq === Seq(0, 1, 2, 3))
    assert(fr.map(_.getLong(1)).sum === 500L)
    assert(files.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      files.queryExecution.executedPlan.toString)
  }

  test("reported persisted sort: co-bucketed SMJ plans with no Sort on either side") {
    spark.conf.set("spark.sql.catalog.lance_ord", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_ord.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_ord.db")
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE lance_ord.db.$t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    spark.range(1000).selectExpr("id", "id*2 AS v").createOrReplaceTempView("ord_a")
    spark.range(500).selectExpr("id", "id*3 AS v").createOrReplaceTempView("ord_b")
    spark.sql("INSERT INTO lance_ord.db.a SELECT * FROM ord_a")
    spark.sql("INSERT INTO lance_ord.db.b SELECT * FROM ord_b")
    // the write stamped its enforced sort on every fragment
    val m = ManifestIO.loadLatest(s"$wh/db/a", conf).get
    assert(m.fragments.nonEmpty && m.fragments.forall(_.sortedBy === Seq("id")))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // keep the join an SMJ so the sort-elision is what's under test
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try {
      val j = spark.sql("SELECT a.id AS id, a.v AS va, b.v AS vb " +
        "FROM lance_ord.db.a a JOIN lance_ord.db.b b ON a.id = b.id")
      val rows = j.collect()
      assert(rows.length === 500)
      assert(rows.forall(r => r.getLong(1) == 2 * r.getLong(0) &&
        r.getLong(2) == 3 * r.getLong(0)))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free SPJ plan:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Sort "), s"expected sort-free SMJ over reported ordering:\n$plan")

      // ordering-preserving compaction: a second insert breaks the
      // one-fragment-per-bucket shape (no report, Spark re-sorts), compact
      // restores it and the sort-free plan comes back
      spark.sql("INSERT INTO lance_ord.db.a SELECT * FROM ord_a")
      graft.sources.lance.LanceMaintenance.compact(spark, s"$wh/db/a",
        smallerThanRows = 100000L, targetRows = 100000L)
      val mc = ManifestIO.loadLatest(s"$wh/db/a", conf).get
      assert(mc.fragments.size === 4)
      assert(mc.fragments.forall(_.sortedBy === Seq("id")))
      val j2 = spark.sql("SELECT a.id AS id, count(*) AS n " +
        "FROM lance_ord.db.a a JOIN lance_ord.db.b b ON a.id = b.id GROUP BY a.id")
      assert(j2.collect().forall(_.getLong(1) === 2L))
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.toLowerCase.contains("exchange hashpartitioning(id"), plan2)
      assert(!plan2.contains("Sort "), s"compacted layout lost the sort report:\n$plan2")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    }
  }

  test("reported column stats feed the CBO: NDV flips the join strategy") {
    val aggRoot = tmp() + "/cbo_agg"
    val factRoot = tmp() + "/cbo_fact"
    // 20k rows whose key k has exactly 3 distinct values
    spark.range(20000).selectExpr("id", "CAST(id % 3 AS LONG) AS k", "id * 2 AS payload")
      .coalesce(2).write.format("lance").save(aggRoot)
    spark.range(20000).selectExpr("id AS fid", "CAST(id % 3 AS LONG) AS k")
      .coalesce(2).write.format("lance").save(factRoot)
    def planFor(cbo: Boolean): String = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // isolate the CBO estimate
      try {
        val agg = spark.read.format("lance").load(aggRoot)
          .groupBy("k").agg(count(lit(1)).as("c"))
        val j = spark.read.format("lance").load(factRoot).join(agg, "k")
        assert(j.count() === 20000) // correctness unchanged either way
        if (cbo) {
          // the scan handed Spark NDV(k) ≈ 3 (HLL sidecar merge) — read it
          // off the RELATION (join-derived column stats are re-estimated)
          val ks = spark.read.format("lance").load(aggRoot)
            .queryExecution.optimizedPlan.stats.attributeStats
            .find(_._1.name == "k").map(_._2)
          assert(ks.exists(_.distinctCount.exists(n => n >= BigInt(2) && n <= BigInt(4))),
            s"attributeStats: ${spark.read.format("lance").load(aggRoot)
              .queryExecution.optimizedPlan.stats.attributeStats}")
        }
        j.queryExecution.executedPlan.toString
      } finally {
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
    // without CBO the aggregate's size estimate tracks its 20k-row input,
    // well past the 1KB broadcast threshold → sort-merge join
    assert(!planFor(cbo = false).contains("BroadcastHashJoin"))
    // with CBO the reported NDV collapses the aggregate estimate to ~3
    // rows → Spark flips the same query to a broadcast join
    assert(planFor(cbo = true).contains("BroadcastHashJoin"))
  }

  test("UPDATE and MERGE keep the bucketed SPJ layout (delta writer demux)") {
    spark.conf.set("spark.sql.catalog.lance_ub", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_ub.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_ub.db")
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE lance_ub.db.$t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    spark.range(400).selectExpr("id", "id*2 AS v").createOrReplaceTempView("ub_src")
    spark.sql("INSERT INTO lance_ub.db.a SELECT * FROM ub_src")
    spark.sql("INSERT INTO lance_ub.db.b SELECT * FROM ub_src")
    // delta-path UPDATE re-inserts rows; the demux must tag them so the
    // table stays all-bucketed (KGP keeps reporting)
    spark.sql("UPDATE lance_ub.db.a SET v = v + 1 WHERE id % 7 = 0")
    spark.sql("MERGE INTO lance_ub.db.a t USING (SELECT 1000 AS id, 1 AS v) s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *")
    val m = ManifestIO.loadLatest(s"$wh/db/a", conf).get
    assert(m.fragments.size > 4) // update/merge appended extra fragments
    assert(m.fragments.forall(_.bucket.isDefined),
      m.fragments.map(f => f.path -> f.bucket).mkString(", "))
    // every row of every fragment (old and demuxed) hashes to its tag
    val perFile = spark.sql(
      "SELECT _file, pmod(hash(id), 4) AS b FROM lance_ub.db.a")
      .groupBy("_file").agg(countDistinct(col("b")).as("nb"), first(col("b")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(perFile.forall(_._2 === 1L), s"mixed-bucket fragment: $perFile")
    for (fr <- m.fragments) {
      val actual = perFile.find(_._1.endsWith(fr.path)).get._3
      assert(fr.bucket.contains(actual), s"${fr.path}: tag=${fr.bucket} actual=$actual")
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql("SELECT a.id AS id, a.v AS va FROM lance_ub.db.a a " +
        "JOIN lance_ub.db.b b ON a.id = b.id")
      val rows = j.collect()
      assert(rows.length === 400) // id=1000 has no partner in b
      assert(rows.filter(_.getLong(0) % 7 == 0)
        .forall(r => r.getLong(1) == 2 * r.getLong(0) + 1)) // update visible
      assert(!j.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange hashpartitioning(id"),
        "SPJ lost after UPDATE/MERGE")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("runtime pruning may empty whole buckets when SPJ pushes partition values") {
    spark.conf.set("spark.sql.catalog.lance_rfp", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_rfp.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rfp.db")
    for (tn <- Seq("fact", "dim"))
      spark.sql(s"CREATE TABLE lance_rfp.db.$tn (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='8')")
    spark.range(4000).selectExpr("id", "id*2 AS v").createOrReplaceTempView("rfp_f")
    // dim carries only TWO ids — their buckets are a strict subset of 8,
    // so a runtime IN-set filter can empty most fact buckets
    spark.range(2).selectExpr("id * 1000 AS id", "id AS v").createOrReplaceTempView("rfp_d")
    spark.sql("INSERT INTO lance_rfp.db.fact SELECT * FROM rfp_f")
    spark.sql("INSERT INTO lance_rfp.db.dim SELECT * FROM rfp_d")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql("SELECT f.id AS id, f.v AS fv FROM lance_rfp.db.fact f " +
        "JOIN lance_rfp.db.dim d ON f.id = d.id WHERE d.v >= 0")
      val rows = j.collect() // would throw on a partition-value mismatch
      assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1000L))
      assert(rows.forall(r => r.getLong(1) == 2 * r.getLong(0)))
      assert(!j.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange hashpartitioning(id"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("WATCH(Spark upgrade): runtime filters stay dormant under the SPJ join shape") {
    // Spark 4.1 does not inject runtime (DPP-analog) filters into a
    // storage-partitioned join: the scan-side guard that ALLOWS
    // bucket-shrinking pruning under pushPartValues (LanceScan's
    // KeyGroupedPartitioning relaxation) is therefore dormant upstream.
    // This spec PINS that dormancy: the moment a Spark upgrade starts
    // injecting filters into this shape, the all-fragments assertion below
    // fails — the signal to exercise the relaxation with real IO
    // assertions instead of the safety-only specs it has today.
    spark.conf.set("spark.sql.catalog.lance_watch",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_watch.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_watch.db")
    for (tn <- Seq("fact", "dim"))
      spark.sql(s"CREATE TABLE lance_watch.db.$tn (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='8')")
    spark.range(4000).selectExpr("id", "id*2 AS v").createOrReplaceTempView("watch_f")
    spark.range(2).selectExpr("id * 1000 AS id", "id AS v").createOrReplaceTempView("watch_d")
    spark.sql("INSERT INTO lance_watch.db.fact SELECT * FROM watch_f")
    spark.sql("INSERT INTO lance_watch.db.dim SELECT * FROM watch_d")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql("SELECT f.id FROM lance_watch.db.fact f " +
        "JOIN lance_watch.db.dim d ON f.id = d.id WHERE d.v >= 0")
      assert(j.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1000L))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("exchange hashpartitioning(id"),
        "join no longer plans as SPJ — watch-spec setup broke")
      // the fact side (8 bucket fragments) reads ALL fragments: no runtime
      // filter reached it. scanned < 8 here means Spark started injecting.
      val factScan = "fragments=(\\d+)/(\\d+)".r.findAllMatchIn(plan)
        .find(_.group(2).toInt == 8)
      assert(factScan.isDefined, s"no 8-fragment scan in plan: $plan")
      assert(factScan.get.group(1).toInt === 8,
        "Spark now injects runtime filters under SPJ — exercise the " +
          "bucket-shrinking relaxation (LanceScan pushPartValues guard) with IO specs")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("WATCH(Spark upgrade): string range selectivity — pruning covers clustered, " +
      "upstream defaults unclustered") {
    // FilterEstimation.evaluateBinary routes ONLY numeric/date/timestamp
    // attributes to the histogram-aware path; StringType/BinaryType
    // comparisons hit a log-and-default branch (verified in the Spark
    // 4.1.2 bytecode) — so a string histogram would be dead metadata the
    // planner never reads, and the connector deliberately does not
    // synthesize one (numeric/date/timestamp histograms: see the
    // fragment-range histogram spec). Two halves:
    //  (a) CLUSTERED layout — no upstream help needed: the scan's own
    //      fragment pruning consumes the string predicate and reports the
    //      exact surviving row count to the CBO, beating any histogram.
    //  (b) UNCLUSTERED layout — pruning can't shrink anything, the
    //      estimate stays at default selectivity, overestimating the 10%
    //      slice. THIS pin fails the day Spark learns string-range
    //      estimation — the signal to extend histogramOf with the
    //      8-byte-prefix rank the string Z-order already uses.
    def write(root: String, clustered: Boolean): Unit = {
      val df = spark.range(9000)
        .selectExpr("concat('a', lpad(CAST(id % 64 AS STRING), 4, '0')) AS k",
          "id AS payload")
        .union(spark.range(1000)
          .selectExpr("concat('x', lpad(CAST(id AS STRING), 4, '0')) AS k",
            "id AS payload"))
      val laid = if (clustered)
        df.repartitionByRange(10, col("k")).sortWithinPartitions("k")
      else df.repartition(10) // round-robin: every fragment spans 'a'..'x'
      laid.write.format("lance").save(root)
    }
    def estimate(root: String): BigInt = {
      val q = spark.read.format("lance").load(root).filter(col("k") >= "x")
      assert(q.count() === 1000) // truth: 10%
      q.queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try {
      val rootC = tmp() + "/strsel-clustered"
      write(rootC, clustered = true)
      assert(estimate(rootC) === BigInt(1000),
        "clustered string slice: fragment pruning should hand the CBO the exact count")
      val rootU = tmp() + "/strsel-unclustered"
      write(rootU, clustered = false)
      val est = estimate(rootU)
      assert(est * 2 > BigInt(10000),
        s"Spark now estimates string ranges (got $est for a 10% slice on an " +
          "unclustered layout) — implement string histograms via the 8-byte-prefix rank")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.statistics.histogram.enabled")
    }
  }

  test("fragment-range histograms fix skewed selectivity estimates under CBO") {
    val root = tmp() + "/hist"
    // 90% of the mass in [0, 1000), 10% spread over [1000, 10000) — a
    // uniform min/max model estimates id >= 1000 at ~90%; the clustered
    // fragments know better
    spark.range(9000).selectExpr("CAST(id % 1000 AS LONG) AS id", "id AS payload")
      .union(spark.range(1000).selectExpr("1000 + id * 9 AS id", "id AS payload"))
      .repartitionByRange(10, col("id")).sortWithinPartitions("id")
      .write.format("lance").save(root)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try {
      val q = spark.read.format("lance").load(root).filter(col("id") >= 1000)
      val est = q.queryExecution.optimizedPlan.stats.rowCount
      assert(q.count() === 1000) // truth
      assert(est.isDefined && est.get <= BigInt(3000),
        s"histogram should cap the skewed estimate near 1000, got $est")
      // the histogram really is attached to the column stats
      val hist = spark.read.format("lance").load(root)
        .queryExecution.optimizedPlan.stats.attributeStats
        .find(_._1.name == "id").flatMap(_._2.histogram)
      assert(hist.isDefined)
      // an UNCLUSTERED layout (heavily overlapping fragment ranges) must
      // emit NO histogram: the within-fragment-uniform synthesis would
      // assert structure the layout doesn't have and mislead the CBO
      // worse than plain min/max (r9 advice)
      val root2 = tmp() + "/hist-unclustered"
      spark.range(9000).selectExpr("CAST(id % 1000 AS LONG) AS id", "id AS payload")
        .union(spark.range(1000).selectExpr("1000 + id * 9 AS id", "id AS payload"))
        .repartition(10)
        .write.format("lance").save(root2)
      val hist2 = spark.read.format("lance").load(root2)
        .queryExecution.optimizedPlan.stats.attributeStats
        .find(_._1.name == "id").flatMap(_._2.histogram)
      assert(hist2.isEmpty,
        "overlapping-range layout synthesized a histogram it cannot justify")
      // ...and so must a MOSTLY-clustered layout with one wide legacy
      // fragment spanning all the others: pairwise-adjacent overlap
      // counting sees a single overlap there and passes; the gate must
      // compare against the running max-hi instead (r10 review)
      val root3 = tmp() + "/hist-widefrag"
      spark.range(9000).selectExpr("CAST(id % 1000 AS LONG) AS id", "id AS payload")
        .union(spark.range(1000).selectExpr("1000 + id * 9 AS id", "id AS payload"))
        .repartitionByRange(10, col("id")).sortWithinPartitions("id")
        .write.format("lance").save(root3)
      spark.range(10000).selectExpr("id", "id AS payload")
        .coalesce(1).write.format("lance").mode("append").save(root3)
      val hist3 = spark.read.format("lance").load(root3)
        .queryExecution.optimizedPlan.stats.attributeStats
        .find(_._1.name == "id").flatMap(_._2.histogram)
      assert(hist3.isEmpty,
        "one wide fragment over a clustered layout snuck past the overlap gate")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.statistics.histogram.enabled")
    }
  }

  test("option-merge helpers: bucket overrides strip, bucket spec resolves aliases") {
    import graft.sources.lance.LanceLayout
    import org.apache.spark.sql.types._
    val props = Map("write.bucket-by" -> "id", "write.bucket-count" -> "8",
      "write.sort-by" -> "ts")
    // declared layout wins over every alias spelling of an override
    val merged = LanceLayout.merge(props,
      Map("write.bucket-count" -> "16", "bucketBy" -> "v",
        "BUCKETCOUNT" -> "32", "maxRowsPerFile" -> "100"))
    assert(LanceLayout(merged).bucketCount === Some(8))
    assert(LanceLayout(merged).bucketBy === Seq("id"))
    assert(LanceLayout(merged).maxRowsPerFile === 100L) // non-layout overrides pass
    // no declared layout → overrides flow through
    val free = LanceLayout.merge(Map.empty,
      Map("write.bucket-by" -> "k", "write.bucket-count" -> "4"))
    assert(LanceLayout(free).bucketBy === Seq("k"))
    // demux: field index + type + count; unknown column declines
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("id", IntegerType)))
    assert(LanceLayout(props).demux(schema) === Some((1, IntegerType, 8)))
    assert(LanceLayout(
      Map("bucketBy" -> "id", "bucketCount" -> "4")).demux(schema) ===
      Some((1, IntegerType, 4)))
    assert(LanceLayout(
      Map("write.bucket-by" -> "gone", "write.bucket-count" -> "4")).demux(schema).isEmpty)
    assert(LanceLayout(Map("write.bucket-by" -> "id")).demux(schema).isEmpty)
  }

  test("bucket layout is immutable once fragments carry tags") {
    spark.conf.set("spark.sql.catalog.lance_bl", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_bl.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_bl.db")
    spark.sql("CREATE TABLE lance_bl.db.t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    // before any data lands the layout is still negotiable
    spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('write.bucket-count'='8')")
    spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('write.bucket-count'='4')")
    spark.range(200).selectExpr("id", "id*2 AS v").createOrReplaceTempView("bl_src")
    spark.sql("INSERT INTO lance_bl.db.t SELECT * FROM bl_src")
    // fragments now carry tags computed under bucket(4, id): changing or
    // removing the layout would silently corrupt storage-partitioned joins
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('write.bucket-count'='8')")
    }
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('write.bucket-by'='v')")
    }
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE lance_bl.db.t UNSET TBLPROPERTIES('write.bucket-count')")
    }
    // a same-value SET is a no-op and stays allowed
    spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('write.bucket-count'='4')")
    // unrelated properties still alter freely
    spark.sql("ALTER TABLE lance_bl.db.t SET TBLPROPERTIES('comment'='hello')")
    // write-time overrides of the persisted layout are IGNORED: appended
    // fragments keep tagging under bucket(4, id)
    spark.range(200, 400).selectExpr("id", "id*2 AS v")
      .writeTo("lance_bl.db.t").option("write.bucket-count", "8").append()
    val m = ManifestIO.loadLatest(s"$wh/db/t", conf).get
    assert(m.fragments.nonEmpty && m.fragments.forall(_.bucket.isDefined))
    assert(m.fragments.flatMap(_.bucket).forall(b => b >= 0 && b < 4),
      m.fragments.flatMap(_.bucket).toSeq.toString)
    // every row still hashes to its fragment's tag under N=4
    val perFile = spark.sql(
      "SELECT _file, pmod(hash(id), 4) AS b FROM lance_bl.db.t")
      .groupBy("_file").agg(countDistinct(col("b")).as("nb"), first(col("b")).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(perFile.forall(_._2 === 1L), s"mixed-bucket fragment: $perFile")
    for (fr <- m.fragments) {
      val actual = perFile.find(_._1.endsWith(fr.path)).get._3
      assert(fr.bucket.contains(actual), s"${fr.path}: tag=${fr.bucket} actual=$actual")
    }
  }

  test("runtime filtering composes safely with a bucketed SPJ join") {
    spark.conf.set("spark.sql.catalog.lance_rfb", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_rfb.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rfb.db")
    for (tn <- Seq("fact", "dim"))
      spark.sql(s"CREATE TABLE lance_rfb.db.$tn (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    spark.range(2000).selectExpr("id", "id*2 AS v").createOrReplaceTempView("rfb_f")
    spark.range(2000).selectExpr("id", "id % 7 AS v").createOrReplaceTempView("rfb_d")
    spark.sql("INSERT INTO lance_rfb.db.fact SELECT * FROM rfb_f")
    spark.sql("INSERT INTO lance_rfb.db.dim SELECT * FROM rfb_d")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the dim filter stays residual (v is mixed within fragments), the
      // exact shape Spark's runtime-filtering rule keys on; the fact scan
      // must never let that pruning shrink the planned bucket-key set —
      // this is the regression test for the KeyGroupedPartitioning ×
      // SupportsRuntimeV2Filtering partition-value-mismatch crash
      val j = spark.sql("SELECT f.id AS id, f.v AS fv FROM lance_rfb.db.fact f " +
        "JOIN lance_rfb.db.dim d ON f.id = d.id WHERE d.v = 3")
      val rows = j.collect()
      assert(rows.length === (0 until 2000).count(_ % 7 == 3))
      assert(rows.forall(r => r.getLong(0) % 7 == 3 && r.getLong(1) == 2 * r.getLong(0)))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("exchange hashpartitioning(id"),
        s"SPJ lost to a shuffle:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("metadata-path delete re-sketches under the fragment's physical column names") {
    spark.conf.set("spark.sql.catalog.lance_rsk", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_rsk.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rsk.db")
    // one input partition → one fragment, so the delete is partial (DV path)
    spark.sql("CREATE TABLE lance_rsk.db.t AS " +
      "SELECT id, concat('k', id) AS tag FROM range(0, 1000, 1, 1)")
    spark.sql("ALTER TABLE lance_rsk.db.t RENAME COLUMN tag TO label")
    spark.sql("DELETE FROM lance_rsk.db.t WHERE id < 100")
    val root = s"$wh/db/t"
    val m = ManifestIO.loadLatest(root, conf).get
    val fr = m.fragments.find(_.deletes.isDefined).get
    assert(fr.physicalNames.get("label").contains("tag"))
    // the re-sketched sidecar must key by the FILE's physical name — the
    // same keying as write-side sidecars and bloomProbe's lookup — or
    // renamed-column fragments silently lose bloom pruning
    val sk = graft.sources.lance.Hll.readSidecar(root, conf, fr.sketches.get)
    assert(sk.contains("tag"), s"sidecar keys: ${sk.keys.toSeq}")
    assert(!sk.contains("label"), s"sidecar keys: ${sk.keys.toSeq}")
    // and queries through the renamed name behave: survivor found, deleted gone
    assert(spark.sql("SELECT count(*) FROM lance_rsk.db.t WHERE label = 'k500'")
      .first().getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM lance_rsk.db.t WHERE label = 'k50'")
      .first().getLong(0) === 0)
  }

  test("bucket function matches Spark's hash; multi-column buckets are rejected") {
    spark.conf.set("spark.sql.catalog.lance_mc", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_mc.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_mc.db")
    // the catalog-served bucket function computes the exact write-side
    // mapping — pmod(murmur3(key), n) — for long and string keys
    def bound(dt: org.apache.spark.sql.types.DataType) =
      graft.sources.lance.LanceBucketFunction.bind(
        StructType(Seq(StructField("n", org.apache.spark.sql.types.IntegerType),
          StructField("v", dt))))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val sample = spark.range(50)
      .selectExpr("id", "concat('k', id) AS s",
        "pmod(hash(id), 7) AS bl", "pmod(hash(concat('k', id)), 7) AS bs")
      .collect()
    for (r <- sample) {
      assert(bound(LongType).produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](7, r.getLong(0)))).intValue === r.getInt(2))
      assert(bound(org.apache.spark.sql.types.StringType).produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](7, org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))))
        .intValue === r.getInt(3))
    }
    // multi-column buckets are rejected up front: Spark's SPJ planner does
    // not match multi-argument bucket transforms, so the layout would pay
    // the write clustering without ever earning the shuffle-free join
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE lance_mc.db.m (id BIGINT, grp STRING) " +
        "PARTITIONED BY (bucket(4, id, grp))")
    }
  }

  test("SPJ edge cases: missing buckets and partially-clustered skew handling") {
    spark.conf.set("spark.sql.catalog.lance_spj2", classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.lance_spj2.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_spj2.db")
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE lance_spj2.db.$t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES('write.bucket-by'='id','write.bucket-count'='4')")
    // side a LACKS every key of bucket 2 — its manifest has 3 bucket groups
    spark.range(1000).selectExpr("id", "id AS v")
      .where("pmod(hash(id), 4) <> 2").createOrReplaceTempView("spj2_a")
    spark.range(1000).selectExpr("id", "id AS v").createOrReplaceTempView("spj2_b")
    spark.sql("INSERT INTO lance_spj2.db.a SELECT * FROM spj2_a")
    spark.sql("INSERT INTO lance_spj2.db.b SELECT * FROM spj2_b")
    val expected = spark.table("spj2_a").count()
    val ma = ManifestIO.loadLatest(s"$wh/db/a", conf).get
    assert(ma.fragments.flatMap(_.bucket).distinct.size === 3)

    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // pushPartValues (default on) pads the missing bucket: still no
      // shuffle, and the join sees exactly the surviving keys
      val j = spark.sql("SELECT a.id FROM lance_spj2.db.a a " +
        "JOIN lance_spj2.db.b b ON a.id = b.id")
      assert(j.collect().length === expected)
      assert(!j.queryExecution.executedPlan.toString
        .toLowerCase.contains("exchange hashpartitioning(id"))
      // partially-clustered distribution (the SPJ skew tool) stays correct
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      try {
        val j2 = spark.sql("SELECT a.id FROM lance_spj2.db.a a " +
          "JOIN lance_spj2.db.b b ON a.id = b.id")
        assert(j2.collect().length === expected)
      } finally spark.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("HLL sketches answer approx COUNT(DISTINCT) within error bounds, zero data reads") {
    import graft.sources.lance.Hll
    import spark.implicits._
    // low-cardinality regime (linear counting): orders keys at sf0.001
    val root = tmp()
    orders.write.format("lance").option("maxRowsPerFile", "400").save(root)
    val est = Hll.approxCountDistinct(spark, root,
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "missing_col"))
    val exactKeys = orders.select("o_orderkey").distinct().count()
    val approxKeys = est("o_orderkey").get
    assert(math.abs(approxKeys - exactKeys).toDouble / exactKeys <= 0.05,
      s"approx $approxKeys vs exact $exactKeys")
    // tiny-cardinality columns are near-exact under linear counting
    assert(est("o_orderstatus").get === orders.select("o_orderstatus").distinct().count())
    // unsupported (double) and unknown columns answer None, never wrong
    assert(est("o_totalprice").isEmpty && est("missing_col").isEmpty)

    // high-cardinality regime (true HLL estimator): 50k distinct longs
    val root2 = tmp()
    spark.range(50000).toDF("id")
      .withColumn("s", concat(lit("user-"), col("id")))
      .repartition(4)
      .write.format("lance").option("maxRowsPerFile", "20000").save(root2)
    val est2 = Hll.approxCountDistinct(spark, root2, Seq("id", "s"))
    Seq("id", "s").foreach { c =>
      val a = est2(c).get
      assert(math.abs(a - 50000.0) / 50000.0 <= 0.05,
        s"$c: approx $a vs exact 50000 exceeds 5%")
    }
    // per-fragment sidecars merged across fragments == one global sketch:
    // determinism across runs (fixed seed)
    assert(Hll.approxCountDistinct(spark, root2, Seq("id")) ===
      Map("id" -> est2.get("id").flatten))
  }

  test("catalog s3-* options pass through to the Hadoop S3A conf (reference names)") {
    import graft.sources.lance.{LanceCatalog => LC}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    // the reference-named option set (LanceCatalogFactory.java) maps to S3A
    val mapped = org.apache.spark.sql.graft.Shim.hadoopConf(spark,
      LC.s3FsOptions(Map(
        "s3-access-key" -> "AKID", "s3-secret-key" -> "SECRET",
        "s3-region" -> "eu-west-1", "s3-endpoint" -> "http://minio:9000",
        "s3-virtual-hosted-style" -> "false", "s3-allow-http" -> "true")))
    assert(mapped.get("fs.s3a.access.key") === "AKID")
    assert(mapped.get("fs.s3a.secret.key") === "SECRET")
    assert(mapped.get("fs.s3a.endpoint.region") === "eu-west-1")
    assert(mapped.get("fs.s3a.endpoint") === "http://minio:9000")
    assert(mapped.get("fs.s3a.path.style.access") === "true") // !virtual-hosted
    assert(mapped.get("fs.s3a.connection.ssl.enabled") === "false") // allow-http
    // absent options set nothing (no accidental global overrides)
    assert(LC.s3FsOptions(Map.empty).isEmpty)

    // a catalog initialized with s3 options on a LOCAL warehouse still
    // works end-to-end (options ride along harmlessly; per-catalog conf)
    val cat = new LC()
    cat.initialize("s3opt", new CaseInsensitiveStringMap(Map(
      "warehouse" -> tmp(), "s3-access-key" -> "AKID",
      "s3-secret-key" -> "SECRET").asJava))
    cat.createNamespace(Array("db"), Map.empty[String, String].asJava)
    cat.createTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t"),
      new org.apache.spark.sql.types.StructType().add("id", "long"),
      Array.empty, Map.empty[String, String].asJava)
    assert(cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "t")))
  }

  test("catalog: create/list/insert/drop + VERSION AS OF") {
    spark.conf.set("spark.sql.catalog.lance_test",
      classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set("spark.sql.catalog.lance_test.warehouse", tmp())
    Tables.t(spark, sf, "region").createOrReplaceTempView("region_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lance_test.db1")
    spark.sql("CREATE TABLE lance_test.db1.r AS SELECT * FROM region_src")
    assert(spark.sql("SELECT count(*) FROM lance_test.db1.r").first().getLong(0) === 5)
    spark.sql("INSERT INTO lance_test.db1.r SELECT * FROM region_src")
    assert(spark.sql("SELECT count(*) FROM lance_test.db1.r").first().getLong(0) === 10)
    // time travel through SQL
    assert(spark.sql("SELECT count(*) FROM lance_test.db1.r VERSION AS OF 2").first().getLong(0) === 5)
    assert(spark.sql("SHOW TABLES IN lance_test.db1").collect().map(_.getString(1)).contains("r"))
    spark.sql("DROP TABLE lance_test.db1.r")
    assert(spark.sql("SHOW TABLES IN lance_test.db1").collect().isEmpty)
  }

  test("read.buckets restricts scans to the requested bucket cover") {
    val root = tmp()
    // a LEGACY fragment written before the table gained its bucket layout
    // (the only way untagged fragments arise: once the layout is persisted,
    // every append inherits it)
    spark.range(10000, 10010).selectExpr("id", "id AS v")
      .coalesce(1).write.format("lance").mode("overwrite").save(root)
    // two bucketed appends = two epochs of streaming state; the first one
    // installs the layout on the legacy table
    for (epoch <- 0 until 2)
      spark.range(epoch * 500, epoch * 500 + 500).selectExpr("id", "id * 7 AS v")
        .write.format("lance")
        .option("write.bucket-by", "id").option("write.bucket-count", "4")
        .mode("append").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.size === 9 && m.fragments.count(_.bucket.isDefined) === 8)

    val ds = spark.read.format("lance").option("read.buckets", "1,3").load(root)
    // the scan enumerates only matching-bucket fragments plus the legacy
    // untagged one (unknown keys must not be excluded) — per-epoch cost
    // is the bucket cover, not accumulated history
    val expectFrags = m.fragments.count(_.bucket.forall(Set(1, 3).contains))
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains(s"fragments=$expectFrags/${m.fragments.size}"), plan)
    // bucketed rows filter by the same pmod(murmur3, N) the write shuffled
    // by; the legacy fragment's 10 rows are always kept
    val bucketed = spark.read.format("lance").load(root).filter(col("id") < 10000)
    val expected =
      bucketed.filter(pmod(hash(col("id")), lit(4)).isin(1, 3)).count() + 10
    assert(expected > 10 && ds.count() === expected)

    // aggregate pushdown declines under a restriction (manifest stats
    // range over the whole table, not the restricted cover)
    val aPlan = ds.agg(min("id"), max("id")).queryExecution.executedPlan.toString
    assert(!aPlan.contains("LanceStatsScan"), aPlan)

    // once the layout is persisted, a plain append INHERITS it (an
    // untagged fragment on a bucketed table would force every restricted
    // probe to read it forever): new fragments come out tagged and
    // restricted counts stay exact
    spark.range(20000, 20010).selectExpr("id", "id AS v")
      .coalesce(1).write.format("lance").mode("append").save(root)
    val m2 = ManifestIO.loadLatest(root, conf).get
    val newFrags = m2.fragments.filterNot(m.fragments.toSet)
    assert(newFrags.nonEmpty && newFrags.forall(_.bucket.isDefined),
      s"plain append did not inherit the persisted bucket layout: $newFrags")
    val inherited = spark.range(20000, 20010)
      .filter(pmod(hash(col("id")), lit(4)).isin(1, 3)).count()
    val ds2 = spark.read.format("lance").option("read.buckets", "1,3").load(root)
    assert(ds2.count() === expected + inherited)
  }

  test("temporal equality pruning falls through to bloom sketches when ranges overlap") {
    import spark.implicits._
    val root = tmp()
    // two fragments with IDENTICAL [min, max] minute ranges (interleaved
    // parities) — range stats prove nothing; only the per-fragment bloom
    // can prune an equality probe. Fragment 0 holds even minutes,
    // fragment 1 odd, both spanning [0, 998] / [1, 999].
    for (parity <- Seq(0, 1))
      (0 until 500).map(i => (2 * i + parity).toLong).toDF("m")
        .select(col("m"),
          timestamp_millis(col("m") * 60000L).as("tst"),
          timestamp_millis(col("m") * 60000L).cast("timestamp_ntz").as("tsn"))
        .coalesce(1).write.format("lance").mode("append").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.size === 2)
    assert(m.fragments.forall(_.sketches.isDefined), "temporal blooms not recorded")

    val ds = spark.read.format("lance").load(root)
    // minute 400 (even) lives only in fragment 0: the TZ equality probe
    // must scan 1/2 fragments — provable ONLY via the bloom
    val qTs = ds.filter(col("tst") === new java.sql.Timestamp(400L * 60000L))
    assert(qTs.queryExecution.executedPlan.toString.contains("fragments=1/2"),
      qTs.queryExecution.executedPlan.toString)
    assert(qTs.count() === 1)
    // same for the NTZ flavor (LocalDateTime literal)
    val qN = ds.filter(col("tsn") === lit(java.time.LocalDateTime.of(1970, 1, 1, 6, 41)))
    assert(qN.queryExecution.executedPlan.toString.contains("fragments=1/2"),
      qN.queryExecution.executedPlan.toString) // minute 401, odd → fragment 1
    assert(qN.count() === 1)
    // an IN-RANGE value present in NEITHER fragment (minute 400 + 1s):
    // range stats say "maybe" for both — only the blooms prove absence
    val qNone = ds.filter(col("tst") === new java.sql.Timestamp(400L * 60000L + 1000L))
    assert(qNone.count() === 0)
    assert(qNone.queryExecution.executedPlan.toString.contains("fragments=0/2"),
      qNone.queryExecution.executedPlan.toString)
  }

  test("TIMESTAMP_NTZ + TIMESTAMP: stats, fragment pruning, stats-agg answers, zorder") {
    import spark.implicits._
    val root = tmp()
    // three fragments with disjoint minute ranges on both timestamp flavors
    for (base <- Seq(0, 100, 200))
      (base until base + 100).map(_.toLong).toDF("id")
        .select(col("id"),
          timestamp_millis(col("id") * 60000L).as("tst"),
          timestamp_millis(col("id") * 60000L).cast("timestamp_ntz").as("tsn"))
        .coalesce(1).write.format("lance").mode("append").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.fragments.size === 3)
    // both flavors record INT64-micros footer stats in every fragment
    assert(m.fragments.forall(f => f.stats.contains("tsn") && f.stats.contains("tst")),
      m.fragments.head.stats.keys)
    assert(m.fragments.head.stats("tsn").min.exists(_.isInstanceOf[JLong]))

    val ds = spark.read.format("lance").load(root)
    assert(ds.schema("tsn").dataType === org.apache.spark.sql.types.TimestampNTZType)
    assert(ds.count() === 300)

    // equality on the NTZ column prunes to the one covering fragment
    // (the pushed literal arrives as java.time.LocalDateTime)
    val ntzLit = java.time.LocalDateTime.of(1970, 1, 1, 2, 30) // minute 150 → frag 2
    val qn = ds.filter(col("tsn") === lit(ntzLit))
    assert(qn.queryExecution.executedPlan.toString.contains("fragments=1/3"),
      qn.queryExecution.executedPlan.toString)
    assert(qn.collect().map(_.getLong(0)).toSeq === Seq(150L))
    // range on the TZ flavor prunes too (same JLong-micros stat domain)
    val tsLit = new java.sql.Timestamp(250L * 60000L)
    val qt = ds.filter(col("tst") >= tsLit)
    assert(qt.queryExecution.executedPlan.toString.contains("fragments=1/3"),
      qt.queryExecution.executedPlan.toString)
    assert(qt.count() === 50)

    // min/max over either flavor answers from manifest stats, no scan
    val aPlan = ds.agg(min("tsn"), max("tsn"), min("tst"), max("tst"))
      .queryExecution.executedPlan.toString
    assert(aPlan.contains("LanceStatsScan") &&
      aPlan.contains("answered from manifest stats"), aPlan)
    val r = ds.agg(min("tsn"), max("tsn")).first()
    assert(r.getAs[java.time.LocalDateTime](0) ===
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0))
    assert(r.getAs[java.time.LocalDateTime](1) ===
      java.time.LocalDateTime.of(1970, 1, 1, 4, 59))

    // pruning unit checks in the manifest's micros domain
    val stats = Map("ts" -> ColStats(
      Some(JLong(100L * 60000000L)), Some(JLong(200L * 60000000L)), Some(0L)))
    val fr = FragmentMeta("f.parquet", 10, 1000, stats)
    val schema = StructType(Seq(StructField("ts", LongType)))
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    assert(LancePruning.provablyEmpty(fr, schema,
      EqualTo("ts", java.time.LocalDateTime.of(1970, 1, 1, 0, 30))))
    assert(!LancePruning.provablyEmpty(fr, schema,
      EqualTo("ts", java.time.LocalDateTime.of(1970, 1, 1, 2, 30))))
    assert(LancePruning.provablyEmpty(fr, schema,
      GreaterThan("ts", new java.sql.Timestamp(200L * 60000L))))
    assert(LancePruning.provablyEmpty(fr, schema,
      EqualTo("ts", java.time.Instant.ofEpochMilli(30L * 60000L))))

    // zorder accepts an NTZ dimension: rewrite preserves rows, then a
    // range slice on the NTZ column prunes the re-clustered layout
    graft.sources.lance.LanceMaintenance.zorder(spark, root,
      Seq("tsn", "id"), targetRows = 100)
    val ds2 = spark.read.format("lance").load(root)
    assert(ds2.count() === 300)
    val m2 = ManifestIO.loadLatest(root, conf).get
    val pruned = ds2.filter(col("tsn") < lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 50)))
    val pPlan = pruned.queryExecution.executedPlan.toString
    val frTouched = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(pPlan).get
    assert(frTouched.group(1).toInt < m2.fragments.size, pPlan)
    assert(pruned.count() === 50)
  }

  test("path-based replaceWhere: keyed delete + append land in ONE commit (atomic upsert)") {
    import spark.implicits._
    val root = tmp() + "/t"
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "k", "v")
      .write.format("lance").save(root)
    val v0 = ManifestIO.latestVersion(root, conf).get
    // upsert keys a and b: their old rows vanish, the new rows land, and
    // the whole thing is ONE manifest version (no deleted-but-not-replaced
    // intermediate state for any reader/crash to observe)
    graft.sources.lance.LanceDelete.replaceWhere(spark, root,
      Seq((1L, "a", 11L), (4L, "b", 21L)).toDF("id", "k", "v"),
      Array(org.apache.spark.sql.sources.In("k", Array[Any]("a", "b"))))
    val v1 = ManifestIO.latestVersion(root, conf).get
    assert(v1 === v0 + 1, s"upsert must be one commit: $v0 -> $v1")
    val got = spark.read.format("lance").load(root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a", 11L), (4L, "b", 21L), (3L, "c", 30L)))
    assert(ManifestIO.load(root, v1, conf).op === "replace")
  }

  test("replaceWhere schema guard: a shared-name type clash fails loudly; a racing column drop gets stamped like the V2 writer") {
    import spark.implicits._
    val root = tmp() + "/t"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v")
      .write.format("lance").save(root)
    // type clash on a shared column name: without the guard this COMMITS
    // fragments whose physical layout (v: string) diverges from the
    // manifest schema (v: bigint) — a silent corruption, not a conflict
    val clash = intercept[IllegalArgumentException] {
      graft.sources.lance.LanceDelete.replaceWhere(spark, root,
        Seq((1L, "a", "ten")).toDF("id", "k", "v"),
        Array(org.apache.spark.sql.sources.EqualTo("k", "a")))
    }
    assert(clash.getMessage.contains("incompatible column types") &&
      clash.getMessage.contains("v"), clash.getMessage)
    assert(ManifestIO.latestVersion(root, conf).get === 1L, "clash must not commit")
    // writer-only column (the drop-race shape stampRacedDrops exists for):
    // commits fine, the extra column is hidden, table schema unchanged
    graft.sources.lance.LanceDelete.replaceWhere(spark, root,
      Seq((1L, "a", 11L, "x")).toDF("id", "k", "v", "extra"),
      Array(org.apache.spark.sql.sources.EqualTo("k", "a")))
    val m = ManifestIO.loadLatest(root, conf).get
    assert(m.schema.fieldNames.toSeq === Seq("id", "k", "v"))
    assert(m.fragments.exists(_.hidden.contains("extra")),
      "raced-drop column must be hidden-stamped on the staged fragment")
    val got = spark.read.format("lance").load(root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a", 11L), (2L, "b", 20L)))
  }

  test("delete conflict scope: concurrent appends never abort plain DELETE; REPLACE WHERE aborts only when not provably disjoint") {
    import spark.implicits._
    val root = tmp() + "/t"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .write.format("lance").save(root)
    val m = ManifestIO.loadLatest(root, conf).get
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.GreaterThan("v", 15L))
    val del = graft.sources.lance.LanceDelete
      .planDelete(spark, root, m, filters, Map.empty)
    val rep = del.copy(replaceWhere = true)
    // a concurrent append the plans never saw, provably DISJOINT from
    // v > 15 (fragment stats: max(v) = 5)
    Seq((9L, 5L)).toDF("id", "v").write.format("lance").mode("append").save(root)
    val cur1 = ManifestIO.loadLatest(root, conf).get
    assert(!del.conflictsWith(cur1),
      "plain DELETE aborted by a concurrent append — livelock regression")
    assert(!rep.conflictsWith(cur1),
      "REPLACE WHERE aborted by an append its stats prove disjoint")
    // a concurrent append that MAY hold matching rows (v = 100): the
    // replace invariant is at risk, the snapshot delete is not
    Seq((10L, 100L)).toDF("id", "v").write.format("lance").mode("append").save(root)
    val cur2 = ManifestIO.loadLatest(root, conf).get
    assert(!del.conflictsWith(cur2))
    assert(rep.conflictsWith(cur2),
      "REPLACE WHERE must abort when an unseen fragment can match the predicate")
  }

  test("V2 writer commit fold: REPLACE WHERE vs a table that appeared after planning aborts, never plain-appends") {
    import graft.sources.lance.{FragmentMeta, LanceManifest, LanceWriteUtil}
    val fm = (p: String) => FragmentMeta(p, 10L, 1000L, Map.empty)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val winner = LanceManifest(1L, schema, Seq(fm("data/w.parquet")))
    val staged = Seq(fm("data/new.parquet"))
    import LanceWriteUtil.Staged
    // plain append onto an existing table: base ++ staged
    assert(LanceWriteUtil.foldStaged(Some(winner), Staged.Append, staged) ===
      Some(winner.fragments ++ staged))
    // plain first write: staged only
    assert(LanceWriteUtil.foldStaged(None, Staged.Append, staged) === Some(staged))
    // truncating overwrite replaces everything
    assert(LanceWriteUtil.foldStaged(Some(winner), Staged.Truncate(installSchema = false),
      staged) === Some(staged))
    // REPLACE WHERE planned against an ABSENT table, still absent at commit:
    // degenerates to the plain first write
    assert(LanceWriteUtil.foldStaged(None, Staged.ReplaceWhere(None), staged) === Some(staged))
    // ...but if a concurrent CREATE won the race, the fold must ABORT — a
    // plain append would keep the winner's filter-matching rows beside the
    // replacement data (the LanceDelete.replaceWhere race, catalog path)
    assert(LanceWriteUtil.foldStaged(Some(winner), Staged.ReplaceWhere(None), staged).isEmpty,
      "catalog REPLACE WHERE plain-appended over a concurrently created table")
  }
}
