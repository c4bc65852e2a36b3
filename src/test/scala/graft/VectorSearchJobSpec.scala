package graft

import graft.operators.{IndexBuild, VectorIndex}
import graft.sources.lance.ManifestIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A local filesystem under the `pathlogfs` scheme that logs every
  * top-level `listStatus` and `open` by path, so a spec can count the
  * manifest listings and reads one call makes and name the files it read. */
class PathLogFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "pathlogfs"
  override def getUri: java.net.URI = java.net.URI.create("pathlogfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    PathLogFs.logged("listStatus", f)(super.listStatus(f))
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    PathLogFs.logged("open", f)(super.open(f, bufferSize))
}

object PathLogFs {
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  // RawLocalFileSystem re-enters listStatus/open internally; log the outer call only
  private val depth = ThreadLocal.withInitial[Integer](() => 0)
  private[graft] def logged[A](op: String, p: org.apache.hadoop.fs.Path)(body: => A): A = {
    val d = depth.get()
    if (d == 0) log.add((op, p.toUri.getPath))
    depth.set(d + 1)
    try body finally depth.set(d)
  }
  def reset(): Unit = log.clear()
  def entries: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }
}

/** Every single-query IVF search — `IndexBuild.search` and
  * `CALL system.knn` — is one Spark job with no shuffle: the ranked scan
  * is collected by a root `TakeOrderedAndProject` and refine candidates
  * are re-ranked on the driver. Answers must equal the former two-job
  * plan, kept here as the reference ([[twoJobSearch]]). */
class VectorSearchJobSpec extends SparkSpec {

  private val K = 10
  private val Cells = 16

  private lazy val wh = {
    spark.conf.set("spark.sql.catalog.lance_vsj", classOf[graft.sources.lance.LanceCatalog].getName)
    val w = java.nio.file.Files.createTempDirectory("graft-vsj-").toString
    spark.conf.set("spark.sql.catalog.lance_vsj.warehouse", w)
    spark.sql("CREATE NAMESPACE lance_vsj.db")
    w
  }

  private lazy val emb = Tables.t(spark, sf, "embeddings")

  private lazy val indexes: Map[String, IndexBuild.BuiltIndex] =
    Seq("IVF_PQ" -> "pq", "IVF_SQ" -> "sq", "IVF_FLAT" -> "flat").map { case (t, name) =>
      name -> IndexBuild.build(spark, emb, s"$wh/db/$name", Map("index.type" -> t,
        "index.num-partitions" -> Cells.toString, "index.num-bits" -> "4"))
    }.toMap

  private lazy val qv = VectorIndex.embeddingOf(spark, sf, vecId = 7L)

  /** The former plan of `IndexBuild.search`: nulls filtered before ranking;
    * the flat arm cross-joins a broadcast one-row query frame; the refine
    * arm takes a mid-plan top-(k·r) by ADC, cross-joins the broadcast
    * query frame and ranks again (2 jobs, 3 stages). */
  private def twoJobSearch(idx: IndexBuild.BuiltIndex, nprobes: Int, refine: Option[Int],
                           pred: Option[Column]): DataFrame = {
    import spark.implicits._
    val probed = VectorIndex.selectProbesExact(idx.centroids, qv, nprobes)
    val base0 = spark.read.format("lance").load(idx.root)
      .filter(col("cell").isin(probed.toIndexedSeq: _*) && col("vec_id") =!= -1L)
    val base = pred.map(base0.filter).getOrElse(base0)
    val qvDf = Seq(Tuple1(qv.map(_.toFloat))).toDF("qv")
    def exactTopK(df: DataFrame): DataFrame = df.crossJoin(broadcast(qvDf))
      .select(col("vec_id"),
        round(graft.functions.vec_l2(col("embedding"), col("qv")), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(K)
    val adc = (idx.pq, idx.sq) match {
      case (Some(p), _) =>
        val lut = Array.tabulate(p.m * p.codes) { i =>
          val (mm, c) = (i / p.codes, i % p.codes)
          var acc = 0.0
          for (d <- 0 until p.subDim) {
            val diff = qv(mm * p.subDim + d) - p.flat((mm * p.codes + c) * p.subDim + d)
            acc += diff * diff
          }
          acc
        }
        Some(graft.functions.pq_adc(col("codes"), lut, p.m, p.codes))
      case (_, Some(q)) =>
        Some(graft.functions.sq_adc(col("scodes"),
          Array.tabulate(qv.length)(d => qv(d) - q.mins(d)), q.scales))
      case _ => None
    }
    adc match {
      case None =>
        base.crossJoin(broadcast(qvDf))
          .select(col("vec_id"),
            round(graft.functions.vec_l2(col("embedding"), col("qv")), 6).as("dist"))
          .filter(col("dist").isNotNull)
          .orderBy(col("dist").asc, col("vec_id").asc).limit(K)
      case Some(a) =>
        val scored = base.select(col("vec_id"), col("embedding"), a.as("adc_dist"))
          .filter(col("adc_dist").isNotNull)
        refine match {
          case None =>
            scored.select(col("vec_id"), round(col("adc_dist"), 6).as("dist"))
              .orderBy(col("dist").asc, col("vec_id").asc).limit(K)
          case Some(r) =>
            exactTopK(scored.orderBy(col("adc_dist").asc, col("vec_id").asc).limit(K * r)
              .select("vec_id", "embedding"))
        }
    }
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def searchOptions(nprobes: Int, refine: Option[Int]): Map[String, String] =
    Map("vector.k" -> K.toString, "vector.nprobes" -> nprobes.toString) ++
      refine.map(r => "vector.refine-factor" -> r.toString)

  private def knnCall(name: String, nprobes: Int, refine: Option[Int],
                      filter: Option[String]): String =
    s"CALL lance_vsj.system.knn(table => 'db.$name', " +
      s"query => array(${qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")}), " +
      s"k => $K, nprobes => $nprobes, refine_factor => ${refine.getOrElse(0)}, " +
      s"filter => '${filter.getOrElse("")}')"

  private val cases = for {
    (name, refines) <- Seq("pq" -> Seq(None, Some(4)), "sq" -> Seq(None, Some(4)),
      "flat" -> Seq(None))
    refine <- refines
    filter <- Seq(None, Some("label = 3"))
    nprobes <- Seq(4, Cells)
  } yield (name, refine, filter, nprobes)

  for ((name, refine, filter, nprobes) <- cases) {
    val label = s"$name refine=${refine.getOrElse(0)} filter=${filter.isDefined} " +
      s"nprobes=$nprobes/$Cells"
    test(s"one job, no shuffle, former answer: $label") {
      val idx = indexes(name)
      val pred = filter.map(expr)
      val reference = rows(twoJobSearch(idx, nprobes, refine, pred))
      assert(reference.nonEmpty)
      val (viaApi, apiJobs, apiShuffle) = jobsOf(rows(
        IndexBuild.search(spark, idx, qv, searchOptions(nprobes, refine), pred = pred)))
      assert(viaApi === reference)
      assert((apiJobs, apiShuffle) === ((1, 0L)), "IndexBuild.search jobs / shuffle bytes")
      val (viaSql, sqlJobs, sqlShuffle) =
        jobsOf(rows(spark.sql(knnCall(name, nprobes, refine, filter))))
      assert(viaSql === reference)
      assert((sqlJobs, sqlShuffle) === ((1, 0L)), "CALL system.knn jobs / shuffle bytes")
    }
  }

  test("full probes with a large refine factor answer exact KNN on every index type") {
    for (name <- Seq("pq", "sq", "flat"); filter <- Seq(None, Some("label = 3"))) {
      val f = emb.filter(filter.map(expr).getOrElse(lit(true)))
      val exact = rows(f.select(col("vec_id"),
          round(graft.functions.vec_l2(col("embedding"), typedLit(qv.map(_.toFloat))), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(K))
      // k·r = 500 covers the whole 500-row fixture
      val got = rows(IndexBuild.search(spark, indexes(name), qv,
        searchOptions(Cells, Some(50)), pred = filter.map(expr)))
      assert(got === exact, s"$name filter=$filter")
    }
  }

  test("the distance kernel is evaluated once per row in every arm's plan") {
    for ((name, refine, kernel) <- Seq(("pq", None, "pqadc("), ("pq", Some(4), "pqadc("),
        ("sq", None, "sqadc("), ("sq", Some(4), "sqadc("), ("flat", None, "vectordistance("))) {
      val plan = IndexBuild.searchPlan(spark, indexes(name), qv, searchOptions(4, refine))
        .queryExecution.executedPlan.toString
      assert(plan.split(java.util.regex.Pattern.quote(kernel), -1).length - 1 === 1,
        s"$name refine=$refine evaluates $kernel more than once:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"), plan)
    }
  }

  test("CALL system.knn resolves the manifest once and reads the pinned version's sidecar") {
    spark.sparkContext.hadoopConfiguration.set("fs.pathlogfs.impl", classOf[PathLogFs].getName)
    spark.conf.set("spark.sql.catalog.lance_plog", classOf[graft.sources.lance.LanceCatalog].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-vsj-plog-").toString
    spark.conf.set("spark.sql.catalog.lance_plog.warehouse", s"pathlogfs://$local")
    spark.sql("CREATE NAMESPACE lance_plog.db")
    val root = s"pathlogfs://$local/db/pq"
    val built = IndexBuild.build(spark, emb, root, Map("index.type" -> "IVF_PQ",
      "index.num-partitions" -> Cells.toString, "index.num-bits" -> "4"))
    // a rebuild leaves two versions pointing at two different sidecars
    val rebuilt = IndexBuild.rebuild(spark, built)
    assert(rebuilt.epoch !== built.epoch)
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(spark, Map.empty)
    val latest = ManifestIO.loadLatest(root, conf).get
    val call = knnCall("pq", Cells, Some(4), None).replace("lance_vsj", "lance_plog")
    spark.sql(call).collect() // warm: compile the plan once
    PathLogFs.reset()
    val got = rows(spark.sql(call))
    val log = PathLogFs.entries
    val listings = log.count { case (op, p) => op == "listStatus" && p.endsWith("/_versions") }
    val manifests = log.collect {
      case ("open", p) if p.endsWith(".manifest.json") => p.split('/').last
    }
    val sidecars = log.collect {
      case ("open", p) if p.contains("/_index/") => p.split('/').last
    }
    // one listing is the catalog's table-exists check, one is the call's
    // single manifest resolution; the versionAsOf read lists nothing. The
    // manifest is read once by the call and twice by the pinned reader
    // (schema, then table), always at the pinned version.
    assert(listings === 2, log.mkString("\n"))
    assert(manifests === Seq.fill(3)(f"${latest.version}%020d.manifest.json"), log.mkString("\n"))
    // the handle is the sidecar the pinned manifest points at
    assert(sidecars === Seq(latest.props(IndexBuild.MetaProp)), log.mkString("\n"))
    assert(rebuilt.epoch === Some(latest.props(IndexBuild.MetaProp)))
    // the handle that manifest names answers exactly like a fresh load
    val pinnedHandle = IndexBuild.loadAt(spark, root, Some(latest)).get
    assert(pinnedHandle.epoch === rebuilt.epoch)
    assert(got === rows(IndexBuild.search(spark, IndexBuild.load(spark, root), qv,
      searchOptions(Cells, Some(4)) + ("versionAsOf" -> latest.version.toString))))
    // an older pinned version resolves to the sidecar written with it
    val first = ManifestIO.load(root, ManifestIO.listVersions(root, conf).head, conf)
    assert(IndexBuild.loadAt(spark, root, Some(first)).get.epoch === built.epoch)
  }
}
