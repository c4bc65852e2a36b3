package graft

import graft.sources.lance.{LanceManifest, ManifestIO}
import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** Path saves (`df.write.format("lance").save(path)`) and catalog writes
  * (CTAS, INSERT, `writeTo(...).append()`) lay a table out the same way:
  * under each write layout they stamp the same bucket tags, the same
  * `sortedBy` order and the same persisted properties, and they reject a
  * malformed layout with the same message. */
class WriteLayoutSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-layoutspec-").toString
  private def conf = spark.sessionState.newHadoopConf()

  private lazy val wh = {
    spark.conf.set("spark.sql.catalog.lance_wl", classOf[graft.sources.lance.LanceCatalog].getName)
    val w = tmp()
    spark.conf.set("spark.sql.catalog.lance_wl.warehouse", w)
    spark.sql("CREATE NAMESPACE lance_wl.db")
    w
  }

  private lazy val frame: DataFrame = spark.range(300)
    .selectExpr("id", "id % 5 AS k", "cast(id % 7 AS string) AS s", "id * 3 AS v")

  private val layouts: Seq[(String, Map[String, String])] = Seq(
    "plain" -> Map.empty,
    "cluster" -> Map("write.cluster-by" -> "k"),
    "cluster_alias" -> Map("clusterBy" -> "k"),
    "sort" -> Map("write.sort-by" -> "v"),
    "cluster_sort" -> Map("write.cluster-by" -> "k", "write.sort-by" -> "v"),
    "bucket" -> Map("write.bucket-by" -> "id", "write.bucket-count" -> "4"),
    "bucket_alias" -> Map("bucketBy" -> "id", "bucketCount" -> "4"),
    "bucket_sort" -> Map("write.bucket-by" -> "id", "write.bucket-count" -> "4",
      "write.sort-by" -> "v"),
    "max_rows" -> Map("write.max-rows-per-file" -> "40"),
    "max_rows_alias" -> Map("maxRowsPerFile" -> "40"),
    "prop" -> Map("commit.prop.owner" -> "etl"),
    // a partition count without cluster-by shapes nothing on either path
    "cluster_partitions_alone" -> Map("write.cluster-partitions" -> "3"))

  /** What a layout decides about the written table. */
  private case class Shape(tags: Seq[Int], allTagged: Boolean, sortedBy: Set[Seq[String]],
                           props: Map[String, String], maxFragmentRows: Long,
                           singleValuedK: Boolean, rows: Seq[String])

  private def shapeOf(root: String): Shape = {
    val m: LanceManifest = ManifestIO.loadLatest(root, conf).get
    Shape(m.fragments.flatMap(_.bucket).distinct.sorted,
      m.fragments.forall(_.bucket.isDefined),
      m.fragments.map(_.sortedBy).toSet,
      m.props,
      m.fragments.map(_.rows).max,
      m.fragments.forall(_.stats.get("k").exists(c => c.min.isDefined && c.min == c.max)),
      spark.read.format("lance").load(root).collect().map(_.toString).sorted.toSeq)
  }

  private def pathSave(opts: Map[String, String]): String = {
    val root = tmp()
    frame.write.format("lance").options(opts).save(root)
    frame.write.format("lance").options(opts).mode("append").save(root)
    root
  }

  /** The catalog name of table `name` (registers the catalog first). */
  private def tbl(name: String): String = { wh; s"lance_wl.db.$name" }

  private def createEmpty(name: String): Unit =
    spark.sql(s"CREATE TABLE ${tbl(name)} (id BIGINT, k BIGINT, s STRING, v BIGINT)")

  private def catalogAppend(name: String, opts: Map[String, String]): String = {
    createEmpty(name)
    frame.writeTo(tbl(name)).options(opts).append()
    frame.writeTo(tbl(name)).options(opts).append()
    s"$wh/db/$name"
  }

  private def tblProps(opts: Map[String, String]): String =
    if (opts.isEmpty) ""
    else opts.map { case (k, v) => s"'$k'='$v'" }.mkString("TBLPROPERTIES(", ", ", ")")

  private def ctasInsert(name: String, opts: Map[String, String]): String = {
    frame.createOrReplaceTempView("wl_src")
    spark.sql(s"CREATE TABLE ${tbl(name)} ${tblProps(opts)} AS SELECT * FROM wl_src")
    spark.sql(s"INSERT INTO ${tbl(name)} SELECT * FROM wl_src")
    s"$wh/db/$name"
  }

  for ((name, opts) <- layouts)
    test(s"$name: a path save and a catalog append lay the table out the same way") {
      val v1 = shapeOf(pathSave(opts))
      assert(shapeOf(catalogAppend(s"app_$name", opts)) === v1)
      // CTAS also persists the declared keys a path save does not stamp;
      // the rest of what it writes matches the path save
      val ctas = shapeOf(ctasInsert(s"ctas_$name", opts))
      assert(ctas.copy(props = ctas.props -- (opts.keySet -- v1.props.keySet)) === v1)
    }

  test("layouts stamp what they declare") {
    val bucket = shapeOf(pathSave(layouts.toMap.apply("bucket_sort")))
    assert(bucket.allTagged && bucket.tags === Seq(0, 1, 2, 3))
    assert(bucket.sortedBy === Set(Seq("id", "v")))
    assert(bucket.props === Map("write.bucket-by" -> "id", "write.bucket-count" -> "4"))
    val cluster = shapeOf(pathSave(layouts.toMap.apply("cluster_sort")))
    assert(cluster.singleValuedK && cluster.sortedBy === Set(Seq("k", "v")))
    assert(shapeOf(pathSave(layouts.toMap.apply("max_rows"))).maxFragmentRows <= 40)
    assert(shapeOf(pathSave(layouts.toMap.apply("prop"))).props === Map("owner" -> "etl"))
  }

  /** The message of the first IllegalArgumentException in `t`'s cause
    * chain, else the root cause's class and message. */
  private def rejection(body: => Unit): String = {
    val t = intercept[Throwable](body)
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    chain.collectFirst { case e: IllegalArgumentException => e.getMessage }
      .getOrElse(s"${chain.last.getClass.getName}: ${chain.last.getMessage}")
  }

  private val malformed: Seq[(String, Map[String, String], Option[(String, String)])] = Seq(
    ("bucket_count_text", Map("write.bucket-by" -> "id", "write.bucket-count" -> "four"),
      Some("write.bucket-count" -> "four")),
    ("bucket_count_zero", Map("write.bucket-by" -> "id", "write.bucket-count" -> "0"),
      Some("write.bucket-count" -> "0")),
    ("max_rows_text", Map("maxRowsPerFile" -> "many"), Some("maxRowsPerFile" -> "many")),
    ("max_rows_zero", Map("write.max-rows-per-file" -> "0"),
      Some("write.max-rows-per-file" -> "0")),
    ("max_rows_negative", Map("maxRowsPerFile" -> "-5"), Some("maxRowsPerFile" -> "-5")),
    ("cluster_partitions_text", Map("write.cluster-by" -> "k",
      "write.cluster-partitions" -> "2.5"), Some("write.cluster-partitions" -> "2.5")),
    ("bucket_two_columns", Map("write.bucket-by" -> "id,k", "write.bucket-count" -> "4"), None),
    ("bucket_without_count", Map("write.bucket-by" -> "id"), None),
    ("bucket_and_cluster", Map("write.bucket-by" -> "id", "write.bucket-count" -> "4",
      "write.cluster-by" -> "k"), None),
    ("bucket_unknown_column", Map("write.bucket-by" -> "nope", "write.bucket-count" -> "4"), None),
    ("cluster_unknown_column", Map("write.cluster-by" -> "nope"), None))

  for ((name, opts, names) <- malformed)
    test(s"malformed layout $name: both paths reject it with the same message") {
      val v1 = rejection(frame.write.format("lance").options(opts).save(tmp()))
      createEmpty(s"bad_$name")
      val v2 = rejection(frame.writeTo(tbl(s"bad_$name")).options(opts).append())
      assert(v1 === v2)
      names.foreach { case (key, value) =>
        assert(v1.contains(key) && v1.contains(s"'$value'"),
          s"the rejection should name $key and '$value': $v1")
      }
    }

  test("a path save hands its write options to the fragment writers") {
    // write.bloom-max-keys reaches the executors through the writer's job
    // conf: over 10 keys a column's fragment gets no bloom in its sidecar
    def sidecarBytes(opts: Map[String, String]): Long = {
      val root = tmp()
      spark.range(2000).selectExpr("id", "cast(id AS string) AS s").coalesce(1)
        .write.format("lance").options(opts).save(root)
      val dir = new org.apache.hadoop.fs.Path(root, graft.sources.lance.Hll.Dir)
      ManifestIO.fs(root, conf).listStatus(dir).map(_.getLen).sum
    }
    assert(sidecarBytes(Map("write.bloom-max-keys" -> "10")) < sidecarBytes(Map.empty))
  }

  test("path replaceWhere rolls fragments at either max-rows spelling") {
    for (key <- Seq("maxRowsPerFile", "write.max-rows-per-file")) {
      val root = tmp()
      frame.write.format("lance").save(root)
      val before = ManifestIO.loadLatest(root, conf).get.fragments.map(_.path).toSet
      // one partition, so only the max-rows setting can split its 60 rows
      graft.sources.lance.LanceDelete.replaceWhere(spark, root, frame.filter("k = 1").coalesce(1),
        Array(org.apache.spark.sql.sources.EqualTo("k", 1L)), Map(key -> "25"))
      val staged = ManifestIO.loadLatest(root, conf).get.fragments
        .filterNot(f => before(f.path))
      assert(staged.map(_.rows).sum === 60L, key)
      assert(staged.forall(_.rows <= 25L), s"$key: ${staged.map(_.rows)}")
    }
  }

  test("layout keys are parsed only in the layout module") {
    val keys = Seq("write.cluster-by", "clusterBy", "write.sort-by", "sortBy",
      "write.bucket-by", "bucketBy", "write.bucket-count", "bucketCount",
      "write.cluster-partitions", "write.max-rows-per-file", "maxRowsPerFile",
      "commit.prop.")
    // a string literal that IS a layout key (either case), not prose naming one
    val literal = keys.map(k => "\"" + java.util.regex.Pattern.quote(k) + "\"")
      .mkString("(?i)", "|", "").r
    val sites = OperatorSources.sites("src/main/scala/graft/sources/lance",
      literal.findFirstIn(_).isDefined).collect {
      case (f, _, n, line) if f != "LanceLayout.scala" => s"$f:$n: ${line.trim}"
    }
    if (sites.nonEmpty) fail(s"layout key literals outside LanceLayout.scala:\n${sites.mkString("\n")}")
  }

  test("a path save lists the versions and reads the manifest once") {
    spark.sparkContext.hadoopConfiguration.set("fs.pathlogfs.impl", classOf[PathLogFs].getName)
    val root = s"pathlogfs://${tmp()}/t"
    frame.write.format("lance").save(root)
    def counts(log: Seq[(String, String)]): (Int, Int) = (
      log.count { case (op, p) => op == "listStatus" && p.endsWith("/_versions") },
      log.count { case (op, p) => op == "open" && p.endsWith(".manifest.json") })
    for (mode <- Seq("append", "overwrite")) {
      PathLogFs.reset()
      frame.write.format("lance").mode(mode).save(root)
      val log = PathLogFs.entries
      // Spark resolves the provider's schema once (inferSchema: one listing,
      // one read); the save itself loads the latest manifest once and
      // commits against it
      assert(counts(log) === (2, 2), s"$mode save:\n${log.mkString("\n")}")
    }
    assert(spark.read.format("lance").load(root).count() === 300)
  }
}
