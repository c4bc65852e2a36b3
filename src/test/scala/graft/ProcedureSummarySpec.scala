package graft

import graft.operators.{Sampling, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Pins the one-row summary every `output_table` procedure returns: its
  * column names, types and nullability, and its values — each count
  * checked against the committed output table and, where the sf0.001
  * fixture fixes it, against the gated key's known row count. */
class ProcedureSummarySpec extends SparkSpec {
  private val cat = "lance_sum"

  private lazy val wh: String = {
    val w = java.nio.file.Files.createTempDirectory("graft-sum-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.lance.LanceCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val docs = Tables.t(spark, sf, "documents")
    val emb = Tables.t(spark, sf, "embeddings")
    docs.write.format("lance").save(s"$w/db/docs")
    docs.filter(col("doc_id") % 20 =!= 0).write.format("lance").save(s"$w/db/corpus")
    docs.filter(col("doc_id") % 20 === 0).write.format("lance").save(s"$w/db/bench")
    emb.write.format("lance").save(s"$w/db/emb")
    emb.filter(col("vec_id") < 20).write.format("lance").save(s"$w/db/q")
    import spark.implicits._
    Seq((0L, "the"), (0L, "data"), (1L, "model")).toDF("query_id", "term")
      .write.format("lance").save(s"$w/db/terms")
    w
  }

  /** Runs `call` (a CALL on this spec's catalog), requires one row back. */
  private def summary(call: String): (StructType, Row) = {
    wh
    val df = spark.sql(s"CALL $cat.system.$call")
    val rows = df.collect()
    assert(rows.length === 1, s"$call returned ${rows.length} rows")
    (df.schema, rows.head)
  }

  private def outCount(table: String): Long =
    spark.table(s"$cat.db.$table").count()

  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = false) })

  private val nRowsSchema = fields("output_table" -> StringType, "n_rows" -> LongType)

  private def assertNRows(call: String, out: String, expected: Long): Unit = {
    val (schema, row) = summary(call)
    assert(schema === nRowsSchema)
    assert(row === Row(s"db.$out", expected))
    assert(outCount(out) === expected)
  }

  test("an unknown procedure's error lists every procedure list() returns") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import graft.sources.lance.{LanceCatalog, LanceProcedures}
    val names = LanceProcedures.list().map(_.name).toSeq
    assert(names.contains("hybrid") && names.distinct === names, names)
    val err = intercept[IllegalArgumentException](LanceProcedures.load(new LanceCatalog,
      Identifier.of(Array(LanceProcedures.Namespace), "no_such_procedure")))
    val expected = "\\(expected (.*)\\)".r.findFirstMatchIn(err.getMessage)
      .map(_.group(1).split(" / ").toSeq)
    assert(expected === Some(names), err.getMessage)
  }

  test("knn_join: (output_table, n_rows); without output_table the rows keep their non-null schema") {
    assertNRows("knn_join(queries => 'db.q', corpus => 'db.emb', k => 5, cells => 8, " +
      "nprobes => 8, exclude_self => true, output_table => 'db.kj_out')", "kj_out", 100L)
    val direct = spark.sql(s"CALL $cat.system.knn_join(queries => 'db.q', " +
      "corpus => 'db.emb', k => 5, cells => 8, nprobes => 8, exclude_self => true)")
    assert(direct.schema === fields("q_id" -> LongType, "n_id" -> LongType,
      "dist" -> DoubleType, "rk" -> LongType))
    assert(direct.count() === 100L)
  }

  test("search: (output_table, n_rows)") {
    val (schema, row) = summary("search(queries => 'db.terms', corpus => 'db.docs', " +
      "k => 5, output_table => 'db.search_out')")
    assert(schema === nRowsSchema)
    val n = outCount("search_out")
    assert(n > 0L)
    assert(row === Row("db.search_out", n))
  }

  test("decontaminate: (output_table, n_flagged, n_out)") {
    val (schema, row) = summary("decontaminate(corpus => 'db.corpus', bench => 'db.bench', " +
      "min_overlap => 3, min_containment => 0.5, output_table => 'db.decon_out')")
    assert(schema === fields("output_table" -> StringType, "n_flagged" -> LongType,
      "n_out" -> LongType))
    assert(row === Row("db.decon_out", 10L, 465L))
    assert(outCount("decon_out") === 465L)
  }

  test("dedup exact: (output_table, n_in, n_dropped, n_out)") {
    val (schema, row) = summary(
      "dedup(table => 'db.docs', method => 'exact', output_table => 'db.dedup_out')")
    assert(schema === fields("output_table" -> StringType, "n_in" -> LongType,
      "n_dropped" -> LongType, "n_out" -> LongType))
    assert(row === Row("db.dedup_out", 500L, 0L, 500L))
    assert(outCount("dedup_out") === 500L)
  }

  test("dedup pairs / clusters / canonical: (output_table, n_rows)") {
    for ((method, n) <- Seq("pairs" -> 28L, "clusters" -> 21L, "canonical" -> 476L))
      assertNRows(s"dedup(table => 'db.docs', method => '$method', " +
        s"output_table => 'db.dedup_$method')", s"dedup_$method", n)
  }

  test("sample: (output_table, n_rows)") {
    val shares = Sampling.MixturePct.map { case (k, v) => s"$k:$v" }.mkString(",")
    assertNRows(s"sample(table => 'db.docs', method => 'mixture', shares => '$shares', " +
      "output_table => 'db.sample_out')", "sample_out", 74L)
  }

  test("split: (output_table, n_train, n_validation, n_test)") {
    val (schema, row) = summary("split(table => 'db.docs', method => 'hash', " +
      "train_pct => 90, val_pct => 5, output_table => 'db.split_out')")
    assert(schema === fields("output_table" -> StringType, "n_train" -> LongType,
      "n_validation" -> LongType, "n_test" -> LongType))
    val counts = spark.table(s"$cat.db.split_out").groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(row === Row("db.split_out", counts.getOrElse("train", 0L),
      counts.getOrElse("validation", 0L), counts.getOrElse("test", 0L)))
    assert(counts.values.sum === 500L)
    assert(counts.getOrElse("train", 0L) > counts.getOrElse("test", 0L))
  }

  test("score: (output_table, n_rows)") {
    assertNRows("score(table => 'db.docs', metrics => 'quality', " +
      "output_table => 'db.score_out')", "score_out", 500L)
  }

  test("chunk: (output_table, n_chunks)") {
    val (schema, row) = summary(s"chunk(table => 'db.docs', " +
      s"chunk_tokens => ${TextAnalysis.ChunkTokens}, stride => ${TextAnalysis.ChunkStride}, " +
      "output_table => 'db.chunk_out')")
    assert(schema === fields("output_table" -> StringType, "n_chunks" -> LongType))
    assert(row === Row("db.chunk_out", 806L))
    assert(outCount("chunk_out") === 806L)
  }

  test("pack: (output_table, n_rows)") {
    assertNRows(s"pack(table => 'db.docs', budget => ${TextAnalysis.PackBudget}, " +
      s"shards => ${TextAnalysis.PackShards}, output_table => 'db.pack_out')", "pack_out", 16L)
  }

  test("semdedup: (output_table, n_dropped, n_out)") {
    val (schema, row) = summary("semdedup(table => 'db.emb', output_table => 'db.semdedup_out')")
    assert(schema === fields("output_table" -> StringType, "n_dropped" -> LongType,
      "n_out" -> LongType))
    assert(row === Row("db.semdedup_out", 19L, 481L))
    assert(outCount("semdedup_out") === 481L)
  }

  test("dsir and dsir_refresh: (output_table, n_selected, n_out), then a no-drift refresh") {
    val (schema, row) = summary("dsir(table => 'db.docs', " +
      "target_predicate => 'lang = ''en''', output_table => 'db.dsir_out')")
    assert(schema === fields("output_table" -> StringType, "n_selected" -> LongType,
      "n_out" -> LongType))
    assert(row === Row("db.dsir_out", 100L, 100L))
    assert(outCount("dsir_out") === 100L)
    val (rSchema, rRow) = summary("dsir_refresh(table => 'db.docs', " +
      "target_predicate => 'lang = ''en''', output_table => 'db.dsir_out')")
    assert(rSchema === fields("drift" -> DoubleType, "threshold" -> DoubleType,
      "refreshed" -> BooleanType, "n_selected" -> LongType))
    assert(rRow === Row(0.0, 0.05, false, 0L))
  }
}
