package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** `curate`: a bulk write of a seeded corpus into a catalog table, then
  * the SQL curation chain over it — exact dedup, canonical near-dup
  * dedup, keep the canonical docs, quality scores, token-budget sample.
  * Each timed op is one whole chain on fresh table names. */
object Curate {
  /** Per-source token budget of the sample step. */
  val TokenBudget = 100000L
  /** Quality floor whose pass count the chain reports. */
  val QualityMin = 0.6

  private val Steps = Seq("write", "exact", "canonical", "keep", "score", "sample")

  def run(ctx: Ctx): Unit = {
    writeOracles(ctx)
    for (rep <- 0 until Ctx.SetupReps) ctx.setup {
      chain(ctx, ctx.in.resolve("warm.parquet").toString, s"w$rep")
    }
    val corpus = ctx.in.resolve("corpus.parquet").toString
    var c = 0
    var lastTag = ""
    ctx.timed {
      while (!ctx.expired) {
        val tag = s"c$c"
        ctx.op(tag, "chain")(chain(ctx, corpus, tag))
        lastTag = tag
        c += 1
      }
    }
    val listings = tables(lastTag).map(t => Ctx.listing(Serve.root(ctx, t), ctx.hadoopConf))
    ctx.extra("stored_bytes", JLong(listings.map(_._1).sum))
    ctx.extra("output_files", JInt(listings.map(_._2).sum))
    ctx.extra("commits", JInt(listings.map(_._3).sum))
    if (ctx.trace) {
      val texts = ctx.spark.read.parquet(corpus).select("text").collect().map(_.getString(0))
      Kernels.bandKeys(ctx, texts)
    }
  }

  private def tables(tag: String): Seq[String] =
    Seq("docs", "exact", "canon", "kept", "scored", "sampled").map(t => s"${t}_$tag")

  /** One chain; its answer carries every count the checks replay and the
    * wall of each step. */
  private def chain(ctx: Ctx, input: String, tag: String): JValue = {
    val spark = ctx.spark
    val Seq(docs, exact, canon, kept, scored, sampled) = tables(tag)
    val c = Ctx.Cat
    val walls = scala.collection.mutable.LinkedHashMap[String, JValue]()
    def step[T](name: String)(body: => T): T = {
      val s = System.nanoTime()
      val r = body
      walls(name) = JDouble((System.nanoTime() - s) / 1e9)
      r
    }
    def sql(q: String) = spark.sql(q).collect()
    step("write")(spark.read.parquet(input).write.format("lance").save(Serve.root(ctx, docs)))
    val ex = step("exact")(sql(s"CALL $c.system.dedup(table => 'db.$docs', " +
      s"method => 'exact', output_table => 'db.$exact')")).head
    val cn = step("canonical")(sql(s"CALL $c.system.dedup(table => 'db.$exact', " +
      s"method => 'canonical', output_table => 'db.$canon')")).head
    step("keep")(sql(s"CREATE TABLE $c.db.$kept AS SELECT e.* FROM $c.db.$exact e " +
      s"LEFT SEMI JOIN $c.db.$canon k ON e.doc_id = k.canonical_id"))
    step("score")(sql(s"CALL $c.system.score(table => 'db.$kept', metrics => 'quality', " +
      s"output_table => 'db.$scored')"))
    val passing = sql(s"SELECT count(*) FROM $c.db.$scored WHERE quality >= $QualityMin").head.getLong(0)
    step("sample")(sql(s"CALL $c.system.sample(table => 'db.$kept', method => 'token_budget', " +
      s"budget => $TokenBudget, output_table => 'db.$sampled')"))
    val picked = sql(s"SELECT source, doc_id FROM $c.db.$sampled ORDER BY source, doc_id")
    require(walls.keySet == Steps.toSet)
    JObject(
      "n_in" -> JLong(ex.getLong(1)), "n_dropped" -> JLong(ex.getLong(2)),
      "n_out" -> JLong(ex.getLong(3)), "n_canonical" -> JLong(cn.getLong(1)),
      "n_kept" -> JLong(sql(s"SELECT count(*) FROM $c.db.$kept").head.getLong(0)),
      "quality_passing" -> JLong(passing),
      "sample" -> Ctx.rowsJson(picked),
      "steps_s" -> JObject(walls.toList))
  }

  /** The operators' own DuckDB oracle SQL, for run.py's replays. */
  private def writeOracles(ctx: Ctx): Unit = {
    val sampleSql = graft.operators.Sampling.oracleSql("sample_token_budget")
    val budgeted = sampleSql.replace(s"cum_tokens <= ${graft.operators.Sampling.TokenBudget}",
      s"cum_tokens <= $TokenBudget")
    require(budgeted != sampleSql, "sample_token_budget oracle no longer filters on its budget")
    val j = JObject(
      "dedup_exact" -> JString(graft.operators.Dedup.oracleSql("dedup_exact")),
      "text_quality" -> JString(graft.operators.TextAnalysis.oracleSql("text_quality")),
      "sample_token_budget" -> JString(budgeted),
      "quality_min" -> JDouble(QualityMin))
    Files.write(ctx.out.resolve("oracles.json"), compact(render(j)).getBytes(StandardCharsets.UTF_8))
  }
}
