package graft

import org.apache.spark.sql.functions._

/** The codegen'd LM scoring expression must equal the explode → broadcast
  * join → shuffle pipeline it replaced, bigram for bigram. */
class LmScoreSpec extends SparkSpec {

  test("lm_doc_score equals the join-pipeline scoring on the corpus; zero scoring shuffles") {
    val d = Tables.t(spark, sf, "documents").filter(length(col("text")) >= 2)
    // train exactly as the operator does
    val big = d.select(col("doc_id"),
      explode(transform(sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2)))).as("g"))
    val c2 = big.groupBy("g").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(substring(col("g"), 1, 1).as("p")).agg(sum("c2").as("c1"))
    val probs = c2.join(c1, substring(col("g"), 1, 1) === col("p"))
      .select(col("g"),
        round(col("c2").cast("double") / col("c1") * 1e9, 0).cast("long").as("p_nano"))

    // the OLD scoring pipeline, verbatim
    val viaJoin = big.join(broadcast(probs), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_nano").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // the expression
    val tbl = probs.collect()
    val viaExprDf = d.select(col("doc_id"),
      graft.functions.lm_doc_score(col("text"),
        tbl.map(_.getString(0)), tbl.map(_.getLong(1))).as("st"))
    val viaExpr = viaExprDf.collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1).head, r.getSeq[Long](1)(1)))).toMap
    assert(viaExpr === viaJoin)
    assert(viaExpr.nonEmpty)

    // the scoring stage itself is exchange-free (pure map over the scan)
    val plan = viaExprDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("lm_doc_score's table is in gram order: builds from permuted input are one expression") {
    import spark.implicits._
    val probs = Seq(("ab", 3L), ("ba", 5L), ("aa", 7L), ("bb", 11L), ("b😀", 13L))
      .toDF("g", "p_nano")
    val t = col("t")
    val asc = graft.operators.TextAnalysis.lmDocScore(t, probs.orderBy(col("g").asc))
    val desc = graft.operators.TextAnalysis.lmDocScore(t, probs.orderBy(col("g").desc))
    val (ea, ed) = (org.apache.spark.sql.graft.Shim.expression(asc),
      org.apache.spark.sql.graft.Shim.expression(desc))
    assert(ea === ed)
    assert(ea.canonicalized === ed.canonicalized)
    assert(ea.toString === ed.toString)
    val docs = Seq("abba", "bab😀", "x").toDF("t")
    assert(docs.select(asc).collect().toSeq === docs.select(desc).collect().toSeq)
  }

  test("char_bigrams equals the transform+substr phrasing on the corpus") {
    val d = Tables.t(spark, sf, "documents").filter(length(col("text")) >= 2)
    val viaSubstr = d.select(col("doc_id"),
        transform(sequence(lit(1), length(col("text")) - 1),
          i => col("text").substr(i, lit(2))).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaExpr = d.select(col("doc_id"),
        graft.functions.char_bigrams(col("text")).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaExpr === viaSubstr)
    // non-BMP: surrogate pairs stay whole
    import spark.implicits._
    val g = Seq("a😀b").toDF("t")
      .select(graft.functions.char_bigrams(col("t"))).collect().head.getSeq[String](0)
    assert(g === Seq("a😀", "😀b"))
  }

  test("lm_doc_score handles non-BMP code points like Spark substr") {
    import spark.implicits._
    // "a😀b": code-point bigrams are "a😀" and "😀b"
    val text = "a😀b"
    val grams = Array("a😀", "😀b")
    val nanos = Array(7L, 11L)
    val got = Seq(text).toDF("text")
      .select(graft.functions.lm_doc_score(col("text"), grams, nanos).as("st"))
      .collect().head.getSeq[Long](0)
    assert(got === Seq(2L, 18L))
    // cross-check against Spark's own substr bigrams
    val sparkGrams = Seq(text).toDF("text")
      .select(explode(transform(sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2)))).as("g"))
      .collect().map(_.getString(0)).toSeq
    assert(sparkGrams === grams.toSeq)
  }
}

/** Cavnar-Trenkle n-gram language ID (`text_langid_ngram`). */
class LangIdNgramSpec extends SparkSpec {
  import graft.functions.LangIdNgram

  test("profile: ranks by count desc then gram asc") {
    val p = LangIdNgram.profile("aaab")
    // counts: a=3, aa=2, then {aaa, aab, ab, b} all 1 → lexicographic
    assert(p.get("a") === 0)
    assert(p.get("aa") === 1)
    assert(p.get("aaa") === 2)
    assert(p.get("aab") === 3)
    assert(p.get("ab") === 4)
    assert(p.get("b") === 5)
  }

  test("snippets in each language classify correctly; map-only plan") {
    import spark.implicits._
    // everyday sentences DISTINCT from the seed texts
    val docs = Seq(
      (1L, "en", "she walked into the old library and found a small book about the history of these mountains"),
      (2L, "es", "ella entro en la vieja biblioteca y encontro un pequeno libro sobre la historia de estas montanas"),
      (3L, "de", "sie ging in die alte bibliothek und fand ein kleines buch ueber die geschichte dieser berge"),
      (4L, "fr", "elle est entree dans la vieille bibliotheque et elle a trouve un petit livre sur l histoire de ces montagnes"))
      .toDF("doc_id", "lang", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lid-").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("text_langid_ngram")(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(got === Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr"), s"got $got")

    // the corpus key is a pure map stage: only the presentation sort
    val df = SparkEntry.queries("text_langid_ngram")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"langid scoring shuffled:\n$plan")
    // the synthetic corpus is PSEUDO-RANDOM vocabulary, so character-gram
    // profiles legitimately scatter across languages (unlike the stopword
    // heuristic, which keys on the literal stopwords the generator
    // sprinkles in) — the corpus contract is determinism, not a label
    val a = df.collect().map(r => (r.getLong(0), r.getString(5))).toSeq
    val b = SparkEntry.queries("text_langid_ngram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(5))).toSeq
    assert(a === b)
    assert(a.length === 500)
  }
}
