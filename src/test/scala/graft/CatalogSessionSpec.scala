package graft

import org.apache.spark.sql.SparkSession

/** The SQL-driven keys leave the caller's session conf as they found it,
  * apart from registering the `graft_lance` catalog; and no operator other
  * than that registration and the sized streaming drain sets session conf. */
class CatalogSessionSpec extends SparkSpec {
  /** Every `SparkEntry.queries` key that creates or writes a `graft_lance`
    * catalog table. */
  private val catalogKeys = Seq(
    "lance_sql_catalog", "lance_delete", "lance_update", "lance_replace",
    "lance_clustered_write", "lance_merge", "lance_bucket_join",
    "knn_sql_call", "knn_join_sql", "knn_mmr_sql", "knn_maxsim_sql", "hybrid_sql",
    "lance_decontaminate", "lance_semdedup", "lance_dsir", "lance_drift_call",
    "dedup_sql", "dedup_pairs_sql", "dedup_clusters_sql", "dedup_canonical_sql",
    "sample_mixture_sql", "sample_temperature_sql", "sample_budget_sql",
    "sample_epochs_sql", "split_sql", "split_leakfree_sql",
    "score_sql", "score_langid_sql", "score_fingerprint_sql", "chunk_sql", "pack_sql")

  private val registration =
    Set("spark.sql.catalog.graft_lance", "spark.sql.catalog.graft_lance.warehouse")

  test("catalog keys change only the graft_lance registration in the caller's session conf") {
    // a fresh session of the shared context: what an earlier suite left in
    // the shared session's conf cannot hide a key this one would set
    val caller = spark.newSession()
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(caller)
    try {
      val before = caller.conf.getAll
      for (key <- catalogKeys) {
        SparkEntry.queries(key)(caller, sf).collect()
        val after = caller.conf.getAll
        val changed = (before.keySet ++ after.keySet)
          .filter(k => before.get(k) != after.get(k)) -- registration
        if (changed.nonEmpty)
          fail(s"$key changed the session conf: ${changed.map(k => s"$k=${after.get(k)}")}")
      }
    } finally prevActive match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }

  test("operators set session conf only in the catalog registration and the sized drain") {
    val sites = OperatorSources.sites("conf.set(")
    val allowed = Set("LanceOps.scala" -> "catalogTables", "StreamingOps.scala" -> "drain")
    val stray = sites.filterNot { case (f, d, _) => allowed((f, d)) }
    if (stray.nonEmpty) fail(s"conf.set( outside the allowed sites: $stray")
    assert(sites.count(_._1 == "LanceOps.scala") === 2, sites)
  }
}
