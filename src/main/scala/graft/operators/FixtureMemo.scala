package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-(session, corpus dir) memo of a fixture built once under a fresh
  * local temp dir: a trained index, a token store, a text index or a
  * payload table that several keys of one Verify/Bench/test JVM read.
  * Keyed by sessionUUID (collision-free — an identity hash can be reused
  * after a stopped session is GC'd); the testdata dirs are immutable per
  * run, so (session, dir) is a sound key. An entry whose root (`rootOf`)
  * no longer exists is evicted on every access and rebuilt on the next.
  * Every temp dir a memo creates is deleted when the JVM exits. */
private[graft] final class FixtureMemo[T](prefix: String, rootOf: T => String) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), T]()

  /** The fixture for (session, `dir`); `build` writes it under the fresh
    * temp dir it is given. */
  def apply(s: SparkSession, dir: String)(build: String => T): T = {
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(s, Map.empty)
    memo.entrySet().removeIf(e =>
      !graft.sources.lance.ManifestIO.pathExists(rootOf(e.getValue), conf))
    memo.computeIfAbsent((org.apache.spark.sql.graft.Shim.sessionUUID(s), dir),
      _ => build(FixtureMemo.tempDir(prefix)))
  }
}

private[graft] object FixtureMemo {
  // a long-lived JVM (test forks, a notebook reusing the classloader) runs
  // many sessions — without cleanup each would leak its fixtures on disk
  // forever; one shutdown hook deletes every dir `tempDir` created
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach { d =>
      // best effort: a dir that cannot be walked or deleted must not stop
      // the others
      scala.util.Try(if (java.nio.file.Files.exists(d)) {
        val all = java.nio.file.Files.walk(d)
        try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally all.close()
      })
    }, "graft-fixture-reaper"))

  /** A fresh local temp dir `graft-<prefix>-*`, deleted at JVM exit: the
    * one way graft's fixtures and temp tables make a temp root. */
  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$prefix-")
    dirs.add(d)
    d.toString
  }

  /** Is `path` inside a temp dir `tempDir` created (and so deleted at JVM
    * exit)? */
  private[graft] def reaps(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    dirs.stream().anyMatch(d => p.startsWith(d))
  }
}
