package graft

import java.util.concurrent.atomic.AtomicLong

/** Process-wide count of successful lance manifest commits
  * ([[graft.sources.lance.ManifestIO.commit]] increments it). Bench resets
  * it before each measured run and records it in the key's `data` map next
  * to the streaming denominators the [[Harness.Capture]] reads. One atomic
  * add per commit, always on.
  */
object BenchProbe {
  val lanceCommits = new AtomicLong
}
