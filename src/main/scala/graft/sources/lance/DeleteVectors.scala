package graft.sources.lance

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Positional delete vectors — the delta side of row-level DML.
  *
  * A fragment's delete vector is an immutable sidecar file under
  * `_deletes/` holding the sorted physical row positions deleted from that
  * fragment. DELETE/UPDATE/MERGE write only a new sidecar (plus insert
  * fragments) instead of rewriting whole fragments; the read path
  * filters the listed positions out. Manifests reference DV files by
  * path, so time travel sees each version's exact delete state;
  * merging deletes writes a NEW file (never mutates), and compaction folds
  * DVs back into clean fragments. This mirrors Lance's deletion-file
  * mechanism the reference gets natively from the Lance format
  * (rust/lance-table format: fragments carry a deletion file reference),
  * re-expressed for the manifest layout here.
  *
  * File format: 8-byte big-endian count N, then N big-endian int64
  * positions, sorted ascending, distinct. Positions are physical row
  * indexes in the fragment's parquet file (0-based, pre-deletion), so they
  * stay valid however many DVs are layered on top.
  */
object DeleteVectors {
  val Dir = "_deletes"

  private def fs(root: String, conf: Configuration) =
    new Path(root).getFileSystem(conf)

  /** Write a new immutable DV file from `positions` (any order, dups ok);
    * returns its fragment-meta reference. */
  def write(root: String, conf: Configuration, positions: Array[Long]): DeleteVectorMeta = {
    val sorted = positions.distinct
    java.util.Arrays.sort(sorted)
    val rel = s"$Dir/${java.util.UUID.randomUUID()}.dv"
    // one in-memory serialization + one small-file write (see
    // ManifestIO.writeSmallFile for why not a Hadoop create per DV)
    val buf = java.nio.ByteBuffer.allocate(8 * (sorted.length + 1))
    buf.putLong(sorted.length.toLong)
    var i = 0
    while (i < sorted.length) { buf.putLong(sorted(i)); i += 1 }
    ManifestIO.writeSmallFile(fs(root, conf), new Path(root, rel), buf.array())
    DeleteVectorMeta(rel, sorted.length.toLong)
  }

  /** Union an existing DV (if any) with new positions into a new DV file. */
  def merge(root: String, conf: Configuration, existing: Option[String],
            newPositions: Array[Long]): DeleteVectorMeta = {
    val base = existing.map(read(root, conf, _)).getOrElse(Array.empty[Long])
    write(root, conf, base ++ newPositions)
  }

  def read(root: String, conf: Configuration, rel: String): Array[Long] =
    readPath(new Path(root, rel), conf)

  def readPath(p: Path, conf: Configuration): Array[Long] = {
    val f = p.getFileSystem(conf)
    val in = f.open(p)
    try {
      val n = in.readLong()
      require(n >= 0 && n <= Int.MaxValue, s"corrupt delete vector $p: count=$n")
      val out = new Array[Long](n.toInt)
      var i = 0
      while (i < n) { out(i) = in.readLong(); i += 1 }
      out
    } finally in.close()
  }

  /** Executor-side load into a bitset for O(1) position tests. Fragment
    * positions fit an Int by construction (a fragment is one parquet file;
    * the bitset for 10M rows is ~1.2 MB). */
  def readBitSet(fullPath: String, conf: Configuration): java.util.BitSet = {
    val positions = readPath(new Path(fullPath), conf)
    val bs = new java.util.BitSet()
    var i = 0
    while (i < positions.length) {
      val p = positions(i)
      require(p >= 0 && p <= Int.MaxValue, s"delete position out of range: $p")
      bs.set(p.toInt)
      i += 1
    }
    bs
  }
}
