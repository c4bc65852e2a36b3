package graft.sources.lance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s.{JDouble, JLong, JValue}

/** Per-column stats of the rows a delete REMOVES, accumulated in the same
  * executor pass that computes the delete positions (see
  * [[DeleteVectorMeta.removed]]). Tracks nullCount for every statted
  * column, min/max in the manifest's internal JValue domain for
  * numeric/date/timestamp columns, and the exact long sum for
  * integral / decimal(<=18) columns (unscaled domain, overflow poisons). */
private[lance] object RemovedStats {
  def trackable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  private def sumTracked(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  /** One accumulator per tracked column; `indexes(j)` is the Row ordinal
    * of `fields(j)` in the delete scan's projection. */
  final class Acc(fields: Seq[StructField], indexes: Array[Int]) extends Serializable {
    private val n = fields.length
    private val nulls = new Array[Long](n)
    private val mins = new Array[JValue](n)
    private val maxs = new Array[JValue](n)
    private val sums = new Array[Long](n)
    private val sumOk = Array.fill(n)(true)

    def add(row: Row): Unit = {
      var j = 0
      while (j < n) {
        val i = indexes(j)
        if (row.isNullAt(i)) nulls(j) += 1
        else {
          val f = fields(j)
          f.dataType match {
            case d: DecimalType =>
              // unscaled-long sum only (manifests record no decimal bounds)
              if (sumOk(j)) {
                try sums(j) = Math.addExact(sums(j),
                  row.getDecimal(i).setScale(d.scale).unscaledValue().longValueExact())
                catch { case _: ArithmeticException => sumOk(j) = false }
              }
            case dt =>
              val jv: JValue = dt match {
                case ByteType => JLong(row.getByte(i).toLong)
                case ShortType => JLong(row.getShort(i).toLong)
                case IntegerType => JLong(row.getInt(i).toLong)
                case LongType => JLong(row.getLong(i))
                case FloatType => JDouble(row.getFloat(i).toDouble)
                case DoubleType => JDouble(row.getDouble(i))
                case DateType => JLong(row.get(i) match {
                  case d: java.sql.Date =>
                    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
                  case d: java.time.LocalDate => d.toEpochDay
                })
                case TimestampType => JLong(row.get(i) match {
                  case t: java.sql.Timestamp =>
                    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
                  case t: java.time.Instant =>
                    org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)
                })
                case TimestampNTZType => JLong(row.get(i) match {
                  case t: java.time.LocalDateTime =>
                    org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)
                })
                case other => throw new IllegalStateException(s"untrackable $other")
              }
              mins(j) = if (mins(j) == null) jv else ManifestIO.jMin(mins(j), jv)
              maxs(j) = if (maxs(j) == null) jv else ManifestIO.jMax(maxs(j), jv)
              if (sumOk(j) && sumTracked(dt)) {
                try sums(j) = Math.addExact(sums(j), jv.asInstanceOf[JLong].num)
                catch { case _: ArithmeticException => sumOk(j) = false }
              }
          }
        }
        j += 1
      }
    }

    def result: Map[String, ColStats] =
      fields.zipWithIndex.map { case (f, j) =>
        f.name -> ColStats(Option(mins(j)), Option(maxs(j)), Some(nulls(j)),
          if (sumTracked(f.dataType) && sumOk(j)) Some(sums(j)) else None,
          None)
      }.toMap
  }

  /** Fold this delete's removed stats onto a fragment's prior DV stats.
    * Only columns tracked on BOTH sides survive (a column one side never
    * saw has unknown removed values — poison). A bound absent on one side
    * with zero non-null removals there is benign, and that is exactly when
    * bounds are absent, so union-min/max over the defined side is sound. */
  def merge(prev: Map[String, ColStats], add: Map[String, ColStats]): Map[String, ColStats] =
    (prev.keySet intersect add.keySet).map { c =>
      val a = prev(c); val b = add(c)
      def bound(x: Option[JValue], y: Option[JValue], take: (JValue, JValue) => JValue) =
        (x, y) match {
          case (Some(p), Some(q)) => Some(take(p, q))
          case (p, None) => p
          case (None, q) => q
        }
      c -> ColStats(
        bound(a.min, b.min, ManifestIO.jMin),
        bound(a.max, b.max, ManifestIO.jMax),
        for (p <- a.nullCount; q <- b.nullCount) yield p + q,
        try for (p <- a.sum; q <- b.sum) yield Math.addExact(p, q)
        catch { case _: ArithmeticException => None },
        None)
    }.toMap
}

/** `DELETE FROM` over a lance dataset (DSv2 SupportsDelete), the
  * lakehouse delete the reference's Lance backend provides natively.
  *
  * Three-way fragment classification from manifest stats — the same
  * trick as scan pruning, applied to writes:
  *   - provably ALL rows match  → drop the fragment (metadata-only);
  *   - provably NO rows match   → keep the fragment untouched;
  *   - otherwise                → rewrite it without the matching rows.
  * Only the third class costs IO, so a delete aligned with fragment
  * ranges (e.g. dropping an old date range) is O(metadata) at any scale.
  */
object LanceDelete {

  /** Rebuild a Column from a pushed source Filter (the delete predicate
    * arrives in source-filter form). None = unsupported → canDeleteWhere
    * returns false and Spark reports the delete as unsupported rather
    * than running a wrong rewrite. */
  def toColumn(f: Filter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case StringContains(c, v) => Some(col(c).contains(v))
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(x) => toColumn(x).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Metadata-first delete:
    *   - provably ALL rows match  → drop the fragment (metadata-only);
    *   - provably NO rows match   → keep the fragment untouched;
    *   - otherwise                → compute the matching row positions with
    *     one scan of the candidate fragments and append them to each
    *     fragment's delete-vector sidecar ([[DeleteVectors]]) — O(changed
    *     positions) written, zero data rewritten.
    * DV files are written executor-side (one task per touched fragment);
    * the driver commit only swaps metadata, so a delete touching 10^5
    * fragments moves 10^5 sidecar references, not rows. */
  /** The classified effect of deleting rows matching `filters` at manifest
    * `m`: fragments to drop outright, new (merged) DVs for partially
    * matching fragments, and the fragments touched (for conflict checks).
    * Shared between DELETE FROM and overwrite-by-filter. */
  case class DeletePlan(droppedPaths: Set[String],
                        newDvs: Map[String, DeleteVectorMeta],
                        touched: Seq[FragmentMeta],
                        newSketches: Map[String, String] = Map.empty,
                        seenPaths: Set[String] = Set.empty,
                        replaceWhere: Boolean = false,
                        conjunction: Filter = AlwaysTrue()) {
    def isNoop: Boolean = touched.isEmpty

    /** Apply to a commit-time fragment list (conflict checks already done). */
    def apply(fragments: Seq[FragmentMeta]): Seq[FragmentMeta] =
      fragments.flatMap { f =>
        if (droppedPaths(f.path)) None
        else newDvs.get(f.path) match {
          case Some(d) if d.count >= f.rows => None // every physical row deleted
          case Some(d) => Some(f.copy(deletes = Some(d),
            sketches = newSketches.get(f.path).orElse(f.sketches)))
          case None => Some(f)
        }
      }

    /** Commit-time conflict test: every touched fragment must still exist
      * with the DV it had when the plan was computed. Fragments the plan
      * never classified (concurrent appends that won the version race)
      * conflict ONLY for REPLACE WHERE — its invariant ("all rows
      * matching P are exactly the new data") covers rows that appear
      * mid-flight — and even then only when the unseen fragment cannot be
      * PROVEN free of matching rows from its stats. A plain DELETE
      * applies to the snapshot it planned against (snapshot-isolation
      * semantics: rows appended concurrently are not "rows at delete
      * time"), so concurrent appends never abort it — without this scope
      * a sustained append workload could livelock every DELETE on
      * retries. */
    def conflictsWith(cur: LanceManifest): Boolean = {
      val curBy = cur.fragments.map(f => f.path -> f).toMap
      !touched.forall(fr =>
        curBy.get(fr.path).exists(_.deletes.map(_.path) == fr.deletes.map(_.path))) ||
        (replaceWhere && cur.fragments.exists(f => !seenPaths(f.path) &&
          !LancePruning.provablyEmpty(f, cur.schema, conjunction)))
    }

    def abandon(root: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
      val fs = ManifestIO.fs(root, conf)
      newDvs.values.foreach(d => fs.delete(new Path(root, d.path), false))
      newSketches.values.foreach(s => fs.delete(new Path(root, s), false))
    }
  }

  /** Classify fragments against `filters` and write the delete-vector
    * sidecars for partial matches (one `_file`-pruned position scan; each
    * group task merges the fragment's existing DV with the new positions
    * executor-side). No commit happens here — the caller folds the plan
    * into its own atomic commit. */
  def planDelete(spark: SparkSession, root: String, m: LanceManifest,
                 filters: Array[Filter],
                 options: Map[String, String],
                 replaceWhere: Boolean = false): DeletePlan = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val conf = Shim.hadoopConf(spark, options)
    val conjunction = filters.reduceOption(And(_, _)).getOrElse(AlwaysTrue())
    val pred = filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(
      throw new UnsupportedOperationException(
        s"lance DELETE: unsupported predicate ${filters.mkString(", ")}"))

    val dropped = m.fragments.filter(fr =>
      LancePruning.provablyAllMatch(fr, conjunction))
    val droppedPaths = dropped.map(_.path).toSet
    val candidates = m.fragments.filter(fr => !droppedPaths(fr.path) &&
      !LancePruning.provablyEmpty(fr, m.schema, conjunction,
        new Path(root, fr.path).toString))

    val (newDvs, newSketches): (Map[String, DeleteVectorMeta], Map[String, String]) =
      if (candidates.isEmpty) (Map.empty, Map.empty)
      else {
        import spark.implicits._
        val fullToRel = candidates.map(fr =>
          new Path(root, fr.path).toString -> fr.path).toMap
        val oldDv = candidates.map(fr => fr.path -> fr.deletes.map(_.path)).toMap
        // stats of the rows being removed are captured in the same pass the
        // positions come from (the scan already reads these fragments), so
        // the read path can keep answering aggregates from live stats —
        // track every statted numeric/date/ts/decimal column
        val statFields: Seq[StructField] = m.schema.fields.toSeq
          .filter(f => RemovedStats.trackable(f.dataType))
          .filter(f => candidates.exists(_.stats.contains(f.name)))
        // ... and the SURVIVING rows of each DV'd fragment re-feed its
        // HLL/bloom sketch sidecar (same pass, no extra IO beyond the
        // sketched columns), so approximate COUNT(DISTINCT) and bloom
        // equality pruning track live rows instead of over-approximating
        // until the next compaction
        val sketchFields: Seq[StructField] = m.schema.fields.toSeq.filter { f =>
          candidates.exists(_.sketches.isDefined) && (f.dataType match {
            case StringType | ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          })
        }
        val bloomMaxKeys = LanceOptions.any(options, "write.bloom-max-keys")
          .map(_.toInt).getOrElse(Bloom.DefaultMaxKeys.toInt)
        val extraCols = (statFields ++ sketchFields).map(_.name).distinct
        val statIndexes = statFields.map(f => 2 + extraCols.indexOf(f.name)).toArray
        val sketchIdx = sketchFields.map(f =>
          (2 + extraCols.indexOf(f.name), f.dataType, f.name))
        // writer sidecars are keyed by the file's PHYSICAL column names and
        // bloomProbe resolves fr.physicalNames(c) before the lookup — the
        // re-sketch must key the same way or renamed-column fragments lose
        // pruning (and a logical name colliding with another column's
        // physical name could consult the wrong bloom)
        val relToPhys: Map[String, Map[String, String]] =
          candidates.map(fr => fr.path -> fr.physicalNames).toMap
        val statIdxFields = statFields // captured for the closure
        val ser = Shim.serializableConf(conf)
        // the scan plans candidate fragments UNSPLIT, one partition each
        // (`_pos` projection forbids byte-range splits), so a narrow
        // mapPartitions sees exactly one fragment's LIVE rows — no shuffle
        // anywhere in the delete
        spark.read.format("lance")
          .options(options + ("versionAsOf" -> m.version.toString)).load(root)
          .filter(col(LanceMetadata.FileCol).isin(fullToRel.keys.toSeq: _*))
          .select((Seq(col(LanceMetadata.FileCol), col(LanceMetadata.PosCol)) ++
            extraCols.map(col) :+
            coalesce(pred, lit(false)).as("__graft_match")): _*)
          .mapPartitions { it =>
            if (!it.hasNext) Iterator.empty
            else {
              val first = it.next()
              val matchIdx = first.length - 1
              val rel = fullToRel(first.getString(0))
              val acc = new RemovedStats.Acc(statIdxFields, statIndexes)
              val positions = scala.collection.mutable.ArrayBuffer.empty[Long]
              val hlls = sketchIdx.map(_ => new Hll()).toArray
              val bloomHashes = Array.fill(sketchIdx.length)(
                scala.collection.mutable.ArrayBuffer.empty[Long])
              val bloomOver = new Array[Boolean](sketchIdx.length)
              def consume(r: Row): Unit = {
                if (r.getBoolean(matchIdx)) {
                  positions += r.getLong(1)
                  acc.add(r)
                } else {
                  // survivor: re-feed the fragment's sketches
                  var j = 0
                  while (j < sketchIdx.length) {
                    val (i, dt, _) = sketchIdx(j)
                    if (!r.isNullAt(i)) {
                      val h = dt match {
                        case StringType => Bloom.hashUTF8String(
                          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(i)))
                        case ByteType => Bloom.hashLong(r.getByte(i).toLong)
                        case ShortType => Bloom.hashLong(r.getShort(i).toLong)
                        case IntegerType => Bloom.hashLong(r.getInt(i).toLong)
                        case _ => Bloom.hashLong(r.getLong(i))
                      }
                      hlls(j).addHash(h)
                      if (!bloomOver(j)) {
                        if (bloomHashes(j).size >= bloomMaxKeys) bloomOver(j) = true
                        else bloomHashes(j) += h
                      }
                    }
                    j += 1
                  }
                }
              }
              consume(first)
              it.foreach(consume)
              if (positions.isEmpty) Iterator.empty
              else {
                val merged = DeleteVectors.merge(root, ser.value, oldDv(rel),
                  positions.toArray)
                val sketchRel =
                  if (sketchIdx.isEmpty) ""
                  else Hll.writeSidecar(root, ser.value, sketchIdx.zipWithIndex.map {
                    case ((_, _, name), j) =>
                      val bloom = if (bloomOver(j)) None
                                  else Some(Bloom.build(bloomHashes(j).toArray,
                                    bloomHashes(j).size))
                      (relToPhys(rel).getOrElse(name, name), hlls(j), bloom)
                  })
                Iterator.single((rel, merged.path, merged.count,
                  ManifestIO.statsToJson(acc.result), sketchRel))
              }
            }
          }
          .collect()
          .map { case (rel, p, c, removedJson, sketchRel) =>
            val thisRemoved = ManifestIO.statsFromJson(removedJson)
            val removed = candidates.find(_.path == rel).flatMap(_.deletes) match {
              case None => thisRemoved // first DV on the fragment
              case Some(d) => RemovedStats.merge(d.removed, thisRemoved)
            }
            (rel -> DeleteVectorMeta(p, c, removed), rel -> sketchRel)
          }
          .foldLeft((Map.empty[String, DeleteVectorMeta], Map.empty[String, String])) {
            case ((dvs, sks), (dv, (rel, sk))) =>
              (dvs + dv, if (sk.isEmpty) sks else sks + (rel -> sk))
          }
      }
    // candidates with no matching rows are untouched — drop them from the
    // conflict set so unrelated concurrent deletes don't abort us
    val reallyTouched = dropped ++ candidates.filter(fr => newDvs.contains(fr.path))
    DeletePlan(droppedPaths, newDvs, reallyTouched, newSketches,
      seenPaths = m.fragments.map(_.path).toSet,
      replaceWhere = replaceWhere, conjunction = conjunction)
  }

  def deleteWhere(spark: SparkSession, root: String, filters: Array[Filter],
                  options: Map[String, String]): Unit = {
    val conf = Shim.hadoopConf(spark, options)
    val m = ManifestIO.loadLatest(root, conf).getOrElse(
      throw new IllegalStateException(s"lance dataset not found: $root"))
    val plan = planDelete(spark, root, m, filters, options)
    if (plan.isNoop) return // provably no-op

    val committed = ManifestIO.commit(root, conf) { latest =>
      val cur = latest.getOrElse(
        throw new IllegalStateException(s"lance dataset disappeared during delete: $root"))
      // another writer rewrote/removed a touched fragment, or layered a new
      // DV on it — committing would resurrect deleted rows or drop deletes
      if (plan.conflictsWith(cur)) None
      else Some(LanceCommit(cur.schema, plan(cur.fragments), cur.txns, "delete"))
    }
    if (committed.isEmpty) {
      plan.abandon(root, conf)
      throw new IllegalStateException(
        s"lance DELETE lost a conflict with a concurrent rewrite at $root; retry")
    }
  }

  /** Path-based REPLACE WHERE — the atomic keyed upsert: stage `df`'s
    * fragments (no commit), then ONE manifest commit that both applies
    * the delete plan for `filters` and appends the staged fragments. The
    * SQL catalog's `INSERT ... REPLACE WHERE` gets this via
    * LanceWrite.overwriteFilters; this is the same semantics for direct
    * table roots — the streaming MV maintenance upsert, whose previous
    * deleteWhere-then-append left a (self-repairing but real) window
    * where a reader could observe deleted-but-not-replaced state and a
    * crash had to be repaired on replay. Readers of any version see
    * either the full old state or the full new state; a crash before the
    * commit leaves only unreferenced staged files (vacuum reclaims). */
  def replaceWhere(spark: SparkSession, root: String, df: org.apache.spark.sql.DataFrame,
                   filters: Array[Filter],
                   options: Map[String, String] = Map.empty): Unit = {
    val conf = Shim.hadoopConf(spark, options)
    val planning = ManifestIO.loadLatest(root, conf)
    val layout = LanceLayout(LanceLayout.merge(planning.map(_.props).getOrElse(Map.empty), options))
    // staged fragments carry no bucket tags: on a bucketed table they
    // would silently break the partitionId-is-the-bucket invariant every
    // SPJ/read.buckets consumer relies on — that path must go through
    // the catalog REPLACE WHERE (whose V2 writer buckets the data)
    require(layout.bucketBy.isEmpty,
      s"lance replaceWhere: $root is bucketed; use the catalog INSERT ... REPLACE WHERE path")
    // fragments commit under the TABLE schema: a type clash on a shared
    // column would commit physical data the manifest schema misdescribes
    planning.map(_.schema).foreach(ts => requireTypeCompat(df.schema, ts, root))
    val newFrags = LanceBatchSave.stageFragments(spark, df, root, layout.maxRowsPerFile, options)
    val plan = planning.map(m =>
      planDelete(spark, root, m, filters, options, replaceWhere = true))
    val committed = ManifestIO.commit(root, conf) { prev =>
      (prev, plan) match {
        case (Some(cur), Some(p)) =>
          // a concurrent type-changing evolution is a conflict too: the
          // retry replans and hits requireTypeCompat with the clear error
          if (p.conflictsWith(cur) || !typeCompat(df.schema, cur.schema)) None
          else {
            // writer-only columns raced a drop: hide them on the staged
            // fragments exactly as the V2 writer does (stampRacedDrops)
            val stamped = LanceWriteUtil.stampRacedDrops(newFrags, df.schema, cur.schema)
            Some(LanceCommit(cur.schema, p(cur.fragments) ++ stamped,
              cur.txns, "replace"))
          }
        case (Some(cur), None) => None // table appeared after planning: a
          // plain append could keep the winner's rows matching P beside
          // the replacement data — abort; the retry replans against it
        case (None, _) =>
          Some(LanceCommit(df.schema, newFrags, Map.empty, "overwrite"))
      }
    }
    if (committed.isEmpty) {
      plan.foreach(_.abandon(root, conf))
      LanceWriteUtil.abandonFragments(root, newFrags, conf)
      throw new IllegalStateException(
        s"lance REPLACE WHERE lost a conflict with a concurrent rewrite at $root; retry")
    }
  }

  /** Shared-name columns must agree on type between the writer and the
    * table: fragments commit under the table schema, so a clash commits
    * physical layouts the manifest misdescribes. Writer-only / table-only
    * columns are fine (schema evolution: hidden-stamp / null-fill). */
  /** ONE clash scan feeds both the boolean commit-closure check and the
    * pre-staging require — two hand-maintained encodings of the same
    * predicate could drift (a relaxation applied to one would make the
    * closure abort-retry loop against a passing pre-check, forever). */
  private def typeClashes(writer: org.apache.spark.sql.types.StructType,
                          table: org.apache.spark.sql.types.StructType): Seq[String] =
    writer.fields.toSeq.flatMap(wf =>
      table.fields.find(_.name == wf.name).filter(_.dataType != wf.dataType).map(tf =>
        s"${wf.name} (writer ${wf.dataType.simpleString} vs table ${tf.dataType.simpleString})"))

  private def typeCompat(writer: org.apache.spark.sql.types.StructType,
                         table: org.apache.spark.sql.types.StructType): Boolean =
    typeClashes(writer, table).isEmpty

  private def requireTypeCompat(writer: org.apache.spark.sql.types.StructType,
                                table: org.apache.spark.sql.types.StructType,
                                root: String): Unit = {
    val clashes = typeClashes(writer, table)
    require(clashes.isEmpty,
      s"lance replaceWhere at $root: incompatible column types: ${clashes.mkString(", ")}")
  }
}
