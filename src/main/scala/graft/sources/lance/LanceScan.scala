package graft.sources.lance

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{JDouble, JLong, JString, JValue}

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** ScanBuilder with the reference's four pushdowns
  * (LanceDynamicTableSource.java:61-63 — projection :159, filter :174,
  * limit :379, aggregate :393), re-expressed as the Spark DSv2 mix-ins.
  *
  * - Projection: `requiredSchema` flows into the parquet reader (only the
  *   projected columns are decoded — ReadSchema in explain).
  * - Filters: used twice — fragment pruning against manifest min/max before
  *   any IO, and row-group pruning inside the parquet reader. All filters
  *   are also returned as residual so Spark re-evaluates them (pruning can
  *   only skip data, never produce wrong rows).
  * - Limit: truncates the fragment list by manifest row counts (only when
  *   no filters are pushed) and caps rows per reader.
  * - Aggregates: COUNT(*)/COUNT(col)/MIN/MAX/SUM/AVG/COUNT(DISTINCT) with
  *   no GROUP BY and no filters are answered entirely from manifest stats —
  *   O(versions), not O(data) (reference: AggregateExecutor.java:102-161).
  *   SUM/AVG answer only integral columns (exact long sums recorded at
  *   write time); string MIN/MAX and COUNT(DISTINCT) answer only columns
  *   whose exact value dictionaries are complete (parquet's own binary
  *   min/max may be truncated, so they are never used to answer); float
  *   sums and everything else decline to a normal scan.
  */
class LanceScanBuilder(spark: SparkSession, root: String, manifest: LanceManifest,
                       options: Map[String, String],
                       conf: org.apache.hadoop.conf.Configuration) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  // under read.change-feed the TABLE declares _change_type, so the default
  // (unpruned) projection must carry it too — streaming scans never get a
  // pruneColumns call and must produce the declared schema (skip when the
  // dataset already stores a physical _change_type column)
  private var required: StructType =
    if (LanceOptions.any(options, "readChangeFeed", "read.change-feed")
        .exists(_.toBoolean) &&
        !manifest.schema.fieldNames.contains(LanceMetadata.ChangeCol))
      manifest.schema.add(LanceMetadata.ChangeCol, StringType, nullable = false)
    else manifest.schema
  private var filters: Array[Filter] = Array.empty
  private var allFiltersExact: Boolean = true // vacuously, until pushFilters
  private var limit: Option[Int] = None
  private var aggSchema: Option[StructType] = None
  private var aggRows: Option[Seq[Array[Any]]] = None

  /** Batch change-feed over an explicit version range (Delta CDF batch
    * semantics: changes of versions [start, end], inclusive). Pushdowns
    * that reason over the LATEST rows (exact filters, stats aggregates,
    * limit truncation) are disabled — the scan emits change rows. */
  private val cdcRange: Option[(Long, Long)] =
    if (!LanceOptions.any(options, "readChangeFeed", "read.change-feed")
        .exists(_.toBoolean)) None
    else LanceOptions.any(options, "read.start-version", "startingVersion").map { s =>
      val start = s.toLong
      val end = LanceOptions.any(options, "read.end-version", "endingVersion")
        .map(_.toLong).getOrElse(manifest.version)
      require(start >= 1 && start <= end && end <= manifest.version,
        s"lance change feed: bad version range [$start, $end] " +
          s"(dataset is at version ${manifest.version})")
      (start - 1, end) // walked as (startExclusive, endInclusive]
    }

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    if (cdcRange.isDefined) return fs // change rows: everything residual
    // A filter every fragment is DECIDED under — provably all-match or
    // provably empty from manifest stats — is enforced exactly by fragment
    // pruning alone: build() drops the empty fragments and every row of
    // what remains satisfies it. Such filters are consumed (not returned
    // as residual), which removes the post-scan Filter node and unlocks
    // aggregate/limit pushdown under them (reference: the source-side
    // filter-then-aggregate path, LanceVectorSearch.java:170-171 analog).
    // Undecided filters stay residual: pruning is then best-effort and
    // Spark re-evaluates. (Filters on `_file`/`_pos` are never all-match,
    // so the DML position scans keep their residual semantics.)
    val (exact, residual) = fs.partition { f =>
      manifest.fragments.forall { fr =>
        LancePruning.provablyEmpty(fr, manifest.schema, f,
          new org.apache.hadoop.fs.Path(root, fr.path).toString) ||
          LancePruning.provablyAllMatch(fr, f)
      }
    }
    allFiltersExact = residual.isEmpty
    if (exact.isEmpty) fs else residual
  }
  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(s: StructType): Unit = required = s

  override def pushLimit(n: Int): Boolean = {
    // exactly-enforced filters keep manifest row counts exact (every live
    // row of every kept fragment matches), so limit can still truncate the
    // fragment list; undecided filters make counts over-estimates → decline
    if (cdcRange.isEmpty && bucketRestrict.isEmpty &&
        (filters.isEmpty || allFiltersExact)) {
      limit = Some(n); true
    } else false
  }

  // ---- aggregate pushdown ------------------------------------------------

  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case fr: NamedReference if fr.fieldNames.length == 1 => Some(fr.fieldNames()(0))
      case _ => None
    }

  private def statType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Per-fragment stats are recorded over PHYSICAL rows. For a fragment
    * with a delete vector, LIVE stats are derived when the DV carries
    * removed-row stats ([[DeleteVectorMeta.removed]]): live nulls/sums are
    * physical minus removed, and a min/max bound survives when the removed
    * range stays strictly inside it (no removed row held the bound). DVs
    * without removed stats (delta-path UPDATE/MERGE) decline — COUNT(*)
    * alone stays answerable via liveRows. Dictionaries never survive a
    * delete (a removed row may be a value's last holder).
    *
    * `domain` = the fragments the answer ranges over: all of them for an
    * unfiltered aggregate, the provably-all-match subset under exactly-
    * enforced filters (every live domain row satisfies the filters, so
    * fragment stats ARE the filtered stats). */
  private def liveColStats(fr: FragmentMeta, name: String): Option[ColStats] =
    fr.deletes match {
      case None => fr.stats.get(name)
      case Some(dv) =>
        for {
          s <- fr.stats.get(name)
          r <- dv.removed.get(name)
          sNulls <- s.nullCount
          rNulls <- r.nullCount
        } yield {
          val removedValues = dv.count - rNulls // non-null removals
          def keepBound(b: Option[JValue], rb: Option[JValue], isMin: Boolean): Option[JValue] =
            b.flatMap { bv =>
              if (removedValues == 0) Some(bv)
              else rb.flatMap { rv =>
                val c = ManifestIO.jCmp(rv, bv)
                // removed range strictly inside the bound ⇒ some surviving
                // row still holds it; touching the bound ⇒ unknown
                if ((isMin && c > 0) || (!isMin && c < 0)) Some(bv) else None
              }
            }
          val liveSum = (s.sum, r.sum) match {
            case (Some(p), Some(q)) =>
              try Some(Math.subtractExact(p, q))
              catch { case _: ArithmeticException => None }
            case _ => None
          }
          ColStats(keepBound(s.min, r.min, isMin = true),
            keepBound(s.max, r.max, isMin = false),
            Some(sNulls - rNulls), liveSum, None)
        }
    }

  private def colStats(name: String, domain: Seq[FragmentMeta]): Option[Seq[ColStats]] = {
    val per = domain.map(liveColStats(_, name))
    if (per.forall(_.isDefined)) Some(per.map(_.get)) else None
  }

  /** Answer one agg func from the manifest over `domain` (live row count
    * `domainRows`), or None if not answerable. */
  private def answer(f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc,
                     domain: Seq[FragmentMeta], domainRows: Long):
      Option[(StructField, Any)] = f match {
    case _: CountStar =>
      Some((StructField("count_star", LongType, nullable = false), domainRows))
    case c: Count if !c.isDistinct =>
      for {
        name <- fieldName(c.column)
        ss <- colStats(name, domain)
        nulls <- if (ss.forall(_.nullCount.isDefined)) Some(ss.map(_.nullCount.get).sum) else None
      } yield (StructField(s"count_$name", LongType, nullable = false),
        domainRows - nulls)
    case c: Count if c.isDistinct =>
      // exact COUNT(DISTINCT) from the per-fragment value dictionaries —
      // answerable only for low-cardinality string columns
      for {
        name <- fieldName(c.column)
        dicts <- allDicts(name, domain)
      } yield (StructField(s"count_distinct_$name", LongType, nullable = false),
        dicts.flatten.toSet.size.toLong)
    case m: Min =>
      minMax(m.column, isMin = true, domain)
    case m: Max =>
      minMax(m.column, isMin = false, domain)
    case s: Sum if !s.isDistinct =>
      // exact per-fragment long sums folded with overflow checks: integral
      // columns sum to Spark's LongType Sum result; decimal(<=18) columns
      // sum in the unscaled-long domain and answer as Spark's
      // DecimalType.bounded(p+10, s) Sum result
      // (reference: AggregateExecutor.java:125-161 answers every numeric)
      sumStat(s.column, domain, domainRows).map { case (name, dt, total, nonNull) =>
        dt match {
          case d: DecimalType =>
            val rt = DecimalType(math.min(38, d.precision + 10), d.scale)
            (StructField(s"sum_$name", rt, nullable = true),
              if (nonNull == 0) null
              else Decimal(BigDecimal(java.math.BigDecimal.valueOf(total, d.scale)),
                rt.precision, rt.scale))
          case _ =>
            (StructField(s"sum_$name", LongType, nullable = true),
              if (nonNull == 0) null else java.lang.Long.valueOf(total))
        }
      }
    case a: Avg if !a.isDistinct =>
      sumStat(a.column, domain, domainRows).map { case (name, dt, total, nonNull) =>
        dt match {
          case d: DecimalType =>
            // Spark's Average over decimal(p,s) yields bounded(p+4, s+4)
            // and divides HALF_UP at the result scale — replicate exactly
            val rp = math.min(38, d.precision + 4)
            val rs = math.min(38, d.scale + 4)
            (StructField(s"avg_$name", DecimalType(rp, rs), nullable = true),
              if (nonNull == 0) null
              else {
                val bd = java.math.BigDecimal.valueOf(total, d.scale)
                  .divide(java.math.BigDecimal.valueOf(nonNull), rs,
                    java.math.RoundingMode.HALF_UP)
                Decimal(BigDecimal(bd), rp, rs)
              })
          case _ =>
            (StructField(s"avg_$name", DoubleType, nullable = true),
              if (nonNull == 0) null
              else java.lang.Double.valueOf(total.toDouble / nonNull))
        }
      }
    case _ => None // distinct / float sums → full scan
  }

  /** (name, type, Σ sums, non-null rows) when every fragment carries an
    * exact sum for the column — integral types in the value domain,
    * decimal(<=18) in the unscaled-long domain; fold overflow declines
    * (None → full scan). */
  private def sumStat(col: org.apache.spark.sql.connector.expressions.Expression,
                      domain: Seq[FragmentMeta], domainRows: Long):
      Option[(String, DataType, Long, Long)] =
    for {
      name <- fieldName(col)
      field <- manifest.schema.fields.find(_.name == name)
      if field.dataType == ByteType || field.dataType == ShortType ||
        field.dataType == IntegerType || field.dataType == LongType ||
        (field.dataType.isInstanceOf[DecimalType] &&
          field.dataType.asInstanceOf[DecimalType].precision <= 18)
      ss <- colStats(name, domain)
      if ss.forall(s => s.sum.isDefined && s.nullCount.isDefined)
      total <- try Some(ss.map(_.sum.get).foldLeft(0L)(Math.addExact))
               catch { case _: ArithmeticException => None }
    } yield (name, field.dataType, total, domainRows - ss.map(_.nullCount.get).sum)

  /** Every domain fragment's non-empty value dictionary for a string
    * column, or None if any lacks one (then dictionary answers decline). */
  private def allDicts(name: String, domain: Seq[FragmentMeta]): Option[Seq[Seq[String]]] = {
    val isString = manifest.schema.fields.exists(f =>
      f.name == name && f.dataType == StringType)
    if (!isString || !domain.forall(_.deletes.isEmpty)) None
    else {
      val per = domain.map(_.stats.get(name).flatMap(_.distinct))
      if (per.forall(d => d.isDefined && d.get.nonEmpty)) Some(per.map(_.get)) else None
    }
  }

  private def minMax(col: org.apache.spark.sql.connector.expressions.Expression,
                     isMin: Boolean, domain: Seq[FragmentMeta]): Option[(StructField, Any)] = {
    // empty domain (every fragment provably empty under the filters):
    // MIN/MAX over zero rows is NULL of the column's type
    if (domain.isEmpty) {
      return for {
        name <- fieldName(col)
        field <- manifest.schema.fields.find(_.name == name)
      } yield (StructField(s"${if (isMin) "min" else "max"}_$name", field.dataType), null)
    }
    val numeric = for {
      name <- fieldName(col)
      field <- manifest.schema.fields.find(_.name == name)
      if statType(field.dataType)
      ss <- colStats(name, domain)
      if ss.nonEmpty && ss.forall(s => s.min.isDefined && s.max.isDefined)
    } yield {
      val vals = if (isMin) ss.map(_.min.get) else ss.map(_.max.get)
      val combined = vals.reduce((a, b) => if (isMin) ManifestIO.jMin(a, b) else ManifestIO.jMax(a, b))
      (StructField(s"${if (isMin) "min" else "max"}_$name", field.dataType),
        toInternal(combined, field.dataType))
    }
    // strings decline range stats (parquet may truncate binary min/max)
    // but the exact value dictionary, when complete, answers them
    def stringViaDict = for {
      name <- fieldName(col)
      dicts <- allDicts(name, domain)
    } yield {
      // Spark's Min/Max on StringType order by UTF8String (UTF-8 byte)
      // comparison, which diverges from java.lang.String (UTF-16 code
      // units) when supplementary-plane chars mix with U+E000–U+FFFF —
      // reduce in UTF8String order so the stats answer matches a full scan
      val all = dicts.flatten.map(UTF8String.fromString)
      val picked = all.reduce((a, b) =>
        if ((a.compareTo(b) <= 0) == isMin) a else b)
      (StructField(s"${if (isMin) "min" else "max"}_$name", StringType), picked)
    }
    numeric.orElse(stringViaDict)
  }

  private def toInternal(v: JValue, dt: DataType): Any = (v, dt) match {
    case (JLong(x), IntegerType) => x.toInt
    case (JLong(x), ShortType) => x.toShort
    case (JLong(x), ByteType) => x.toByte
    case (JLong(x), LongType) => x
    case (JLong(x), DateType) => x.toInt
    // NTZ shares TimestampType's micros-long internal form (the parquet
    // footer records INT64 micros for both flavors)
    case (JLong(x), TimestampType | TimestampNTZType) => x
    case (JDouble(x), FloatType) => x.toFloat
    case (JDouble(x), DoubleType) => x
    case (JString(x), StringType) => UTF8String.fromString(x)
    case _ => throw new IllegalStateException(s"stat/type mismatch: $v vs $dt")
  }

  /** The fragments whose every live row satisfies the pushed filters.
    * Only meaningful when all filters are exactly enforced — then every
    * fragment is either all-match (in the domain) or provably empty
    * (contributes nothing). */
  private def filterDomain: Seq[FragmentMeta] =
    if (filters.isEmpty) manifest.fragments
    else manifest.fragments.filter(fr =>
      filters.forall(f => LancePruning.provablyAllMatch(fr, f)))

  private def tryAnswerAll(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    if (cdcRange.isDefined) return None // aggregates run over change rows
    if (filters.nonEmpty && !allFiltersExact) return None
    val domain = filterDomain
    if (agg.groupByExpressions.nonEmpty) return tryAnswerGrouped(agg, domain)
    val domainRows = domain.map(_.liveRows).sum
    val answers = agg.aggregateExpressions.toSeq.map(answer(_, domain, domainRows))
    if (answers.forall(_.isDefined)) {
      val fields = answers.map(_.get._1)
      val values = answers.map(_.get._2).toArray
      Some((StructType(fields), Seq(values)))
    } else None
  }

  /** GROUP BY pushdown from per-fragment stats (reference executes grouped
    * aggregates source-side: AggregateExecutor.java:81-197). Answerable
    * when every group key is a plain column and every domain fragment is
    * SINGLE-VALUED and null-free in all the keys (min == max, or a 1-entry
    * value dictionary for strings) — data clustered/appended by the key —
    * so fragment stats are per-group partial stats; groups then combine
    * across fragments exactly like the global path. One output row per
    * distinct key tuple, zero data files read. */
  private def tryAnswerGrouped(agg: Aggregation, domain: Seq[FragmentMeta]):
      Option[(StructType, Seq[Array[Any]])] = {
    val keyFields: Seq[StructField] = {
      val named = agg.groupByExpressions.toSeq.map(fieldName)
      if (named.exists(_.isEmpty)) return None
      named.map(_.get).map { n =>
        manifest.schema.fields.find(_.name == n).getOrElse(return None)
      }
    }
    // the single key value of a fragment, in Spark's internal domain, or
    // None when the fragment is not provably single-valued in the column
    def keyOf(fr: FragmentMeta, field: StructField): Option[Any] = {
      val s = fr.stats.get(field.name).getOrElse(return None)
      if (!s.nullCount.contains(0L)) return None
      field.dataType match {
        case StringType => s.distinct.collect {
          case Seq(only) => UTF8String.fromString(only): Any
        }
        // float/double keys decline: boxed equality distinguishes -0.0 from
        // 0.0 (and NaN from NaN) where Spark's grouping normalizes them
        case dt if statType(dt) && dt != FloatType && dt != DoubleType =>
          for (mn <- s.min; mx <- s.max; if mn == mx) yield toInternal(mn, dt)
        case _ => None
      }
    }
    val keyed: Seq[(Seq[Any], FragmentMeta)] = domain.map { fr =>
      val ks = keyFields.map(f => keyOf(fr, f).getOrElse(return None))
      (ks, fr)
    }
    // per group: answer every agg over the group's fragment subset — one
    // output row per distinct key tuple (complete pushdown: Spark plans no
    // final aggregate, so same-key fragments MUST merge here)
    val groups = keyed.groupBy(_._1).toSeq.map { case (ks, frs) => (ks, frs.map(_._2)) }
    var aggFields: Seq[StructField] = Nil
    val rows = groups.map { case (ks, frs) =>
      val rowsIn = frs.map(_.liveRows).sum
      val answers = agg.aggregateExpressions.toSeq.map(answer(_, frs, rowsIn))
      if (answers.exists(_.isEmpty)) return None
      if (aggFields.isEmpty) aggFields = answers.map(_.get._1)
      (ks ++ answers.map(_.get._2)).toArray[Any]
    }
    if (rows.isEmpty) return None // no decided grouping (empty domain): scan
    Some((StructType(keyFields ++ aggFields), rows))
  }

  // Spark calls supportCompletePushDown(agg) and then pushAggregation(agg)
  // with the same aggregation; memoize the answer so the O(aggregates ×
  // fragments) stats fold runs once per planning, not twice
  private var lastAnswerAll: Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None
  private def answerAllCached(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] =
    lastAnswerAll match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = tryAnswerAll(agg)
        lastAnswerAll = Some((agg, r))
        r
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerAllCached(agg).isDefined

  /** Partial pushdown state: (output schema, merged stats partial row,
    * fragments that must scan, their read columns, reader agg specs). */
  private var partialPlan: Option[(StructType, Array[Any], Seq[FragmentMeta],
    StructType, Seq[LanceAggSpec])] = None

  /** Partial pushdown when some — but not most — fragments can't answer
    * from stats (delta-path DVs without removed stats, post-DROP masks):
    * the answerable majority contributes ONE pre-merged stats row, the
    * rest scan and emit per-fragment partials, Spark runs the final merge.
    * See [[LancePartialAggScan]]. */
  private def tryPartial(agg: Aggregation): Option[(StructType, Array[Any],
      Seq[FragmentMeta], StructType, Seq[LanceAggSpec])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc
    if (cdcRange.isDefined) return None
    if (agg.groupByExpressions.nonEmpty) return None
    if (filters.nonEmpty && !allFiltersExact) return None
    // (kind, column) per agg — decline funcs/types the scanning reader
    // can't reproduce with Spark-exact semantics
    def spec(f: AggregateFunc): Option[(String, Option[String])] = f match {
      case _: CountStar => Some(("count_star", None))
      case c: Count if !c.isDistinct => fieldName(c.column).map(n => ("count", Some(n)))
      case m: Min => fieldName(m.column).collect {
        case n if manifest.schema.fields.exists(fl => fl.name == n &&
          (statType(fl.dataType) || fl.dataType == StringType)) => ("min", Some(n))
      }
      case m: Max => fieldName(m.column).collect {
        case n if manifest.schema.fields.exists(fl => fl.name == n &&
          (statType(fl.dataType) || fl.dataType == StringType)) => ("max", Some(n))
      }
      case s: Sum if !s.isDistinct => fieldName(s.column).collect {
        case n if manifest.schema.fields.exists(fl => fl.name == n &&
          (fl.dataType == ByteType || fl.dataType == ShortType ||
            fl.dataType == IntegerType || fl.dataType == LongType)) => ("sum", Some(n))
      }
      case _ => None
    }
    val parsed = agg.aggregateExpressions.toSeq.map(spec)
    if (parsed.exists(_.isEmpty)) return None
    val funcs = parsed.map(_.get)
    val domain = filterDomain
    // a fragment is stats-answerable when EVERY agg answers over it alone
    val (statFrags, scanFrags) = domain.partition(fr =>
      agg.aggregateExpressions.forall(f => answer(f, Seq(fr), fr.liveRows).isDefined))
    // engage only when the scan side is the minority — otherwise a normal
    // columnar scan + Spark's own hash aggregate is the better plan
    if (scanFrags.isEmpty || statFrags.isEmpty || scanFrags.size * 2 > domain.size)
      return None
    val statRows = statFrags.map(_.liveRows).sum
    val answers = agg.aggregateExpressions.toSeq.map(answer(_, statFrags, statRows))
    // per-fragment answerability does not guarantee a COLLECTIVE answer
    // (e.g. Math.addExact overflow folding the per-fragment sums) — decline
    // to a full scan instead of throwing at planning time
    if (answers.exists(_.isEmpty)) return None
    val schema = StructType(answers.map(_.get._1))
    val statRow = answers.map(_.get._2).toArray
    val colNames = funcs.flatMap(_._2).distinct
    val readCols = StructType(manifest.schema.fields.filter(f => colNames.contains(f.name)))
    val specs = funcs.map { case (kind, colOpt) =>
      colOpt match {
        case Some(c) => LanceAggSpec(kind, readCols.fieldIndex(c), readCols(c).dataType)
        case None => LanceAggSpec(kind, -1, NullType)
      }
    }
    Some((schema, statRow, scanFrags, readCols, specs))
  }

  /** `read.buckets=0,3,7` restricts the scan to fragments whose
    * write.bucket-by tag is in the set — the reader-side handle for
    * bucket-pruned state probes (a streaming-ingest loop reads ONLY the
    * buckets the batch's keys hash into, so per-batch IO is proportional
    * to the batch's bucket cover, not accumulated history). Untagged
    * fragments are always kept: their keys are unknown, so excluding them
    * could drop matching rows. Aggregate/limit pushdowns decline under a
    * restriction (their stats range over the whole table). */
  private val bucketRestrict: Option[Set[Int]] =
    LanceOptions.any(options, "read.buckets").map { raw =>
      val ids = raw.split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet
      // a probe computed against the wrong layout silently drops matching
      // rows (its ids never equal the fragments' tags) — fail loudly
      // instead: the ids must be sane, the table must actually carry a
      // bucketed layout, and when the table persists its write.bucket-count
      // (bucketed writes stamp it) the ids must fall under that modulus
      require(ids.nonEmpty, "lance read.buckets: empty bucket set")
      require(ids.forall(_ >= 0), s"lance read.buckets: negative bucket id in '$raw'")
      require(manifest.fragments.isEmpty || manifest.fragments.exists(_.bucket.isDefined),
        "lance read.buckets: table has no bucketed fragments — write it with " +
          "write.bucket-by/write.bucket-count before restricted probes")
      LanceLayout(manifest.props).bucketCount
        .foreach { n =>
          val bad = ids.filter(_ >= n)
          require(bad.isEmpty, s"lance read.buckets: ids " +
            s"${bad.toSeq.sorted.mkString(",")} out of range for the table's " +
            s"persisted write.bucket-count=$n")
        }
      ids
    }

  private def restrictedFragments: Seq[FragmentMeta] = bucketRestrict match {
    case Some(bs) => manifest.fragments.filter(_.bucket.forall(bs.contains))
    case None => manifest.fragments
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    if (bucketRestrict.isDefined) false
    else answerAllCached(agg) match {
      case Some((schema, rows)) =>
        aggSchema = Some(schema); aggRows = Some(rows); true
      case None =>
        tryPartial(agg) match {
          case Some(p) => partialPlan = Some(p); true
          case None => false
        }
    }

  // ---- build -------------------------------------------------------------

  override def build(): Scan = (aggSchema, aggRows) match {
    case _ if cdcRange.isDefined =>
      val (startEx, endInc) = cdcRange.get
      new LanceCdcBatchScan(spark, root, manifest, required, startEx, endInc, options)
    case (Some(s), Some(v)) => new LanceStatsScan(root, s, v)
    case _ if partialPlan.isDefined =>
      val (schema, statRow, scanFrags, readCols, specs) = partialPlan.get
      new LancePartialAggScan(spark, root, manifest, schema, statRow, scanFrags,
        readCols, specs, spark.sessionState.conf.ansiEnabled, options)
    case _ =>
      val pruned = LancePruning.prune(restrictedFragments, manifest.schema,
        filters, root, LancePruning.bloomProbe(root, conf))
      new LanceParquetScan(spark, root, manifest, pruned, required, filters.toSeq,
        limit, options, conf)
  }
}

/** Manifest min/max fragment pruning — the fragment-skip step the reference
  * gets from Lance's own scanner; provably-empty fragments are dropped
  * before any IO. Conservative: unknown stats / unhandled predicates keep
  * the fragment. */
object LancePruning {
  /** Equality-bloom probe over the fragment's sketch sidecar: consulted
    * only for fragments the range/dict stats keep and only for equality
    * filters; sidecars load once per fragment into a process-wide cache.
    * Lookup resolves renames to the fragment's physical column name;
    * hidden columns never get here (readsAllNull prunes them first). */
  def bloomProbe(root: String, conf: org.apache.hadoop.conf.Configuration)
      : (FragmentMeta, String, Any) => Boolean = {
    def litHash(v: Any): Option[Long] = v match {
      case s: String => Some(Bloom.hashUTF8String(UTF8String.fromString(s)))
      case i: java.lang.Integer => Some(Bloom.hashLong(i.longValue()))
      case l: java.lang.Long => Some(Bloom.hashLong(l.longValue()))
      case s: java.lang.Short => Some(Bloom.hashLong(s.longValue()))
      case b: java.lang.Byte => Some(Bloom.hashLong(b.longValue()))
      // temporals hash in the write side's internal domain (days/micros,
      // see LanceDataWriter's sketch feed)
      case d: java.sql.Date => Some(Bloom.hashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
      case d: java.time.LocalDate => Some(Bloom.hashLong(d.toEpochDay))
      case t: java.sql.Timestamp => Some(Bloom.hashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
      case t: java.time.Instant => Some(Bloom.hashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)))
      case t: java.time.LocalDateTime => Some(Bloom.hashLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)))
      case _ => None
    }
    (fr, c, v) =>
      fr.sketches.exists { rel =>
        val phys = fr.physicalNames.getOrElse(c, c)
        (SidecarCache.get(root, conf, rel).get(phys).flatMap(_._2), litHash(v)) match {
          case (Some(b), Some(h)) => !b.mightContain(h)
          case _ => false
        }
      }
  }

  /** `bloomAbsent(fr, col, value)` = true when a per-fragment bloom filter
    * PROVES the value absent (see [[Bloom]]); sound to prune on. */
  def prune(fragments: Seq[FragmentMeta], schema: StructType,
            filters: Array[Filter], root: String = "",
            bloomAbsent: (FragmentMeta, String, Any) => Boolean =
              (_, _, _) => false): Seq[FragmentMeta] =
    fragments.filterNot { fr =>
      val full = if (root.isEmpty) ""
                 else new org.apache.hadoop.fs.Path(root, fr.path).toString
      filters.exists(f => provablyEmpty(fr, schema, f, full,
        (c, v) => bloomAbsent(fr, c, v)))
    }

  /** External filter value → the manifest's internal stat domain (epoch
    * days / epoch micros as JLong for temporals — the same domain parquet
    * INT32/INT64 footer stats land in, for either java.sql or java.time
    * external form and for both timestamp flavors). */
  private def lit(v: Any): Option[JValue] = v match {
    case i: Int => Some(JLong(i))
    case l: Long => Some(JLong(l))
    case s: Short => Some(JLong(s.toLong))
    case b: Byte => Some(JLong(b.toLong))
    case f: Float => Some(JDouble(f.toDouble))
    case d: Double => Some(JDouble(d))
    case s: String => Some(JString(s))
    case d: java.sql.Date =>
      Some(JLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
    case d: java.time.LocalDate => Some(JLong(d.toEpochDay))
    case t: java.sql.Timestamp =>
      Some(JLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case t: java.time.Instant =>
      Some(JLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)))
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ literals
      Some(JLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)))
    case _ => None // decimals/binary: no pruning
  }

  private def cmpJ(a: JValue, b: JValue): Option[Int] = (a, b) match {
    case (JLong(x), JLong(y)) => Some(java.lang.Long.compare(x, y))
    case (JDouble(x), JDouble(y)) => Some(java.lang.Double.compare(x, y))
    case (JLong(x), JDouble(y)) => Some(java.lang.Double.compare(x.toDouble, y))
    case (JDouble(x), JLong(y)) => Some(java.lang.Double.compare(x, y.toDouble))
    // fragment string stats are parquet min/max in unsigned UTF-8 byte
    // order, and Spark's string comparisons are UTF8String binary — compare
    // in that order (UTF-16 code-unit order diverges for supplementary-
    // plane chars vs U+E000–U+FFFF and would prune matching fragments)
    case (JString(x), JString(y)) => Some(
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)))
    case _ => None
  }

  /** True if `v` is a string provably absent from the fragment's exact
    * value dictionary (recorded for low-cardinality string columns). */
  private def dictMiss(fr: FragmentMeta, c: String, v: Any): Boolean = v match {
    case s: String => fr.stats.get(c).flatMap(_.distinct).exists(!_.contains(s))
    case _ => false
  }

  /** True when the fragment reads the column as all-NULL: the name is
    * hidden (post-DROP, pre-compaction) with no rename redirect. Every
    * comparison/equality on an all-NULL column is provably empty. A
    * struct-nested reference (`st.id`) reads all-NULL whenever its
    * top-level struct does. */
  private def readsAllNull(fr: FragmentMeta, c: String): Boolean = {
    val top = c.indexOf('.') match { case -1 => c; case i => c.substring(0, i) }
    fr.hidden.contains(top) && !fr.physicalNames.contains(top)
  }

  /** True only if no row in the fragment can satisfy `f`. `fullPath`, when
    * known, enables pruning on the `_file` metadata column — fragment
    * identity is exact, so `_file IN (...)` restricts the scan to exactly
    * the named fragments (used by maintenance reads and DV-writing
    * deletes to touch only candidate fragments). `bloomAbsent` consults a
    * per-fragment equality bloom when range/dictionary stats can't prune. */
  /** Per-pushed-array memo of `_file IN (...)` value sets: the same Array
    * instance is probed once per fragment during planning, so the Set is
    * built once (weak keys — dropped with the filter array). */
  private val fileSets =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Any], java.util.HashSet[Any]]())
  private def fileSet(vs: Array[Any]): java.util.HashSet[Any] = {
    var set = fileSets.get(vs)
    if (set == null) {
      set = new java.util.HashSet[Any](vs.length * 2)
      vs.foreach(set.add)
      fileSets.put(vs, set)
    }
    set
  }

  def provablyEmpty(fr: FragmentMeta, schema: StructType, f: Filter,
                    fullPath: String = "",
                    bloomAbsent: (String, Any) => Boolean = (_, _) => false): Boolean = f match {
    case EqualTo(LanceMetadata.FileCol, v) => fullPath.nonEmpty && v != fullPath
    case In(LanceMetadata.FileCol, vs) =>
      // hashed, not Array.contains: DELETE/compact/zorder planning calls
      // this once per fragment with the SAME pushed array — a linear walk
      // makes broad maintenance O(fragments × paths) on the driver
      fullPath.nonEmpty && !fileSet(vs).contains(fullPath)
    case EqualTo(c, v) =>
      readsAllNull(fr, c) ||
        outsideRange(fr, c, v, strictLow = false, strictHigh = false) ||
        dictMiss(fr, c, v) || bloomAbsent(c, v)
    case GreaterThan(c, v) => readsAllNull(fr, c) || aboveMax(fr, c, v, orEqual = false)
    case GreaterThanOrEqual(c, v) => readsAllNull(fr, c) || aboveMax(fr, c, v, orEqual = true)
    case LessThan(c, v) => readsAllNull(fr, c) || belowMin(fr, c, v, orEqual = false)
    case LessThanOrEqual(c, v) => readsAllNull(fr, c) || belowMin(fr, c, v, orEqual = true)
    case In(c, vs) if vs.nonEmpty =>
      readsAllNull(fr, c) ||
        vs.forall(v => outsideRange(fr, c, v, strictLow = false, strictHigh = false) ||
          dictMiss(fr, c, v) || bloomAbsent(c, v))
    case IsNull(c) => fr.stats.get(c).flatMap(_.nullCount).contains(0L)
    case IsNotNull(c) =>
      readsAllNull(fr, c) ||
        fr.stats.get(c).flatMap(_.nullCount).exists(_ == fr.rows)
    // LIKE-family pushdown (reference: LanceDynamicTableSource.java:259-261
    // translates LIKE): prefix matches admit range pruning — in UTF-8 byte
    // order (the order parquet records string min/max in, and the order
    // Spark compares strings in), s startsWith p implies
    // p <= s < byteSuccessor(p) — plus exact-dictionary checks; suffix/
    // infix prune only via a complete dictionary. Truncated parquet string
    // stats only WIDEN [min,max], so the range check stays sound.
    case StringStartsWith(c, p) if p.nonEmpty =>
      readsAllNull(fr, c) ||
        (for ((mn, mx) <- range(fr, c)) yield (mn, mx) match {
          case (JString(lo), JString(hi)) =>
            val pu = UTF8String.fromString(p)
            UTF8String.fromString(hi).binaryCompare(pu) < 0 ||
              prefixSuccessor(p).exists(succ =>
                UTF8String.fromString(lo).binaryCompare(succ) >= 0)
          case _ => false
        }).getOrElse(false) ||
        fr.stats.get(c).flatMap(_.distinct).exists(!_.exists(_.startsWith(p)))
    case StringEndsWith(c, p) =>
      readsAllNull(fr, c) ||
        fr.stats.get(c).flatMap(_.distinct).exists(!_.exists(_.endsWith(p)))
    case StringContains(c, p) =>
      readsAllNull(fr, c) ||
        fr.stats.get(c).flatMap(_.distinct).exists(!_.exists(_.contains(p)))
    case And(l, r) =>
      provablyEmpty(fr, schema, l, fullPath, bloomAbsent) ||
        provablyEmpty(fr, schema, r, fullPath, bloomAbsent)
    case Or(l, r) =>
      provablyEmpty(fr, schema, l, fullPath, bloomAbsent) &&
        provablyEmpty(fr, schema, r, fullPath, bloomAbsent)
    // every row satisfies f0 ⇒ no row satisfies NOT f0 (rows evaluating f0
    // to NULL satisfy neither, but all-match proves there are none)
    case Not(f0) => provablyAllMatch(fr, f0)
    case _ => false
  }

  private def range(fr: FragmentMeta, c: String): Option[(JValue, JValue)] =
    fr.stats.get(c).flatMap(s => for (mn <- s.min; mx <- s.max) yield (mn, mx))

  /** Smallest byte string greater than every string with UTF-8 prefix `p`:
    * drop trailing 0xFF bytes, increment the last remaining byte. None when
    * `p` is all 0xFF (no finite upper bound). */
  private def prefixSuccessor(p: String): Option[UTF8String] = {
    val b = p.getBytes(StandardCharsets.UTF_8)
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(UTF8String.fromBytes(out))
    }
  }

  private def noNulls(fr: FragmentMeta, c: String): Boolean =
    fr.stats.get(c).flatMap(_.nullCount).contains(0L)

  /** True only if EVERY row in the fragment satisfies `f` (null values
    * never satisfy a comparison). Powers DELETE's metadata-only fragment
    * drops — the write-side mirror of provablyEmpty. */
  def provablyAllMatch(fr: FragmentMeta, f: Filter): Boolean = f match {
    case EqualTo(c, v) =>
      (for ((mn, mx) <- range(fr, c); jv <- lit(v);
            cl <- cmpJ(mn, jv); ch <- cmpJ(mx, jv))
        yield cl == 0 && ch == 0 && noNulls(fr, c)).getOrElse(false)
    case GreaterThan(c, v) =>
      (for ((mn, _) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mn, jv))
        yield cm > 0 && noNulls(fr, c)).getOrElse(false)
    case GreaterThanOrEqual(c, v) =>
      (for ((mn, _) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mn, jv))
        yield cm >= 0 && noNulls(fr, c)).getOrElse(false)
    case LessThan(c, v) =>
      (for ((_, mx) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mx, jv))
        yield cm < 0 && noNulls(fr, c)).getOrElse(false)
    case LessThanOrEqual(c, v) =>
      (for ((_, mx) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mx, jv))
        yield cm <= 0 && noNulls(fr, c)).getOrElse(false)
    case In(c, vs) if vs.nonEmpty =>
      vs.exists(v => provablyAllMatch(fr, EqualTo(c, v)))
    case IsNull(c) =>
      fr.stats.get(c).flatMap(_.nullCount).contains(fr.rows)
    case IsNotNull(c) => noNulls(fr, c)
    case And(l, r) => provablyAllMatch(fr, l) && provablyAllMatch(fr, r)
    case Or(l, r) => provablyAllMatch(fr, l) || provablyAllMatch(fr, r)
    // NOT f0 holds on every row iff f0 is FALSE (not NULL) everywhere: no
    // row satisfies f0, and no referenced column has nulls (a null makes a
    // comparison evaluate NULL, and NOT NULL is NULL — row not matched)
    case Not(f0) =>
      f0.references.forall(c => noNulls(fr, c)) &&
        provablyEmpty(fr, StructType(Nil), f0)
    case AlwaysTrue() => true
    case _ => false
  }

  private def outsideRange(fr: FragmentMeta, c: String, v: Any,
                           strictLow: Boolean, strictHigh: Boolean): Boolean =
    (for ((mn, mx) <- range(fr, c); jv <- lit(v);
          cLow <- cmpJ(jv, mn); cHigh <- cmpJ(jv, mx))
      yield cLow < 0 || cHigh > 0).getOrElse(false)

  /** v > max (f can't match): GreaterThan(c,v) empty iff max <= v. */
  private def aboveMax(fr: FragmentMeta, c: String, v: Any, orEqual: Boolean): Boolean =
    (for ((_, mx) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mx, jv))
      yield if (orEqual) cm < 0 else cm <= 0).getOrElse(false)

  private def belowMin(fr: FragmentMeta, c: String, v: Any, orEqual: Boolean): Boolean =
    (for ((mn, _) <- range(fr, c); jv <- lit(v); cm <- cmpJ(mn, jv))
      yield if (orEqual) cm > 0 else cm >= 0).getOrElse(false)
}

/** A fragment's column-identity view restricted to one scan's columns:
  * `hidden` = logical names that must read NULL; `renames` = logical →
  * physical name redirects (RENAME COLUMN). Sorted, so it doubles as a
  * stable reader-group key. A physicalNames entry overrides a same-named
  * hidden entry (see [[FragmentMeta]]). */
case class LanceColumnMap(hidden: Seq[String], renames: Seq[(String, String)]) {
  def isIdentity: Boolean = hidden.isEmpty && renames.isEmpty
}

object LanceColumnMap {
  val Identity: LanceColumnMap = LanceColumnMap(Nil, Nil)

  def of(fr: FragmentMeta, relevant: Set[String]): LanceColumnMap =
    LanceColumnMap(
      fr.hidden.filter(h => relevant(h) && !fr.physicalNames.contains(h)).sorted,
      fr.physicalNames.filter { case (k, _) => relevant(k) }.toSeq.sorted)
}

/** One byte range of one fragment file. Fragments larger than the scan's
  * split size split into ranges (the parquet reader aligns ranges to row
  * groups), so a huge fragment still parallelizes across executors.
  * `changeType` labels every row of the slice for the `_change_type`
  * metadata column (None reads as "insert"). `deleteDiff = (oldDv, newDv)`
  * flips the slice into change-feed delete mode: emit ONLY positions
  * present in newDv but not oldDv — the rows a delete commit removed. */
case class LanceFileSlice(path: String, start: Long, length: Long, fileSize: Long,
                          colMap: LanceColumnMap = LanceColumnMap.Identity,
                          dv: Option[String] = None,
                          changeType: Option[String] = None,
                          deleteDiff: Option[(Option[String], String)] = None)

/** One input partition = the file slices one task reads, in order, all
  * from fragments of one write.bucket-by value (`bucket`). */
case class LanceInputPartition(slices: Seq[LanceFileSlice], bucket: Option[Int] = None)
    extends InputPartition with HasPartitionKey {
  /** The fragments' write.bucket-by value — consulted only when the scan
    * reports KeyGroupedPartitioning (then every partition has a bucket);
    * several partitions of one bucket share a key and Spark groups them. */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket.getOrElse(-1)))
}

object LanceInputPartition {
  /** The partition that reads `slice` alone. */
  def of(slice: LanceFileSlice): LanceInputPartition = LanceInputPartition(Seq(slice))

  /** Pack `slices` (each with its fragment's bucket) into partitions by
    * the rule Spark's own file scans use (`FilePartition.getFilePartitions`):
    * next fit in scan order, each slice costing its length plus
    * `openCost`, a partition closing before the slice that would take it
    * past `maxSplitBytes`. A partition also closes where the bucket
    * changes, so no partition mixes buckets. Packs are contiguous runs of
    * the slice order, so the rows come out in the same order as unpacked. */
  def pack(slices: Seq[(LanceFileSlice, Option[Int])], maxSplitBytes: Long,
           openCost: Long): Seq[LanceInputPartition] = {
    val out = Seq.newBuilder[LanceInputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[LanceFileSlice]
    var bucket: Option[Int] = None
    var size = 0L
    def close(): Unit = if (cur.nonEmpty) {
      out += LanceInputPartition(cur.toList, bucket)
      cur.clear()
      size = 0L
    }
    slices.foreach { case (s, b) =>
      if (b != bucket || size + s.length > maxSplitBytes) close()
      bucket = b
      size += s.length + openCost
      cur += s
    }
    close()
    out.result()
  }
}

class LanceParquetScan(spark: SparkSession, root: String, manifest: LanceManifest,
                       initialFragments: Seq[FragmentMeta], required: StructType,
                       filters: Seq[Filter], limit: Option[Int],
                       options: Map[String, String],
                       conf: org.apache.hadoop.conf.Configuration) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** Narrowed by runtime filtering (below). */
  @volatile private var fragments: Seq[FragmentMeta] = initialFragments

  // ---- runtime filtering (the dynamic-partition-pruning analog) --------
  // Join-key predicates arriving at execution time (Spark's PartitionPruning
  // rule collects the build side's distinct keys into IN-sets) narrow the
  // fragment list through the same prover + bloom probe as static pushdown.
  // Purely an optimization — the join still evaluates — so predicates the
  // prover doesn't recognize are ignored, never wrong. At 100 TB this is
  // the fact-table saver: a selective dim filter prunes fact fragments by
  // join key before any fact IO.

  /** Every projected top-level data column is fair game: all have min/max
    * stats, low-cardinality strings have dictionaries, keyed columns have
    * bloom sidecars. */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    manifest.schema.fields.collect {
      case f if required.fieldNames.contains(f.name) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = Shim.predicatesToV1(predicates)
    if (v1.nonEmpty) {
      val pruned = LancePruning.prune(fragments, manifest.schema, v1, root,
        LancePruning.bloomProbe(root, conf))
      // When this scan reports KeyGroupedPartitioning, the distinct
      // partition-key set was fixed at planning; runtime pruning that
      // empties a whole bucket would shrink it afterwards — a combination
      // BatchScanExec only tolerates when the SPJ was planned with pushed
      // partition values (spark.sql.sources.v2.bucketing.pushPartValues:
      // grouping then follows the common value list and a pruned-empty
      // bucket becomes an empty group, exactly like a missing bucket at
      // planning — spec-verified). Without that conf, keep the pruning
      // only when every bucket stays populated (the common win: dropping
      // fragments WITHIN buckets); else keep the planned list — always
      // sound, the join still evaluates.
      val shrinkOk = spark.conf
        .getOption("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
        .exists(_.toBoolean)
      fragments = bucketSpec match {
        case Some(_)
            if !shrinkOk && pruned.flatMap(_.bucket).distinct.size !=
              fragments.flatMap(_.bucket).distinct.size => fragments
        case _ => pruned
      }
    }
  }

  // ---- storage-partitioned joins ---------------------------------------
  // A table whose live fragments all carry a write.bucket-by tag reports
  // KeyGroupedPartitioning over bucket(N, col): Spark groups the input
  // partitions by bucket and an equi-join against another table bucketed
  // (col, N) the same way runs with NO shuffle on either side (the
  // catalog's `bucket` function makes the two transforms comparable).
  // Anything irregular — a mixed append, a dropped bucket column — makes
  // this report UnknownPartitioning, which is always sound.
  private val bucketSpec: Option[(Seq[String], Int)] = {
    val layout = LanceLayout(manifest.props)
    val cols = layout.bucketBy
    if (cols.isEmpty || !cols.forall(manifest.schema.fieldNames.contains) ||
        initialFragments.isEmpty || initialFragments.exists(_.bucket.isEmpty)) None
    else layout.bucketCount.map(n => (cols, n))
  }

  // ---- persisted-sort report -------------------------------------------
  // Fragments written through a distribution+ordering-enforced path
  // (bucketed/clustered/sorted writes, ordering-preserving compaction)
  // carry the column list every row of the file honors. When each Spark
  // partition is a single such sorted unit, the scan reports the common
  // prefix back, and a co-bucketed sort-merge join plans with NO Sort on
  // either side — on a 100 TB SPJ that deletes the last redundant
  // O(n log n) pass. Sound gating:
  //  - every live fragment must share the prefix, projected and
  //    identity-mapped (no rename/hide indirection on the sort columns);
  //  - the scan reports KeyGroupedPartitioning and each bucket is exactly
  //    one unsplit fragment: a grouped bucket, like a packed partition,
  //    concatenates its files, which is not sorted. Any other scan packs
  //    small fragments together, so it reports no ordering (the co-bucketed
  //    SMJ is the report's only consumer).
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val frs = fragments
    if (bucketSpec.isEmpty || frs.isEmpty || frs.exists(_.sortedBy.isEmpty)) return Array.empty
    val common = frs.map(_.sortedBy).reduce { (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
    }
    val usable = common.takeWhile(c => required.fieldNames.contains(c) &&
      frs.forall(fr => !fr.hidden.contains(c) && !fr.physicalNames.contains(c)))
    if (usable.isEmpty || frs.flatMap(_.bucket).distinct.size != frs.size ||
        !frs.forall(wholeFile)) return Array.empty
    usable.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = bucketSpec match {
    case Some((cols, n)) =>
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, cols: _*)),
        fragments.flatMap(_.bucket).distinct.size)
    case None =>
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def readSchema(): StructType = required

  /** Manifest-derived size estimate (post fragment pruning) — feeds
    * Spark's join planning so small lance datasets broadcast. */
  /** Fragment count above which NDV estimation skips the sidecar merge:
    * planning-time driver IO must stay bounded however large the table
    * (reads are SidecarCache-amortized, but the first plan would stall). */
  private val NdvSidecarCap = 1024

  /** Per-column statistics for Spark's cost-based optimizer, folded
    * driver-side: min/max/nullCount from the manifest (zero IO), NDV from
    * the exact string dictionaries or the per-fragment HLL sidecars (tiny
    * cached reads, [[NdvSidecarCap]]-bounded). With CBO on, reported NDV
    * drives aggregate output estimates and join-side broadcast/reorder
    * decisions — at 100 TB the difference between shuffling a "small"
    * side that is actually 3 distinct keys and broadcasting it. Columns
    * with rename/hide indirection on any fragment decline (never wrong).
    * The reference exposes the analogous catalog stats hooks
    * (LanceCatalog.java:683-701). */
  private def cboColumnStats(frs: Seq[FragmentMeta], rows: Long):
      java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    // Only the CBO consumes these; with it off, skip even the in-memory
    // folds — at 100k fragments × wide schemas an O(cols × fragments)
    // pass per planning is real driver CPU for nothing.
    if (frs.isEmpty || !spark.sessionState.conf.cboEnabled) return out
    val sidecarsOk =
      frs.size <= NdvSidecarCap && frs.forall(_.sketches.isDefined)
    // physical fragment stats are sound ESTIMATES under delete vectors
    // (deletion only shrinks the value set; bounds stay valid, nullCount
    // at most overcounts) — exactness is the aggregate-pushdown path's
    // concern, not the CBO's
    def statsOf(name: String): Option[Seq[ColStats]] = {
      val per = frs.map(_.stats.get(name))
      if (per.forall(_.isDefined)) Some(per.map(_.get)) else None
    }
    def internal(v: org.json4s.JValue, dt: DataType): Any = (v, dt) match {
      case (org.json4s.JLong(x), IntegerType) => x.toInt
      case (org.json4s.JLong(x), ShortType) => x.toShort
      case (org.json4s.JLong(x), ByteType) => x.toByte
      case (org.json4s.JLong(x), LongType) => x
      case (org.json4s.JLong(x), DateType) => x.toInt
      case (org.json4s.JLong(x), TimestampType | TimestampNTZType) => x
      case (org.json4s.JDouble(x), FloatType) => x.toFloat
      case (org.json4s.JDouble(x), DoubleType) => x
      case _ => throw new IllegalStateException(s"stat/type mismatch: $v vs $dt")
    }
    def rangeType(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    def statDouble(v: org.json4s.JValue): Double = v match {
      case org.json4s.JLong(x) => x.toDouble
      case org.json4s.JDouble(x) => x
      case other => throw new IllegalStateException(s"non-numeric stat: $other")
    }
    // Equi-height histogram synthesized from per-fragment [min, max, rows]
    // under a within-fragment-uniform assumption. On clustered/z-ordered
    // layouts fragments carry tight disjoint ranges, so the bins encode
    // the REAL distribution — min/max alone makes the CBO assume global
    // uniformity, which mis-estimates skewed range predicates by the
    // skew factor. O(fragments log fragments) driver CPU, zero IO.
    def histogramOf(name: String, ndvOpt: Option[Long]):
        Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
      import org.apache.spark.sql.connector.read.colstats.{Histogram, HistogramBin}
      val fr = frs.filter(f => f.liveRows > 0 && f.stats.get(name).exists(s =>
        s.min.isDefined && s.max.isDefined))
      if (fr.size < 2 || fr.size != frs.count(_.liveRows > 0)) return None
      val parts = fr.map { f =>
        val s = f.stats(name)
        (statDouble(s.min.get), statDouble(s.max.get), f.liveRows.toDouble)
      }.sortBy(p => (p._1, p._2))
      // ...which is only informative when the layout IS clustered on this
      // column: with heavily overlapping fragment ranges (natural-order
      // writes) the synthesized bins would assert structure the layout
      // doesn't have and mislead the CBO worse than no histogram. Gate on
      // near-disjoint ranges — a small overlap allowance covers compaction
      // boundaries and duplicate boundary values.
      // overlap vs the running max-hi, not the immediate predecessor: one
      // wide legacy fragment spanning many tight clustered ones would count
      // a single adjacent overlap and sneak past a pairwise check
      var maxHi = Double.NegativeInfinity
      var overlapping = 0
      parts.foreach { case (lo, hi, _) =>
        if (lo < maxHi) overlapping += 1
        maxHi = math.max(maxHi, hi)
      }
      if (overlapping * 5 > parts.size - 1) return None
      val total = parts.map(_._3).sum
      val nbins = math.min(32, parts.size)
      val binHeight = total / nbins
      val cuts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long)]
      val binNdv = ndvOpt.map(n => math.max(1L, n / nbins))
        .getOrElse(math.max(1L, binHeight.toLong))
      var binLo = parts.head._1
      var acc = 0.0
      parts.foreach { case (lo, hi, rows0) =>
        var flo = math.max(lo, binLo)
        var frows = rows0
        while (acc + frows >= binHeight && cuts.size < nbins - 1) {
          val need = binHeight - acc
          val cut =
            if (frows <= 0 || hi <= flo) hi
            else flo + (hi - flo) * (need / frows)
          cuts += ((binLo, math.max(cut, binLo), binNdv))
          binLo = math.max(cut, binLo)
          frows -= need
          flo = math.max(cut, flo)
          acc = 0.0
        }
        acc += math.max(frows, 0.0)
      }
      cuts += ((binLo, math.max(parts.map(_._2).max, binLo), binNdv))
      val binArr = cuts.map { case (l, h, nd) => new HistogramBin {
        override def lo(): Double = l
        override def hi(): Double = h
        override def ndv(): Long = nd
      }: HistogramBin }.toArray
      Some(new Histogram {
        override def height(): Double = binHeight
        override def bins(): Array[HistogramBin] = binArr
      })
    }
    manifest.schema.fields.foreach { f =>
      val name = f.name
      val identity = frs.forall(fr =>
        !fr.hidden.contains(name) && !fr.physicalNames.contains(name))
      if (required.fieldNames.contains(name) && identity) {
        val ss = statsOf(name)
        val nulls: Option[Long] = ss.collect {
          case s if s.forall(_.nullCount.isDefined) => s.map(_.nullCount.get).sum
        }
        val (mn, mx): (Option[Any], Option[Any]) =
          if (!rangeType(f.dataType)) (None, None)
          else ss match {
            case Some(s) if s.nonEmpty &&
                s.forall(v => v.min.isDefined && v.max.isDefined) =>
              (Some(internal(s.map(_.min.get).reduce(ManifestIO.jMin), f.dataType)),
                Some(internal(s.map(_.max.get).reduce(ManifestIO.jMax), f.dataType)))
            case _ => (None, None)
          }
        // exact NDV from complete low-cardinality string dictionaries ...
        val dictNdv: Option[Long] =
          if (f.dataType != StringType) None
          else {
            val per = frs.map(_.stats.get(name).flatMap(_.distinct))
            if (per.forall(d => d.isDefined && d.get.nonEmpty))
              Some(per.flatMap(_.get).toSet.size.toLong)
            else None
          }
        // ... falling back to the ~2.3%-error HLL sidecar merge
        val ndv: Option[Long] = dictNdv
          .orElse {
            if (!sidecarsOk) None
            else {
              val per = frs.map { fr =>
                SidecarCache.get(root, conf, fr.sketches.get)
                  .get(fr.physicalNames.getOrElse(name, name)).map(_._1)
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatten.reduce(_.merge(_)).estimate)
            }
          }
        if (nulls.isDefined || mn.isDefined || ndv.isDefined) {
          val hist = if (mn.isEmpty) None else histogramOf(name, ndv)
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new ColumnStatistics {
              override def nullCount(): java.util.OptionalLong =
                nulls.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty)
              override def min(): java.util.Optional[Object] =
                mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def distinctCount(): java.util.OptionalLong =
                ndv.map(n => java.util.OptionalLong.of(math.min(n, math.max(rows, 1L))))
                  .getOrElse(java.util.OptionalLong.empty)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.map(java.util.Optional.of(_))
                  .getOrElse(java.util.Optional.empty())
            })
        }
      }
    }
    out
  }

  override def estimateStatistics(): Statistics = {
    val frs = fragments
    val rowsNow = frs.map(_.liveRows).sum
    val bytesNow = frs.map(_.sizeBytes).sum
    val cstats = cboColumnStats(frs, rowsNow)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytesNow)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rowsNow)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cstats
    }
  }
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LanceMicroBatchStream(spark, root, manifest.schema, required, options)

  override def description(): String =
    s"LanceScan root=$root version=${manifest.version} " +
      s"fragments=${fragments.size}/${manifest.fragments.size} " +
      s"PushedFilters: ${filters.mkString("[", ", ", "]")}, " +
      s"PushedLimit: ${limit.getOrElse(-1)}, " +
      s"ReadSchema: ${required.catalogString}"

  /** Columns whose masking matters for THIS scan: projected or filtered.
    * (Residual filter references are always in `required` too — Spark keeps
    * them projected for re-evaluation — but union them for safety.) */
  private val relevantCols: Set[String] =
    required.fieldNames.toSet ++ filters.flatMap(_.references)

  /** Injected metadata names — only when no physical column shadows them
    * (a persisted change feed genuinely stores _change_type as data). */
  private def injectedCol(name: String): Boolean =
    required.fieldNames.contains(name) &&
      !manifest.schema.fieldNames.contains(name)

  /** Is the `_file` metadata column part of the projection? */
  private val fileRequested: Boolean = injectedCol(LanceMetadata.FileCol)

  /** `_pos` projection requires position fidelity: no byte-range splits and
    * no reader-level filter pushdown (row-group skipping shifts indexes). */
  private val posRequested: Boolean = injectedCol(LanceMetadata.PosCol)

  /** `_change_type` needs per-row injection ("insert" on batch scans). */
  private val changeRequested: Boolean = injectedCol(LanceMetadata.ChangeCol)

  private def maskKey(fr: FragmentMeta): LanceColumnMap =
    LanceColumnMap.of(fr, relevantCols)

  /** Filters safe to hand the parquet readers: every referenced column must
    * be in the read schema — the record-level evaluator treats a filter
    * column missing from the requested projection as NULL and drops every
    * row. Exactly-consumed filters may reference unprojected columns
    * (Spark no longer forces them into the projection); they are enforced
    * by fragment pruning and need no reader-level help. */
  private val readerFilters: Seq[Filter] = {
    val projected = required.fieldNames.toSet
    filters.filter(_.references.forall(projected))
  }

  /** The slice and pack size of Spark's own file scans
    * (`FilePartition.maxSplitBytes`): `spark.sql.files.maxPartitionBytes`,
    * lowered toward the bytes per `minPartitionNum` (default parallelism)
    * with each file costing `openCostInBytes` more, never below the open
    * cost. Fixed over the planned fragments, so the ordering report and
    * the partitions planned after runtime filtering split alike. */
  private lazy val maxSplitBytes: Long = {
    val open = spark.sessionState.conf.filesOpenCostInBytes
    org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(spark,
      initialFragments.map(_.sizeBytes + open).sum)
  }

  /** Is `fr` read as one slice from the file start? DV filtering and
    * `_pos` injection count physical rows from the file start (such
    * fragments exist only between a delete and the next compaction); a
    * limit reads whole files; small fragments need no split. */
  private def wholeFile(fr: FragmentMeta): Boolean =
    fr.sizeBytes <= maxSplitBytes || limit.isDefined || fr.deletes.isDefined || posRequested

  override def planInputPartitions(): Array[InputPartition] = {
    // limit: stop enumerating fragments once manifest row counts cover it
    val chosen = limit match {
      case Some(n) =>
        var acc = 0L
        fragments.takeWhile { fr => val take = acc < n; acc += fr.liveRows; take }
      case None => fragments
    }
    val slices = chosen.flatMap { fr =>
      val p = new org.apache.hadoop.fs.Path(root, fr.path).toString
      val dv = fr.deletes.map(d => new org.apache.hadoop.fs.Path(root, d.path).toString)
      val ranges =
        if (wholeFile(fr)) Seq(0L -> fr.sizeBytes)
        else (0L until fr.sizeBytes by maxSplitBytes).map(off =>
          off -> math.min(maxSplitBytes, fr.sizeBytes - off))
      ranges.map { case (off, len) =>
        (LanceFileSlice(p, off, len, fr.sizeBytes, maskKey(fr), dv), fr.bucket)
      }
    }
    LanceInputPartition.pack(slices, maxSplitBytes,
      spark.sessionState.conf.filesOpenCostInBytes).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // built on the driver; the returned closure is what Spark's own
    // FileSourceScanExec ships to executors. When the schema is atomic and
    // the vectorized reader is on, read columnar: batches flow straight
    // into WholeStageCodegen's ColumnarToRow instead of per-row iteration.
    val colMaps = fragments.map(maskKey).distinct
    val anyDv = fragments.exists(_.deletes.isDefined)
    if (colMaps.forall(_.isIdentity) && !fileRequested && !posRequested &&
        !changeRequested && !anyDv) {
      val columnar = limit.isEmpty && Shim.parquetSupportsBatch(spark, required)
      val readFn = Shim.parquetReader(spark, manifest.schema, required, readerFilters,
        options, returningBatch = columnar)
      new LanceReaderFactory(readFn, limit, columnar)
    } else {
      // hidden-column masks, renames, delete vectors and/or metadata
      // columns need per-row handling (row path; Spark forbids mixing row
      // and columnar partitions in one scan)
      new LanceMaskedReaderFactory(
        LanceReadGroup.build(spark, manifest.schema, required, readerFilters, options,
          colMaps, posRequested),
        limit, Shim.serializableConf(conf))
    }
  }
}

/** Metadata columns the connector exposes (SupportsMetadataColumns):
  * `_file` = the fragment file's full path and `_pos` = the physical row
  * position — together the row identity delta row-level operations use. */
object LanceMetadata {
  val FileCol = "_file"
  val PosCol = "_pos"
  val ChangeCol = "_change_type"

  val columns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "full path of the fragment file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = PosCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical row position within the fragment file (0-based, pre-deletion)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ChangeCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row change kind: 'insert' on batch scans; 'insert'/'delete' in a " +
            "read.change-feed stream"
      })
}

class LanceReaderFactory(
    readFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
    limit: Option[Int], columnar: Boolean) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def open[A](partition: InputPartition)(f: Iterator[AnyRef] => Iterator[A]) =
    new LanceSliceIterator[A](partition.asInstanceOf[LanceInputPartition].slices, { s =>
      val file = readFn(Shim.partitionedFile(s.path, s.start, s.length, s.fileSize))
        .asInstanceOf[Iterator[AnyRef]]
      (file, f(file))
    })

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // row path (complex schemas / vectorization off / limit): the closure
    // may still yield ColumnarBatch disguised as InternalRow — flatten
    val rows = open(partition)(_.flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    })
    rows.reader(limit.map(n => rows.take(n)).getOrElse(rows))
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val batches = open(partition)(_.map(_.asInstanceOf[ColumnarBatch]))
    batches.reader(batches)
  }
}

/** The rows (or batches) of a partition's file slices, read one slice at a
  * time: `open(slice)` returns the slice's file reader and the rows read
  * through it. A slice's file reader closes (when it is `AutoCloseable`,
  * as Spark's vectorized parquet reader is) as soon as its rows are
  * drained, so a task holds one file open at a time; [[close]] closes the
  * open one early (a limit can stop the read mid-slice). */
private[graft] final class LanceSliceIterator[A](
    slices: Seq[LanceFileSlice], open: LanceFileSlice => (Iterator[_], Iterator[A]))
    extends Iterator[A] with java.io.Closeable {
  private val pending = slices.iterator
  private var file: Iterator[_] = Iterator.empty
  private var rows: Iterator[A] = Iterator.empty

  override def hasNext: Boolean = {
    while (!rows.hasNext) {
      close()
      if (!pending.hasNext) return false
      val (f, r) = open(pending.next())
      file = f
      rows = r
    }
    true
  }

  override def next(): A = if (hasNext) rows.next() else Iterator.empty.next()

  override def close(): Unit = {
    file match {
      case c: AutoCloseable => c.close()
      case _ =>
    }
    file = Iterator.empty
    rows = Iterator.empty
  }

  /** The partition reader over `it` (these rows, possibly capped), which
    * closes the open slice when Spark closes it. */
  def reader[B](it: Iterator[B]): PartitionReader[B] = new PartitionReader[B] {
    private var current: B = _
    override def next(): Boolean = if (it.hasNext) { current = it.next(); true } else false
    override def get(): B = current
    override def close(): Unit = LanceSliceIterator.this.close()
  }
}

/** Per-hidden-set read group: a parquet-reader closure with the masked
  * fields cut from both schemas, plus the ordinal mapping that re-injects
  * NULLs at the masked positions of the required schema. Column identity
  * across DROP/re-ADD: the reference resolves columns by Lance field IDs;
  * here the manifest's per-fragment `hidden` set plays that role — a
  * fragment written before a DROP must read the re-ADDed name as NULL,
  * never the stale physical values (reference: schema evolution in
  * LanceCatalog.java / Lance field-id semantics). */
private[lance] case class LanceReadGroup(
    readFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
    unfilteredFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
    mapping: Array[Int], types: Array[DataType]) {
  def isIdentity: Boolean = mapping.indices.forall(i => mapping(i) == i)
}

private[lance] object LanceReadGroup {
  /** Mapping sentinel: NULL-inject (masked hidden column). */
  val NullInject: Int = -1
  /** Mapping sentinel: inject the partition's file path (`_file`). */
  val FileInject: Int = -2
  /** Mapping sentinel: inject the physical row position (`_pos`). */
  val PosInject: Int = -3
  /** Mapping sentinel: inject the partition's change type (`_change_type`). */
  val ChangeInject: Int = -4

  /** One group per distinct column map. Filters referencing a masked or
    * renamed column are NOT pushed into that group's reader: for masks, the
    * physical file still holds the pre-DROP values and parquet row-group
    * skipping on stale values would silently drop rows that correctly read
    * as NULL; for renames, the physical file knows a different column
    * name. Filters on `_file`/`_pos` are likewise never forwarded (no such
    * physical columns). All filters are residual, so Spark re-evaluates
    * them against the final output.
    *
    * `unfilteredFn` is the same reader with NO filters at all — used for
    * partitions that must count physical positions (a delete vector to
    * apply, or `_pos` projected): parquet row-group skipping would shift
    * the indexes. When `posRequested`, position fidelity is needed
    * scan-wide, so both closures are built filter-free. */
  def build(spark: SparkSession, tableSchema: StructType, required: StructType,
            filters: Seq[Filter], options: Map[String, String],
            colMaps: Seq[LanceColumnMap],
            posRequested: Boolean = false): Map[LanceColumnMap, LanceReadGroup] =
    colMaps.map { cm =>
      val hsSet = cm.hidden.toSet
      val ren = cm.renames.toMap
      // metadata names are injected ONLY when the dataset has no physical
      // column of that name — a table that genuinely stores a _change_type
      // (e.g. a persisted change feed) reads it as ordinary data
      val physNames = tableSchema.fieldNames.toSet
      val injected = Set(LanceMetadata.FileCol, LanceMetadata.PosCol,
        LanceMetadata.ChangeCol).filterNot(physNames)
      val skip = hsSet ++ injected
      val noPush = skip ++ ren.keySet
      def phys(f: StructField): StructField =
        ren.get(f.name).map(p => f.copy(name = p)).getOrElse(f)
      val dataSchema = StructType(tableSchema.fields.filterNot(f => hsSet(f.name)).map(phys))
      val readSchema = StructType(required.fields.filterNot(f => skip(f.name)).map(phys))
      val safeFilters =
        if (posRequested) Seq.empty
        else filters.filterNot(_.references.exists(noPush))
      val readFn = Shim.parquetReader(spark, dataSchema, readSchema, safeFilters,
        options, returningBatch = false)
      val unfilteredFn =
        if (safeFilters.isEmpty) readFn
        else Shim.parquetReader(spark, dataSchema, readSchema, Seq.empty,
          options, returningBatch = false)
      var j = 0
      val mapping = required.fields.map { f =>
        if (f.name == LanceMetadata.FileCol && injected(f.name)) FileInject
        else if (f.name == LanceMetadata.PosCol && injected(f.name)) PosInject
        else if (f.name == LanceMetadata.ChangeCol && injected(f.name)) ChangeInject
        else if (hsSet(f.name)) NullInject
        else { val r = j; j += 1; r }
      }
      cm -> LanceReadGroup(readFn, unfilteredFn, mapping, required.fields.map(_.dataType))
    }.toMap
}

/** Row-based factory used whenever any planned fragment masks a column the
  * scan touches: each partition reads through its hidden-group's reader and
  * NULLs are injected at the masked ordinals. Hidden fragments exist only
  * between a DROP COLUMN and the next compaction, so the columnar fast path
  * is given up only for those scans. */
class LanceMaskedReaderFactory(groups: Map[LanceColumnMap, LanceReadGroup],
                               limit: Option[Int],
                               conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = new LanceSliceIterator[InternalRow](
      partition.asInstanceOf[LanceInputPartition].slices, read)
    rows.reader(limit.map(n => rows.take(n)).getOrElse(rows))
  }

  /** One slice's file reader and its projected live rows. */
  private def read(p: LanceFileSlice): (Iterator[_], Iterator[InternalRow]) = {
    val g = groups.getOrElse(p.colMap, throw new IllegalStateException(
      s"lance: no reader group for column map ${p.colMap} " +
        "(schema evolved between planning and read?)"))
    val posInjected = g.mapping.contains(LanceReadGroup.PosInject)
    // position counting (DV filtering / delete-diff / _pos) needs the
    // unfiltered reader: row-group skipping from pushed filters would
    // shift physical indexes
    val needPos = p.dv.isDefined || p.deleteDiff.isDefined || posInjected
    val fn = if (needPos) g.unfilteredFn else g.readFn
    val file = fn(Shim.partitionedFile(p.path, p.start, p.length, p.fileSize))
    val rows = file.asInstanceOf[Iterator[AnyRef]].flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }
    val filePath = UTF8String.fromString(p.path)
    val changeVal = UTF8String.fromString(p.changeType.getOrElse("insert"))
    def project(r: InternalRow, pos: Long): InternalRow = {
      val out = new Array[Any](g.mapping.length)
      var i = 0
      while (i < g.mapping.length) {
        val m = g.mapping(i)
        out(i) =
          if (m == LanceReadGroup.FileInject) filePath
          else if (m == LanceReadGroup.PosInject) pos
          else if (m == LanceReadGroup.ChangeInject) changeVal
          else if (m < 0 || r.isNullAt(m)) null
          else r.get(m, g.types(i))
        i += 1
      }
      new GenericInternalRow(out)
    }
    val projected: Iterator[InternalRow] =
      if (!needPos) {
        if (g.isIdentity) rows else rows.map(project(_, -1L))
      } else {
        val identity = g.isIdentity
        p.deleteDiff match {
          case Some((oldDv, newDv)) =>
            // change-feed delete rows: positions newly deleted by this step
            val newBits = DeleteVectors.readBitSet(newDv, conf.value)
            val oldBits = oldDv.map(DeleteVectors.readBitSet(_, conf.value)).orNull
            rows.zipWithIndex.collect {
              case (r, i) if newBits.get(i) && (oldBits == null || !oldBits.get(i)) =>
                if (identity) r else project(r, i.toLong)
            }
          case None =>
            val deleted = p.dv.map(DeleteVectors.readBitSet(_, conf.value)).orNull
            rows.zipWithIndex.collect {
              case (r, i) if deleted == null || !deleted.get(i) =>
                if (identity) r else project(r, i.toLong)
            }
        }
      }
    (file, projected)
  }
}

/** Batch change feed over a pinned version range: emits the change rows
  * of versions (startExclusive, endInclusive] — Delta CDF batch-read
  * semantics — through the same masked reader machinery the streaming
  * change feed uses (DV diffs, dropped-fragment replay, column identity). */
class LanceCdcBatchScan(spark: SparkSession, root: String, manifest: LanceManifest,
                        required: StructType, startExclusive: Long,
                        endInclusive: Long, options: Map[String, String])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"LanceCdcBatchScan root=$root versions=(${startExclusive}, $endInclusive] " +
      s"ReadSchema: ${required.catalogString}"

  private lazy val slices: Seq[LanceFileSlice] =
    LanceChangeFeed.slices(root, Shim.hadoopConf(spark, options),
      required.fieldNames.toSet, startExclusive, endInclusive)

  override def planInputPartitions(): Array[InputPartition] =
    slices.map(LanceInputPartition.of(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new LanceMaskedReaderFactory(
      LanceReadGroup.build(spark, manifest.schema, required, Seq.empty, options,
        slices.map(_.colMap).distinct),
      limit = None,
      Shim.serializableConf(Shim.hadoopConf(spark, options)))
}

/** Aggregate-pushdown result materialized from manifest stats — the scan
  * reads zero data files. One row for a global aggregate; one row per
  * group for the single-valued-fragment GROUP BY pushdown (row count is
  * O(groups), bounded by the fragment count — driver-size safe). */
class LanceStatsScan(root: String, aggSchema: StructType, rows: Seq[Array[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"LanceStatsScan root=$root PushedAggregates: ${aggSchema.fieldNames.mkString("[", ", ", "]")} (answered from manifest stats)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(LanceStatsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val it = partition.asInstanceOf[LanceStatsPartition].rows.iterator
        private var current: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { current = new GenericInternalRow(it.next()); true } else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
  }
}

case class LanceStatsPartition(rows: Seq[Array[Any]]) extends InputPartition
