package graft.sources.v2

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.paths.SparkPath
import org.apache.spark.util.SerializableConfiguration

import graft.sources._

/** ScanBuilder with the full pushdown surface the reference lacks or
  * implements unsoundly (SURVEY.md §2 O9-O13, §4):
  *
  *  - **Filters** (`SupportsPushDownFilters`): split typed — filters
  *    referencing only partition columns are evaluated exactly
  *    client-side against each `FileAction.partitionValues` (the
  *    reference trusts advisory server hints); data filters are
  *    translated to `jsonPredicateHints` for server file pruning AND
  *    handed to the parquet reader for row-group pruning, and are
  *    ALSO returned to Spark as residuals so correctness never
  *    depends on pushdown (the reference consumes all filters and
  *    silently drops untranslatable shapes,
  *    `duck_delta_share_extension.cpp:492`).
  *  - **Columns** (`SupportsPushDownRequiredColumns`): the reference
  *    always reads `SELECT *` (`:578`); here pruning reaches the
  *    parquet scan.
  *  - **Limit** (`SupportsPushDownLimit`): wired to the protocol's
  *    `limitHint` (a dead parameter in the reference,
  *    `delta_sharing_client.cpp:387-389`).
  */
class DeltaShareScanBuilder(
    spark: SparkSession,
    addr: TableAddress,
    meta: TableMetadata,
    tableSchema: StructType,
    hadoopConf: Configuration,
    streamStartingVersion: Option[Long] = None,
    streamIgnoreDeletes: Boolean = false,
    streamMaxVersionsPerTrigger: Option[Long] = None)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates {

  private val partitionCols =
    ColumnMapping.logicalPartitionColumns(meta).toSet
  private val partitionSchema = StructType(
    ColumnMapping.logicalPartitionColumns(meta)
      .flatMap(c => tableSchema.fields.find(_.name == c)))
  private val dataSchema = StructType(
    tableSchema.fields.filterNot(f => partitionCols.contains(f.name)))

  private var requiredSchema: StructType = tableSchema
  private var partitionFilters: Array[Filter] = Array.empty
  private var dataFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  /** Outer None = aggregate pushdown not yet probed; Some(None) = a
    * probe ran and REFUSED (cached — the probe issues a plan-time
    * `/query` POST, and Spark re-probes via pushAggregation after a
    * supportCompletePushDown refusal, which must not pay a second
    * round trip). [[aggProbedKey]] records WHICH aggregation the cache
    * answers: Spark currently probes one aggregation per builder, but
    * if a different one ever arrives the plan is recomputed instead of
    * serving rows computed for the earlier shape. */
  private var aggResult: Option[Option[(StructType, Seq[InternalRow])]] = None
  private var aggProbedKey: String = ""

  private def aggKey(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): String =
    agg.groupByExpressions.map(_.describe()).mkString(",") + "|" +
      agg.aggregateExpressions.map(_.describe()).mkString(",")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pf, df) = filters.partition(
      PartitionValues.isPartitionOnly(_, partitionCols))
    partitionFilters = pf
    dataFilters = df
    // Partition filters whose shape the client-side evaluator decides
    // for every possible value (PartitionValues.isExact) are fully
    // applied by file pruning; every other partition filter is
    // returned as a residual so Spark re-evaluates it above the scan —
    // claiming an undecidable shape as applied would return wrong
    // rows. Data filters reach parquet row-group stats but are inexact
    // there, so they are always residuals.
    val inexactPartitionFilters =
      pf.filterNot(PartitionValues.isExact(_, partitionSchema))
    df ++ inexactPartitionFilters
  }

  override def pushedFilters(): Array[Filter] =
    partitionFilters ++ dataFilters

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  // ---- SupportsPushDownOffset ---------------------------------------
  //
  // COMPLETE pushdown (Spark removes the Offset operator), applied as
  // an EXACT row skip over the listed files in server order: files
  // wholly inside the offset never open (their partitions are not even
  // planned), the boundary file's reader drops its leading surviving
  // rows, everything after reads normally. Sound because OFFSET over
  // an unordered scan may skip ANY n rows — this implementation's
  // choice (listed-order prefix) is one valid execution. Accepted only
  // when the skip can be proven exact at plan time:
  //  - no residual data filters and client-exact partition filters
  //    (offset applies AFTER filters; a residual re-applied above the
  //    scan would make any pre-filter skip wrong);
  //  - no pushed topN (offset must apply after the sort Spark keeps)
  //    and no already-pushed limit (that pattern applies the limit
  //    BEFORE the offset);
  //  - every surviving file carries stats.numRecords, so whole-file
  //    skip counts are exact (DV cardinalities subtract exactly; the
  //    boundary file's partial skip runs AFTER the reader's DV
  //    anti-filter, so it drops surviving rows). Probed with one
  //    plan-time /query POST — the aggregate path's precedent.
  // A limit pushed AFTER the offset composes: the scan skips first,
  // Spark re-applies the limit above (limitHint covers offset+limit).
  private var offset: Option[Int] = None

  /** The offset probe's raw `/query` response, kept so the scan can
    * REUSE it instead of issuing a second POST: the probe runs with
    * exactly the hints the scan itself would send (offset acceptance
    * requires no data filters, and no limit is pushed at probe time,
    * so no `limitHint` either) — one server round-trip per
    * offset-bearing plan instead of two. A limit pushed after the
    * offset invalidates the reuse (the scan then wants
    * `limitHint = limit + offset`) and the scan re-queries. */
  private var offsetProbe: Option[TableFiles] = None

  /** One plan-time `/query` POST under the pushed partition filters,
    * and the exact client-side partition pass over its files: the raw
    * response, and the same file set a row-reading scan of this query
    * would read. */
  private def probeFiles(): (TableFiles, Seq[FileAction]) = {
    val resp = new DeltaSharingClient(addr.profile)
      .queryTable(addr.share, addr.schema, addr.table,
        jsonPredicateHints = PredicateHints.buildHints(
          partitionFilters.toSeq,
          StructType(dataSchema.fields ++ partitionSchema.fields))._1,
        predicateHints = PredicateHints.legacyHints(
          partitionFilters.toSeq, partitionSchema),
        version = addr.versionAsOf,
        timestamp = addr.timestampAsOf)
    (resp, resp.files.filter(f => partitionFilters.forall(
      PartitionValues.evalFilter(_, f.partitionValues, partitionSchema))))
  }

  override def pushOffset(n: Int): Boolean = {
    if (n <= 0) return false
    if (dataFilters.nonEmpty || topN.isDefined || limit.isDefined ||
        !partitionFilters.forall(PartitionValues.isExact(_, partitionSchema)))
      return false
    val (resp, files) =
      try probeFiles()
      catch {
        case e: Exception =>
          // refusing is CORRECT (Spark keeps the Offset operator) but
          // must be observable: a flaky server silently degrading
          // every offset plan is otherwise undiagnosable
          DeltaShareScanBuilder.log.warn(
            s"offset pushdown refused for ${addr.share}.${addr.schema}" +
              s".${addr.table}: plan-time /query probe failed", e)
          return false
      }
    if (!files.forall(_.stats.flatMap(FileStats.parse)
        .exists(_.numRecords.isDefined))) {
      DeltaShareScanBuilder.log.info(
        s"offset pushdown refused for ${addr.share}.${addr.schema}" +
          s".${addr.table}: a surviving file carries no numRecords " +
          "stat, so the prefix skip cannot be proven exact")
      return false
    }
    offset = Some(n)
    offsetProbe = Some(resp)
    true
  }

  // ---- SupportsPushDownTopN ----------------------------------------
  //
  // Sort + limit over the scan: PARTIAL pushdown (Spark keeps the
  // final sort+limit; `isPartiallyPushed` above covers both limit and
  // topN) used purely for FILE PRUNING from per-file min/max stats —
  // a file whose best possible row is provably outside the top-N
  // boundary of the first sort key never opens. Completes the
  // pushdown matrix (filters / columns / limit / aggregates / topN).
  // The protocol `limitHint` is NOT set for topN: limitHint tells the
  // server "any N rows satisfy this scan", which is true for a plain
  // limit but wrong for a sorted one.
  private var topN: Option[TopNSpec] = None

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    // sound only when every filter is fully applied by file pruning:
    // the prune guarantee counts rows of OTHER files, and a residual
    // filter could remove exactly those rows after the scan
    if (dataFilters.nonEmpty || offset.isDefined ||
        !partitionFilters.forall(PartitionValues.isExact(_, partitionSchema)))
      return false
    if (orders.isEmpty || n <= 0) return false
    // only the FIRST sort key prunes — a strict bound on the primary
    // key is sound regardless of tie-breaking by later keys. Integral
    // and date DATA columns only: float/double stats are NaN/-0.0
    // hazards (the statSafe rule) and string stats may be truncated.
    val field = orders.head.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(_.name == r.fieldNames.head) match {
          case Some(f) if f.dataType == ByteType || f.dataType == ShortType ||
              f.dataType == IntegerType || f.dataType == LongType ||
              f.dataType == DateType => f
          case _ => return false
        }
      case _ => return false
    }
    topN = Some(TopNSpec(field,
      asc = orders.head.direction() == SortDirection.ASCENDING,
      nullsFirst = orders.head.nullOrdering() == NullOrdering.NULLS_FIRST,
      n = n))
    true
  }

  // ---- SupportsPushDownAggregates ----------------------------------
  //
  // COUNT(*)/MIN/MAX answered ENTIRELY from the per-file stats the
  // server already ships with each FileAction — zero parquet bytes
  // read, the metadata-only fast path every lakehouse engine grows
  // eventually (the reference reads full files even for COUNT(*)).
  // Only COMPLETE pushdown is offered, and only when provably exact:
  //  - no data filters / limit, all partition filters client-exact
  //    (file pruning then equals row-level semantics);
  //  - every surviving file carries the needed stat — one missing
  //    numRecords or min/max refuses the pushdown and Spark falls
  //    back to reading rows;
  //  - MIN/MAX only on numeric/date DATA columns (string stats may be
  //    truncated per the Delta protocol — fine for range pruning,
  //    unsound as an exact extremum).

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val key = aggKey(agg)
    if (aggResult.isEmpty || aggProbedKey != key) {
      aggProbedKey = key
      aggResult = Some(planAggregation(agg))
    }
    aggResult.get.isDefined
  }

  /** Partial aggregate pushdown is refused — this source answers
    * aggregates from stats exactly or not at all. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(agg)

  private def planAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (dataFilters.nonEmpty || limit.isDefined || offset.isDefined ||
        !partitionFilters.forall(PartitionValues.isExact(_, partitionSchema)))
      return None
    // GROUP BY only on partition columns: each file belongs to exactly
    // one group (its partitionValues), so per-group aggregates are
    // per-group sums/extrema of per-file stats
    val groupFields: Seq[StructField] = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 &&
          partitionSchema.fieldNames.contains(r.fieldNames.head) =>
        partitionSchema(r.fieldNames.head)
      case _ => return None
    }
    def dataField(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.types.StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(_.name == r.fieldNames.head).filter(f =>
          f.dataType.isInstanceOf[NumericType] || f.dataType == DateType)
      case _ => None
    }
    // Floating columns are excluded from stats-answered extrema
    // entirely: Spark orders NaN ABOVE every float/double while stats
    // writers may exclude NaN from maxValues (a file [1.0, NaN] with
    // maxValues=1.0 must answer MAX = NaN), and stat writers may
    // sign-normalize zero (emit -0.0 as min when only +0.0 exists), so
    // even MIN can differ bit-wise from the row-read answer.
    def statSafe(f: org.apache.spark.sql.types.StructField): Boolean =
      f.dataType != FloatType && f.dataType != DoubleType
    sealed trait Spec
    case object CountSpec extends Spec
    case class MinSpec(f: org.apache.spark.sql.types.StructField) extends Spec
    case class MaxSpec(f: org.apache.spark.sql.types.StructField) extends Spec
    val specs: Seq[Spec] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CountSpec
      case m: Min => dataField(m.column).filter(statSafe).map(MinSpec)
        .getOrElse(return None)
      case m: Max => dataField(m.column).filter(statSafe).map(MaxSpec)
        .getOrElse(return None)
      case _ => return None
    }
    val files = try probeFiles()._2 catch { case _: Exception => return None }
    // a DV-bearing file's stats count DELETED rows too (numRecords,
    // and potentially extrema sitting on deleted rows) — stats-only
    // answers would be wrong, so refuse and fall back to reading rows
    // (where the reader applies the DV anti-filter)
    if (files.exists(_.deletionVector.isDefined)) return None
    val withStats = files.map(f => f -> f.stats.flatMap(FileStats.parse))
    if (!withStats.forall(_._2.exists(_.numRecords.isDefined))) return None
    // a zero-record file contributes no rows, hence no group
    val live = withStats.collect {
      case (f, Some(st)) if st.numRecords.get > 0 => (f, st)
    }
    val groupSchema = StructType(groupFields)
    def aggValues(stats: Seq[FileStats.Stats]): Option[Seq[Any]] =
      Some(specs.map {
        case CountSpec => stats.map(_.numRecords.get).sum
        case MinSpec(f) =>
          extremum(stats, f, minSide = true).getOrElse(return None)
        case MaxSpec(f) =>
          extremum(stats, f, minSide = false).getOrElse(return None)
      })
    val rows: Seq[InternalRow] =
      if (groupFields.isEmpty) {
        Seq(InternalRow.fromSeq(aggValues(live.map(_._2)).getOrElse(return None)))
      } else {
        // group by the TYPED partition value, not the raw string — two
        // files whose strings differ but cast equal (e.g. '1' vs '01'
        // from a non-canonical writer) are one group, exactly as a
        // row-reading scan would emit them
        live.groupBy { case (f, _) =>
          groupFields.map(g => PartitionValues.castInternal(
            f.partitionValues.getOrElse(g.name, null), g.dataType))
        }.toSeq.map { case (key, group) =>
          val aggs = aggValues(group.map(_._2)).getOrElse(return None)
          InternalRow.fromSeq(key ++ aggs)
        }
      }
    val schema = StructType(groupFields ++ specs.zipWithIndex.map {
      case (CountSpec, i) => StructField(s"count_$i", LongType, nullable = false)
      case (MinSpec(f), i) => StructField(s"min_$i", f.dataType, nullable = true)
      case (MaxSpec(f), i) => StructField(s"max_$i", f.dataType, nullable = true)
    })
    Some((schema, rows))
  }

  /** Exact MIN/MAX of a column across files, from stats. Outer None =
    * refuse the pushdown (a file has rows but no stat for the column);
    * inner `Some(null)` = a valid SQL NULL (no non-null rows at all).
    * A file contributes nothing when all its rows are null in `f`
    * (nullCount == numRecords). */
  private def extremum(stats: Seq[FileStats.Stats],
      f: org.apache.spark.sql.types.StructField,
      minSide: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    val perFile: Seq[Option[Any]] = stats.map { st =>
      val node =
        if (minSide) st.minValues.get(f.name) else st.maxValues.get(f.name)
      node match {
        case Some(n) =>
          try {
            f.dataType match {
              case ByteType => Some(Some(n.asInt().toByte))
              case ShortType => Some(Some(n.asInt().toShort))
              case IntegerType => Some(Some(n.asInt()))
              case LongType => Some(Some(n.asLong()))
              // Float/Double never reach here (statSafe refuses them)
              case DateType =>
                Some(Some(java.time.LocalDate.parse(n.asText()).toEpochDay.toInt))
              case _ => None
            }
          } catch { case _: Exception => None }
        case None =>
          // no stat: sound only if the file provably has no non-null
          // values in this column
          if (st.numRecords.exists(nr => st.nullCount.get(f.name).contains(nr)))
            Some(None)
          else None
      }
    }.map {
      case None => return None // refuse
      case Some(v) => v
    }
    val present = perFile.flatten
    if (present.isEmpty) Some(null)
    else {
      def key(v: Any): Double = v match {
        case b: Byte => b.toDouble
        case s: Short => s.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case fl: Float => fl.toDouble
        case d: Double => d
      }
      // Long beyond 2^53 would lose precision in a double key — order
      // longs by themselves
      val best = f.dataType match {
        case LongType =>
          val ls = present.map(_.asInstanceOf[Long])
          if (minSide) ls.min else ls.max
        case _ =>
          if (minSide) present.minBy(key) else present.maxBy(key)
      }
      Some(best)
    }
  }

  override def build(): Scan = aggResult.flatten match {
    case Some((schema, rows)) =>
      new DeltaShareAggScan(addr, schema, rows)
    case None => new DeltaShareScan(
      spark, addr, meta, dataSchema, partitionSchema, requiredSchema,
      partitionFilters, dataFilters, limit, hadoopConf,
      streamStartingVersion, streamIgnoreDeletes,
      streamMaxVersionsPerTrigger, topN, offset, offsetProbe)
  }
}

object DeltaShareScanBuilder {
  private[v2] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[DeltaShareScanBuilder])
}

/** A pushed top-N: the first sort key's field, direction, null
  * placement, and the row count — everything the stats-based file
  * prune needs ([[TopNFilePrune]]). */
final case class TopNSpec(
    field: org.apache.spark.sql.types.StructField,
    asc: Boolean,
    nullsFirst: Boolean,
    n: Int)

/** Top-N file pruning: drop every file whose BEST possible row for
  * the pushed sort provably cannot reach the top `n` — there exist
  * `≥ n` rows in OTHER files that sort STRICTLY before anything this
  * file holds. The guarantee counts, per other file `g` with complete
  * stats, its surviving non-null rows when `g`'s worst value strictly
  * beats this file's best (`g.max < f.min` for ASC, `g.min > f.max`
  * for DESC), plus — under NULLS FIRST — every file's surviving null
  * rows (nulls sort before all values; a file is then only prunable
  * when provably null-free, since pruning would drop its own leading
  * nulls). DV-bearing files subtract their cardinality from BOTH
  * terms (the deleted rows might be any of them); files with missing
  * stats contribute nothing to guarantees and are never pruned.
  * Strict inequality keeps boundary ties candidates, so the final
  * sort + limit Spark runs above (partial pushdown) sees every row
  * that could appear in ANY correct answer (soundness fuzzed in
  * ScanStatsSpec).
  *
  * Driver cost: one sort of the per-file bound table + a binary
  * search per file — O(F log F) on the already-listed file set. */
private[graft] object TopNFilePrune {
  def prune(files: Seq[graft.sources.FileAction],
      spec: TopNSpec): Seq[graft.sources.FileAction] = {
    import org.apache.spark.sql.types._
    def longOf(n: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
      spec.field.dataType match {
        case DateType =>
          try Some(java.time.LocalDate.parse(n.asText()).toEpochDay)
          catch { case _: Exception => None }
        case _ =>
          if (n.isIntegralNumber) Some(n.asLong()) else None
      }
    case class Info(nr: Option[Long], nulls: Option[Long],
        mn: Option[Long], mx: Option[Long], dvc: Long)
    val infos = files.map { f =>
      val st = f.stats.flatMap(FileStats.parse)
      Info(
        nr = st.flatMap(_.numRecords),
        nulls = st.flatMap(_.nullCount.get(spec.field.name)),
        mn = st.flatMap(_.minValues.get(spec.field.name)).flatMap(longOf),
        mx = st.flatMap(_.maxValues.get(spec.field.name)).flatMap(longOf),
        dvc = f.deletionVector.map(_.cardinality).getOrElse(0L))
    }
    // (worst value for the sort, surviving non-null rows) per file
    // with complete stats — the sorted prefix-sum table the strict
    // binary search below runs against
    val contrib = infos.flatMap { i =>
      for {
        nr <- i.nr; nulls <- i.nulls
        worst <- if (spec.asc) i.mx else i.mn
      } yield (worst, math.max(0L, nr - nulls - i.dvc))
    }.sortBy(t => if (spec.asc) t._1 else -t._1)
    val prefix = contrib.scanLeft(0L)(_ + _._2)
    val totalNullSurv = infos.flatMap(i =>
      i.nulls.map(n => math.max(0L, n - i.dvc))).sum
    // strictly-better count for a best-value b: rows of files whose
    // worst value beats b (ASC: worst < b; DESC: worst > b)
    def strictlyBetter(b: Long): Long = {
      var lo = 0
      var hi = contrib.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val beats =
          if (spec.asc) contrib(mid)._1 < b else contrib(mid)._1 > b
        if (beats) lo = mid + 1 else hi = mid
      }
      prefix(lo)
    }
    files.zip(infos).collect {
      case (f, i) if {
        val best = if (spec.asc) i.mn else i.mx
        best match {
          case None => true // no stats -> never pruned
          case Some(b) =>
            val nullTerm = if (spec.nullsFirst) totalNullSurv else 0L
            val ownNullsOk = !spec.nullsFirst || i.nulls.contains(0L)
            !(ownNullsOk && strictlyBetter(b) + nullTerm >= spec.n)
        }
      } => f
    }
  }
}

/** Completely-pushed aggregate: the answer was computed on the driver
  * from per-file stats — `LocalScan`, so Spark plans a local table
  * scan and NO file is opened. One row per group (one total row for
  * the ungrouped form). */
final class DeltaShareAggScan(
    addr: TableAddress,
    schema: StructType,
    resultRows: Seq[InternalRow])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[InternalRow] = resultRows.toArray
  override def readSchema(): StructType = schema
  override def description(): String =
    s"DeltaShareAggScan ${addr.share}.${addr.schema}.${addr.table} " +
      s"[stats-only aggregate: ${schema.fieldNames.mkString(", ")}]"
}

/** Batch scan: one `InputPartition` per shared file — Spark
  * parallelizes what the reference streams serially
  * (`duck_delta_share_extension.cpp:569-575`). The `/query` POST
  * happens once on the driver at planning time; executors then pull
  * presigned URLs directly. */
class DeltaShareScan(
    spark: SparkSession,
    addr: TableAddress,
    meta: TableMetadata,
    dataSchema: StructType,
    partitionSchema: StructType,
    requiredSchema: StructType,
    partitionFilters: Array[Filter],
    dataFilters: Array[Filter],
    limit: Option[Int],
    hadoopConf: Configuration,
    streamStartingVersion: Option[Long] = None,
    streamIgnoreDeletes: Boolean = false,
    streamMaxVersionsPerTrigger: Option[Long] = None,
    topN: Option[TopNSpec] = None,
    offset: Option[Int] = None,
    probedQuery: Option[TableFiles] = None) extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val partitionColNames = partitionSchema.fieldNames.toSet

  /** Runtime (DPP) filters pushed after planning starts — Spark sends
    * these for joins on partition columns; they prune the file list
    * exactly like static partition filters. */
  private var runtimeFilters: Array[Filter] = Array.empty
  private val requiredDataSchema = StructType(
    requiredSchema.fields.filterNot(f => partitionColNames.contains(f.name)))
  private val requiredPartitionSchema = StructType(
    requiredSchema.fields.filter(f => partitionColNames.contains(f.name)))

  /** Reader output order: required data columns then required
    * partition columns (what the parquet reader closure emits). */
  override def readSchema(): StructType =
    StructType(requiredDataSchema.fields ++ requiredPartitionSchema.fields)

  override def toBatch: Batch = this

  /** Streaming form of this scan: version-offset micro-batches over
    * the `/changes` endpoint (see [[DeltaShareMicroBatchStream]]).
    * Column pruning applies (required schemas flow through); filters
    * stay residuals above the stream. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new DeltaShareMicroBatchStream(spark, addr, meta, dataSchema,
      partitionSchema, requiredDataSchema, requiredPartitionSchema,
      hadoopConf, streamStartingVersion, streamIgnoreDeletes,
      streamMaxVersionsPerTrigger)

  override def description(): String =
    s"DeltaShareScan ${addr.share}.${addr.schema}.${addr.table} " +
      s"[files pruned by ${partitionFilters.length} partition filter(s), " +
      s"hints from ${dataFilters.length} data filter(s), limit=$limit" +
      topN.map(t => s", pushedTopN=${t.field.name} " +
        s"${if (t.asc) "ASC" else "DESC"} n=${t.n}").getOrElse("") +
      offset.map(o => s", pushedOffset=$o").getOrElse("") + "]"

  private lazy val jsonHints: Option[String] = PredicateHints.buildHints(
    (partitionFilters ++ dataFilters).toSeq,
    StructType(dataSchema.fields ++ partitionSchema.fields))._1

  /** Legacy SQL-string `predicateHints` — older servers prune on these
    * only (the reference always sends the field,
    * `delta_sharing_client.cpp:381-384`). */
  private lazy val legacyHints: Seq[String] = PredicateHints.legacyHints(
    partitionFilters.toSeq, partitionSchema)

  /** The protocol `limitHint`: with a pushed offset the server must
    * keep enough rows for the skip AND the limit above it. */
  private def limitHint: Option[Long] =
    limit.map(l => l.toLong + offset.getOrElse(0).toLong)

  /** Everything an executor needs to re-issue this scan's `/query`
    * when a presigned URL expires mid-task. */
  private def refreshSpec = PresignedUrlCache.RefreshSpec(
    addr.profile, addr.share, addr.schema, addr.table,
    jsonHints, legacyHints, limitHint, addr.versionAsOf,
    timestamp = addr.timestampAsOf)

  /** One `/query` POST per scan, memoized — statistics estimation and
    * partition planning share it. An offset-bearing plan does not
    * even pay that one: the pushOffset probe's response is handed
    * through ([[DeltaShareScanBuilder.pushOffset]] sends identical
    * hints) unless a limit was pushed after the offset, in which case
    * the scan re-queries to get `limitHint = limit + offset` file
    * trimming. */
  private lazy val queriedFiles: Seq[graft.sources.FileAction] = {
    val resp = probedQuery.filter(_ => limit.isEmpty).getOrElse {
      val client = new DeltaSharingClient(addr.profile)
      client.queryTable(addr.share, addr.schema, addr.table,
        jsonPredicateHints = jsonHints, predicateHints = legacyHints,
        limitHint = limitHint, version = addr.versionAsOf,
        timestamp = addr.timestampAsOf)
    }
    // Time travel: the plan's schema came from head-version metadata;
    // if the requested version's metaData line disagrees, reading its
    // files with the newer schema would silently mis-decode — fail
    // loudly instead (schema evolution across shared versions is out
    // of scope, as in the reference).
    if ((addr.versionAsOf.isDefined || addr.timestampAsOf.isDefined) &&
        resp.metadata.schemaString.nonEmpty &&
        meta.schemaString.nonEmpty &&
        resp.metadata.schemaString != meta.schemaString)
      throw new DeltaSharingException(0,
        s"table ${addr.share}.${addr.schema}.${addr.table} at " +
          addr.versionAsOf.map(v => s"version $v")
            .getOrElse(s"timestamp ${addr.timestampAsOf.get}") +
          " has a different schema than the " +
          "current version; reading across schema changes is not supported")
    resp.files
  }

  /** Exact client-side partition pruning (static + runtime filters) —
    * hints are advisory per the Delta Sharing spec, so never trust the
    * server's file list alone. */
  private def prunedFiles: Seq[graft.sources.FileAction] =
    queriedFiles.filter { f =>
      (partitionFilters ++ runtimeFilters).forall(
        PartitionValues.evalFilter(_, f.partitionValues, partitionSchema))
    }

  /** Data-skipping on per-file min/max/nullCount stats: drop files a
    * pushed data filter provably cannot match ([[FileStats.canSkip]]
    * — conservative, so missing/unparsable stats keep the file). Data
    * filters stay residuals above the scan, so this is purely a
    * file-open saver — at 100 TB, a selective predicate on a
    * clustered column skips almost every file without any server
    * cooperation. */
  private def statsPrunedFiles: Seq[graft.sources.FileAction] =
    if (dataFilters.isEmpty) prunedFiles
    else prunedFiles.filter { f =>
      f.stats.flatMap(FileStats.parse) match {
        case Some(st) =>
          !dataFilters.exists(FileStats.canSkip(_, st, dataSchema))
        case None => true
      }
    }

  /** Pushed-top-N file pruning ([[TopNFilePrune]]): files whose best
    * possible row provably cannot reach the top-n boundary of the
    * first sort key never open. */
  private def topNPrunedFiles: Seq[graft.sources.FileAction] = topN match {
    case None => statsPrunedFiles
    case Some(spec) => TopNFilePrune.prune(statsPrunedFiles, spec)
  }

  // ---- SupportsRuntimeFiltering (dynamic partition pruning) --------

  override def filterAttributes(): Array[NamedReference] =
    // a pushed offset disables runtime filtering: the Offset operator
    // is GONE from the plan, so the skip's row accounting is part of
    // this scan's result contract — a DPP filter arriving after
    // planning would change the file set out from under it
    if (offset.isDefined) Array.empty
    else partitionSchema.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(
      PartitionValues.isPartitionOnly(_, partitionColNames))

  // ---- SupportsReportStatistics ------------------------------------

  /** Post-pruning size/row estimates so Catalyst can pick broadcast
    * joins over shared tables. Row counts come from the per-file
    * `stats.numRecords` the server sends (when present on all kept
    * files). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = topNPrunedFiles
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_.size).sum)
    override def numRows(): OptionalLong = {
      // stats.numRecords counts PHYSICAL rows incl. DV-deleted ones;
      // subtract the descriptor's cardinality so join-size planning
      // (broadcast decisions) sees the surviving row count
      val counts = files.map(f => f.stats.flatMap(FileStats.parse)
        .flatMap(_.numRecords)
        .map(n => math.max(0L,
          n - f.deletionVector.map(_.cardinality).getOrElse(0L))))
      if (counts.nonEmpty && counts.forall(_.isDefined))
        OptionalLong.of(counts.flatten.sum)
      else OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    def mk(f: graft.sources.FileAction, rowSkip: Long): DeltaShareInputPartition = {
      val presigned =
        f.url.startsWith("http://") || f.url.startsWith("https://")
      val path =
        if (presigned)
          PresignedUrlFileSystem.encode(PresignedUrlCache.fileId(f), f.size)
        else f.url
      DeltaShareInputPartition(path, f.size, f.partitionValues,
        fileId = if (presigned) PresignedUrlCache.fileId(f) else "",
        url = if (presigned) f.url else "",
        dv = f.deletionVector,
        rowSkip = rowSkip)
    }
    offset match {
      case None => topNPrunedFiles.map(mk(_, 0L)).toArray
      case Some(off) =>
        // exact prefix skip in listed order: files wholly inside the
        // offset are never planned (never open); the boundary file's
        // reader drops its leading SURVIVING rows (after the DV
        // anti-filter). pushOffset proved every file carries
        // numRecords at plan time — if the server's answer changed in
        // between, refuse loudly rather than skip inexactly.
        var remaining = off.toLong
        topNPrunedFiles.flatMap { f =>
          if (remaining == 0L) Some(mk(f, 0L))
          else {
            val nr = f.stats.flatMap(FileStats.parse)
              .flatMap(_.numRecords).getOrElse(
                throw new DeltaSharingException(0,
                  s"offset pushdown was accepted but file ${f.url} no " +
                    "longer carries numRecords stats — cannot skip " +
                    "exactly, refusing to serve wrong rows"))
            val surv = math.max(0L,
              nr - f.deletionVector.map(_.cardinality).getOrElse(0L))
            if (surv <= remaining) { remaining -= surv; None }
            else { val r = remaining; remaining = 0L; Some(mk(f, r)) }
          }
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Build Spark's own parquet reader closure (vectorized decode,
    // row-group pruning from pushed data filters, partition-column
    // append) — it is designed to be serialized to executors. Only the
    // REQUIRED partition columns are appended: the reader's output
    // must line up ordinally with readSchema() (requiredDataSchema ++
    // requiredPartitionSchema), so passing the full partitionSchema
    // here would misalign any query projecting a subset of ≥2
    // partition columns.
    // column mapping: hand the parquet reader PHYSICAL column names
    // (renamed positionally from the logical schemas, mapping taken
    // from the TABLE schema's field metadata) — InternalRows are
    // positional, so logical names re-attach for free above the
    // reader. Parquet-level filter pushdown is skipped for mapped
    // tables (logical filter names would not match physical columns);
    // data filters are residuals Spark re-applies, so only the
    // row-group-skip optimization is lost.
    val mapped = ColumnMapping.mode(meta).isDefined
    def phys(schema: StructType): StructType =
      if (mapped) ColumnMapping.toPhysical(schema,
        StructType(dataSchema.fields)) else schema
    def buildRead(filters: Seq[Filter]) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = phys(dataSchema),
        partitionSchema = requiredPartitionSchema,
        requiredSchema = phys(requiredDataSchema),
        filters = if (mapped) Nil else filters,
        options = Map(
          "returning_batch" -> "false",
          "mergeSchema" -> "false"),
        hadoopConf = hadoopConf)
    // DV-bearing files read with NO parquet-level filters: row-group /
    // page skipping would break the physical row-index correspondence
    // the anti-filter depends on. Safe because every data filter is a
    // RESIDUAL (pushFilters) that Spark re-applies above the scan —
    // only the pushdown optimization is lost, and only for DV files.
    DeltaSharePartitionReaderFactory(buildRead(dataFilters.toSeq),
      buildRead(Nil), requiredPartitionSchema,
      new SerializableConfiguration(hadoopConf), refreshSpec)
  }
}

final case class DeltaShareInputPartition(
    path: String,
    size: Long,
    partitionValues: Map[String, String],
    fileId: String,
    url: String,
    /** CDF scans: this file carries a per-row `_change_type` column
      * (see [[DeltaShareChangesScan]]); always false for batch scans. */
    isCdf: Boolean = false,
    /** Deletion-vector descriptor for THIS file, when present: the
      * reader fetches + decodes it task-side and anti-filters by
      * physical row index. */
    dv: Option[graft.sources.DeletionVectors.Descriptor] = None,
    /** Pushed-offset boundary file: drop this many leading SURVIVING
      * rows (applied after the DV anti-filter); 0 everywhere else. */
    rowSkip: Long = 0L)
  extends InputPartition

final case class DeltaSharePartitionReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    readFuncUnfiltered: PartitionedFile => Iterator[InternalRow],
    partitionSchema: StructType,
    conf: SerializableConfiguration,
    refreshSpec: PresignedUrlCache.RefreshSpec) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DeltaShareInputPartition]
    // Executor-side id→URL registration: the graftds path carries only
    // an opaque file id (presigned URLs must not leak into paths/UI);
    // registerIfAbsent so a task retry never clobbers a URL an expiry
    // refresh already renewed.
    if (p.fileId.nonEmpty)
      PresignedUrlCache.register(p.fileId, p.url, refreshSpec)
    val pf = PartitionedFile(
      partitionValues =
        PartitionValues.toInternalRow(p.partitionValues, partitionSchema),
      filePath = SparkPath.fromUrlString(p.path),
      start = 0L,
      length = p.size,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = p.size,
      otherConstantMetadataColumnValues = Map.empty)
    // the parquet closure may emit ColumnarBatch disguised as
    // InternalRow (vectorized path); flatten to rows for DSv2
    import scala.jdk.CollectionConverters._
    val read = if (p.dv.isDefined) readFuncUnfiltered else readFunc
    val raw: Iterator[InternalRow] =
      read(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case row: InternalRow => Iterator.single(row)
      }
    // deletion-vector application: the partition is one WHOLE file
    // read in physical order with no parquet-level skipping, so the
    // iterator position IS the file row index — a merge-walk against
    // the decoded ascending positions drops exactly the deleted rows
    val surviving: Iterator[InternalRow] = p.dv match {
      case None => raw
      case Some(dv) =>
        val deleted = graft.sources.DeletionVectors.positions(dv)
        var pos = -1L
        var di = 0
        raw.filter { _ =>
          pos += 1
          while (di < deleted.length && deleted(di) < pos) di += 1
          !(di < deleted.length && deleted(di) == pos)
        }
    }
    // pushed-offset boundary skip: leading surviving rows of THIS file
    // fall inside the global offset (whole-file skips never reach here
    // — their partitions are not planned)
    val rows: Iterator[InternalRow] =
      if (p.rowSkip == 0L) surviving
      else surviving.drop(
        math.min(p.rowSkip, Int.MaxValue.toLong).toInt)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
