package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The [[SnapshotTable]] as a PLANNER-INTEGRATED read: a DSv2
  * `TableProvider` whose `ScanBuilder` receives Catalyst's pushed
  * filters and drives the metadata-pyramid descent with them, so
  *
  * {{{
  *   spark.read.format("graft.sources.SnapshotTableSource")
  *     .option("path", dir)                // + versionAsOf for travel
  *     .load().filter($"price" >= 100000)
  * }}}
  *
  * prunes data files exactly like a hand-called [[SnapshotTable.scan]]
  * — no side API, the predicate arrives through the optimizer like any
  * parquet scan's.
  *
  * Pushdown is ADVISORY by construction: `pushFilters` keeps EVERY
  * filter as a residual (Spark re-evaluates them over the scan
  * output), and the accepted subset only narrows which files the scan
  * opens — a missed translation can only widen the read, never wrong
  * it. Translated shapes: =, <, <=, >, >= (strict inequalities prune
  * as their closed forms — sound), IS NOT NULL (drops all-null files),
  * and conjunctions; anything else is simply not used for pruning.
  *
  * The scan itself is a [[V1Scan]]: planning resolves the candidate
  * file list on the driver (O(metadata)), and the relation body
  * delegates to [[SnapshotTable.scan]] — the tombstone-applying
  * distributed read — rather than re-implementing a parquet
  * PartitionReader. This is the same v2-plans/v1-executes shape
  * Spark's own JDBC source uses, and it keeps ONE read path for
  * manual and SQL access.
  */
class SnapshotTableSource extends TableProvider {
  private def pathOf(m: java.util.Map[String, String]): String =
    Option(m.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-snapshot: 'path' option required"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotTableSource.schemaOf(pathOf(options),
      Option(options.get("versionAsOf")).map(_.toInt))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    new SnapshotV2Table(pathOf(properties),
      opts.get("versionAsOf").map(_.toInt), schema, opts)
  }
}

object SnapshotTableSource {
  private[sources] def schemaOf(path: String,
      version: Option[Int]): StructType = {
    val v = version.orElse(SnapshotTable.latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot: no committed snapshot in $path"))
    SnapshotTable.readSchema(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot: $path v$v has no committed schema (written " +
          "before schema tracking) - read it via SnapshotTable.read"))
  }

  /** Planning evidence of the most recent scan built in this JVM —
    * (files opened, files total), the strict-subset counter the plan
    * audit pins. Diagnostics only; concurrent scans may interleave.
    */
  @volatile var lastPlanned: Long = -1L
  @volatile var lastTotal: Long = -1L

  /** True when the most recent scan answered a pushed AGGREGATION from
    * manifest metadata alone (zero data files opened).
    */
  @volatile var lastAggPushed: Boolean = false

  /** DNF blow-up guard: a filter whose disjunctive normal form exceeds
    * this many conjunctions is not used for pruning (it still applies
    * as a residual) — sound, just un-pruned.
    */
  private val DnfCap = 64

  /** Pushed filter → its disjunctive normal form over the planner's
    * leaf tests ([[SnapshotTable.FileTest]]): ranges (strict
    * inequalities prune as their closed forms — sound), point/IN key
    * sets (which additionally probe the manifest blooms), IS NOT NULL
    * (drops all-null files), conjunctions (an untranslatable conjunct
    * DROPS — widening is sound), and DISJUNCTIONS (a union of ranges —
    * the two-band backfill shape — plans as any-disjunct-hits per
    * file; an untranslatable DISJUNCT kills the whole Or, since
    * dropping one would narrow the read). None = not translatable; it
    * still applies as a residual.
    */
  private[sources] def toDnf(f: Filter)
      : Option[Seq[Seq[SnapshotTable.FileTest]]] = f match {
    case sources.EqualTo(a, v) if v != null =>
      Some(Seq(Seq(SnapshotTable.InTest(a, Seq(v)))))
    case sources.EqualNullSafe(a, v) if v != null =>
      // `<=>` with a non-null literal matches exactly the rows = v
      Some(Seq(Seq(SnapshotTable.InTest(a, Seq(v)))))
    case sources.In(a, vs) if vs != null && vs.exists(_ != null) =>
      Some(Seq(Seq(SnapshotTable.InTest(a,
        vs.toIndexedSeq.filter(_ != null)))))
    case sources.GreaterThan(a, v) if v != null =>
      Some(Seq(Seq(SnapshotTable.RangeTest(a, Some(v), None))))
    case sources.GreaterThanOrEqual(a, v) if v != null =>
      Some(Seq(Seq(SnapshotTable.RangeTest(a, Some(v), None))))
    case sources.LessThan(a, v) if v != null =>
      Some(Seq(Seq(SnapshotTable.RangeTest(a, None, Some(v)))))
    case sources.LessThanOrEqual(a, v) if v != null =>
      Some(Seq(Seq(SnapshotTable.RangeTest(a, None, Some(v)))))
    case sources.IsNotNull(a) =>
      Some(Seq(Seq(SnapshotTable.RangeTest(a, None, None))))
    case sources.And(l, r) => (toDnf(l), toDnf(r)) match {
      case (Some(a), Some(b)) if a.size * b.size <= DnfCap =>
        Some(for { x <- a; y <- b } yield x ++ y)
      case (Some(a), None) => Some(a) // drop the untranslatable conjunct
      case (None, Some(b)) => Some(b)
      case _ => None
    }
    case sources.Or(l, r) => (toDnf(l), toDnf(r)) match {
      case (Some(a), Some(b)) if a.size + b.size <= DnfCap =>
        Some(a ++ b)
      case _ => None // a dropped disjunct would NARROW the read: unsound
    }
    case _ => None
  }
}

private[sources] class SnapshotV2Table(path: String, version: Option[Int],
    schema0: StructType, tableOpts: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String = s"graft_snapshot($path)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new SnapshotScanBuilder(path, version, schema0,
      tableOpts ++ options.asScala)

  // ---- DSv2 WRITE: append through the claim/nonce commit machinery ----
  // The write is a V1Write (the twin of the read side's V1Scan —
  // v2-plans/v1-executes): Catalyst routes `df.write.format(...)
  // .mode("append")` / `INSERT INTO` here, and the InsertableRelation
  // body delegates to [[SnapshotTable.commitAppend]] — ONE write path
  // for manual and SQL ingest, with the claim CAS, the stale-lease
  // nonce, the crash-window sweep and the atomic pointer swing all
  // inherited rather than re-implemented. A failed job publishes
  // NOTHING (the pointer never swings; the next commit sweeps the
  // orphans). Write options: `zcol` (cluster column; default = the
  // first stat-carrying column), `nFiles` (layout width, default 8),
  // `bloomCols` (comma-separated manifest-bloom columns), and
  // `batchId`+`writerId` for the exactly-once foreachBatch shape
  // (routes to [[SnapshotTable.commitAppendOnce]]).

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      "graft-snapshot: a versionAsOf table is a time-travel READ — " +
        "writes target the latest version only")
    val opts = tableOpts ++ info.options.asScala
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame,
                  overwrite: Boolean): Unit = {
                require(!overwrite, "graft-snapshot: overwrite is not " +
                  "supported — append, or DELETE then append")
                val zcol = opts.getOrElse("zcol",
                  data.schema.fields
                    .find(f => SnapshotTable.colTag(f.dataType).nonEmpty)
                    .map(_.name).getOrElse(throw new
                      IllegalArgumentException("graft-snapshot: no " +
                        "stat-carrying column to cluster on — pass " +
                        "option(\"zcol\", ...)")))
                val nFiles = opts.getOrElse("nFiles", "8").toInt
                val blooms = opts.get("bloomCols").toSeq
                  .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
                opts.get("batchId") match {
                  case Some(bid) =>
                    SnapshotTable.commitAppendOnce(data, path, zcol,
                      nFiles, bid.toLong, blooms,
                      opts.getOrElse("writerId", ""))
                  case None =>
                    SnapshotTable.commitAppend(data, path, zcol, nFiles,
                      blooms)
                }
              }
            }
        }
    }
  }

  // ---- SQL DELETE: route predicate shapes to the MOR tombstones ------
  // `DELETE FROM <catalog table> WHERE ...` arrives as a conjunction of
  // translated filters. Range shapes (closed bounds on ONE stat-carrying
  // column) land as a predicate tombstone ([[SnapshotTable
  // .commitDeleteMorPred]] — one snapshot line, zero files written);
  // point/IN shapes as an equality tombstone ([[SnapshotTable
  // .commitDeleteMor]] — one key file). DELETEs must be EXACT — unlike
  // scan pruning nothing may widen — so strict bounds (<, >) refuse
  // loudly (the tombstone format records closed ranges; `<= x` and
  // BETWEEN are the supported retention shapes) rather than silently
  // over- or under-deleting, and an un-translatable WHERE refuses with
  // the rewrite APIs named. Time travel keeps reading the pre-delete
  // versions; `canDeleteWhere` is the honest capability answer Spark
  // checks first.

  private sealed trait DeletePlan
  private case class KeysDelete(col: String, keys: Seq[Any])
    extends DeletePlan
  private case class RangeDelete(col: String, lo: Option[Any],
      hi: Option[Any]) extends DeletePlan

  private def planDelete(filters: Array[Filter]): Option[DeletePlan] = {
    if (filters.isEmpty) return None // DELETE-all: refuse, use a rewrite
    // IsNotNull(c) alongside bounds on c is redundant for a delete
    // (null never matches a range or key predicate and always survives)
    val real = filters.filterNot(_.isInstanceOf[sources.IsNotNull])
    if (real.isEmpty) return None
    val cols = real.flatMap(_.references).distinct
    if (cols.length != 1) return None // one-column shapes only
    real match {
      case Array(sources.EqualTo(c, v)) if v != null =>
        Some(KeysDelete(c, Seq(v)))
      case Array(sources.In(c, vs))
          if vs != null && vs.nonEmpty && !vs.contains(null) =>
        Some(KeysDelete(c, vs.toIndexedSeq))
      case _ =>
        // a conjunction of closed bounds on one column → [lo, hi]
        var lo: Option[Any] = None
        var hi: Option[Any] = None
        val ok = real.forall {
          case sources.GreaterThanOrEqual(_, v)
              if v != null && lo.isEmpty => lo = Some(v); true
          case sources.LessThanOrEqual(_, v)
              if v != null && hi.isEmpty => hi = Some(v); true
          case sources.EqualTo(_, v) if v != null &&
              lo.isEmpty && hi.isEmpty =>
            lo = Some(v); hi = Some(v); true
          case _ => false // strict bounds / repeats / other shapes
        }
        if (ok && (lo.nonEmpty || hi.nonEmpty))
          Some(RangeDelete(cols.head, lo, hi))
        else None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && planDelete(filters).nonEmpty

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty,
      "graft-snapshot: a versionAsOf table is a time-travel READ — " +
        "deletes target the latest version only")
    val spark = SparkSession.active
    planDelete(filters) match {
      case Some(RangeDelete(c, lo, hi)) =>
        SnapshotTable.commitDeleteMorPred(spark, path, c, lo, hi)
      case Some(KeysDelete(c, keys)) =>
        val field = schema0.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft-snapshot: DELETE on unknown column '$c'"))
        val keysDf = spark.createDataFrame(
          keys.map(Row(_)).asJava, StructType(Seq(field.copy(
            nullable = false))))
        SnapshotTable.commitDeleteMor(spark, path, c, keysDf)
      case None => throw new IllegalArgumentException(
        "graft-snapshot: DELETE supports one-column shapes — `col = x`," +
          " `col IN (...)`, and CLOSED ranges (`col >= a AND col <= b`," +
          " `col <= b`, BETWEEN); for anything else use the rewrite" +
          " APIs (commitDelete / commitDeleteMorPred)")
    }
  }
}

private[sources] class SnapshotScanBuilder(path: String,
    version: Option[Int], schema0: StructType,
    opts: Map[String, String] = Map.empty) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = schema0
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Row)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => SnapshotTableSource.toDnf(f).nonEmpty)
    filters // every filter stays residual: pruning is advisory, sound
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: statsAggCols through Catalyst -----------
  // COUNT(*) / MIN / MAX with no GROUP BY and no predicates answer
  // from the manifest lines alone — ZERO data files opened, the
  // metadata-only aggregate surfaced to SQL. Declined (so the ordinary
  // scan path answers, never wrongly) whenever: any filter reached the
  // scan, a group-by exists, the snapshot carries live tombstones
  // (their rows still count in the stats), the table is empty, or a
  // column lacks complete stats under one tag. The single result row
  // is computed at PLAN time from O(manifest-lines) metadata — the
  // same pyramid read [[SnapshotTable.statsAggCol]] serves by hand.

  private def singleName(e: org.apache.spark.sql.connector.expressions
      .Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Canonical stat value → the column type's EXTERNAL form (the Row
    * converter's input); the inverse of [[SnapshotTable]]'s canonOf.
    */
  private def externalOf(t: String, v: String, dt: DataType): Any =
    (t, dt) match {
      case ("l", ByteType) => java.lang.Byte.valueOf(v.toByte)
      case ("l", ShortType) => java.lang.Short.valueOf(v.toShort)
      case ("l", IntegerType) => java.lang.Integer.valueOf(v.toInt)
      case ("l", LongType) => java.lang.Long.valueOf(v.toLong)
      case ("d", FloatType) => java.lang.Float.valueOf(v.toDouble.toFloat)
      case ("d", DoubleType) => java.lang.Double.valueOf(v.toDouble)
      case ("dec", _) => new java.math.BigDecimal(v)
      case ("s", _) => v
      case ("dt", _) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong))
      case ("ts", _) =>
        val us = v.toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case other => throw new IllegalStateException(
        s"stat tag/type mismatch $other")
    }

  private def planAgg(agg: Aggregation): Option[(StructType, Row)] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    try {
      val v = version.orElse(SnapshotTable.latestVersion(path))
        .getOrElse(return None)
      if (SnapshotTable.deleteRefs(path, Some(v)).nonEmpty ||
        SnapshotTable.predDeleteRefs(path, Some(v)).nonEmpty) return None
      // ONE manifest pass serves every MIN/MAX column and the count —
      // the per-expression statsAggCol calls would re-parse the whole
      // manifest list once per aggregate on a million-file table
      val wanted = agg.aggregateExpressions.toIndexedSeq.flatMap {
        case m: Min => singleName(m.column)
        case m: Max => singleName(m.column)
        case _ => Nil
      }
      val (rows, boundsOf) = SnapshotTable.statsAggCols(path, wanted,
        Some(v))
      val cells = agg.aggregateExpressions.toIndexedSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            java.lang.Long.valueOf(rows)))
        case m: Min => singleName(m.column).flatMap { c =>
          val dt = schema0.fields.find(_.name == c).map(_.dataType)
            .getOrElse(return None)
          boundsOf(c).map { case (t, lo, _) =>
            (StructField(s"min($c)", dt), externalOf(t, lo, dt))
          }
        }
        case m: Max => singleName(m.column).flatMap { c =>
          val dt = schema0.fields.find(_.name == c).map(_.dataType)
            .getOrElse(return None)
          boundsOf(c).map { case (t, _, hi) =>
            (StructField(s"max($c)", dt), externalOf(t, hi, dt))
          }
        }
        case _ => None // any other function: the ordinary scan answers
      }
      if (cells.exists(_.isEmpty)) None
      else Some((StructType(cells.map(_.get._1)),
        Row.fromSeq(cells.map(_.get._2))))
    } catch { case _: Exception => None } // empty/stat-less: decline
  }

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize so the metadata aggregation plans once
  private var aggMemo: Option[(Aggregation, Option[(StructType, Row)])] =
    None
  private def planAggMemo(agg: Aggregation): Option[(StructType, Row)] =
    aggMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = planAgg(agg)
        aggMemo = Some((agg, r))
        r
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAggMemo(agg).nonEmpty

  override def pushAggregation(agg: Aggregation): Boolean = {
    val planned = planAggMemo(agg)
    aggResult = planned
    planned.nonEmpty
  }

  override def build(): Scan = aggResult match {
    case Some((sc, row)) => new SnapshotAggScan(path, sc, row)
    case None =>
      // the NATIVE batch scan (opt-in): a real DSv2 Batch whose
      // partitions are the planned files, which is what lets
      // SupportsRuntimeFiltering fire (Spark consults the hook only on
      // BatchScanExec — never on the V1 execution path). Eligible only
      // while the snapshot carries no tombstones: the MOR anti-join /
      // residual-filter read NEEDS the DataFrame path, so tombstoned
      // tables silently keep the (always-correct) V1 scan.
      val nativeOk = opts.get("nativeScan").exists(_.toBoolean) && {
        val v = version.orElse(SnapshotTable.latestVersion(path))
        v.exists(vv => SnapshotTable.deleteRefs(path, Some(vv)).isEmpty &&
          SnapshotTable.predDeleteRefs(path, Some(vv)).isEmpty &&
          SnapshotTable.readSchema(path, vv).nonEmpty)
      }
      if (nativeOk)
        new SnapshotBatchScan(path, version,
          SnapshotTableSource.schemaOf(path, version), required, pushed)
      else new SnapshotV1Scan(path, version, required, pushed)
  }
}

/** The metadata-answered aggregate as a one-row scan. */
private[sources] class SnapshotAggScan(path: String,
    aggSchema: StructType, row: Row) extends V1Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-snapshot $path PushedAggregates=[${aggSchema.fieldNames
      .mkString(", ")}] (metadata-only)"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] = {
        SnapshotTableSource.lastAggPushed = true
        SnapshotTableSource.lastPlanned = 0L
        context.sparkSession.sparkContext.parallelize(Seq(row), 1)
      }
    }.asInstanceOf[T]
}

private[sources] class SnapshotV1Scan(path: String, version: Option[Int],
    required: StructType, pushed: Array[Filter]) extends V1Scan {
  override def readSchema(): StructType = required

  override def description(): String = {
    val preds = pushed.mkString(", ")
    s"graft-snapshot $path${version.map(v => s"@v$v").getOrElse("")}" +
      (if (preds.isEmpty) "" else s" pushed=[$preds]")
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = {
        val preds = pushed.toIndexedSeq
          .flatMap(SnapshotTableSource.toDnf)
          .map(SnapshotTable.PredDnf(_))
        val (df, planned, total) =
          SnapshotTable.scan(context.sparkSession, path, preds, version)
        SnapshotTableSource.lastAggPushed = false
        SnapshotTableSource.lastPlanned = planned
        SnapshotTableSource.lastTotal = total
        val pruned =
          if (required.fieldNames.sameElements(df.schema.fieldNames)) df
          else df.select(required.fieldNames.toIndexedSeq
            .map(org.apache.spark.sql.functions.col): _*)
        pruned.rdd
      }
    }.asInstanceOf[T]
}

/** The NATIVE DSv2 batch scan (opt-in via `option("nativeScan","true")`,
  * tombstone-free snapshots only): a real `Batch` whose input
  * partitions are the pyramid-planned data files and whose readers are
  * Spark's own parquet reader (vectorized when the schema supports it,
  * with the pushed filters applied as parquet row-group predicates) —
  * the path that removes the V1Scan execution boundary and, crucially,
  * lets `SupportsRuntimeFiltering` FIRE: Spark consults the hook only
  * on BatchScanExec, so a broadcast join's build-side key set reaches
  * `filter()` at execution time, the file plan re-runs with the keys
  * as an [[SnapshotTable.InTest]] (bounds + manifest blooms), and the
  * dim-filtered star join opens only the files that can hold the dim
  * keys — dynamic partition pruning semantics on a value-clustered
  * table with no partition columns at all.
  *
  * Soundness is the planner's, unchanged: planning only ever DROPS a
  * file whose recorded metadata proves no surviving predicate can
  * match, every pushed filter stays residual above the scan, and the
  * runtime filter itself is a superset-safe hint (Spark re-applies the
  * join). Re-planning memoizes on the runtime-filter state, so the
  * planning-time call and the post-filter execution call each resolve
  * once ([[PagedApiScan]]'s memo pattern).
  */
private[sources] class SnapshotBatchScan(path: String,
    version: Option[Int], dataSchema: StructType, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch
    with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val preds = pushed.mkString(", ")
    s"graft-snapshot-native $path" +
      s"${version.map(v => s"@v$v").getOrElse("")}" +
      (if (preds.isEmpty) "" else s" pushed=[$preds]")
  }

  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    required.fields
      .filter(f => SnapshotTable.colTag(f.dataType).nonEmpty)
      .map(f => Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters

  // memoized on the runtime-filter state: planning's call (no runtime
  // filters yet) and execution's re-plan (after filter()) each resolve
  // the file list exactly once
  private var memo: Option[(Seq[Filter], Array[InputPartition])] = None

  override def planInputPartitions(): Array[InputPartition] =
    synchronized {
      val key = (pushed ++ runtime).toIndexedSeq
      memo match {
        case Some((k, p)) if k == key => p
        case _ =>
          val preds = key.flatMap(SnapshotTableSource.toDnf)
            .map(SnapshotTable.PredDnf(_))
          val (_, _, plan) = SnapshotTable.planScan(path, version, preds)
          SnapshotTableSource.lastAggPushed = false
          SnapshotTableSource.lastPlanned = plan.cands.size.toLong
          SnapshotTableSource.lastTotal = plan.total
          val ps: Array[InputPartition] = plan.cands.map { case (_, f) =>
            val fp = s"$path/${f.file}"
            val len = java.nio.file.Files.size(
              java.nio.file.Paths.get(fp))
            SnapshotFilePartition(fp, len): InputPartition
          }.toArray
          memo = Some((key, ps))
          ps
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val fmt = new ParquetFileFormat()
    val columnar = fmt.supportBatch(spark, required)
    // row-group pruning from the statically pushed filters; residuals
    // above the scan keep correctness regardless. RETURNING_BATCH tells
    // the built reader which element type to emit — it MUST agree with
    // supportColumnarReads (ColumnarBatch when vectorized, InternalRow
    // otherwise)
    val readFunc = fmt.buildReaderWithPartitionValues(
      spark, dataSchema, new StructType(), required,
      pushed.toIndexedSeq,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    new SnapshotFileReaderFactory(readFunc, columnar)
  }
}

private[sources] case class SnapshotFilePartition(file: String,
    length: Long) extends InputPartition

/** Wraps Spark's parquet read function as a DSv2 reader factory: when
  * the schema supports vectorized reading the iterator's elements ARE
  * ColumnarBatches (Spark's internal convention) and the factory
  * declares columnar support so BatchScanExec consumes them at full
  * speed; otherwise plain InternalRows.
  */
private[sources] class SnapshotFileReaderFactory(
    read: PartitionedFile => Iterator[InternalRow], columnar: Boolean)
    extends PartitionReaderFactory {

  private def asFile(p: InputPartition): PartitionedFile = {
    val sp = p.asInstanceOf[SnapshotFilePartition]
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(sp.file), 0L, sp.length,
      Array.empty[String], 0L, sp.length)
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val it = read(asFile(p))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val it = read(asFile(p))
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        it.hasNext && {
          cur = it.next().asInstanceOf[ColumnarBatch]; true
        }
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }
}
