package graft.table

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector over [[GraftTable]]: the real incremental change
  * stream the round-1 hardlink `published/` directory stood in for.
  *
  *  - **Offsets are snapshot versions** (the table's own commit counter), so
  *    progress tracking is exact and replay-stable — not filename-based.
  *  - **Per-batch file lists come from manifests**: a micro-batch for
  *    (start, end] reads exactly the files of manifests start+1..end.
  *    Uncommitted junk under data/ is structurally invisible.
  *  - **Admission control** via [[SupportsAdmissionControl]]:
  *    `maxFilesPerTrigger` (file count) and `maxBytesPerTrigger` (the
  *    reference memory_limiter analog, ocb/config.yaml:29-31 — files vary
  *    ~100× in size after compaction, so a byte ceiling is what actually
  *    bounds per-trigger memory). Versions are admitted greedily until a
  *    budget is exhausted (always ≥ 1 version so the stream advances).
  *  - **File pruning** via [[SupportsPushDownFilters]]: comparison filters
  *    on stats-covered columns skip whole files using the manifests'
  *    per-file min/max — a `WHERE event_time > X` over a 100 TB table
  *    plans only the overlapping files. Pruning is conservative
  *    (file-level); every filter is still evaluated on rows by Spark.
  *
  * Reference analog: the change-stream source the reference consumes
  * (henrikrexed/securitylogeventprocessor ocb/config.yaml:10-22, the
  * k8sobjects watch stream — which delivers only matching objects, the
  * pruning analog); re-expressed as Spark's V2 connector contract.
  *
  * Usage: `spark.readStream.format(classOf[GraftSourceProvider].getName)
  *   .option("maxFilesPerTrigger", 32).load(tableRoot)` — or simply
  * [[GraftTable.readStream]].
  */
class GraftSourceProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val r = options.get("path")
    require(r != null && r.nonEmpty, "graft-table source requires a table root path")
    r
  }

  /** The current version's schema from its [[TableMeta]] — never a
    * sampled footer: under a partition layout the data files do not
    * contain the partition columns (or their types). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new GraftTable(rootOf(options)).meta.map(_.schema).getOrElse(
      throw new IllegalArgumentException(
        s"cannot infer schema: no committed version in ${rootOf(options)}"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftV2Table(properties.get("path"), schema)
}

/** Stats-vs-filter overlap test: can a file whose column ranges are `stats`
  * contain a row satisfying the filter? Conservative in every unsupported
  * direction (missing stats, unknown filter/value type ⇒ keep the file). */
object FilePrune {

  /** Filters usable for file-level pruning (reported as pushed). */
  def prunable(f: Filter): Boolean = f match {
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case EqualTo(_, v) => supportedValue(v)
    case EqualNullSafe(_, v) => supportedValue(v)
    case GreaterThan(_, v) => supportedValue(v)
    case GreaterThanOrEqual(_, v) => supportedValue(v)
    case LessThan(_, v) => supportedValue(v)
    case LessThanOrEqual(_, v) => supportedValue(v)
    case In(_, vs) => vs != null && vs.nonEmpty && vs.forall(supportedValue)
    case _ => false
  }

  private def supportedValue(v: Any): Boolean = v match {
    case null => false
    // NaN never prunes: parquet stats exclude NaN, and Spark's row
    // semantics treat NaN = NaN as TRUE — range logic cannot see it
    case d: java.lang.Double => !d.isNaN
    case f: java.lang.Float => !f.isNaN
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte |
         _: String | _: java.sql.Timestamp | _: java.time.Instant |
         _: java.time.LocalDateTime | _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  /** Spark row comparison for strings is UTF-8 BYTE order (UTF8String),
    * matching parquet's unsigned-byte stats comparator — java.lang.String
    * compareTo is UTF-16 code-unit order, which disagrees beyond the BMP
    * and would wrongly prune files containing supplementary characters. */
  private[table] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** sign of (statValue - filterValue) in the stat's comparison domain;
    * None ⇒ incomparable ⇒ caller must keep the file. */
  private def cmp(typ: String, stat: String, v: Any): Option[Int] = try {
    typ match {
      case "long" =>
        val s = stat.toLong
        v match {
          case n: java.lang.Long => Some(java.lang.Long.compare(s, n))
          case n: java.lang.Integer => Some(java.lang.Long.compare(s, n.longValue))
          case n: java.lang.Short => Some(java.lang.Long.compare(s, n.longValue))
          case n: java.lang.Byte => Some(java.lang.Long.compare(s, n.longValue))
          case n: java.lang.Double => Some(java.lang.Double.compare(s.toDouble, n))
          case n: java.lang.Float => Some(java.lang.Double.compare(s.toDouble, n.doubleValue))
          // timestamp columns carry epoch-micros int64 stats
          case t: java.sql.Timestamp =>
            Some(java.lang.Long.compare(s, t.getTime * 1000L + (t.getNanos / 1000) % 1000))
          case t: java.time.Instant =>
            Some(java.lang.Long.compare(s, t.getEpochSecond * 1000000L + t.getNano / 1000))
          case t: java.time.LocalDateTime =>
            val i = t.toInstant(java.time.ZoneOffset.UTC)
            Some(java.lang.Long.compare(s, i.getEpochSecond * 1000000L + i.getNano / 1000))
          // date columns carry epoch-day int32 stats
          case d: java.sql.Date => Some(java.lang.Long.compare(s, d.toLocalDate.toEpochDay))
          case d: java.time.LocalDate => Some(java.lang.Long.compare(s, d.toEpochDay))
          case _ => None
        }
      case "double" => v match {
        case n: java.lang.Number =>
          val s = stat.toDouble
          val d = n.doubleValue
          // NaN is incomparable (keep the file); -0.0 == 0.0 must compare
          // equal the way Spark row equality does, not Double.compare's -1
          if (s.isNaN || d.isNaN) None
          else if (s == d) Some(0)
          else Some(java.lang.Double.compare(s, d))
        case _ => None
      }
      case "string" => v match {
        case str: String => Some(utf8Cmp(stat, str))
        case _ => None
      }
      case _ => None
    }
  } catch { case _: NumberFormatException => None }

  def mightMatch(stats: Map[String, ColStats], f: Filter): Boolean = f match {
    case And(l, r) => mightMatch(stats, l) && mightMatch(stats, r)
    case Or(l, r) => mightMatch(stats, l) || mightMatch(stats, r)
    case EqualTo(c, v) => stats.get(c).forall(s =>
      cmp(s.typ, s.min, v).forall(_ <= 0) && cmp(s.typ, s.max, v).forall(_ >= 0))
    // v is non-null whenever this filter reaches pruning (supportedValue
    // gates prunable; the DML translator never emits a null) — then
    // `c <=> v` matches exactly the rows `c = v` does
    case EqualNullSafe(c, v) if v != null => mightMatch(stats, EqualTo(c, v))
    case GreaterThan(c, v) => stats.get(c).forall(s => cmp(s.typ, s.max, v).forall(_ > 0))
    case GreaterThanOrEqual(c, v) => stats.get(c).forall(s => cmp(s.typ, s.max, v).forall(_ >= 0))
    case LessThan(c, v) => stats.get(c).forall(s => cmp(s.typ, s.min, v).forall(_ < 0))
    case LessThanOrEqual(c, v) => stats.get(c).forall(s => cmp(s.typ, s.min, v).forall(_ <= 0))
    case In(c, vs) =>
      vs == null || vs.isEmpty || vs.exists(v => mightMatch(stats, EqualTo(c, v)))
    case _ => true
  }

  def keep(fi: FileInfo, filters: Seq[Filter]): Boolean =
    filters.forall(f => mightMatch(fi.stats, f))
}

final class GraftV2Table(root: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-table($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = tableSchema
      private var aggPushed: Option[(StructType, Array[Any])] = None
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(FilePrune.prunable)
        // file-level stats pruning is never exact: EVERY filter must still
        // be evaluated on rows post-scan
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      // column pruning: a projection of k columns decodes k columns — the
      // pruned schema reaches the parquet readers as a projection, so at
      // 100 TB a SELECT clip_id never pays for transcript/bytes I/O
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      // ---- aggregate pushdown: metadata-only global aggregates --------
      // COUNT(*), COUNT(col), MIN/MAX(integer-family col) over the WHOLE
      // table are exactly answerable from manifest metadata (exact per-file
      // rows + exact null counts + exact integer min/max): at 100 TB these
      // return in milliseconds with zero data I/O. Strict scope: no
      // grouping, no filters (Spark only offers pushdown when every filter
      // was fully pushed — and we always keep row-eval filters, so any
      // filtered query never reaches here), strings excluded from MIN/MAX
      // (parquet binary bounds may be truncated, i.e. not exact values),
      // floats excluded (NaN never enters parquet stats but DOES order as
      // largest in Spark's min/max semantics).
      private def metadataAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
        if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
        val table = new GraftTable(root)
        // honor time travel: an as-of read's aggregate must fold the
        // manifests of THAT snapshot, not the latest
        val asOf = Option(options.get("version")).map(_.toLong).getOrElse(table.version)
        // rows > 0: a row-less file (an empty batch's schema-only file) has
        // no footer stats and contributes nothing to any aggregate — it
        // must not disqualify the metadata answer
        val fs = table.manifestsUpTo(asOf).flatMap(table.manifestFiles)
          .filter(_.rows > 0)
        def colOf(refs: Array[NamedReference]): Option[StructField] = refs match {
          case Array(r) if r.fieldNames.length == 1 =>
            tableSchema.fields.find(_.name == r.fieldNames.head)
          case _ => None
        }
        def exactLongFamily(dt: DataType): Boolean = dt match {
          case LongType | IntegerType | ShortType | ByteType |
               DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }
        // stat string → Catalyst value of the column's type
        def lift(dt: DataType, v: String): Any = dt match {
          case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(v.toLong)
          case IntegerType | DateType => java.lang.Integer.valueOf(v.toInt)
          case ShortType => java.lang.Short.valueOf(v.toShort)
          case ByteType => java.lang.Byte.valueOf(v.toByte)
          case _ => throw new IllegalStateException(s"unexpected $dt")
        }
        def minMax(f: AggregateFunc, refs: Array[NamedReference], wantMax: Boolean):
            Option[(StructField, Any)] =
          colOf(refs).filter(c => exactLongFamily(c.dataType)).flatMap { c =>
            val sts = fs.map(_.stats.get(c.name))
            if (fs.isEmpty) Some((StructField(f.toString, c.dataType), null))
            else if (sts.exists(s => s.isEmpty || s.get.typ != "long")) None
            else {
              // stats present for EVERY file ⇒ every file has ≥1 non-null
              // value (footer stats only exist for non-null data, and the
              // commit drops bound-less columns) and every non-null row is
              // inside its file's bounds — the fold is the exact answer
              val vals = sts.map(s => if (wantMax) s.get.max.toLong else s.get.min.toLong)
              val v = if (wantMax) vals.max else vals.min
              Some((StructField(f.toString, c.dataType), lift(c.dataType, v.toString)))
            }
          }
        val resolved: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            Some((StructField("count(*)", LongType), java.lang.Long.valueOf(fs.map(_.rows).sum)))
          case c: Count if !c.isDistinct =>
            colOf(c.references).flatMap { col =>
              val nulls = fs.map(_.stats.get(col.name).map(_.nulls).getOrElse(-1L))
              if (nulls.exists(_ < 0L)) None // unknown null count somewhere
              else Some((StructField(s"count(${col.name})", LongType),
                java.lang.Long.valueOf(fs.map(_.rows).sum - nulls.sum)))
            }
          case m: Min => minMax(m, m.references, wantMax = false)
          case m: Max => minMax(m, m.references, wantMax = true)
          case _ => None
        }
        if (resolved.exists(_.isEmpty)) None
        else Some((StructType(resolved.map(_.get._1)), resolved.map(_.get._2).toArray))
      }

      override def supportCompletePushDown(agg: Aggregation): Boolean = {
        aggPushed = metadataAgg(agg)
        aggPushed.isDefined
      }
      override def pushAggregation(agg: Aggregation): Boolean = {
        if (aggPushed.isEmpty) aggPushed = metadataAgg(agg)
        aggPushed.isDefined
      }
      override def build(): Scan = aggPushed match {
        case Some((aggSchema, row)) => new GraftAggScan(root, aggSchema, row)
        case None => buildScan()
      }

      private def buildScan(): Scan = new GraftScan(root, required,
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("maxBytesPerTrigger")).map(_.toLong),
        Option(options.get("maxRowsPerTrigger")).map(_.toLong),
        pushed.toSeq,
        Option(options.get("version")).map(_.toLong))
    }
}

/** A fully-pushed-down global aggregate: the answer was computed from
  * manifest metadata at plan time — the "scan" emits exactly one row and
  * never touches a data file. */
final class GraftAggScan(root: String, aggSchema: StructType, row: Array[Any])
    extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-table METADATA aggregate of $root: ${aggSchema.map(_.name).mkString(", ")}"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(GraftAggPartition(row))
    override def createReaderFactory(): PartitionReaderFactory =
      (partition: InputPartition) => new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = if (done) false else { done = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(partition.asInstanceOf[GraftAggPartition].values)
        override def close(): Unit = ()
      }
  }
}

case class GraftAggPartition(values: Array[Any]) extends InputPartition

final class GraftScan(root: String, schema: StructType,
                      maxFilesPerTrigger: Option[Int],
                      maxBytesPerTrigger: Option[Long],
                      maxRowsPerTrigger: Option[Long],
                      filters: Seq[Filter],
                      asOfVersion: Option[Long] = None)
    extends Scan with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-table scan of $root, PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${schema.map(_.name).mkString(",")}"

  // ---- runtime filtering (the V2 analog of dynamic partition pruning):
  // a broadcast join hands the scan an IN-list of observed join-key values
  // at RUNTIME; manifest stats prune non-overlapping files before any task
  // launches — a fact-table × small-dim join reads only matching files.
  private var runtimeFilters: Seq[Filter] = Nil
  override def filterAttributes(): Array[NamedReference] =
    schema.fields.map(f => Expressions.column(f.name)).toArray
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.toSeq.filter(FilePrune.prunable)

  // Snapshot version resolved ONCE at scan construction: statistics,
  // outputPartitioning, and (possibly much later) planInputPartitions must
  // all see the SAME file set — a concurrent commit landing between
  // logical planning and execution would otherwise let execution-time
  // partitions contradict the KeyGroupedPartitioning claimed at plan time
  // (plain partitions under a plan that expects HasPartitionKey).
  private val snapshotVersion: Long =
    asOfVersion.getOrElse(new GraftTable(root).version)

  /** Storage-partitioning keys: the pinned snapshot's partition columns. */
  private lazy val keyCols: Seq[String] =
    new GraftTable(root).metaAt(snapshotVersion).map(_.partitionBy).getOrElse(Nil)

  // rows > 0: an empty batch writes a row-less file whose footer
  // has no stats — planning it adds a no-op task and (worse) withdraws the
  // storage-partitioned single-value claim for the whole scan
  private def liveFiles(table: GraftTable): Seq[FileInfo] =
    table.manifestsUpTo(snapshotVersion)
      .flatMap(table.manifestFiles)
      .filter(fi => fi.rows > 0 && FilePrune.keep(fi, filters ++ runtimeFilters))

  /** Post-pruning size/row estimate from manifest metadata — zero data
    * I/O. Catalyst's join planning sees it through the V2 relation, so a
    * small (or heavily pruned) graft table auto-broadcasts instead of
    * shuffling the big side; same convention as Spark's own file sources
    * (on-disk bytes × spark.sql.sources.fileCompressionFactor, applied by
    * the caller). */
  override def estimateStatistics(): Statistics = {
    val table = new GraftTable(root)
    val fs = liveFiles(table)
    val bytes = fs.map(_.bytes).sum
    val rows = fs.map(_.rows).sum
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
    }
  }

  // ---- storage-partitioned reads over the partition columns ----------
  // A directory-partitioned table's files are each single-valued on its
  // partition columns; when the manifests PROVE that (min == max and an
  // exact ZERO null count — parquet bounds never cover nulls — for every
  // selected file), the scan reports KeyGroupedPartitioning and Spark plans
  // groupBy/join on those keys WITHOUT a shuffle (enable
  // spark.sql.sources.v2.bucketing.enabled; Spark groups same-key files
  // into one partition). Any non-conforming file — pre-partitioning history,
  // missing stats, unsupported type — degrades the whole scan to unknown
  // partitioning: a plain scan, never a wrong answer.

  /** Typed Catalyst partition-key value for one key column, or None if
    * this file cannot prove single-valuedness for it. */
  private def keyValue(fi: FileInfo, colName: String, dt: DataType): Option[Any] =
    fi.stats.get(colName).filter(s => s.nulls == 0L && s.min == s.max).flatMap { s =>
      try {
        (s.typ, dt) match {
          case ("string", StringType) => Some(UTF8String.fromString(s.min))
          case ("long", LongType) => Some(java.lang.Long.valueOf(s.min.toLong))
          case ("long", IntegerType) => Some(java.lang.Integer.valueOf(s.min.toInt))
          case ("long", ShortType) => Some(java.lang.Short.valueOf(s.min.toShort))
          case ("long", ByteType) => Some(java.lang.Byte.valueOf(s.min.toByte))
          case ("long", TimestampType | TimestampNTZType) =>
            Some(java.lang.Long.valueOf(s.min.toLong))
          case ("long", DateType) => Some(java.lang.Integer.valueOf(s.min.toInt))
          // doubles excluded: NaN/-0.0 equality diverges between stats
          // order and Spark key grouping — never worth the risk
          case _ => None
        }
      } catch { case _: NumberFormatException => None }
    }

  private def keyTypes: Option[Seq[DataType]] =
    if (keyCols.isEmpty) None
    else {
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val ts = keyCols.map(byName.get)
      if (ts.forall(_.isDefined)) Some(ts.map(_.get)) else None
    }

  private def fileKey(fi: FileInfo, types: Seq[DataType]): Option[Array[Any]] = {
    val vs = keyCols.zip(types).map { case (c, t) => keyValue(fi, c, t) }
    if (vs.forall(_.isDefined)) Some(vs.map(_.get).toArray) else None
  }

  override def outputPartitioning(): Partitioning = {
    val fs = liveFiles(new GraftTable(root))
    keyTypes.filter(ts => fs.nonEmpty && fs.forall(fileKey(_, ts).isDefined)) match {
      case Some(_) =>
        new KeyGroupedPartitioning(
          keyCols.map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray,
          fs.size)
      case None => new UnknownPartitioning(fs.size)
    }
  }

  override def toBatch: Batch = new Batch {
    private val table = new GraftTable(root)
    override def planInputPartitions(): Array[InputPartition] = {
      val fs = liveFiles(table)
      keyTypes.filter(ts => fs.nonEmpty && fs.forall(fileKey(_, ts).isDefined)) match {
        case Some(ts) =>
          fs.map(fi => GraftKeyedInputPartition(fi.path, fi.rows, fileKey(fi, ts).get, fi.pv)
            : InputPartition).toArray
        case None =>
          fs.map(fi => GraftInputPartition(fi.path, fi.rows, fi.pv): InputPartition).toArray
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftReaderFactory(schema)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(root, schema, maxFilesPerTrigger, maxBytesPerTrigger,
      maxRowsPerTrigger, filters)
}

/** Offset = snapshot version (the number of committed micro-batches). */
case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class GraftMicroBatchStream(root: String, schema: StructType,
                                  maxFilesPerTrigger: Option[Int],
                                  maxBytesPerTrigger: Option[Long] = None,
                                  maxRowsPerTrigger: Option[Long] = None,
                                  filters: Seq[Filter] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val table = new GraftTable(root)

  override def initialOffset(): Offset = GraftOffset(0L)
  override def deserializeOffset(json: String): Offset = GraftOffset(json.trim.toLong)
  override def latestOffset(): Offset = GraftOffset(table.version)
  override def reportLatestOffset(): Offset = GraftOffset(table.version)

  override def getDefaultReadLimit: ReadLimit = {
    val lims = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq ++
      maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq
    lims match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Manifests that version k contributes to a reader whose stream started
    * at `from`, under compaction (REWRITE manifests, GraftTable.compact):
    *
    *  - fresh reader (from = 0): exactly the CURRENT lineage — original
    *    manifests that were later compacted away are not in `chain`, so the
    *    backfill reads the rewrite manifest once, at its own version;
    *  - resumed reader (from > 0): the original per-version manifests
    *    (data files are never deleted by compact), with every rewrite
    *    manifest skipped — its rows were already delivered at their
    *    original versions. Either way: no duplicates, no gaps. */
  /** First version in (from, to] whose snapshot metadata still exists —
    * earlier versions were expired by vacuum. For a fresh reader that
    * version serves the full chain prefix (retention may have erased the
    * per-version attribution of older manifests, but the manifests
    * themselves are still in the live chain). */
  private def firstLiveVersion(from: Long, to: Long): Long =
    (from + 1 to to).find(k => table.manifestsAddedAt(k).isDefined).getOrElse(to + 1)

  private def readableManifests(k: Long, from: Long, chain: => Set[String],
                                firstLive: => Long): Seq[String] =
    table.manifestsAddedAt(k) match {
      case None if from == 0L => Nil // expired by retention; backfilled at firstLive
      case None => throw new IllegalStateException(
        s"stream resume offset $from predates retention at version $k of $root: " +
          "restart from a fresh checkpoint (full backfill of the live chain)")
      case Some(added) =>
        if (from == 0L) {
          val ms = if (k == firstLive) table.manifestsUpTo(k) else added
          ms.filter(chain.contains)
        } else added.filterNot(m => table.manifestRewriteInfo(m)._1)
    }

  /** Per-version file lists for the STEADY-STATE (from > 0) path, where
    * the result depends only on the version (never on `from`, the chain,
    * or `firstLive`): latestOffset touches each version once per admission
    * decision and planInputPartitions re-requests the admitted range, so
    * without this every trigger re-reads the same snapshot deltas and
    * manifests. Entries are dropped once the engine commits past them
    * (offsets only advance), so the map never outgrows the in-flight
    * range — bounded metadata I/O AND bounded memory for a reader on a
    * year-lived table. */
  private val steadyFileCache = scala.collection.concurrent.TrieMap.empty[Long, Seq[FileInfo]]

  /** The files version k would contribute, post-pruning (admission budgets
    * count work actually read, consistent with planInputPartitions).
    * `chain`/`firstLive` are by-name: they cost an O(versions) chain
    * resolution and are only needed for fresh-reader (from = 0) backfill. */
  private def versionFiles(k: Long, from: Long, chain: => Set[String],
                           firstLive: => Long): Seq[FileInfo] = {
    def compute = readableManifests(k, from, chain, firstLive)
      .flatMap(table.manifestFiles)
      .filter(FilePrune.keep(_, filters))
    if (from == 0L) compute
    else steadyFileCache.getOrElseUpdate(k, compute)
  }

  /** Admit whole snapshot versions until a file, byte, or ROW budget is
    * spent (at least one version per trigger so the stream always
    * advances). Rows come from manifest counts — exact, zero I/O. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = table.version
    val from = start.asInstanceOf[GraftOffset].version
    val lims = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case l => Seq(l)
    }
    val maxF = lims.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
    val maxB = lims.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
    val maxR = lims.collectFirst { case r: ReadMaxRows => r.maxRows() }
    if ((maxF.isEmpty && maxB.isEmpty && maxR.isEmpty) || cur <= from) GraftOffset(cur)
    else {
      // both only forced on the from == 0 backfill path (resumed readers'
      // per-version deltas need neither — see readableManifests)
      lazy val chain = table.manifestsUpTo(cur).toSet
      lazy val firstLive = firstLiveVersion(from, cur)
      var v = from
      var files = 0
      var bytes = 0L
      var rows = 0L
      var stop = false
      while (!stop && v < cur) {
        val fs = versionFiles(v + 1, from, chain, firstLive)
        val nFiles = fs.size
        val nBytes = fs.map(_.bytes).sum
        val nRows = fs.map(_.rows).sum
        val overF = maxF.exists(m => files + nFiles > m)
        val overB = maxB.exists(m => bytes + nBytes > m)
        val overR = maxR.exists(m => rows + nRows > m)
        // v > from: the first version is always admitted even if it alone
        // overflows a budget (the stream must advance)
        if (v > from && (overF || overB || overR)) stop = true
        else { files += nFiles; bytes += nBytes; rows += nRows; v += 1 }
      }
      GraftOffset(v)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    lazy val chain = table.manifestsUpTo(to).toSet
    lazy val firstLive = firstLiveVersion(from, to)
    (from + 1 to to)
      .flatMap(versionFiles(_, from, chain, firstLive))
      .map(fi => GraftInputPartition(fi.path, fi.rows, fi.pv))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(schema)

  /** Offsets only advance: once the engine commits past a version its
    * cached file list can never be requested again — prune it. */
  override def commit(end: Offset): Unit = {
    val v = end.asInstanceOf[GraftOffset].version
    steadyFileCache.keysIterator.filter(_ <= v).foreach(steadyFileCache.remove)
  }
  override def stop(): Unit = ()
}

/** `pv` = directory-encoded partition values (absent from the data file;
  * the reader re-injects them as constants). */
case class GraftInputPartition(path: String, rows: Long,
                               pv: Map[String, Option[String]] = Map.empty)
    extends InputPartition

/** A file provably single-valued on the scan's key columns; `key`
  * holds the Catalyst-internal values in key-column order. */
case class GraftKeyedInputPartition(path: String, rows: Long, key: Array[Any],
                                    pv: Map[String, Option[String]] = Map.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

final class GraftReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case g: GraftInputPartition => g
      case k: GraftKeyedInputPartition => GraftInputPartition(k.path, k.rows, k.pv)
    }
    if (schema.isEmpty || schema.fields.forall(f => p.pv.contains(f.name)))
      // zero-column projection (COUNT(*)) or every required column is a
      // directory-encoded constant (e.g. groupBy on the partition column):
      // the manifest row count is authoritative (the commit counted the
      // rows) — emit constant rows without touching the data file at all
      new PartitionReader[InternalRow] {
        private var emitted = 0L
        private val row = new GenericInternalRow(
          schema.fields.map(f => PvInject.constant(f.dataType, p.pv(f.name))))
        override def next(): Boolean = { emitted += 1; emitted <= p.rows }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    else new GraftPartitionReader(p.path, schema, p.pv)
  }
}

/** Typed Catalyst constants for directory-encoded partition values
  * (commit validates partition columns against exactly this type set). */
private[table] object PvInject {
  def constant(dt: DataType, ov: Option[String]): Any = ov match {
    case None => null
    case Some(v) => dt match {
      case StringType => UTF8String.fromString(v)
      case IntegerType => java.lang.Integer.valueOf(v.toInt)
      case LongType => java.lang.Long.valueOf(v.toLong)
      case ShortType => java.lang.Short.valueOf(v.toShort)
      case ByteType => java.lang.Byte.valueOf(v.toByte)
      case BooleanType => java.lang.Boolean.valueOf(v.toBoolean)
      case DateType => java.lang.Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
      case other => throw new UnsupportedOperationException(
        s"partition value of type ${other.simpleString} cannot be re-injected")
    }
  }
}

/** GroupReadSupport that projects down to the required column names at
  * init time — a SINGLE footer read decides the projection (no separate
  * pre-open of the file: per-file open latency is a dominant cost for
  * many-small-file tables on remote storage). When none of the required
  * names exist physically (possible only via schema evolution — the
  * all-constants case never reaches the parquet reader), the narrowest
  * single column is kept so row iteration still advances at minimal
  * decode cost. */
final class ProjectingGroupReadSupport(names: Set[String]) extends GroupReadSupport {
  private def width(t: org.apache.parquet.schema.Type): Int =
    if (!t.isPrimitive) Int.MaxValue
    else t.asPrimitiveType().getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.BOOLEAN => 1
      case PrimitiveType.PrimitiveTypeName.INT32 |
           PrimitiveType.PrimitiveTypeName.FLOAT => 4
      case PrimitiveType.PrimitiveTypeName.INT64 |
           PrimitiveType.PrimitiveTypeName.DOUBLE => 8
      case PrimitiveType.PrimitiveTypeName.INT96 => 12
      case _ => 1000 // binary / fixed-len: assume wide
    }

  override def init(configuration: Configuration,
                    keyValueMetaData: util.Map[String, String],
                    fileSchema: org.apache.parquet.schema.MessageType):
      org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
    val kept = fileSchema.getFields.asScala.filter(f => names.contains(f.getName))
    val proj =
      if (kept.size == fileSchema.getFieldCount) fileSchema
      else if (kept.nonEmpty)
        new org.apache.parquet.schema.MessageType(fileSchema.getName, kept.asJava)
      else
        new org.apache.parquet.schema.MessageType(fileSchema.getName,
          util.Arrays.asList(fileSchema.getFields.asScala.minBy(width)))
    new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(proj)
  }
}

/** Reads one manifest-listed parquet file into InternalRows via the public
  * parquet-mr Group API. Supports primitive columns (string/long/int/
  * double/float/boolean/binary/date/timestamp) plus Spark-written nested
  * columns: array<...>, map<...,...>, struct<...> — recursively (the E3
  * typed-attr bag is array<struct<...>>), so any event schema the sink can
  * write round-trips through the table's own change stream. */
final class GraftPartitionReader(path: String, schema: StructType,
                                 pv: Map[String, Option[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  // physical column projection decided inside the reader's own footer
  // read (ProjectingGroupReadSupport): unprojected columns' pages are
  // never read or decoded — a 2-column SELECT over a wide 100 TB table
  // does 2 columns of I/O, and each file is opened exactly once.
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(
        new ProjectingGroupReadSupport(schema.fields.map(_.name).toSet),
        new org.apache.hadoop.fs.Path(path))
      .withConf(new Configuration())
      .build()

  private var current: Group = _
  // per-field converters, resolved lazily against the file schema of the
  // first record (handles files whose column order differs from the table)
  private var converters: Array[Group => Any] = _

  private val JULIAN_EPOCH_DAY = 2440588L

  private def int96ToMicros(b: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = bb.getLong(0)
    val julianDay = bb.getInt(8).toLong
    (julianDay - JULIAN_EPOCH_DAY) * 86400L * 1000000L + nanosOfDay / 1000L
  }

  /** (group, fieldIdx, repetitionIdx) → Catalyst value, for one PRIMITIVE
    * parquet field. */
  private def primGetter(prim: PrimitiveType, dt: DataType, name: String): (Group, Int, Int) => Any =
    dt match {
      case StringType => (g, i, r) => UTF8String.fromBytes(g.getBinary(i, r).getBytes)
      case LongType => (g, i, r) => g.getLong(i, r)
      case IntegerType => (g, i, r) => g.getInteger(i, r)
      case DoubleType => (g, i, r) => g.getDouble(i, r)
      case FloatType => (g, i, r) => g.getFloat(i, r)
      case BooleanType => (g, i, r) => g.getBoolean(i, r)
      case BinaryType => (g, i, r) => g.getBinary(i, r).getBytes
      case DateType => (g, i, r) => g.getInteger(i, r)
      case TimestampType | TimestampNTZType =>
        if (prim.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT96)
          (g, i, r) => int96ToMicros(g.getInt96(i, r).getBytes)
        else {
          val unit = prim.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit
            case _ => LogicalTypeAnnotation.TimeUnit.MICROS
          }
          unit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => (g, i, r) => g.getLong(i, r) * 1000L
            case LogicalTypeAnnotation.TimeUnit.NANOS => (g, i, r) => g.getLong(i, r) / 1000L
            case _ => (g, i, r) => g.getLong(i, r)
          }
        }
      case other =>
        throw new UnsupportedOperationException(
          s"graft-table source: field $name has unsupported type $other")
    }

  /** Recursive converter for any supported Spark type against the matching
    * parquet file type. Spark writes LIST as
    * `group (LIST) { repeated group list { <element> } }` and MAP as
    * `group (MAP) { repeated group key_value { key; value } }`. */
  private def valueGetter(pt: org.apache.parquet.schema.Type, dt: DataType,
                          name: String): (Group, Int, Int) => Any = dt match {
    case ArrayType(et, _) =>
      val repeated = pt.asGroupType().getType(0).asGroupType()
      val elemGet = valueGetter(repeated.getType(0), et, s"$name.element")
      (g, i, r) => {
        val lg = g.getGroup(i, r)
        val n = lg.getFieldRepetitionCount(0)
        val arr = new Array[Any](n)
        var j = 0
        while (j < n) {
          val holder = lg.getGroup(0, j)
          arr(j) = if (holder.getFieldRepetitionCount(0) == 0) null else elemGet(holder, 0, 0)
          j += 1
        }
        new GenericArrayData(arr)
      }
    case MapType(kt, vt, _) =>
      val kv = pt.asGroupType().getType(0).asGroupType()
      val kGet = valueGetter(kv.getType(0), kt, s"$name.key")
      val vGet = valueGetter(kv.getType(1), vt, s"$name.value")
      (g, i, r) => {
        val mg = g.getGroup(i, r)
        val n = mg.getFieldRepetitionCount(0)
        val ks = new Array[Any](n)
        val vs = new Array[Any](n)
        var j = 0
        while (j < n) {
          val kvg = mg.getGroup(0, j)
          ks(j) = kGet(kvg, 0, 0)
          vs(j) = if (kvg.getFieldRepetitionCount(1) == 0) null else vGet(kvg, 1, 0)
          j += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
    case st: StructType =>
      val gt = pt.asGroupType()
      val fieldGets: Array[Option[(Int, (Group, Int, Int) => Any)]] = st.fields.map { f =>
        if (!gt.containsField(f.name)) None
        else {
          val fi = gt.getFieldIndex(f.name)
          Some((fi, valueGetter(gt.getType(fi), f.dataType, s"$name.${f.name}")))
        }
      }
      (g, i, r) => {
        val sg = g.getGroup(i, r)
        val vals = new Array[Any](fieldGets.length)
        var j = 0
        while (j < fieldGets.length) {
          vals(j) = fieldGets(j) match {
            case Some((fi, get)) if sg.getFieldRepetitionCount(fi) > 0 => get(sg, fi, 0)
            case _ => null
          }
          j += 1
        }
        new GenericInternalRow(vals)
      }
    case _ => primGetter(pt.asPrimitiveType(), dt, name)
  }

  private def buildConverters(fileType: GroupType): Array[Group => Any] =
    schema.fields.map { f =>
      if (!fileType.containsField(f.name)) {
        // directory-encoded partition column → per-file constant;
        // genuinely absent column (schema evolution) → null
        val const = pv.get(f.name).map(PvInject.constant(f.dataType, _)).orNull
        (_: Group) => const
      }
      else {
        val idx = fileType.getFieldIndex(f.name)
        val get = valueGetter(fileType.getType(idx), f.dataType, f.name)
        (g: Group) => if (g.getFieldRepetitionCount(idx) == 0) null else get(g, idx, 0)
      }
    }

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    if (converters == null) converters = buildConverters(current.getType)
    val values = new Array[Any](converters.length)
    var i = 0
    while (i < converters.length) { values(i) = converters(i)(current); i += 1 }
    new GenericInternalRow(values)
  }

  override def close(): Unit = reader.close()
}
