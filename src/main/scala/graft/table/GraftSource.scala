package graft.table

import java.util

import scala.collection.concurrent.TrieMap
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector over [[GraftTable]]: batch reads (including
  * every [[GraftTable.readVersion]]) and the incremental change stream.
  * The table's log decides WHICH files a read sees; Spark's own parquet
  * reader decodes them.
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
  *  - **Decoding** is Spark's vectorized parquet reader
  *    ([[GraftReaderFactory]]): each manifest-listed file is one
  *    `FilePartition`, its directory-encoded partition values ride in the
  *    `PartitionedFile`, and columns a file lacks read as null.
  *    `ParquetPartitionReaderFactory`, `FilePartition`, `PartitionedFile`
  *    and `SerializableConfiguration` are Spark internals, pinned by the
  *    Spark 4.1.2 jars the build compiles against (as `Pcm`'s Catalyst
  *    codegen is).
  *
  * Reference analog: the change-stream source the reference consumes
  * (henrikrexed/securitylogeventprocessor ocb/config.yaml:10-22, the
  * k8sobjects watch stream — which delivers only matching objects, the
  * pruning analog); re-expressed as Spark's V2 connector contract.
  *
  * Usage: `spark.readStream.format(classOf[GraftSourceProvider].getName)
  *   .option("maxFilesPerTrigger", 32).load(tableRoot)` — or simply
  * [[GraftTable.readStream]] / [[GraftTable.read]].
  */
class GraftSourceProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: util.Map[String, String]): String = {
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

  /** The table's one [[GraftTable]]: its scans and streams share it. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftV2Table(new GraftTable(rootOf(properties)), schema)
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

  /** Integer-family column types whose "long"-domain stats convert
    * exactly to Catalyst values (timestamps are epoch micros, dates epoch
    * days), with that conversion. */
  private[table] val longStat: PartialFunction[DataType, String => Any] = {
    case LongType | TimestampType | TimestampNTZType => v => java.lang.Long.valueOf(v.toLong)
    case IntegerType | DateType => v => java.lang.Integer.valueOf(v.toInt)
    case ShortType => v => java.lang.Short.valueOf(v.toShort)
    case ByteType => v => java.lang.Byte.valueOf(v.toByte)
  }
}

/** @param files the files to read instead of the pinned version's
  *   manifests — a copy-on-write rewrite's candidates ([[GraftTable]]
  *   builds it; the provider never does). */
final class GraftV2Table(table: GraftTable, tableSchema: StructType,
                         files: Option[Seq[FileInfo]] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft-table(${table.root})"
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
        // honor time travel: an as-of read's aggregate must fold the
        // manifests of THAT snapshot, not the latest
        val asOf = Option(options.get("version")).map(_.toLong).getOrElse(table.version)
        // rows > 0: a row-less file (an empty batch's schema-only file) has
        // no footer stats and contributes nothing to any aggregate — it
        // must not disqualify the metadata answer
        val fs = files.getOrElse(table.manifestsUpTo(asOf).flatMap(table.manifestFiles))
          .filter(_.rows > 0)
        def colOf(refs: Array[NamedReference]): Option[StructField] = refs match {
          case Array(r) if r.fieldNames.length == 1 =>
            tableSchema.fields.find(_.name == r.fieldNames.head)
          case _ => None
        }
        def minMax(f: AggregateFunc, refs: Array[NamedReference], wantMax: Boolean):
            Option[(StructField, Any)] =
          colOf(refs).filter(c => FilePrune.longStat.isDefinedAt(c.dataType)).flatMap { c =>
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
              Some((StructField(f.toString, c.dataType), FilePrune.longStat(c.dataType)(v.toString)))
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
        case Some((aggSchema, row)) => new GraftAggScan(table.root, aggSchema, row)
        case None => buildScan()
      }

      private def buildScan(): Scan = new GraftScan(table, required,
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("maxBytesPerTrigger")).map(_.toLong),
        Option(options.get("maxRowsPerTrigger")).map(_.toLong),
        pushed.toSeq,
        Option(options.get("version")).map(_.toLong), files)
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
      Array(ConstantRows(row, 1L))
    override def createReaderFactory(): PartitionReaderFactory =
      (partition: InputPartition) => partition.asInstanceOf[ConstantRows].rowReader
  }
}

final class GraftScan(table: GraftTable, schema: StructType,
                      maxFilesPerTrigger: Option[Int],
                      maxBytesPerTrigger: Option[Long],
                      maxRowsPerTrigger: Option[Long],
                      filters: Seq[Filter],
                      asOfVersion: Option[Long] = None,
                      files: Option[Seq[FileInfo]] = None)
    extends Scan with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-table scan of ${table.root}, PushedFilters: [${filters.mkString(", ")}], " +
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
  private val snapshotVersion: Long = asOfVersion.getOrElse(table.version)

  /** Storage-partitioning keys: the pinned snapshot's partition columns.
    * A read of given `files` claims none: each file stays its own task, so
    * a rewrite's survivors of one candidate file land in one output file
    * whatever `spark.sql.sources.v2.bucketing.enabled` says. */
  private lazy val keyCols: Seq[String] =
    if (files.isDefined) Nil
    else table.metaAt(snapshotVersion).map(_.partitionBy).getOrElse(Nil)

  /** The pinned snapshot's files (or the given `files`) after
    * pushed-filter pruning, resolved once per scan. rows > 0: an empty
    * batch writes a row-less file whose footer has no stats — planning it
    * adds a no-op task and (worse) withdraws the storage-partitioned
    * single-value claim for the whole scan. */
  private lazy val pinnedFiles: Seq[FileInfo] =
    files.getOrElse(table.manifestsUpTo(snapshotVersion).flatMap(table.manifestFiles))
      .filter(fi => fi.rows > 0 && FilePrune.keep(fi, filters))

  /** [[pinnedFiles]] minus what the runtime filters prune. */
  private def liveFiles: Seq[FileInfo] =
    pinnedFiles.filter(FilePrune.keep(_, runtimeFilters))

  /** Post-pruning size/row estimate from manifest metadata — zero data
    * I/O. Catalyst's join planning sees it through the V2 relation, so a
    * small (or heavily pruned) graft table auto-broadcasts instead of
    * shuffling the big side; same convention as Spark's own file sources
    * (on-disk bytes × spark.sql.sources.fileCompressionFactor, applied by
    * the caller). */
  override def estimateStatistics(): Statistics = {
    val fs = liveFiles
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
  // groupBy/join on those keys WITHOUT a shuffle. Spark honours this by
  // default (spark.sql.sources.v2.bucketing.enabled is on) and groups all
  // files of one key into one partition, so a plain read of a
  // directory-partitioned table also runs ONE task per partition value.
  // Any non-conforming file — pre-partitioning history, missing stats,
  // unsupported type — degrades the whole scan to unknown partitioning: a
  // plain scan, never a wrong answer.

  /** Typed Catalyst partition-key value for one key column, or None if
    * this file cannot prove single-valuedness for it. */
  private def keyValue(fi: FileInfo, colName: String, dt: DataType): Option[Any] =
    fi.stats.get(colName).filter(s => s.nulls == 0L && s.min == s.max).flatMap { s =>
      try (s.typ, dt) match {
        case ("string", StringType) => Some(UTF8String.fromString(s.min))
        case ("long", _) => FilePrune.longStat.lift(dt).map(_(s.min))
        // doubles excluded: NaN/-0.0 equality diverges between stats
        // order and Spark key grouping — never worth the risk
        case _ => None
      } catch { case _: NumberFormatException => None }
    }

  /** Each file's key (Catalyst values in key-column order) when every
    * file of `fs` proves one, else None. */
  private def fileKeys(fs: Seq[FileInfo]): Option[Seq[Array[Any]]] = {
    val types = keyCols.flatMap(c => schema.fields.find(_.name == c).map(_.dataType))
    if (fs.isEmpty || keyCols.isEmpty || types.size < keyCols.size) None
    else {
      val keys = fs.map(fi => keyCols.zip(types).map { case (c, t) => keyValue(fi, c, t) })
      if (keys.forall(_.forall(_.isDefined))) Some(keys.map(_.map(_.get).toArray)) else None
    }
  }

  override def outputPartitioning(): Partitioning = {
    val fs = liveFiles
    if (fileKeys(fs).isEmpty) new UnknownPartitioning(fs.size)
    else new KeyGroupedPartitioning(
      keyCols.map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray,
      fs.size)
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val fs = liveFiles
      val parts = fs.zipWithIndex.map { case (fi, i) => GraftReaderFactory.partition(i, fi, schema) }
      fileKeys(fs).fold(parts)(_.zip(parts).map { case (k, p) => GraftKeyedInputPartition(p, k) })
        .toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      GraftReaderFactory(schema, filters ++ runtimeFilters)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(table, schema, maxFilesPerTrigger, maxBytesPerTrigger,
      maxRowsPerTrigger, filters)
}

/** Offset = snapshot version (the number of committed micro-batches). */
case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class GraftMicroBatchStream(table: GraftTable, schema: StructType,
                                  maxFilesPerTrigger: Option[Int],
                                  maxBytesPerTrigger: Option[Long] = None,
                                  maxRowsPerTrigger: Option[Long] = None,
                                  filters: Seq[Filter] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl {

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

  /** First version in (from, to] whose snapshot metadata still exists —
    * earlier versions were expired by vacuum. For a fresh reader that
    * version serves the full chain prefix (retention may have erased the
    * per-version attribution of older manifests, but the manifests
    * themselves are still in the live chain). */
  private def firstLiveVersion(from: Long, to: Long): Long =
    (from + 1 to to).find(k => table.manifestsAddedAt(k).isDefined).getOrElse(to + 1)

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
  private def readableManifests(k: Long, from: Long, chain: => Set[String],
                                firstLive: => Long): Seq[String] =
    table.manifestsAddedAt(k) match {
      case None if from == 0L => Nil // expired by retention; backfilled at firstLive
      case None => throw new IllegalStateException(
        s"stream resume offset $from predates retention at version $k of ${table.root}: " +
          "restart from a fresh checkpoint (full backfill of the live chain)")
      case Some(added) =>
        if (from == 0L) {
          val ms = if (k == firstLive) table.manifestsUpTo(k) else added
          ms.filter(chain.contains)
        } else added.filterNot(table.isRewrite)
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
      .zipWithIndex.map { case (fi, i) => GraftReaderFactory.partition(i, fi, schema) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(schema, filters)

  /** Offsets only advance: once the engine commits past a version its
    * cached file list can never be requested again — prune it. */
  override def commit(end: Offset): Unit = {
    val v = end.asInstanceOf[GraftOffset].version
    steadyFileCache.keysIterator.filter(_ <= v).foreach(steadyFileCache.remove)
  }
  override def stop(): Unit = ()
}

/** A file provably single-valued on the scan's key columns: `part` is its
  * scan unit, `key` the Catalyst-internal values in key-column order. */
case class GraftKeyedInputPartition(part: InputPartition, key: Array[Any])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

/** `rows` copies of one constant row, emitted without opening a data
  * file: a metadata aggregate's one-row answer, or a manifest-listed file
  * whose every read column is a directory-encoded constant (a zero-column
  * read included) — the manifest row count is authoritative, the commit
  * counted the rows. */
case class ConstantRows(values: Array[Any], rows: Long) extends InputPartition {
  def rowReader: PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val row = new GenericInternalRow(values)
    private var left = rows
    override def next(): Boolean = { left -= 1; left >= 0 }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }

  def batchReader(schema: StructType, capacity: Int): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val row = new GenericInternalRow(values)
      private val batch = new ColumnarBatch(schema.fields.indices.map { i =>
        val v = new ConstantColumnVector(capacity, schema(i).dataType)
        ColumnVectorUtils.populate(v, row, i)
        v: ColumnVector
      }.toArray)
      private var left = rows
      override def next(): Boolean = left > 0 && {
        batch.setNumRows(math.min(left, capacity.toLong).toInt)
        left -= batch.numRows
        true
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = batch.close()
    }
}

/** The V2 source's one decoder: Spark's `ParquetPartitionReaderFactory`
  * (vectorized, column-pruned; columns a file lacks read as null; nested,
  * INT96 and MILLIS columns natively). [[ConstantRows]] partitions are
  * served without a file read.
  *
  * A file's directory-encoded partition columns are not stored in it, so
  * the parquet factory is picked per file by which read columns it holds
  * as partition values (a partitioned table may also list plain files
  * that store those columns physically). Spark's factory emits the
  * decoded columns, then the partition columns; this one permutes them
  * back into `readSchema` order. Each factory's requested schema travels
  * in its hadoop conf, so the factories are derived inside the task from
  * the scan's one broadcast conf; there `SQLConf.get` is the session's
  * conf, which Spark propagates to every task of a query. */
final class GraftReaderFactory private (readSchema: StructType, filters: Seq[Filter],
                                        hadoopConf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  /** Per partition-column set: Spark's factory, and for each `readSchema`
    * column its position in that factory's output. */
  @transient private lazy val factories =
    TrieMap.empty[Seq[String], (ParquetPartitionReaderFactory, Array[Int])]

  private def factory(partCols: Seq[String]): (ParquetPartitionReaderFactory, Array[Int]) =
    factories.getOrElseUpdate(partCols, {
      val (part, data) = readSchema.fields.partition(f => partCols.contains(f.name))
      val dataSchema = StructType(data)
      val conf = new Configuration(hadoopConf.value.value)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
      val order = (data ++ part).map(_.name)
      val sqlConf = SQLConf.get
      (ParquetPartitionReaderFactory(sqlConf, new LocalBroadcast(new SerializableConfiguration(conf)),
        dataSchema, dataSchema, StructType(part),
        // row-group pruning sees decoded columns only
        filters.filter(_.references.forall(c => !partCols.contains(c))).toArray,
        None, new ParquetOptions(Map.empty[String, String], sqlConf)),
        readSchema.fieldNames.map(n => order.indexOf(n)))
    })

  private def factoryFor(f: FilePartition): (ParquetPartitionReaderFactory, Array[Int]) =
    factory(readSchema.fieldNames.toSeq
      .filter(f.files.head.otherConstantMetadataColumnValues.contains))

  /** Spark's answer depends on the read types alone, so every partition of
    * a scan (and its [[ConstantRows]]) agrees. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    factory(Nil)._1.supportColumnarReads(partition)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case k: GraftKeyedInputPartition => createReader(k.part)
      case c: ConstantRows => c.rowReader
      case f: FilePartition =>
        val (parquet, perm) = factoryFor(f)
        val in = parquet.createReader(f)
        new PartitionReader[InternalRow] {
          private val out = ProjectingInternalRow(readSchema, perm.toIndexedSeq)
          override def next(): Boolean = in.next()
          override def get(): InternalRow = { out.project(in.get()); out }
          override def close(): Unit = in.close()
        }
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case k: GraftKeyedInputPartition => createColumnarReader(k.part)
      case c: ConstantRows => c.batchReader(readSchema, SQLConf.get.parquetVectorizedReaderBatchSize)
      case f: FilePartition =>
        val (parquet, perm) = factoryFor(f)
        val in = parquet.createColumnarReader(f)
        new PartitionReader[ColumnarBatch] {
          override def next(): Boolean = in.next()
          override def get(): ColumnarBatch = {
            val b = in.get()
            new ColumnarBatch(perm.map(b.column), b.numRows)
          }
          override def close(): Unit = in.close()
        }
    }
}

object GraftReaderFactory {
  /** Built on the driver: broadcasts a hadoop conf carrying the read flags
    * Spark's own parquet scan sets. */
  def apply(readSchema: StructType, filters: Seq[Filter]): GraftReaderFactory = {
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    hconf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    hconf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> conf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> conf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> conf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> conf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> conf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> conf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        conf.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (k, v) => hconf.setBoolean(k.key, v) }
    new GraftReaderFactory(readSchema, filters,
      spark.sparkContext.broadcast(new SerializableConfiguration(hconf)))
  }

  /** One manifest-listed file as one scan unit (one file per partition,
    * so task counts follow file counts). Read columns the file holds as
    * directory-encoded partition values become its typed
    * `partitionValues`, in `readSchema` order; the whole `pv` map rides as
    * the file's constant metadata, which Spark's parquet factory ignores
    * and [[GraftReaderFactory]] picks the decoder by. A file with nothing
    * left to decode is [[ConstantRows]]. */
  def partition(index: Int, fi: FileInfo, readSchema: StructType): InputPartition = {
    val pvCols = readSchema.fields.filter(f => fi.pv.contains(f.name))
    val values: Array[Any] = pvCols.map(f => pvConstant(f.dataType, fi.pv(f.name)))
    if (pvCols.length == readSchema.length) ConstantRows(values, fi.rows)
    else FilePartition(index, Array(PartitionedFile(new GenericInternalRow(values),
      SparkPath.fromPathString(fi.path), 0L, fi.bytes, fileSize = fi.bytes,
      otherConstantMetadataColumnValues = fi.pv.map { case (k, v) => k -> v.orNull })))
  }

  /** Typed Catalyst constant for a directory-encoded partition value
    * (commit validates partition columns against exactly this type set). */
  private def pvConstant(dt: DataType, ov: Option[String]): Any = ov match {
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

/** A [[Broadcast]] over a value already in this JVM: how a parquet factory
  * derived inside a task receives its own read conf. */
private final class LocalBroadcast[T: ClassTag](v: T) extends Broadcast[T](-1L) {
  override protected def getValue(): T = v
  override protected def doUnpersist(blocking: Boolean): Unit = ()
  override protected def doDestroy(blocking: Boolean): Unit = ()
}

