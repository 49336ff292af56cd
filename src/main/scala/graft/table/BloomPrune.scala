package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.sources._

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Parquet bloom-filter file pruning for point predicates — the second
  * pruning stage behind manifest min/max stats ([[FilePrune]]).
  *
  * Why it exists at 100 TB: a takedown `DELETE WHERE clip_id = 'x'` on a
  * column the table is NOT clustered by has min/max stats that span
  * nearly the whole id domain in every file — stats admit everything and
  * the copy-on-write rewrite touches the whole table. A per-file bloom
  * filter proves NON-membership ("no row group in this file can contain
  * 'x'"), so the rewrite touches ~the one file that really holds the id.
  * This is the same second-stage design Iceberg/Delta use; the blooms
  * themselves are standard parquet column metadata written by Spark's
  * writer (`parquet.bloom.filter.enabled#col`), so the files stay plain
  * parquet readable by anything.
  *
  * Soundness contract (same direction as [[DeletePruning]]): a file
  * containing ANY row matching the predicate must be kept. Only a bloom
  * MISS can prune, and only for Spark-row-equality-safe probes:
  *
  *  - nulls and NaN never prune (bloom indexes neither; `x = NULL` is
  *    never true anyway, and NaN has many bit patterns);
  *  - `0.0` probes BOTH IEEE zero bit patterns — Spark row equality says
  *    `-0.0 == 0.0` but blooms hash raw bits, so a single-pattern probe
  *    would wrongly prune a file holding the other zero;
  *  - the probe value must fit the column's physical type exactly
  *    (string→annotated BINARY, integral→INT32/INT64, double→DOUBLE,
  *    float→FLOAT); timestamps/dates/decimals are skipped — their
  *    physical encodings vary by unit/precision and a wrong-unit hash
  *    would be an unsound miss;
  *  - a column chunk without a bloom, an unreadable footer, or any IO
  *    error keeps the file.
  *
  * Used by the copy-on-write rewrite's candidate selection (delete,
  * update and merge; compaction takes every file, and every rewrite's
  * write carries the blooms forward), NOT the streaming read planner:
  * consulting footers is per-file metadata I/O, which the V2 source's
  * bounded-metadata-I/O budget deliberately avoids per trigger. A rewrite
  * pays it once, in parallel, on the already stats-admitted candidate
  * set. */
object BloomPrune {

  /** true ⇒ the file may contain a row matching the CONJUNCTION of
    * `filters`; false ⇒ provably cannot (safe to leave untouched).
    * `bloomCols` limits which columns are even probed (the table's
    * declared bloom layout — other columns have no bloom to read). */
  def keep(path: String, filters: Seq[Filter], bloomCols: Set[String],
           hconf: Configuration): Boolean = {
    val probeCols = filters.flatMap(equalityCols).toSet.intersect(bloomCols)
    if (probeCols.isEmpty) return true
    try {
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), hconf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        if (blocks.isEmpty) return true
        // one bloom read per (block, column) actually probed, memoized —
        // an In-list probes the same bloom once per value
        val cache = scala.collection.mutable.Map.empty[(BlockMetaData, String), Option[(BloomFilter, PrimitiveType)]]
        def bloomOf(b: BlockMetaData, col: String): Option[(BloomFilter, PrimitiveType)] =
          cache.getOrElseUpdate((b, col), {
            b.getColumns.asScala.find(_.getPath.toDotString == col).flatMap { cc =>
              if (cc.getBloomFilterOffset < 0) None
              else Option(rd.getBloomFilterDataReader(b).readBloomFilter(cc))
                .map(bf => (bf, cc.getPrimitiveType))
            }
          })
        // "no row in this FILE can equal v": every row group has a bloom
        // for the column and every row-equal bit representation of v
        // misses in all of them
        def absentEverywhere(col: String, v: Any): Boolean =
          blocks.forall { b =>
            bloomOf(b, col) match {
              case Some((bf, pt)) =>
                rowEqualReprs(v).forall(c =>
                  hashFor(bf, pt, c).exists(h => !bf.findHash(h)))
              case None => false // no bloom ⇒ cannot prove absence
            }
          }
        def noMatch(f: Filter): Boolean = f match {
          case EqualTo(c, v) if probeCols(c) && probeValue(v) => absentEverywhere(c, v)
          case EqualNullSafe(c, v) if probeCols(c) && probeValue(v) => absentEverywhere(c, v)
          case In(c, vs) if probeCols(c) && vs != null && vs.nonEmpty && vs.forall(probeValue) =>
            vs.forall(absentEverywhere(c, _))
          case And(l, r) => noMatch(l) || noMatch(r)
          case Or(l, r) => noMatch(l) && noMatch(r)
          case _ => false
        }
        // filters are conjuncts: ONE provably-unsatisfiable conjunct
        // proves the whole file match-free
        !filters.exists(noMatch)
      } finally rd.close()
    } catch { case NonFatal(_) => true } // unreadable ⇒ keep
  }

  /** Columns an equality/IN probe could use somewhere inside `f`. */
  private def equalityCols(f: Filter): Seq[String] = f match {
    case EqualTo(c, v) if probeValue(v) => Seq(c)
    case EqualNullSafe(c, v) if probeValue(v) => Seq(c)
    case In(c, vs) if vs != null && vs.nonEmpty && vs.forall(probeValue) => Seq(c)
    case And(l, r) => equalityCols(l) ++ equalityCols(r)
    case Or(l, r) => equalityCols(l) ++ equalityCols(r)
    case _ => Nil
  }

  private def probeValue(v: Any): Boolean = v match {
    case null => false
    case d: java.lang.Double => !d.isNaN
    case f: java.lang.Float => !f.isNaN
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte | _: String => true
    case _ => false // timestamps/dates/decimals: physical encoding varies
  }

  /** All stored bit representations Spark row equality treats as equal
    * to `v` — ±0.0 is the one non-singleton class we probe. */
  private def rowEqualReprs(v: Any): Seq[Any] = v match {
    case d: java.lang.Double if d.doubleValue == 0.0 =>
      Seq(java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(-0.0))
    case f: java.lang.Float if f.floatValue == 0.0f =>
      Seq(java.lang.Float.valueOf(0.0f), java.lang.Float.valueOf(-0.0f))
    case x => Seq(x)
  }

  /** The bloom hash of `v` in the column's PHYSICAL domain, or None when
    * the (physical type, value type) pairing is not provably the one the
    * writer hashed — None always keeps the file. */
  private def hashFor(bf: BloomFilter, pt: PrimitiveType, v: Any): Option[Long] = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    def plainInt: Boolean = ann == null || (ann match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    })
    (pt.getPrimitiveTypeName, v) match {
      case (BINARY, s: String) if ann == LogicalTypeAnnotation.stringType() =>
        Some(bf.hash(Binary.fromString(s)))
      case (INT64, n: java.lang.Number) if plainInt &&
          (v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer] ||
           v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte]) =>
        Some(bf.hash(n.longValue))
      case (INT32, n: java.lang.Number) if plainInt &&
          (v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer] ||
           v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte]) =>
        // a probe outside the int domain cannot be stored in INT32 at all;
        // min/max stats already pruned it — keep (None) rather than hash
        // a truncated value
        val l = n.longValue
        if (l >= Int.MinValue && l <= Int.MaxValue) Some(bf.hash(l.toInt)) else None
      case (DOUBLE, d: java.lang.Double) => Some(bf.hash(d.doubleValue))
      case (FLOAT, f: java.lang.Float) => Some(bf.hash(f.floatValue))
      case _ => None
    }
  }
}
