package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor, StandardCopyOption,
  StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Per-column min/max harvested from a data file's parquet footer at commit
  * time. `typ` selects the comparison domain: "long" (int32/int64,
  * timestamps as epoch micros), "double" (float/double), "string" (UTF8
  * binary). min/max are canonical strings so manifest JSON stays
  * precision-exact. `nulls` = exact null count for the column in the file,
  * or -1 when any chunk's footer left it unset (unknown). min/max never
  * cover nulls, so consumers that need "every row is inside [min,max]"
  * (e.g. the storage-partitioned single-value claim) must require
  * nulls == 0. */
final case class ColStats(typ: String, min: String, max: String, nulls: Long = -1L)

/** One manifest-listed data file: path, exact row count, on-disk bytes
  * (byte-based admission control), column stats (file pruning), and — for
  * files written under a partition layout — the partition values encoded
  * in the file's directory path (`pv`; None = the null partition). The
  * partition columns are NOT stored in the file; readers re-inject them as
  * constants, and commit synthesizes exact stats (min = max = value,
  * nulls = 0) so pruning and storage-partitioned scans see them like any
  * other column. */
final case class FileInfo(path: String, rows: Long, bytes: Long,
                          stats: Map[String, ColStats],
                          pv: Map[String, Option[String]] = Map.empty)

/** Parsed manifest content (cached — manifests are immutable once written).
  * `mergeIds` is the [[GraftTable.merge]] idempotence namespace — kept
  * SEPARATE from streaming `batchIds` so a user-chosen merge id can never
  * collide with a checkpoint's monotonically growing batch ids (a
  * collision would make the streaming sink silently treat a future
  * micro-batch as already committed). */
final case class ManifestData(batchIds: Seq[Long], replacesUpTo: Option[Long],
                              rows: Long, files: Seq[FileInfo],
                              mergeIds: Seq[Long] = Nil)

/** Outcome of a [[GraftTable.merge]]: matched-key rows replaced and
  * new-key rows appended, in one commit. */
final case class MergeStats(updated: Long, inserted: Long)

/** One table version's metadata, published inside its snapshot node (the
  * node's `"meta"` object) and therefore atomically with it: the union
  * schema of every committed batch (deeply nullable — authoritative under
  * a partition layout, whose data files lack the partition columns), the
  * declared directory-partition columns, and the bloom-filter layout
  * (`bloomNdv` = parquet `expected.ndv`; meaningful only when `bloomFor`
  * is non-empty). A commit that aborts before its pointer swap leaves
  * every reader on the previous version's metadata. */
final case class TableMeta(schema: org.apache.spark.sql.types.StructType,
                           partitionBy: Seq[String], bloomFor: Seq[String],
                           bloomNdv: Long) {
  private[table] def json: String = {
    def arr(xs: Seq[String]) = xs.map(GraftTable.jsonString).mkString("[", ",", "]")
    s"""{"schema":${schema.json},"partitionBy":${arr(partitionBy)},""" +
      s""""bloomFor":${arr(bloomFor)},"bloomNdv":$bloomNdv}"""
  }
}

/** From-scratch snapshot/manifest ACID table (Iceberg-style semantics, zero
  * Iceberg dependency — this sandbox ships Spark jars only; SURVEY §7.2).
  *
  * Layout under `root`:
  * {{{
  *   data/batch=<batchId>/part-*.parquet   column data, one dir per commit
  *   manifests/manifest-<batchId>.json     file list + per-file lineage/rows/bytes/column-stats
  *   snapshots/v<N>.json                   ordered list of committed manifests + the
  *                                         version's [[TableMeta]] (schema, partition
  *                                         columns, bloom layout)
  *   VERSION                               current snapshot number (atomic pointer)
  *   LOCK                                  advisory single-writer lock
  * }}}
  *
  * Commit protocol (exactly-once, idempotent by batchId):
  *   1. already committed? → no-op (replays of a committed micro-batch
  *      change nothing — the north rule's idempotent-commit criterion)
  *   2. write data files (overwrite — a retried half-written batch dir is
  *      simply rewritten; readers never see it because only manifest-listed
  *      files are readable)
  *   3. write manifest via tmp + atomic rename
  *   4. write snapshot v+1 (carrying v+1's metadata) and atomically swap
  *      VERSION
  *
  * Readers resolve VERSION → snapshot → manifests → exact file list, so
  * crash leftovers in data/ are invisible. Renames are atomic on local and
  * HDFS filesystems; object stores would swap a pointer object instead.
  */
object GraftTable {
  /** Canonical JSON string escaping shared by manifest writing and the
    * CLI's describe output (quotes, backslashes, control characters). */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Global count of filesystem METADATA operations (snapshot/manifest/
    * VERSION reads and existence probes) across all instances — test
    * instrumentation for the bounded-metadata-I/O-per-trigger contract of
    * the streaming source (a long-lived reader must not pay O(versions)
    * driver I/O per micro-batch). Negligible runtime cost; never read on
    * the data path. */
  val metaReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parquet dictionary budget (`parquet.dictionary.page.size`, bytes) of
    * every data write. The 1 MiB default exceeds a micro-batch file's whole
    * column chunk, so a column of unique values (ids, hashes) hashed every
    * value into a dictionary that parquet then dropped for not compressing.
    * At 16 KiB such a column falls back to plain after a few hundred values;
    * low-cardinality columns stay under it and keep their dictionaries.
    * Only encodings change, never content — so a constant, not a setting. */
  private[table] val DictionaryBudget = 16 * 1024

  /** A parquet file opened for its footer (and blooms) with `conf` as the
    * read options. Given only an `InputFile`, `ParquetFileReader.open`
    * builds its options from a fresh Hadoop `Configuration`, which parses
    * `core-default.xml` on every call: ~7 ms of CPU per open against
    * ~0.2 ms this way. */
  private[graft] def openParquet(path: org.apache.hadoop.fs.Path,
                                 conf: org.apache.hadoop.conf.Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())

  /** A table root, not just any dir with a VERSION file: the pointer must
    * parse as a version AND the metadata dirs must exist — a plain parquet
    * directory with a stray VERSION artifact is not a table. */
  def isTableRoot(dir: String): Boolean = {
    val root = Paths.get(dir)
    val vf = root.resolve("VERSION")
    Files.exists(vf) && Files.isDirectory(root.resolve("snapshots")) &&
      Files.isDirectory(root.resolve("manifests")) &&
      scala.util.Try(new String(Files.readAllBytes(vf), StandardCharsets.UTF_8).trim.toLong).isSuccess
  }
}

/** @param bloomFor columns to equip with per-file parquet bloom filters
  *   (written by every data-writing path, consulted by DML candidate
  *   pruning — see [[BloomPrune]]). Adopted into the next version's
  *   [[TableMeta]] by the first write of a table that has no layout yet,
  *   so maintenance jobs opened without the parameter keep it; a table's
  *   layout wins over the constructor argument.
  * @param bloomNdv expected distinct values per file for bloom sizing
  *   (parquet `expected.ndv`); ~1.2 MB/file/column at 1M, scales down
  *   linearly. */
final class GraftTable(val root: String, checkpointInterval: Int = 64,
                       pointer: PointerCommitter = RenamePointerCommitter,
                       bloomFor: Seq[String] = Nil, bloomNdv: Long = 100000L) {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  /** Manifest paths are stored RELATIVE to the table root (and resolved
    * back on parse): a table directory can then be moved, copied, or
    * mounted at a different prefix without orphaning its own data. */
  private val rootAbs: Path = Paths.get(root).toAbsolutePath.normalize
  private def relativizePath(path: String): String = {
    val abs = Paths.get(path).toAbsolutePath.normalize
    if (abs.startsWith(rootAbs)) rootAbs.relativize(abs).toString else path
  }
  private def resolvePath(stored: String): String = rootAbs.resolve(stored).toString

  /** Cross-PROCESS single-writer guard: every mutating operation (commit,
    * compact, vacuum) holds an advisory file lock on root/LOCK for its
    * duration. A second writer process — e.g. a maintenance CLI run
    * against a table with a live streaming writer — fails LOUDLY instead
    * of orphaning the other's commit or vacuuming its fresh files.
    * (In-JVM writers on the same instance are serialized by the table's
    * monitor already; a same-JVM overlap through a second instance
    * surfaces as the same clear error.) */
  private def withProcessLock[T](op: String)(body: => T): T = {
    Files.createDirectories(p())
    val ch = java.nio.channels.FileChannel.open(p("LOCK"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock =
      try ch.tryLock()
      catch {
        case _: java.nio.channels.OverlappingFileLockException => null
        case e: Throwable => ch.close(); throw e // never leak the channel
      }
    if (lock == null) {
      ch.close()
      throw new IllegalStateException(
        s"$op rejected: another writer holds the lock for $root — the table " +
          "is single-writer (stop the other writer or run maintenance from its process)")
    }
    try body finally { lock.release(); ch.close() }
  }

  /** Best-effort recursive removal of a directory this table just wrote
    * (no-op rewrites): nothing references it, so partial failure is
    * harmless garbage, never corruption. */
  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  private def writeAtomic(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def version: Long = {
    GraftTable.metaReads.incrementAndGet()
    pointer.currentVersion(p("VERSION"))
  }

  /** Version-derived metadata objects (snapshot nodes, rewrite/delete
    * manifests) publish through the pointer protocol too: their names
    * collide exactly when two writers race one version, and a blind
    * overwrite would let the CAS loser clobber the winner's published
    * node BEFORE its own swap is refused. */
  private def publishVersioned(target: Path, content: String): Unit = {
    // materialize an explicit ZERO pointer before the table's very first
    // metadata object: a writer crashing between this publish and its
    // first pointer swap then leaves VERSION=0 beside the orphan node —
    // a state gcOrphans cleans automatically — instead of "no pointer at
    // all", which is indistinguishable from a partial restore that LOST
    // the pointer and must be refused (see gcOrphansLocked). ATOMIC_MOVE
    // without REPLACE: a concurrent creator winning the race is fine.
    val vf = p("VERSION")
    if (!Files.exists(vf)) {
      // Same lost-pointer check as gcOrphansLocked, applied BEFORE the
      // marker exists: snapshot nodes on disk with no pointer is a partial
      // restore (or a pointer-losing copy), not a fresh table — stamping
      // VERSION=0 here would silently re-arm gcOrphans to delete every
      // live snapshot/manifest/data file above v0. Refuse instead; only a
      // truly empty table (no v*.json nodes) may materialize the marker.
      val snaps = p("snapshots")
      if (Files.exists(snaps)) {
        val s = Files.list(snaps)
        val hasNodes =
          try s.iterator().asScala.exists(_.getFileName.toString.matches("v\\d+\\.json"))
          finally s.close()
        if (hasNodes) throw new IllegalStateException(
          s"refusing to stamp VERSION=0 for $root: snapshot nodes exist under " +
            "snapshots/ but the VERSION pointer object is missing (partial " +
            "restore?). Restore VERSION before writing to this table.")
      }
      Files.createDirectories(vf.getParent)
      val tmp = vf.resolveSibling("VERSION.zero.tmp")
      Files.write(tmp, "0".getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, vf, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); ()
      }
    }
    if (!pointer.putVersioned(target, content))
      throw new IllegalStateException(
        s"refusing to overwrite $target: a competing writer may be " +
          "mid-publish (the table is single-writer)")
  }

  /** Publish snapshot v+1 through the pointer protocol; a refused swap
    * means another writer advanced the table since `v` was read — this
    * commit's snapshot is stale and must abort loudly. */
  private def advancePointer(v: Long): Unit =
    if (!pointer.swap(p("VERSION"), v, v + 1))
      throw new IllegalStateException(
        s"pointer swap refused publishing v${v + 1} of $root: another " +
          "writer advanced the table (the table is single-writer)")

  /** The current version's metadata (None on an empty table): served
    * from the cached chain when it is current, else one node read. */
  def meta: Option[TableMeta] = synchronized { metaOf(version) }

  private def metaOf(v: Long): Option[TableMeta] =
    if (v == chainVersion) Some(chainMeta) else metaAt(v)

  /** Metadata of version `v`: exactly one snapshot-node read, never a
    * chain walk. */
  private[table] def metaAt(v: Long): Option[TableMeta] =
    if (v == 0) None else Some(parseMeta(v, readSnapshotNode(v)))

  private def parseMeta(v: Long, node: com.fasterxml.jackson.databind.JsonNode): TableMeta = {
    val m = node.get("meta")
    if (m == null) throw new IllegalStateException(
      s"snapshot v$v of $root carries no table metadata: it was written " +
        "before versioned metadata and cannot be read")
    TableMeta(org.apache.spark.sql.types.DataType.fromJson(m.get("schema").toString)
      .asInstanceOf[org.apache.spark.sql.types.StructType],
      texts(m, "partitionBy"), texts(m, "bloomFor"), m.get("bloomNdv").asLong())
  }

  private def texts(node: com.fasterxml.jackson.databind.JsonNode, key: String): Vector[String] =
    node.get(key).elements().asScala.map(_.asText()).toVector

  /** The metadata the version after `cur` publishes, worked out BEFORE
    * any data is written so a rejected schema or bloom layout fails fast
    * instead of after paying — and orphaning — a full batch's output:
    *  - schema = [[mergeSchemas]] of the current schema and `incoming`,
    *    stored deeply NULLABLE (schema evolution means older files read a
    *    column as null, and a null under a non-nullable schema silently
    *    corrupts to 0/"" downstream — Spark's file sources do the same);
    *  - partition columns = the last non-empty `partitionBy`: compact()
    *    and every DML rewrite preserve that layout, and storage-
    *    partitioned reads key on it;
    *  - bloom layout = the table's if it has one (so a maintenance CLI
    *    opened with defaults keeps equipping rewrites with the same
    *    blooms — dropping them would turn a one-file takedown back into a
    *    full-table scan), otherwise this instance's validated `bloomFor`. */
  private def nextMeta(cur: Option[TableMeta],
                       incoming: org.apache.spark.sql.types.StructType,
                       partitionBy: Seq[String]): TableMeta = {
    val schema = mergeSchemas(cur.map(_.schema),
      deepNullable(incoming).asInstanceOf[org.apache.spark.sql.types.StructType])
    val curParts = cur.map(_.partitionBy).getOrElse(Nil)
    val parts = if (partitionBy.nonEmpty) partitionBy else curParts
    cur.filter(_.bloomFor.nonEmpty) match {
      case Some(c) => TableMeta(schema, parts, c.bloomFor, c.bloomNdv)
      case None =>
        requireBloomCols(schema.fieldNames.toSet, partitionBy ++ curParts)
        TableMeta(schema, parts, bloomFor, bloomNdv)
    }
  }

  /** Metadata of a rewrite (compaction/delete/update/merge) of version
    * `v`: same schema and partition layout, bloom layout adopted as in
    * [[nextMeta]] — so a bad `--bloom-for` fails at entry, BEFORE the
    * candidate reads and rewrites run. */
  private def rewriteMeta(v: Long): TableMeta = {
    val cur = metaOf(v).get
    nextMeta(Some(cur), cur.schema, Nil)
  }

  /** The one data write (commit, compaction, every DML rewrite): `df` as
    * parquet under `dir`, partitioned by `partitionCols`, with the
    * [[GraftTable.DictionaryBudget]] and `m`'s bloom layout. */
  private def writeParquet(df: DataFrame, partitionCols: Seq[String], m: TableMeta,
                           dir: Path): Unit = {
    val base = df.write.mode("overwrite")
      .option("parquet.dictionary.page.size", GraftTable.DictionaryBudget.toString)
    val w = m.bloomFor.foldLeft(base) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", m.bloomNdv.toString)
    }
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir.toString)
  }

  /** Reject a would-be-adopted bloom layout naming columns that can never
    * produce a usable bloom: unknown (case-sensitive — parquet matches
    * option names that way) names, or directory-partition columns (their
    * values live in paths, not data files). Checked against the MERGED
    * schema: a schema-evolving batch may legitimately omit an optional
    * bloom column (it simply writes no bloom for it). A typo'd layout
    * would otherwise become authoritative and every later takedown would
    * silently fall back to stats-only pruning. */
  private def requireBloomCols(known: Set[String], partitionCols: Seq[String]): Unit = {
    val bad = (bloomFor.filterNot(known.contains) ++
      bloomFor.filter(partitionCols.contains)).distinct
    require(bad.isEmpty,
      s"bloom column(s) ${bad.mkString(", ")} are not data columns " +
        "of this table (names are case-sensitive; partition columns live " +
        "in directory paths, not data files, and cannot carry blooms)")
  }

  // ---- metadata caches -----------------------------------------------
  // Manifests and snapshot nodes are immutable once written, so parsed
  // results are memoized per instance: without this, a long-lived V2
  // reader re-walks the parent chain, re-probes snapshot files, and
  // re-parses every manifest's JSON on EVERY trigger — O(versions) driver
  // metadata I/O per micro-batch (round-2 advisor finding). vacuum() (the
  // only operation that deletes metadata) clears them.
  //
  // The CHAIN cache holds exactly ONE resolved chain (the newest version
  // asked for) and advances it INCREMENTALLY by applying per-version
  // snapshot deltas: the round-3 per-version TrieMap cached a full
  // O(versions) Seq under EVERY key, which is O(versions²) driver memory
  // over a year-lived table at one commit/min (~500k versions). Requests
  // for older versions (time travel, fresh-stream backfill) re-resolve
  // through the parent walk — ≤ checkpointInterval metadata reads,
  // uncached by design.
  private var chainVersion: Long = -1L
  private var chainSeq: Vector[String] = Vector.empty
  private var chainMeta: TableMeta = _ // metadata of chainVersion
  private val manifestCache = scala.collection.concurrent.TrieMap.empty[String, ManifestData]
  private val addedCache = scala.collection.concurrent.TrieMap.empty[Long, Option[Seq[String]]]

  private def invalidateMetaCaches(): Unit = synchronized {
    chainVersion = -1L; chainSeq = Vector.empty; chainMeta = null
    manifestCache.clear(); addedCache.clear()
    idsCacheVersion = -1L
  }

  /** Record the chain of a version this instance resolved or published. */
  private def cacheChain(v: Long, chain: Vector[String], m: TableMeta): Unit = {
    chainVersion = v; chainSeq = chain; chainMeta = m
  }

  private def readSnapshotNode(v: Long): com.fasterxml.jackson.databind.JsonNode = {
    GraftTable.metaReads.incrementAndGet()
    mapper.readTree(Files.readAllBytes(p("snapshots", s"v$v.json")))
  }

  /** Apply one snapshot node to the chain below it: a delta node appends
    * its `added`; a checkpoint/rewrite node carries the full list. */
  private def applyNode(below: => Vector[String],
                        node: com.fasterxml.jackson.databind.JsonNode): Vector[String] =
    if (node.has("manifests")) texts(node, "manifests") else below ++ texts(node, "added")

  /** Cold chain resolution via the parent walk — bottoms out at the
    * nearest full checkpoint, so ≤ checkpointInterval metadata reads. */
  private def resolveChain(node: com.fasterxml.jackson.databind.JsonNode): Vector[String] =
    applyNode({
      val parent = node.get("parent").asLong()
      if (parent == 0) Vector.empty else resolveChain(readSnapshotNode(parent))
    }, node)

  /** Resolve snapshot v's full manifest list. Snapshots are a parent+delta
    * chain ({"parent": v-1, "added": [m]}) with a full {"manifests": [...]}
    * checkpoint every `checkpointInterval` commits, so commit cost is O(1)
    * amortized instead of rewriting the whole O(commits) list every time
    * (the round-1 flaw). The newest resolved chain is cached (with its
    * version's metadata) and advanced by per-version deltas: a long-lived
    * streaming reader pays O(new versions) metadata reads per trigger,
    * never a fresh chain walk. */
  private def snapshotManifests(v: Long): Seq[String] = synchronized {
    if (v == 0) Nil
    else if (v == chainVersion) chainSeq
    else {
      val top = readSnapshotNode(v)
      val res =
        if (chainVersion >= 0 && v > chainVersion)
          // incremental advance: apply each newer node to the cached chain
          (chainVersion + 1 to v).foldLeft(chainSeq) { (base, k) =>
            applyNode(base, if (k == v) top else readSnapshotNode(k))
          }
        else resolveChain(top)
      if (v > chainVersion) cacheChain(v, res, parseMeta(v, top))
      res
    }
  }

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parsed (and memoized) manifest content. */
  def manifest(name: String): ManifestData =
    manifestCache.getOrElseUpdate(name, {
      GraftTable.metaReads.incrementAndGet()
      val node = mapper.readTree(Files.readAllBytes(p("manifests", name)))
      val batchIds =
        if (node.has("batchIds")) node.get("batchIds").elements().asScala.map(_.asLong()).toSeq
        else Seq(node.get("batchId").asLong())
      val replaces = if (node.has("replacesUpTo")) Some(node.get("replacesUpTo").asLong()) else None
      val files = node.get("files").elements().asScala.map { f =>
        val stats = f.get("stats").properties().asScala.map { e =>
          val s = e.getValue
          e.getKey -> ColStats(s.get("t").asText(), s.get("min").asText(), s.get("max").asText(),
            s.get("nulls").asLong())
        }.toMap
        val pv =
          if (!f.has("pv")) Map.empty[String, Option[String]]
          else f.get("pv").properties().asScala.map { e =>
            e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
          }.toMap
        // manifests store table-root-RELATIVE paths (resolved to absolute
        // here) so a table directory can be moved/copied/re-mounted and
        // stay readable
        FileInfo(resolvePath(f.get("path").asText()), f.get("rows").asLong(),
          f.get("bytes").asLong(), stats, pv)
      }.toSeq
      val mergeIds =
        if (node.has("mergeIds")) node.get("mergeIds").elements().asScala.map(_.asLong()).toSeq
        else Nil
      ManifestData(batchIds, replaces, node.get("rows").asLong(), files, mergeIds)
    })

  // (version, ids) cache: commit() consults committedBatchIds every batch,
  // and re-reading every manifest's JSON per commit would make per-commit
  // I/O O(commits) again (defeating the O(1) snapshot chain). The cache is
  // advanced incrementally by commit()/compact(); a version mismatch (e.g.
  // another writer instance) falls back to the full read.
  private var idsCacheVersion: Long = -1L
  private var idsCache: Set[Long] = Set.empty

  /** Batch ids covered by the current snapshot. Read from manifest CONTENT
    * (a compaction manifest carries the ids of every batch it rewrote, so
    * replays of compacted-away batches stay no-ops). */
  def committedBatchIds: Set[Long] = synchronized {
    val v = version
    if (v != idsCacheVersion) {
      idsCache = snapshotManifests(v).flatMap(m => manifest(m).batchIds).toSet
      idsCacheVersion = v
    }
    idsCache
  }

  /** Merge ids already applied — [[merge]]'s idempotence namespace, read
    * from manifest content like [[committedBatchIds]] but deliberately
    * disjoint from it (see [[ManifestData.mergeIds]]); every rewrite
    * manifest carries the set forward so replay protection survives
    * compaction and later DML. */
  def mergedBatchIds: Set[Long] = synchronized {
    snapshotManifests(version).flatMap(m => manifest(m).mergeIds).toSet
  }

  /** Is this a rewrite (compaction/DML) manifest — one that replaces
    * every version ≤ its `replacesUpTo`? */
  def isRewrite(name: String): Boolean = synchronized {
    manifest(name).replacesUpTo.isDefined
  }

  /** Ordered manifest names of snapshot `v` (manifest k-1 is the one added
    * by commit k — the V2 source's version→files resolution). */
  def manifestsUpTo(v: Long): Seq[String] = synchronized { snapshotManifests(v) }

  /** Manifests ADDED by commit k (the V2 source's per-version delta):
    * straight from the chain node's `added` list, which every node
    * carries. None ⇔ version k was expired by [[vacuum]]
    * (snapshot file gone) — fresh readers skip it (its manifests are not
    * in the live chain), resumed readers behind it must fail loudly. */
  def manifestsAddedAt(k: Long): Option[Seq[String]] = synchronized {
    if (k <= 0) Some(Nil)
    else if (addedCache.contains(k)) addedCache(k)
    else {
      GraftTable.metaReads.incrementAndGet()
      val r =
        if (!Files.exists(p("snapshots", s"v$k.json"))) None
        else Some(texts(readSnapshotNode(k), "added"))
      // cache Some (immutable while live) and None only for k inside the
      // committed range (= expired forever); a not-yet-committed k must
      // stay uncached or a later commit would be invisible
      if (r.isDefined || k <= version) addedCache.put(k, r)
      r
    }
  }

  /** Full [[FileInfo]] (rows + bytes + column stats) of one manifest. */
  def manifestFiles(name: String): Seq[FileInfo] = synchronized {
    manifest(name).files
  }

  /** Exact readable file list (manifest-controlled — never a dir glob). */
  def dataFiles: Seq[String] = synchronized {
    snapshotManifests(version).flatMap(m => manifest(m).files.map(_.path))
  }

  def read(spark: SparkSession): DataFrame = readVersion(spark, version)

  /** Time travel: read the table's DATA exactly as of snapshot `v`
    * (snapshots are immutable manifest lists, so any historical version
    * stays readable) through the V2 source for every layout, over THIS
    * instance: a warm table resolves the snapshot from its caches instead
    * of re-walking the chain cold. Columns
    * follow the schema in the CURRENT version's [[TableMeta]], also for a
    * zero-file version — a column added after `v` appears as all-null
    * (reading `v` under its own schema is intentionally out of scope; rows
    * are exact). Only an empty table reads as a column-less frame. */
  def readVersion(spark: SparkSession, v: Long): DataFrame = {
    val schema = synchronized {
      val latest = version
      require(v >= 0 && v <= latest, s"snapshot v$v does not exist (latest: v$latest)")
      metaOf(latest).map(_.schema)
    }
    schema.fold(spark.emptyDataFrame)(scan(spark, v, _, None))
  }

  /** The V2 relation over version `v`'s files, or over exactly `files`. */
  private def scan(spark: SparkSession, v: Long, schema: org.apache.spark.sql.types.StructType,
                   files: Option[Seq[FileInfo]]): DataFrame =
    GraftPlans.dataFrame(spark, DataSourceV2Relation.create(new GraftV2Table(this, schema, files),
      None, None, new CaseInsensitiveStringMap(java.util.Map.of("version", v.toString))))

  /** Incremental streaming read over the table (S1 analog: the unbounded
    * change stream), served by the DataSourceV2 [[GraftMicroBatchStream]]:
    * offsets are snapshot versions and each micro-batch's file list comes
    * from the manifests — a crashed writer's half-written batch dir under
    * data/ is structurally invisible, nothing is copied or linked, and the
    * offset log survives file renames/compaction (unlike the round-1
    * hardlink `published/` directory this replaces). */
  def readStream(spark: SparkSession, maxFilesPerTrigger: Int = 32,
                 maxBytesPerTrigger: Option[Long] = None,
                 maxRowsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format(classOf[GraftSourceProvider].getName)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    maxBytesPerTrigger.foreach(b => r.option("maxBytesPerTrigger", b))
    maxRowsPerTrigger.foreach(n => r.option("maxRowsPerTrigger", n))
    r.load(root)
  }

  private def jsonStr(s: String): String = GraftTable.jsonString(s)

  /** Column min/max from an open file's footer: only top-level primitive
    * columns with trustworthy chunk statistics; a chunk with missing stats
    * disqualifies its column for that file (conservative — the file is
    * then never pruned on that column). */
  private[table] def footerStats(md: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStats] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val acc = scala.collection.mutable.Map.empty[String, ColStats]
    val dead = scala.collection.mutable.Set.empty[String]
    // exact per-column null counts (ColStats.nulls): -1 as soon as any
    // chunk leaves numNulls unset — "unknown" must never read as "zero"
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    md.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { chunk =>
        val pathParts = chunk.getPath.toArray
        if (pathParts.length == 1) {
          val colName = pathParts(0)
          val st = chunk.getStatistics
          val n = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
          nulls(colName) = nulls.get(colName) match {
            case Some(prev) if prev >= 0L && n >= 0L => prev + n
            case Some(_) => -1L
            case None => n
          }
          val tn = chunk.getPrimitiveType.getPrimitiveTypeName
          val isStr = chunk.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          // a chunk with PRESENT-but-empty stats is ambiguous: parquet-mr
          // also omits binary min/max when they exceed MAX_STATS_SIZE, so
          // "no bounds" only means "all null" when the null count proves
          // it — otherwise the column's file-level bounds would not cover
          // this chunk and pruning on them would drop rows
          val provablyAllNull = st != null && !st.hasNonNullValue &&
            st.isNumNullsSet && st.getNumNulls == chunk.getValueCount
          if (st == null || (!st.hasNonNullValue && !provablyAllNull)) dead += colName
          else if (st.hasNonNullValue) {
            // every stats consumer (FilePrune.cmp filter conversion, the
            // metadata MIN/MAX pushdown, partition-key derivation) compares
            // timestamp stats in epoch-MICROS, and the data reader
            // normalizes MILLIS/NANOS values the same way — so footer
            // bounds from a non-MICROS writer (GraftTable is a library
            // API; outputTimestampType is session config) must be
            // normalized here too, or millis-valued stats compared against
            // micros filters silently prune live files. MILLIS ×1000 and
            // NANOS truncate-toward-zero /1000 are both monotonic, so the
            // normalized min/max are exactly the attained bounds in the
            // reader's value domain; a ×1000 overflow disqualifies the
            // column for this file (never prune on bounds we can't state).
            val tsUnit: Option[LogicalTypeAnnotation.TimeUnit] =
              chunk.getPrimitiveType.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t.getUnit)
                case _ => None
              }
            def toMicros(v: Long): Long = tsUnit match {
              case Some(LogicalTypeAnnotation.TimeUnit.MILLIS) => Math.multiplyExact(v, 1000L)
              case Some(LogicalTypeAnnotation.TimeUnit.NANOS) => v / 1000L
              case _ => v
            }
            val enc: Option[(String, String, String, (String, String) => Boolean)] = tn match {
              case INT64 | INT32 =>
                try Some(("long", toMicros(st.genericGetMin.toString.toLong).toString,
                  toMicros(st.genericGetMax.toString.toLong).toString,
                  (a: String, b: String) => a.toLong < b.toLong))
                catch { case _: ArithmeticException => dead += colName; None }
              case DOUBLE | FLOAT =>
                // FLOAT must serialize through doubleValue: the row/filter
                // comparison domain is (double)floatValue, but
                // Float.toString("1.1f") re-parses as a DIFFERENT double
                // (1.1000000000000001 vs 1.1000000238418580) — a stats
                // string on the wrong side of that gap prunes a file whose
                // row legally matches an equality takedown. Double.toString
                // of the widened value round-trips exactly.
                def numStr(v: Any): String = v match {
                  case f: java.lang.Float => f.doubleValue.toString
                  case other => other.toString
                }
                Some(("double", numStr(st.genericGetMin), numStr(st.genericGetMax),
                  (a: String, b: String) => a.toDouble < b.toDouble))
              case BINARY if isStr =>
                // merge in UTF-8 BYTE order (parquet's stats comparator and
                // Spark's UTF8String order), not Java's UTF-16 String order
                Some(("string",
                  st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                  (a: String, b: String) => FilePrune.utf8Cmp(a, b) < 0))
              case _ => None
            }
            enc.foreach { case (t, mn, mx, lt) =>
              acc.get(colName) match {
                case None => acc(colName) = ColStats(t, mn, mx)
                case Some(prev) =>
                  acc(colName) = ColStats(t,
                    if (lt(mn, prev.min)) mn else prev.min,
                    if (lt(prev.max, mx)) mx else prev.max)
              }
            }
          } // all-null chunk: contributes no bounds, earlier bounds stay valid
        }
      }
    }
    (acc -- dead).map { case (c, s) => c -> s.copy(nulls = nulls.getOrElse(c, -1L)) }.toMap
  }

  /** Hive-style `%XX` path-name unescape (Spark escapes partition values
    * with ExternalCatalogUtils.escapePathName on write). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 && Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Synthetic exact stats for a directory-encoded partition value: every
    * row in the file has exactly this value, so min = max = value and
    * nulls = 0 — the same contract footer stats prove for data columns.
    * Only types whose path rendering round-trips losslessly participate;
    * others still inject correctly but never prune/key. */
  private def synthStats(dt: org.apache.spark.sql.types.DataType, v: String): Option[ColStats] = {
    import org.apache.spark.sql.types._
    try dt match {
      case StringType => Some(ColStats("string", v, v, 0L))
      case IntegerType | LongType | ShortType | ByteType =>
        Some(ColStats("long", v.toLong.toString, v.toLong.toString, 0L))
      case DateType =>
        val d = java.time.LocalDate.parse(v).toEpochDay.toString
        Some(ColStats("long", d, d, 0L))
      case _ => None
    } catch { case _: RuntimeException => None }
  }

  /** Per-file lineage + column stats from freshly written parquet FOOTERS —
    * driver-side metadata reads only, no second Spark job over the data.
    * Walks partition-layout subdirectories (`col=value/...`), decoding the
    * directory pairs into [[FileInfo.pv]] and synthesizing their stats.
    * The directory stream is CLOSED (Files.list holds an fd until closed;
    * leaking one per commit starves the driver over a long stream). */
  private def writtenFiles(dataDir: Path, hconf: org.apache.hadoop.conf.Configuration,
                           schema: org.apache.spark.sql.types.StructType): Array[FileInfo] = {
    val walk = Files.walk(dataDir)
    val paths =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toArray
      finally walk.close()
    def infoOf(f: Path): FileInfo = {
      val pv: Seq[(String, Option[String])] =
        dataDir.relativize(f.getParent).iterator().asScala
          .map(_.toString).filter(_.contains("="))
          .map { seg =>
            val k = seg.substring(0, seg.indexOf('='))
            val raw = unescapePathName(seg.substring(seg.indexOf('=') + 1))
            unescapePathName(k) -> (if (raw == HiveNullPartition) None else Some(raw))
          }.toSeq
      val rd = GraftTable.openParquet(new org.apache.hadoop.fs.Path(f.toUri), hconf)
      try {
        val synthetic = pv.flatMap { case (c, ov) =>
          for {
            v <- ov
            dt <- schema.fields.find(_.name == c).map(_.dataType)
            st <- synthStats(dt, v)
          } yield c -> st
        }.toMap
        FileInfo(f.toString, rd.getRecordCount, Files.size(f),
          footerStats(rd.getFooter) ++ synthetic, pv.toMap)
      } finally rd.close()
    }
    // Footer reads are independent metadata I/O; read them on a bounded
    // pool instead of one-by-one. The per-batch file count grows with
    // executor width (roughly one file per task), so a sequential harvest
    // is serial driver time that grows WITH width — the exact shape that
    // erodes N→4N scaling efficiency. Parallel footer fetch is what
    // production table formats do against object stores for the same
    // reason. Determinism is preserved by the final path sort.
    parallelMetaMap(paths)(infoOf).sortBy((x: FileInfo) => x.path)
  }

  /** Bounded parallel map (≤16 threads, input order preserved) for
    * independent driver-side metadata I/O — parquet footer harvests and
    * bloom probes share it so their error semantics cannot diverge. On
    * the first failure queued work is CANCELLED (a failed commit must not
    * leave non-daemon threads draining I/O behind the caller's back) and
    * the original cause rethrown. */
  private def parallelMetaMap[A, B: scala.reflect.ClassTag](items: Array[A])(f: A => B): Array[B] =
    if (items.length <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, items.length))
      try {
        val futures = items.map(a => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw e.getCause
        }
      } finally pool.shutdown()
    }

  private def filesJsonOf(written: Array[FileInfo]): String =
    written.map { fi =>
      val statsJson = fi.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        s"""${jsonStr(c)}:{"t":${jsonStr(s.typ)},"min":${jsonStr(s.min)},"max":${jsonStr(s.max)},"nulls":${s.nulls}}"""
      }.mkString("{", ",", "}")
      val pvJson =
        if (fi.pv.isEmpty) ""
        else fi.pv.toSeq.sortBy(_._1).map { case (c, ov) =>
          s"${jsonStr(c)}:${ov.map(jsonStr).getOrElse("null")}"
        }.mkString(""","pv":{""", ",", "}")
      s"""{"path":${jsonStr(relativizePath(fi.path))},"rows":${fi.rows},"bytes":${fi.bytes},"stats":$statsJson$pvJson}"""
    }.mkString("[", ",", "]")

  /** Relax nullability RECURSIVELY (struct fields, array elements, map
    * values): evolution can introduce nulls at any depth, and a null slot
    * under a non-nullable declared type reads back as 0/"" in codegen. */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(deepNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(deepNullable(m.keyType), deepNullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
  }

  /** Table schema = union of every committed batch's columns (existing
    * order first, new columns appended). A same-name column with a
    * DIFFERENT type is a schema migration this table format does not
    * perform implicitly — fail the commit loudly rather than silently
    * re-typing history. */
  private def mergeSchemas(existing: Option[org.apache.spark.sql.types.StructType],
                           incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    existing match {
      case None => incoming
      case Some(old) =>
        val byName = incoming.fields.map(f => f.name -> f).toMap
        old.fields.foreach { f =>
          byName.get(f.name).foreach { n =>
            // both sides are deeply nullable (nextMeta relaxes the
            // incoming schema), so plain type equality is the check
            require(n.dataType == f.dataType,
              s"column ${f.name}: committed type ${f.dataType.simpleString} != " +
                s"incoming ${n.dataType.simpleString} — implicit type migration is not supported")
          }
        }
        val oldNames = old.fields.map(_.name).toSet
        StructType(old.fields ++ incoming.fields.filterNot(f => oldNames.contains(f.name)))
    }
  }

  /** Partition-column types whose `col=value` path rendering round-trips
    * losslessly through write → dir name → re-injection. */
  private def partitionable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DateType => true
      case _ => false
    }
  }

  /** Cumulative wall-nanos per commit phase (`write` = distributed parquet
    * write, `footers` = driver-side footer-stat harvest, `meta` = manifest
    * + snapshot + pointer publication). Cheap always-on instrumentation:
    * the bench's N→4N breakdown needs the serial driver share of each
    * commit separable from the distributed write that actually scales. */
  val commitPhaseNanos: scala.collection.concurrent.TrieMap[String, Long] =
    scala.collection.concurrent.TrieMap.empty
  /** Commits instrumented into [[commitPhaseNanos]] — the denominator for
    * a per-commit average. Counted here, NOT inferred from the streaming
    * progress log: `recentProgress` is a ~100-entry ring buffer and skips
    * zero-row triggers, so dividing by its length overstates the
    * per-commit phases on long runs. */
  val commitPhaseCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private def commitPhase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val dt = System.nanoTime() - t0
      commitPhaseNanos(name) = commitPhaseNanos.getOrElse(name, 0L) + dt
    }
  }

  /** Commit one micro-batch. Returns false (no-op) if batchId is already in
    * the current snapshot. Lineage = per-output-file row counts.
    * `partitionBy` writes a Hive-style directory layout (`col=value/`):
    * the partition columns live in the path, not the files — manifests
    * record them per file and readers re-inject them as constants. */
  def commit(df: DataFrame, batchId: Long,
             partitionBy: Seq[String] = Nil): Boolean = synchronized { withProcessLock("commit") {
    if (committedBatchIds.contains(batchId)) return false
    partitionBy.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in schema"))
      require(partitionable(f.dataType),
        s"partition column $c: ${f.dataType.simpleString} does not round-trip " +
          "through a path segment (use string/int/long/short/byte/boolean/date)")
    }
    val v = version
    // MERGED, not overwritten: a later batch missing an optional column
    // must not make earlier committed data unqueryable
    val next = nextMeta(metaOf(v), df.schema, partitionBy)

    val dataDir = p("data", s"batch=$batchId")
    commitPhaseCount.incrementAndGet()
    commitPhase("write") { writeParquet(df, partitionBy, next, dataDir) }
    val written = commitPhase("footers") {
      writtenFiles(dataDir, df.sparkSession.sessionState.newHadoopConf(), next.schema)
    }
    val totalRows = written.map(_.rows).sum
    val manifestName = s"manifest-$batchId.json"
    commitPhase("meta") {
    writeAtomic(p("manifests", manifestName),
      s"""{"batchId":$batchId,"rows":$totalRows,"files":${filesJsonOf(written)}}""")

    val chain = snapshotManifests(v).toVector :+ manifestName
    // every node carries its own "added" list: per-version deltas must stay
    // resolvable even after vacuum expires the predecessor a full
    // checkpoint would otherwise be diffed against
    val snapshotJson =
      if ((v + 1) % checkpointInterval == 0)
        // periodic full checkpoint bounds the resolution walk
        s"""{"version":${v + 1},"added":[${jsonStr(manifestName)}],"manifests":${chain.map(jsonStr).mkString("[", ",", "]")},"meta":${next.json}}"""
      else
        s"""{"version":${v + 1},"parent":$v,"added":[${jsonStr(manifestName)}],"meta":${next.json}}"""
    publishVersioned(p("snapshots", s"v${v + 1}.json"), snapshotJson)
    advancePointer(v)
    cacheChain(v + 1, chain, next)
    if (idsCacheVersion == v) { idsCache += batchId; idsCacheVersion = v + 1 }
    }
    true
  } }

  /** Compact the current snapshot's data files into `targetFiles` files
    * (small-file compaction — O(commits) file counts are the other half of
    * the 100 TB story next to O(1) snapshot commits). Appends a REWRITE
    * manifest (`replacesUpTo` = the compacted version, carrying every
    * rewritten batchId) under a full-checkpoint snapshot; old versions stay
    * readable (their files are never deleted here), replays of compacted
    * batches stay no-ops, and the V2 change stream either backfills the
    * rewrite (fresh readers) or skips it (readers past it) — a resume
    * point strictly inside the compacted range fails loudly instead of
    * duplicating rows. */
  def compact(spark: SparkSession, targetFiles: Int = 32): Long = synchronized { withProcessLock("compact") {
    val v = version
    require(v > 0, "nothing to compact")
    // a declared directory-partition layout survives compaction (the
    // rewrite writes under it): rewrite dirs stay value-pure, so pruning /
    // key-grouping survive, and `targetFiles` applies per partition value
    rewrite(spark, "rewrite", v, rewriteMeta(v), None) { (src, _) =>
      Some((src.repartition(targetFiles), _ => Some(Nil)))
    }
    v + 1
  } }

  /** Publish one rewrite manifest (compaction/delete/update/merge) that
    * replaces the whole chain at version `v`: the surviving file set, the
    * covered streaming batch ids, the merge-id namespace CARRIED FORWARD
    * (plus `mergeId` — replay protection must survive later rewrites), and
    * the op's metrics; then the v+1 checkpoint snapshot carrying `next`
    * and the pointer. */
  private def publishRewrite(tag: String, v: Long, files: Seq[FileInfo],
                             metrics: Seq[(String, Long)], mergeId: Option[Long],
                             next: TableMeta): Unit = {
    val all = files.toArray.sortBy((x: FileInfo) => x.path)
    val manifestName = s"manifest-$tag-v$v.json"
    val mergeIds = (mergedBatchIds ++ mergeId).toSeq
    val mergeIdsJson =
      if (mergeIds.isEmpty) ""
      else s""","mergeIds":${mergeIds.sorted.mkString("[", ",", "]")}"""
    val metricsJson = metrics.map { case (k, n) => s"${jsonStr(k)}:$n" }.mkString("{", ",", "}")
    publishVersioned(p("manifests", manifestName),
      s"""{"replacesUpTo":$v,"batchIds":${committedBatchIds.toSeq.sorted.mkString("[", ",", "]")},"rows":${all.map(_.rows).sum},"files":${filesJsonOf(all)},"metrics":$metricsJson$mergeIdsJson}""")
    publishVersioned(p("snapshots", s"v${v + 1}.json"),
      s"""{"version":${v + 1},"added":[${jsonStr(manifestName)}],"manifests":[${jsonStr(manifestName)}],"meta":${next.json}}""")
    advancePointer(v)
    cacheChain(v + 1, Vector(manifestName), next)
    if (idsCacheVersion == v) idsCacheVersion = v + 1 // same streaming ids, new version
  }

  /** Data-file paths are compared in ABSOLUTE-NORMALIZED space on both
    * sides: resolved manifest paths and walked paths may otherwise differ
    * in prefix form (relative table root, ../ segments), and a spurious
    * mismatch in [[vacuum]] or [[gcOrphans]] DELETES live data. */
  private def canon(s: String): String = Paths.get(s).toAbsolutePath.normalize.toString

  /** Sweeps data/ in one traversal (partition layouts nest files under
    * col=value dirs): deletes every data file whose canonical path `live`
    * rejects, with its Hadoop `.crc` sidecar, and every directory left
    * holding no live data file, with its `_SUCCESS` markers, so an expired
    * or orphaned batch leaves nothing behind. Returns the number of data
    * files deleted. */
  private def sweepData(live: String => Boolean): Int = {
    val dataRoot = p("data")
    var deleted = 0
    // per open directory, innermost first: does its subtree hold a live file
    var held = List.empty[Boolean]
    if (Files.exists(dataRoot)) Files.walkFileTree(dataRoot, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
        held ::= false
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        val n = f.getFileName.toString
        // a sidecar `.x.parquet.crc` lives and dies with `x.parquet`
        val data = if (n.startsWith(".") && n.endsWith(".parquet.crc"))
          f.resolveSibling(n.substring(1, n.length - ".crc".length)) else f
        if (data.getFileName.toString.endsWith(".parquet")) {
          if (live(canon(data.toString))) held = true :: held.tail
          else if (Files.deleteIfExists(f) && (data eq f)) deleted += 1
        }
        FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        if (e != null) throw e
        val h = held.head
        held = held.tail
        if (h && held.nonEmpty) held = true :: held.tail
        if (!h && d != dataRoot) deleteTree(d)
        FileVisitResult.CONTINUE
      }
    })
    deleted
  }

  /** Retention: expire snapshots older than `keepFromVersion` and delete
    * every data file and manifest no snapshot ≥ keepFromVersion references.
    * The retention CONTRACT (same as any snapshot table): time travel to
    * expired versions stops working, and a streaming reader must be past
    * the expired range — vacuum after `compact()` only once readers have
    * caught up (their offsets are snapshot versions, so "caught up" is
    * checkable). Returns the number of deleted data files. Runs the
    * [[gcOrphans]] pass too. */
  def vacuum(keepFromVersion: Long): Int =
    synchronized { withProcessLock("vacuum") {
    val cur = version
    require(keepFromVersion >= 1 && keepFromVersion <= cur,
      s"keepFromVersion must be in [1, $cur]")
    require(Files.exists(p("snapshots", s"v$keepFromVersion.json")),
      s"snapshot v$keepFromVersion was already expired by an earlier vacuum")
    // ONE chain resolution at the keep point + the per-version added
    // deltas after it — O(range) metadata reads, not a fresh chain walk
    // per kept version
    val keptManifests = (snapshotManifests(keepFromVersion) ++
      (keepFromVersion + 1 to cur).flatMap(k => manifestsAddedAt(k).getOrElse(Nil))).toSet
    val keptFiles = keptManifests.flatMap(m => manifestFiles(m).map(f => canon(f.path)))

    val deleted = sweepData(keptFiles)
    // expired snapshots + manifests last: readers resolve files first, so
    // a crash mid-vacuum leaves only harmless extra metadata. Kept delta
    // snapshots resolve through their PARENT chain, which bottoms out at
    // the nearest full checkpoint at or below keepFromVersion — snapshot
    // files may only be deleted strictly below that floor.
    val floor = {
      var k = keepFromVersion
      var f = 0L
      while (k > 0 && f == 0L) {
        val node = mapper.readTree(Files.readAllBytes(p("snapshots", s"v$k.json")))
        if (node.has("manifests")) f = k else k -= 1
      }
      f
    }
    (1L until floor).foreach { v =>
      Files.deleteIfExists(p("snapshots", s"v$v.json"))
    }
    val manifestsDir = p("manifests")
    if (Files.exists(manifestsDir)) {
      val listing = Files.list(manifestsDir)
      try listing.iterator().asScala.foreach { m =>
        if (!keptManifests.contains(m.getFileName.toString)) Files.delete(m)
      } finally listing.close()
    }
    // crashed/CAS-loser metadata leftovers expire here too. The retention
    // walk above already deleted every data file outside keptFiles —
    // INCLUDING any CAS loser's batch (its files are not in the kept
    // manifests) and counted them in `deleted` — so the orphan pass skips
    // its own Files.walk of data/ + a second canonicalization of every
    // kept path (walkData = false): at millions of files that second
    // traversal would roughly double vacuum's metadata I/O for zero
    // additional safety.
    gcOrphansLocked(walkData = false)
    invalidateMetaCaches() // snapshot/manifest files were deleted
    deleted
  } }

  /** Crash/CAS-race orphan GC that expires NO history — the maintenance
    * pass for writer-race leftovers ([[PointerCommitter.putVersioned]]
    * losers and crashed writers). Removes:
    *
    *  1. snapshot nodes ABOVE the live pointer — a writer that published
    *     its node but died before the swap. In a CAS store that orphan
    *     would refuse every future writer's putVersioned of the same
    *     version forever; here it is provably unreachable (readers start
    *     from VERSION) and safe to drop.
    *  2. `.tmp` publication leftovers in snapshots/ and manifests/.
    *  3. manifests referenced by NO snapshot node on disk — a CAS loser
    *     that wrote its manifest, then aborted when its node or swap was
    *     refused.
    *  4. data files listed in no surviving manifest (the loser's batch
    *     directory).
    *
    * Sound because it runs under the advisory process lock: no writer can
    * be mid-commit while gc holds it, so nothing unreachable is in
    * flight. The live chain, time travel to any still-present version,
    * and resumed readers are unaffected: only unreachable objects go.
    * Returns the number of objects removed. */
  def gcOrphans(): Int =
    synchronized { withProcessLock("vacuum") { gcOrphansLocked() } }

  /** Returns the number of objects removed. `walkData` false skips the
    * data/ traversal — vacuum's retention pass has already swept
    * unreferenced data files when it calls this. */
  private def gcOrphansLocked(walkData: Boolean = true): Int = {
    val cur = version
    val snapName = "^v(\\d+)\\.json$".r // shared by the guard + removal passes
    // A MISSING pointer with snapshot nodes on disk means the VERSION
    // object was lost (partial restore/rsync) — NOT that every node is
    // an orphan above version 0. Proceeding would classify the entire
    // table (all snapshots → all manifests → all data files) as garbage
    // and delete it. Refuse; restoring the pointer is a manual step. The
    // legitimate zero state — a writer that published its FIRST node and
    // crashed before the first swap — is distinguishable because
    // publishVersioned materializes an explicit VERSION=0 marker before
    // any metadata object exists; that state cleans normally below.
    if (cur == 0L && !Files.exists(p("VERSION")) && Files.exists(p("snapshots"))) {
      val ls = Files.list(p("snapshots"))
      val hasNodes =
        try ls.iterator().asScala.exists(f =>
          snapName.findFirstIn(f.getFileName.toString).isDefined)
        finally ls.close()
      require(!hasNodes,
        "gcOrphans refused: the VERSION pointer object is missing but snapshot " +
        "nodes exist under snapshots/ (partial restore?). Restore VERSION before " +
        "running maintenance (a wipe of 'everything above version 0' would delete " +
        "the whole table).")
    }
    var removed = 0
    def rm(f: Path): Unit = if (Files.deleteIfExists(f)) removed += 1
    val snapDir = p("snapshots")
    if (Files.exists(snapDir)) {
      val ls = Files.list(snapDir)
      try ls.iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".tmp")) rm(f)
        else snapName.findFirstMatchIn(n)
          .foreach(m => if (m.group(1).toLong > cur) rm(f))
      } finally ls.close()
    }
    // manifests referenced by ANY snapshot node still on disk (expired
    // history is gone already; orphan nodes above cur were just removed)
    val referenced = scala.collection.mutable.Set.empty[String]
    if (Files.exists(snapDir)) {
      val ls = Files.list(snapDir)
      try ls.iterator().asScala.foreach { f =>
        if (snapName.findFirstMatchIn(f.getFileName.toString).isDefined) {
          val node = mapper.readTree(Files.readAllBytes(f))
          Seq("added", "manifests").foreach { k =>
            if (node.has(k)) node.get(k).elements().asScala
              .foreach(e => referenced += e.asText())
          }
        }
      } finally ls.close()
    }
    val manifestsDir = p("manifests")
    if (Files.exists(manifestsDir)) {
      val ls = Files.list(manifestsDir)
      try ls.iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".tmp") || !referenced.contains(n)) rm(f)
      } finally ls.close()
    }
    // data files no surviving manifest lists (same absolute-normalized
    // comparison as vacuum — a prefix-form mismatch here deletes live data)
    if (walkData) {
      val keptFiles = referenced.toSet
        .filter(m => Files.exists(p("manifests", m)))
        .flatMap((m: String) => manifestFiles(m).map(f => canon(f.path)))
      removed += sweepData(keptFiles)
    }
    if (removed > 0) invalidateMetaCaches()
    removed
  }

  /** Total committed row count straight from manifests (no data scan). */
  def committedRows: Long = synchronized {
    snapshotManifests(version).map(m => manifest(m).rows).sum
  }

  /** Row-level DELETE by predicate — the training-data takedown/opt-out
    * path (GDPR erasure, licensing retractions) that an append-only table
    * otherwise cannot express. A file-granular copy-on-write [[rewrite]]:
    * only files whose stats and blooms admit a row where the predicate is
    * TRUE are read (at 100 TB a takedown keyed on a clustered/partitioned
    * column rewrites a few files, not the table); those rows are dropped
    * (NULL keeps the row — SQL DELETE semantics) and the survivors
    * rewritten under data/delete=v&lt;N&gt;/. Same chain semantics as
    * [[compact]]: replays of any batch stay no-ops, time travel below the
    * delete still serves the PRE-delete rows until [[vacuum]] expires them
    * (which is what makes the erasure real on disk), fresh streams
    * backfill post-delete contents exactly once, and readers resumed past
    * the delete version skip the rewrite. A reader resumed strictly inside
    * the replaced range re-reads original manifests (pre-delete rows) —
    * the same retention contract as compaction: vacuum only once readers
    * are past it.
    *
    * Returns the number of rows deleted; deleting nothing commits no
    * version. */
  def delete(spark: SparkSession, predicate: org.apache.spark.sql.Column): Long =
    synchronized { withProcessLock("delete") {
      val v = version
      require(v > 0, "nothing to delete")
      rewrite(spark, "delete", v, rewriteMeta(v), Some(predicate)) { (cands, candRows) =>
        // affected = rows that vanished — knowable only after the write
        if (candRows == 0L) None
        else Some((cands.filter(!coalesce(predicate, lit(false))),
          written => Some(candRows - written).filter(_ > 0L).map(n => Seq("rows_deleted" -> n))))
      }.fold(0L)(_("rows_deleted"))
    } }

  /** Row-level UPDATE by predicate — the REDACTION path (PII scrubbing,
    * transcript rewriting) that complements [[delete]]: the same
    * file-granular copy-on-write [[rewrite]], but matching rows are
    * TRANSFORMED instead of dropped. `set` maps existing column names to
    * replacement expressions; values are cast to the column's declared
    * type so rewritten files never drift from the table schema, and
    * updating a directory-PARTITION column moves rows to their new
    * `col=value` dirs on rewrite (the partitionBy write re-derives the
    * layout). NULL-predicate rows are untouched (SQL UPDATE semantics).
    * Returns the number of rows whose predicate evaluated TRUE; zero
    * commits no version. */
  def update(spark: SparkSession, predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    synchronized { withProcessLock("update") {
      val v = version
      require(v > 0, "nothing to update")
      // persisted: the match count and the write both read the candidates
      rewrite(spark, "update", v, rewriteMeta(v), Some(predicate), persist = true) { (cands, candRows) =>
        val hit = coalesce(predicate, lit(false))
        // zero matches short-circuits BEFORE paying the rewrite
        val matched = if (candRows == 0L) 0L else {
          val unknown = set.keySet -- cands.columns.toSet
          require(unknown.isEmpty,
            s"SET columns not in the table schema: ${unknown.mkString(", ")} " +
              "(update never adds columns — commit a batch with the new schema instead)")
          cands.filter(hit).count()
        }
        if (matched == 0L) None
        else {
          // ONE projection over the original relation: every SET right-hand
          // side and the predicate see the ORIGINAL row values (SQL UPDATE
          // semantics — a sequential withColumn fold would re-resolve them
          // against already-updated columns, so swap-style updates and
          // predicates on SET columns would silently misbehave). Values are
          // cast to the column's declared type; under ANSI an uncastable
          // value errors the job, same as SQL UPDATE.
          val outCols = cands.schema.fields.toIndexedSeq.map { f =>
            set.get(f.name) match {
              case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }
          Some((cands.select(outCols: _*), _ => Some(Seq("rows_updated" -> matched))))
        }
      }.fold(0L)(_("rows_updated"))
    } }
  }

  /** Row-level MERGE (upsert) — the CDC-ingest shape that completes the
    * DML triple next to [[delete]] and [[update]]: each source row either
    * REPLACES the target row with the same key or is INSERTED, in ONE
    * commit. The same file-granular copy-on-write [[rewrite]]:
    *
    *  1. the source's keys become the candidate predicate (exact per-key
    *     IN lists for a small source, the per-key min/max envelope
    *     otherwise), so a CDC batch keyed on a clustered/partitioned
    *     column rewrites a few files, not the table.
    *  2. candidate rows whose key appears in the source are dropped (their
    *     replacement is the source row), and the survivors + ALL source
    *     rows are rewritten together — matched keys updated, new keys
    *     inserted, untouched files referenced by path in the same rewrite
    *     manifest.
    *  3. `batchId` rides in the manifest's `mergeIds` list — a namespace
    *     DISJOINT from streaming batchIds (a collision would make the
    *     exactly-once sink silently drop a future micro-batch) and
    *     carried forward by every later rewrite manifest — so a replayed
    *     merge (foreachBatch retry, job restart) is a no-op.
    *
    * Contract: `keys` must be non-null and unique in the source (a key
    * matched by two source rows is an ambiguous update — refused, the
    * same rule SQL MERGE applies); the source must carry exactly the
    * table's columns (values are cast to declared types). Zero source
    * rows no-op without burning a version. */
  def merge(spark: SparkSession, source: DataFrame, keys: Seq[String],
            batchId: Long): MergeStats = synchronized { withProcessLock("merge") {
    val v = version
    require(v > 0, "nothing to merge into (commit an initial batch first)")
    require(keys.nonEmpty, "merge needs at least one key column")
    // merge ids live in their OWN namespace (manifest mergeIds), never the
    // streaming batchId space: a user-chosen merge id equal to a future
    // checkpoint batchId would otherwise make the exactly-once sink treat
    // that micro-batch as already committed and silently drop it
    if (mergedBatchIds.contains(batchId)) return MergeStats(0L, 0L) // replay
    val next = rewriteMeta(v)
    val tableSchema = next.schema
    val tCols = tableSchema.fields.map(_.name).toSet
    require(keys.forall(tCols.contains),
      s"merge keys not in table schema: ${keys.filterNot(tCols.contains).mkString(", ")}")
    val sCols = source.columns.toSet
    require(tCols == sCols,
      s"merge source columns must match the table's; missing=${(tCols -- sCols).mkString(",")} extra=${(sCols -- tCols).mkString(",")}")
    // align to declared types once; persisted — the source feeds the key
    // sanity aggregate, the prune envelope, the anti-join and the write
    val src0 = source.select(tableSchema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*).persist()
    try {
      // ONE aggregate for the whole key contract + prune envelope: row
      // count, distinct keys, null keys, per-key min/max
      val keyStruct = struct(keys.map(col): _*)
      val aggCols = Seq(
        count(lit(1)).as("n"),
        count_distinct(keyStruct).as("d"),
        sum(when(keys.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L)).as("nulls")) ++
        keys.flatMap(k => Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k")))
      val a = src0.agg(aggCols.head, aggCols.tail: _*).head()
      val srcCount = a.getLong(0)
      if (srcCount == 0L) return MergeStats(0L, 0L)
      require(a.getLong(2) == 0L, "merge keys must be non-null in the source")
      require(a.getLong(1) == srcCount,
        "duplicate keys in the merge source: each key must occur at most once (ambiguous update)")
      // every matched target row's key lies inside the source's per-key
      // envelope, so a file outside it provably holds no match — the
      // exact safety direction pruning needs. A SMALL source (the CDC
      // trickle-merge: a few rows into a huge table) upgrades to exact
      // per-key IN lists instead: a matching target row's key tuple
      // equals some source tuple, so per-column membership conjuncts
      // stay sound, min/max stats check each VALUE instead of the
      // envelope hull, and [[BloomPrune]] can prove per-value absence —
      // without this a merge of 100 scattered keys admits nearly every
      // file of a 100 TB table.
      // threshold bounds the DRIVER cost of the sharper mode: stats
      // pruning compares every IN value against every file's min/max and
      // blooms probe every value per candidate row group — 10^4 values ×
      // 10^5 files is ~10^9 cheap driver-side comparisons (seconds), and
      // the alternative for a mid-size scattered-key CDC batch is the
      // envelope hull admitting nearly every file of a 100 TB table
      // (TB-scale rewrite I/O). ONE collect fetches all key columns.
      val keyPred =
        if (srcCount <= 10000L) {
          val tuples = src0.select(keys.map(col): _*).collect()
          keys.zipWithIndex.map { case (k, i) =>
            col(k).isInCollection(tuples.map(_.get(i)).toSeq)
          }.reduce(_ && _)
        } else keys.zipWithIndex.map { case (k, i) =>
          col(k) >= lit(a.get(3 + 2 * i)) && col(k) <= lit(a.get(4 + 2 * i))
        }.reduce(_ && _)
      // persisted: the match count and the anti-join both read the candidates
      val m = rewrite(spark, "merge", v, next, Some(keyPred), persist = true,
          Some(batchId)) { (cands, candRows) =>
        // `updated` counts MATCHED SOURCE KEYS (semi-join from the source
        // side), not matched target rows: an append-only table may hold
        // duplicate keys, and counting target rows would both corrupt the
        // stats (inserted = srcCount - updated could go negative) and hide
        // the real semantics — ALL target rows of a matched key are
        // replaced by the one source row (the upsert normalizes duplicates).
        val updated =
          if (candRows == 0L) 0L
          else src0.join(cands.select(keys.map(col): _*), keys, "left_semi").count()
        // survivors of the candidate files (keys absent from the source)
        // plus ALL source rows — new keys insert, matched keys carry the
        // source's values
        val out =
          if (candRows == 0L) src0
          else cands.join(src0.select(keys.map(col): _*), keys, "left_anti").unionByName(src0)
        Some((out, _ => Some(Seq("rows_updated" -> updated, "rows_inserted" -> (srcCount - updated)))))
      }.get
      MergeStats(m("rows_updated"), m("rows_inserted"))
    } finally { src0.unpersist(); () }
  } }

  /** Second pruning stage behind min/max stats: per-file parquet bloom
    * filters (the takedown-by-id path — stats on a non-clustered id admit
    * nearly every file; the bloom proves non-membership). Footer reads
    * are parallel and bounded, and only happen when the table declares
    * bloom columns. Soundness lives in [[BloomPrune.keep]]: any doubt
    * keeps the file. Returns (still-candidates, untouched +
    * bloom-pruned). */
  private def bloomPruneFiles(spark: SparkSession, statCands: Seq[FileInfo],
                              untouched: Seq[FileInfo],
                              pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
                              m: TableMeta): (Seq[FileInfo], Seq[FileInfo]) = {
    val bloomSet = m.bloomFor.toSet
    if (bloomSet.isEmpty || statCands.isEmpty) return (statCands, untouched)
    val hconf = spark.sessionState.newHadoopConf()
    val keepFlags = parallelMetaMap(statCands.toArray)(f =>
      BloomPrune.keep(f.path, pruneFilters, bloomSet, hconf))
    val (k, d) = statCands.zip(keepFlags).partition(_._2)
    (k.map(_._1), untouched ++ d.map(_._1))
  }

  /** The rows a [[rewrite]] writes, and the op's manifest metrics as a
    * function of the rows written (None: the rewrite changed nothing). */
  private type Rewritten = (DataFrame, Long => Option[Seq[(String, Long)]])

  /** The one copy-on-write rewrite behind [[compact]], [[delete]],
    * [[update]] and [[merge]], run under the caller's locks on version
    * `v` (`next` = its [[rewriteMeta]]):
    *
    *  1. candidates: every file of `v`, or only the files whose manifest
    *     stats ([[DeletePruning]] → [[FilePrune.keep]]) and blooms
    *     ([[bloomPruneFiles]]) admit a row where `candidates` is TRUE; a
    *     provably unsatisfiable predicate admits none. A file with a
    *     matching row is never left out (property-tested).
    *  2. the candidates are read through the V2 source — pinned to
    *     exactly those files, one task each, when a predicate chose them —
    *     with partition values re-injected as typed constants, persisted
    *     when the transform reads them twice;
    *  3. `transform` gets that read and its row count and returns the
    *     [[Rewritten]] rows, or None when it proves a no-op before writing;
    *  4. the rows are written under `data/<tag>=v<v>/` in the table's
    *     partition layout, empty outputs dropped, and one rewrite manifest
    *     (untouched files by reference + the written ones) published as
    *     v+1 by [[publishRewrite]].
    *
    * Returns the published metrics; a no-op commits no version and leaves
    * no data directory behind. */
  private def rewrite(spark: SparkSession, tag: String, v: Long, next: TableMeta,
                      candidates: Option[org.apache.spark.sql.Column],
                      persist: Boolean = false, mergeId: Option[Long] = None)
                     (transform: (DataFrame, Long) => Option[Rewritten]): Option[Map[String, Long]] = {
    val all = snapshotManifests(v).flatMap(m => manifest(m).files)
    val (cands, untouched) = candidates.fold((all, Seq.empty[FileInfo])) { pred =>
      // resolved against the table: unknown columns fail loudly here
      val cond = DeletePruning.analyzedCondition(readVersion(spark, v), pred)
      if (DeletePruning.neverMatches(cond)) (Nil, all)
      else {
        val filters = DeletePruning.filtersFor(cond)
        val (statCands, statPruned) = all.partition(FilePrune.keep(_, filters))
        bloomPruneFiles(spark, statCands, statPruned, filters, next)
      }
    }
    // compaction reads the whole version; a predicate's candidates are pinned
    val read = scan(spark, v, next.schema, candidates.map(_ => cands))
    val in = if (persist) read.persist() else read
    val dataDir = p("data", s"$tag=v$v")
    try transform(in, cands.map(_.rows).sum).flatMap { case (out, metricsOf) =>
      writeParquet(out, next.partitionBy.filter(out.columns.contains), next, dataDir)
      // empty outputs carry no rows: off the manifest and the disk
      val (live, empty) = writtenFiles(dataDir, spark.sessionState.newHadoopConf(), next.schema)
        .partition(_.rows > 0)
      empty.foreach { f =>
        val path = Paths.get(f.path)
        Files.deleteIfExists(path.resolveSibling(s".${path.getFileName}.crc"))
        Files.deleteIfExists(path)
      }
      val metrics = metricsOf(live.map(_.rows).sum)
      if (metrics.isEmpty) deleteTree(dataDir) // whole tree: stray _SUCCESS/empty value dirs too
      metrics.map { m =>
        publishRewrite(tag, v, untouched ++ live, m, mergeId, next)
        m.toMap
      }
    } finally if (persist) { in.unpersist(); () }
  }
}

/** Exactly-once streaming sink over [[GraftTable]]: plug into
  * `writeStream.foreachBatch(sink.write _)`. Spark's checkpoint gives
  * at-least-once foreachBatch invocation; the batchId-keyed idempotent
  * commit upgrades it to exactly-once table contents.
  *
  * With `lineage = true`, every row carries (_lineage_batch, _lineage_part,
  * _lineage_row) — the (batch, record, result) analog of the reference's
  * order-preserving splice (processor.go:137-256): the pipeline is map-only
  * (no shuffle), so partition-local row order IS source file order, and
  * `ORDER BY` the triple reconstructs the replay order deterministically. */
final class ExactlyOnceSink(val table: GraftTable,
                            lineage: Boolean = false,
                            partitionBy: Seq[String] = Nil) {
  def write(df: DataFrame, batchId: Long): Unit = {
    val out =
      if (!lineage) df
      else df
        .withColumn("_lineage_batch", lit(batchId))
        .withColumn("_lineage_part", spark_partition_id().cast("long"))
        // low 33 bits of monotonically_increasing_id = per-partition counter
        .withColumn("_lineage_row",
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    table.commit(out, batchId, partitionBy = partitionBy)
    ()
  }
}
