package graft.table

import java.nio.file.Files
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.scalatest.funsuite.AnyFunSuite

/** Property harness for the delete-pruning SOUNDNESS contract: for any
  * predicate, a file containing a row where the predicate evaluates TRUE
  * must never be pruned from the rewrite candidates ([[DeletePruning]] +
  * [[FilePrune]]). Three review passes each found a silent-row-retention
  * hole in hand-written cases (attribute-side casts, literal-side casts,
  * float stats domain drift) — this net runs a few hundred randomized
  * predicates with deliberately mismatched literal types over data with
  * nulls, float-rounding canaries, >2^53 longs, and non-BMP strings.
  * Expected matches come from Catalyst itself (one job evaluates every
  * predicate as a boolean column next to input_file_name), so the test
  * can never drift from Spark's own cast/comparison semantics. The same
  * predicates also run as filtered reads: Spark's own pushdown into
  * [[GraftScan]] must plan every file with a matching row and return
  * exactly the matching rows. */
class DeletePruningSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("pruning soundness: a file with a matching row is never pruned") {
    val s = spark
    import s.implicits._
    val t = new GraftTable(Files.createTempDirectory("graft_prune_prop").toString)
    // Awkward values on purpose: float/double rounding canaries
    // (16777217 = 2^24+1, 1.1f), longs beyond double precision (2^53+3),
    // negative extremes, nulls in every column, non-BMP strings.
    val rows: Seq[(java.lang.Integer, java.lang.Long, java.lang.Float, java.lang.Double, String)] = Seq(
      (1, 10L, 1.1f, 1.1d, "alpha"),
      (16777217, 16777217L, 16777216.0f, 16777216.0d, "beta"),
      (-5, 9007199254740995L, -1.1f, -1.1d, "😀 emoji"),
      (Int.MaxValue, Long.MaxValue, Float.MaxValue, Double.MaxValue, ""),
      (Int.MinValue, Long.MinValue, Float.MinValue, -0.0d, "zzé"),
      (null, null, null, null, null),
      (7, 2L, 2.5f, 2.5d, "alpha"),
      (0, 0L, 0.0f, 0.0d, "0"),
      // NaN row: parquet omits (or order-mangles) float stats around NaN —
      // pruning must fall back to a conservative keep for this file
      (3, 3L, Float.NaN, Double.NaN, "nan")
    )
    rows.zipWithIndex.foreach { case (r, i) =>
      t.commit(Seq(r).toDF("i", "l", "f", "d", "s").coalesce(1), i.toLong)
    }
    val df = t.read(s)
    val allFiles = t.manifestsUpTo(t.version).flatMap(t.manifestFiles)
    assert(allFiles.size == rows.size)

    val rnd = new scala.util.Random(42)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    // literal pools deliberately cross types vs the column
    val intishLits: Seq[Any] = Seq(1, 10L, 16777217, 16777217L, -5, 7, 0,
      16777216.0f, 16777216.0d, 1.1d, 9007199254740995L, 2147483648L, Int.MaxValue, Long.MinValue)
    val fracLits: Seq[Any] = Seq(1.1f, 1.1d, -1.1f, 2.5d, 16777216.0f, 16777217.0d, 0.0d, -0.0d, 0, 10L,
      Float.NaN, Double.NaN)
    val strLits: Seq[Any] = Seq("alpha", "beta", "😀 emoji", "", "zzé", "nope", "0")
    def litFor(c: String): Any = c match {
      case "i" | "l" => pick(intishLits)
      case "f" | "d" => pick(fracLits)
      case _ => pick(strLits)
    }
    def genConjunct(): Column = {
      val c = pick(Seq("i", "l", "f", "d", "s"))
      pick[Int](0 to 9) match {
        case 0 => col(c) === lit(litFor(c))
        case 1 => col(c) < lit(litFor(c))
        case 2 => col(c) <= lit(litFor(c))
        case 3 => col(c) > lit(litFor(c))
        case 4 => col(c) >= lit(litFor(c))
        case 5 => col(c).isin((1 to 1 + rnd.nextInt(3)).map(_ => litFor(c)): _*)
        case 6 => col(c).isNull
        case 7 => col(c).isNotNull
        case 8 => col(c) <=> lit(litFor(c))
        // `c <=> NULL` is IS NULL semantics — min/max stats say nothing
        // about nulls, so the translator must leave it untranslated (a
        // future edit dropping the null guard would prune files whose
        // only matching rows are NULLs; this case is its tripwire)
        case _ => col(c) <=> lit(null)
      }
    }
    // disjunctions and nested and-inside-or exercise the Or/And/
    // EqualNullSafe translation paths (round 5), not just leaf conjuncts
    def genTerm(): Column = pick[Int](0 to 3) match {
      case 0 | 1 => genConjunct()
      case 2 => genConjunct() || genConjunct()
      case _ => (genConjunct() && genConjunct()) || genConjunct()
    }
    def genPredicate(): Column =
      (1 to 1 + rnd.nextInt(2)).map(_ => genTerm()).reduce(_ && _)

    // shapes that provably match nothing: the translator short-circuits
    // them, and Spark plans no scan at all for them
    val neverShapes = Seq(col("i").isin(), lit(false), col("l") > 0 && lit(false),
      typedLit[java.lang.Boolean](null))
    val preds = Seq.fill(300)(genPredicate()) ++ neverShapes
    // Catalyst evaluates every predicate in ONE pass; TRUE per file is the
    // ground truth the pruning must respect
    val cols = col("_file") +: preds.zipWithIndex.map { case (p, i) =>
      when(p, true).otherwise(false).as(s"p$i")
    }
    val evaluated = df.withColumn("_file", input_file_name())
      .select(cols: _*).collect()
    def canon(path: String): String =
      java.nio.file.Paths.get(path.stripPrefix("file:")).toAbsolutePath.normalize.toString
    def paths(ip: InputPartition): Seq[String] = ip match {
      case f: FilePartition => f.files.toSeq.map(pf => canon(pf.toPath.toUri.getPath))
      case k: GraftKeyedInputPartition => paths(k.part)
    }
    // the files a filtered read plans; None = no scan planned at all
    def planned(p: Column): Option[Set[String]] = {
      val scans = df.filter(p).queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      if (scans.isEmpty) None else Some(scans.flatMap(_.inputPartitions).flatMap(paths).toSet)
    }

    var translated = 0
    var never = 0
    preds.zipWithIndex.foreach { case (p, i) =>
      val matching = evaluated.filter(_.getBoolean(i + 1))
      val matchingFiles = matching.map(r => canon(r.getString(0))).toSet
      val cond = DeletePruning.analyzedCondition(df, p)
      val filters = DeletePruning.filtersFor(cond)
      if (filters.nonEmpty) translated += 1
      val kept = allFiles.filter(fi => FilePrune.keep(fi, filters)).map(fi => canon(fi.path)).toSet
      val lost = matchingFiles -- kept
      assert(lost.isEmpty,
        s"predicate #$i [$p] -> filters $filters pruned file(s) with matching rows: $lost")
      // the never-match short-circuit must agree with ground truth too
      val scanned = planned(p)
      if (DeletePruning.neverMatches(cond)) {
        never += 1
        assert(matchingFiles.isEmpty, s"predicate #$i [$p] declared unsatisfiable but matched")
        assert(scanned.isEmpty, s"predicate #$i [$p] matches nothing but planned a scan")
      }
      // the read path: Spark's pushdown into the scan keeps every file
      // with a matching row, and the filtered read returns exactly them
      val unplanned = matchingFiles -- scanned.getOrElse(Set.empty)
      assert(unplanned.isEmpty, s"predicate #$i [$p] read skipped file(s) with matching rows: $unplanned")
      assert(df.filter(p).count() == matching.length, s"predicate #$i [$p]: filtered count")
    }
    assert(never >= neverShapes.size, s"only $never predicates short-circuited")
    // the generator must actually exercise the translator, not just the
    // conservative no-filter path
    assert(translated > 200, s"only $translated/300 predicates translated — generator too weak")
  }
}
