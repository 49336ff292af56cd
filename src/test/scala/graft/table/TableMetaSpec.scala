package graft.table

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.TestSpark

/** Crash consistency of the versioned table metadata ([[TableMeta]]): a
  * write that loses its pointer swap publishes nothing a reader can see —
  * not its rows, and not the schema, partition layout or bloom layout it
  * would have introduced. */
class TableMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Rename committer whose next `swap` refuses once when armed: the
    * writer's data, manifest and snapshot node are on disk, but the
    * pointer never moves to them. */
  final class RefusingCommitter extends PointerCommitter {
    @volatile var refuseNext = false
    override def currentVersion(vf: Path): Long = RenamePointerCommitter.currentVersion(vf)
    override def swap(vf: Path, expected: Long, next: Long): Boolean =
      if (refuseNext) { refuseNext = false; false }
      else RenamePointerCommitter.swap(vf, expected, next)
    override def putVersioned(target: Path, content: String): Boolean =
      RenamePointerCommitter.putVersioned(target, content)
  }

  private def rows(t: GraftTable, cols: String*): Seq[String] =
    t.read(spark).select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq

  test("an aborted commit leaks no schema, partition or bloom layout; its retry publishes them") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_meta_abort").toString
    new GraftTable(root).commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), 0L)
    val before = new GraftTable(root).meta
    assert(before.exists(m => m.schema.fieldNames.toSeq == Seq("id", "v") &&
      m.partitionBy.isEmpty && m.bloomFor.isEmpty))
    val rowsBefore = rows(new GraftTable(root), "id", "v")

    // widens the schema, declares a partition layout, adopts a bloom layout
    val pc = new RefusingCommitter
    val t = new GraftTable(root, pointer = pc, bloomFor = Seq("id"), bloomNdv = 1000L)
    val widened = Seq((3L, "c", "wav")).toDF("id", "v", "codec").coalesce(1)
    pc.refuseNext = true
    intercept[IllegalStateException](t.commit(widened, 1L, partitionBy = Seq("codec")))

    val fresh = new GraftTable(root)
    assert(fresh.version == 1L)
    assert(fresh.meta == before, "the aborted commit's metadata leaked to a fresh reader")
    assert(fresh.read(s).columns.toSeq == Seq("id", "v"))
    assert(rows(fresh, "id", "v") == rowsBefore)

    // the same batch retried goes through and publishes the new metadata
    assert(t.commit(widened, 1L, partitionBy = Seq("codec")))
    val after = new GraftTable(root)
    assert(after.meta.contains(TableMeta(before.get.schema.add("codec", "string"),
      Seq("codec"), Seq("id"), 1000L)))
    assert(rows(after, "id", "v", "codec") ==
      Seq("[1,a,null]", "[2,b,null]", "[3,c,wav]"))
    // metadata is versioned: v1 still carries the schema it was written with
    assert(after.metaAt(1L) == before)
    val names = {
      val ls = Files.list(java.nio.file.Paths.get(root))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    assert(names == Set("VERSION", "LOCK", "data", "manifests", "snapshots"),
      s"unexpected objects at the table root: $names")
  }

  test("an aborted compaction leaks no bloom layout; its retry adopts it") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_meta_abort_cpt").toString
    val plain = new GraftTable(root)
    plain.commit(Seq((1L, "a"), (3L, "c")).toDF("id", "v").coalesce(1), 0L)
    plain.commit(Seq((2L, "b")).toDF("id", "v").coalesce(1), 1L)
    val before = new GraftTable(root).meta
    assert(before.exists(_.bloomFor.isEmpty))
    val rowsBefore = rows(new GraftTable(root), "id", "v")

    val pc = new RefusingCommitter
    val t = new GraftTable(root, pointer = pc, bloomFor = Seq("id"), bloomNdv = 1000L)
    pc.refuseNext = true
    intercept[IllegalStateException](t.compact(s, targetFiles = 1))

    val fresh = new GraftTable(root)
    assert(fresh.version == 2L)
    assert(fresh.meta == before, "the aborted compaction's bloom layout leaked")
    assert(rows(fresh, "id", "v") == rowsBefore)

    assert(t.compact(s, targetFiles = 1) == 3L)
    val after = new GraftTable(root)
    assert(after.meta.map(m => (m.bloomFor, m.bloomNdv)).contains((Seq("id"), 1000L)))
    assert(after.meta.map(_.schema) == before.map(_.schema))
    assert(rows(after, "id", "v") == rowsBefore && after.dataFiles.size == 1)
  }
}
