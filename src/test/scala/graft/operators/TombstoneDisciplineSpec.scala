package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The snapshot discipline, pinned across EVERY tombstone compact: a
  * compact must read/fold/clear through a [[Tombstones.Snapshot]]
  * (frozen epoch set), never the live table — a live re-scan lets a
  * takedown epoch written between the fold-read and the clear be
  * destroyed unapplied, resurrecting the key ([[Tombstones.Snapshot]]
  * docs; unit semantics pinned by `TombstonesSpec`). The unit spec
  * proves the Snapshot type is safe; THIS spec proves every compact
  * actually goes through it — [[TombstoneStore]]'s for the families
  * that delegate to it, and each own compact (Ivf, Pq, Ann, Search) —
  * since the round-11 advisory pattern was exactly one family quietly
  * diverging from a shared discipline. */
class TombstoneDisciplineSpec extends AnyFunSuite {

  /** Files whose own compact folds tombstones. */
  private val compacts = Seq(
    "IvfIndex", "PqIndex", "AnnIndex", "SearchIndex", "TombstoneStore")
  /** Families whose compact and delete are [[TombstoneStore]]'s. */
  private val delegating = Seq("WinnowIndex", "PackIndex", "EvalIndex")

  private def source(file: String): String =
    new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/operators/$file.scala")),
      java.nio.charset.StandardCharsets.UTF_8)

  private def compactBody(src: String, file: String): String = {
    val start = src.indexOf("def compact(")
    assert(start >= 0, s"$file has no compact()")
    // body ends at the next top-level member (two-space `def`/`val`
    // indentation in this codebase) or EOF
    val rest = src.substring(start)
    val end = "\n  (def|val|private def|private val) ".r
      .findFirstMatchIn(rest.substring(1)).map(_.start + 1).getOrElse(rest.length)
    rest.substring(0, end)
  }

  test("every tombstone family's compact folds and clears through a " +
      "frozen Tombstones.snapshot, never the live table") {
    for (f <- compacts) {
      val body = compactBody(source(f), f)
      assert(body.contains("Tombstones.snapshot(spark"),
        s"$f.compact must freeze the tombstone epoch set")
      assert(body.contains("ts.clear(spark)") || body.contains(".clear(spark)"),
        s"$f.compact must retire exactly the frozen epochs")
      assert(!body.contains("Tombstones.minus("),
        s"$f.compact must fold through the SNAPSHOT's minus, not the live table")
      assert(!body.contains("Tombstones.ids("),
        s"$f.compact must not re-scan the live tombstone set")
    }
    for (f <- delegating) {
      val src = source(f)
      val body = compactBody(src, f)
      assert(src.contains("new TombstoneStore("), s"$f must be a TombstoneStore")
      assert(body.contains("store.compact(spark"),
        s"$f.compact must delegate to TombstoneStore.compact")
      assert(!body.contains("Tombstones.minus(") && !body.contains("Tombstones.ids("),
        s"$f.compact must not touch the live tombstone set")
    }
  }

  test("every tombstone family's deleteFrom* routes through the locked " +
      "Tombstones.delete (epoch numbering is read-modify-write)") {
    for (f <- Seq("IvfIndex", "PqIndex", "AnnIndex", "TombstoneStore"))
      assert(source(f).contains("Tombstones.delete(spark"),
        s"$f must delete through the shared locked path")
    for (f <- delegating :+ "SearchIndex") {
      val src = source(f)
      assert(src.contains("new TombstoneStore("), s"$f must be a TombstoneStore")
      assert(src.contains("store.delete(spark"),
        s"$f must delete through TombstoneStore.delete")
    }
  }
}
