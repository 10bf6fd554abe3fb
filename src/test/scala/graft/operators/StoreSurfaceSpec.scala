package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one-handle rule for persisted stores as a MACHINE-CHECKED
  * invariant: outside [[StoreRoot]] (and the protocol below it,
  * [[AtomicBatches]]) no operator or streaming source runs the `_MAINT`
  * check, reads a parquet table or looks up a FileSystem by hand — a
  * store face reads its tables through the handle, so a table can only
  * be read after the check has run. (No SparkSession needed: the check
  * is over the sources.)
  */
class StoreSurfaceSpec extends AnyFunSuite with Matchers {

  private val root = new java.io.File("src/main/scala")
  private val dirs = Seq("graft/operators", "graft/streaming")
  private val owners =
    Set("graft/operators/StoreRoot.scala", "graft/operators/AtomicBatches.scala")

  // named exemptions: (file, trimmed line) -> why it is not a store read
  private val exempt = Map(
    ("graft/operators/Takedown.scala",
      "present = (sp, idCol, st) => sp.read.parquet(st.path)") ->
      ("the `table` kind's audit reads a user's partitioned table, which " +
       "has no store root, `_MAINT` marker or tables of its own"))

  private val rules = Seq(
    "a hand-placed maintenance check" -> """assertNotInMaintenance""".r,
    "a side-table probe" -> """readParquetIfAny""".r,
    "a raw parquet read" -> """\.read\.parquet\(""".r,
    "a FileSystem lookup" -> """getFileSystem\(|def fsOf""".r)

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Seq.empty).flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    }

  private def lines(f: java.io.File): List[String] = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.getLines().toList finally s.close()
  }

  test("store tables are read only through StoreRoot") {
    val files = dirs.flatMap(d => sources(new java.io.File(root, d)))
    files.size should be > 20 // the walk itself must be finding sources
    val offences = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString
      if !owners.contains(rel)
      (line, n) <- lines(f).zipWithIndex
      (what, pat) <- rules
      if pat.findFirstIn(line).isDefined
      if !exempt.contains(rel -> line.trim)
    } yield s"$rel:${n + 1}: $what: ${line.trim}"
    assert(offences.isEmpty,
      offences.mkString("store reads outside graft.operators.StoreRoot:\n",
        "\n", "\nOpen the store's StoreRoot (it runs the _MAINT check) and " +
        "read through read/side/meta/victims, or StoreRoot.maintain " +
        "inside a compaction; StoreRoot.fs resolves a FileSystem."))
  }

  test("the exemptions the scan allows still exist") {
    exempt.keys.foreach { case (rel, line) =>
      lines(new java.io.File(root, rel)).map(_.trim) should contain(line)
    }
  }
}
