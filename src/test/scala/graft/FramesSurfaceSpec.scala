package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The single-owner rule for materialized frames as a MACHINE-CHECKED
  * invariant: outside [[Frames]] no source in `src/main` frees a frame
  * by hand or hands a release handle to its caller. A frame a call
  * materializes and does not return is pinned in a `Frames` scope; a
  * returned frame is left to session cleanup. (No SparkSession needed:
  * the check is over the sources.)
  */
class FramesSurfaceSpec extends AnyFunSuite with Matchers {

  private val root = new java.io.File("src/main/scala")
  private val owner = new java.io.File(root, "graft/Frames.scala")

  // the two between-query session resets: they drop every persisted RDD
  // of the session, returned frames included
  private val sessionResets = Set(
    "graft/Bench.scala" ->
      "spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))",
    "graft/tools/ExplainDump.scala" -> ".foreach(_.unpersist(blocking = true))")

  private val rules = Seq(
    "a hand-placed checkpoint release" -> """releaseLocalCheckpoint""".r,
    "a *WithCleanup face" -> """\w+WithCleanup""".r,
    "a hand-placed unpersist" -> """\.unpersist\(""".r,
    "a release handle returned in a tuple" ->
      """:\s*\((?:[^()]|\(\))*\(\) => Unit\)\s*=""".r)

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

  test("no source outside Frames frees a frame by hand or returns a handle") {
    val files = sources(root).filterNot(_ == owner)
    files.size should be > 50 // the walk itself must be finding sources
    val offences = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString
      (line, n) <- lines(f).zipWithIndex
      (what, pat) <- rules
      if pat.findFirstIn(line).isDefined
      if !sessionResets.contains(rel -> line.trim)
    } yield s"$rel:${n + 1}: $what: ${line.trim}"
    assert(offences.isEmpty,
      offences.mkString("frames freed outside graft.Frames:\n", "\n",
        "\nPin the frame in a Frames scope (checkpoint/persist) and let " +
        "the scope free it, or f.release it where it must go early."))
  }

  test("the session resets the scan allows still exist") {
    sessionResets.foreach { case (rel, line) =>
      lines(new java.io.File(root, rel)).map(_.trim) should contain(line)
    }
  }
}
