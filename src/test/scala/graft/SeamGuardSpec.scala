package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Keeps the seams from eroding: streaming run wiring (checkpoint,
  * trigger, memory sink) lives only in `streaming/AvailableNow.scala`,
  * Hadoop-FS handles and renames only in `io/AtomicParquet.scala`, and
  * session-wide settings (optimizer extensions, reader confs) only in
  * `Session.scala`. Scans the code lines (not comments) of every main
  * source file. */
class SeamGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val streamSeam = root.resolve("graft/streaming/AvailableNow.scala")
  private val fsSeam = root.resolve("graft/io/AtomicParquet.scala")
  private val sessionSeam = root.resolve("graft/Session.scala")

  private def codeLines(f: Path): Seq[(Int, String)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex.collect {
      case (l, i) if !Seq("//", "/*", "*").exists(p => l.trim.startsWith(p)) =>
        (i + 1, l)
    }

  /** Each pattern appears in no main source file but its seam, and the
    * seam still holds it. */
  private def assertOnlyInSeam(rules: Seq[(String, Path)]): Unit = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = for {
      f <- files
      (n, line) <- codeLines(f)
      (pat, seam) <- rules
      if line.contains(pat) && f != seam
    } yield s"$f:$n uses $pat outside $seam"
    if (hits.nonEmpty) fail(hits.mkString("\n"))
    for ((pat, seam) <- rules)
      assert(codeLines(seam).exists(_._2.contains(pat)),
        s"$seam no longer holds $pat — move the guard with the seam")
  }

  test("streaming run wiring and FS renames appear only in their seam") {
    assertOnlyInSeam(Seq(
      "Trigger.AvailableNow" -> streamSeam,
      "checkpointLocation" -> streamSeam,
      "format(\"memory\")" -> streamSeam,
      "getFileSystem" -> fsSeam,
      ".rename(" -> fsSeam))
  }

  test("optimizer extensions and reader confs are installed only by " +
      "graft.Session") {
    assertOnlyInSeam(Seq(
      "GraftExtensions.register" -> sessionSeam,
      "nanosAsLong" -> sessionSeam))
  }
}
