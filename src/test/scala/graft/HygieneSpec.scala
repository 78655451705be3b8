package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Repo hygiene over the Scala sources.
  *
  *  - No source may contain raw control characters. A literal NUL (or any
  *    C0 control) byte in a string literal makes git classify the file as
  *    binary, so its diffs/blame/grep go dark — write `backslash-u0000`
  *    escapes instead (advisor finding, round 3).
  *  - Engine code reads no JVM system properties beyond two value seams.
  *    A system property is JVM-global: a switch read on an engine path
  *    changes behaviour for every session in the process at once, and
  *    lineage recovery needs every operator to take the same path on
  *    recompute. Choices belong in parameters or session conf.
  */
class HygieneSpec extends AnyFunSuite {

  /** The build root's `src/`, anchored on this spec's own compiled class
    * location (target/...) and walking up — NOT the process CWD, which a
    * runner started elsewhere could point at an unrelated tree (vacuous
    * pass or foreign-file failures). */
  private def srcRoot: Path = {
    val classAnchor = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toAbsolutePath
    Iterator.iterate(classAnchor)(_.getParent)
      .takeWhile(_ != null).map(_.resolve("src")).find(Files.isDirectory(_))
      .getOrElse(fail("no src/ directory found above the compiled classes — cannot scan sources"))
  }

  /** Every `.scala` file under `dir`; the walk stream is closed so
    * directory handles don't leak. */
  private def scalaFiles(dir: Path): List[Path] = {
    val walk = Files.walk(dir)
    try {
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toList
    } finally walk.close()
  }

  test("no .scala source contains raw control characters") {
    val offenders = scalaFiles(srcRoot).filter { p =>
      val bytes = Files.readAllBytes(p)
      bytes.exists(b => b >= 0 && b < 0x20 && b != '\n' && b != '\t' && b != '\r')
    }.map(_.toString)
    assert(offenders.isEmpty,
      s"raw control characters (git-binary trap) in: ${offenders.mkString(", ")}")
  }

  test("engine code reads no JVM-global system properties beyond the two value seams") {
    // the two allowlisted keys are values specs set (a byte cap and a
    // drain watermark), not code-path switches; graft/tools/ holds
    // standalone mains, outside the engine
    val allowed = Set("graft.modelSizedBytes", "graft.cachescope.drainWatermark")
    val access = """sys\.props|System\.(?:get|set|clear)Propert(?:y|ies)""".r
    val keyed = """^(?:\.(?:get|contains|remove|getOrElse))?\(\s*"([^"]*)"""".r
    val main = srcRoot.resolve("main").resolve("scala")
    assert(Files.isDirectory(main), s"no $main")
    val tools = main.resolve("graft").resolve("tools")
    val offenders = for {
      p <- scalaFiles(main) if !p.startsWith(tools)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      m <- access.findAllMatchIn(line)
      if !keyed.findPrefixMatchOf(line.substring(m.end)).exists(k => allowed(k.group(1)))
    } yield s"${main.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"JVM-global system property access on an engine path:\n${offenders.mkString("\n")}")
  }
}
