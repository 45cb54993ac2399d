package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: no handler in `src/main/scala` catches `Throwable`, so
  * fatal errors (out of memory, stack overflow, interrupts) always
  * propagate. Handlers match `NonFatal` instead.
  */
class NoThrowableCatchSpec extends AnyFunSuite {
  test("no catch in src/main/scala matches Throwable") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50)
    val pattern = """:\s*Throwable\s*=>""".r
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
