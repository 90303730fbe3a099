package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings from arguments and the session conf,
  * never from the process environment: an environment read hides a knob
  * no caller can see in a signature or a conf dump. Only the mains and
  * the session factory read environment variables.
  */
class LibraryEnvSpec extends AnyFunSuite {
  private val allowed = Set("Bench", "Verify", "Smoke", "Sessions")
  private val topLevel =
    """^(?:(?:private|final|sealed|abstract|case)(?:\[\w+\])?\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val envRead = """sys\.env|System\.getenv""".r

  test("only Bench, Verify, Smoke and Sessions read environment variables") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // each environment read, attributed to the top-level definition it sits in
    val reads = sources.flatMap { file =>
      var owner = "<file header>"
      java.nio.file.Files.readAllLines(file).asScala.zipWithIndex.flatMap { case (line, i) =>
        topLevel.findFirstMatchIn(line).foreach(m => owner = m.group(1))
        val code = line.trim
        if (code.startsWith("//") || code.startsWith("*") ||
            envRead.findFirstIn(code).isEmpty) None
        else Some((owner, s"${root.relativize(file)}:${i + 1}"))
      }
    }
    assert(reads.nonEmpty, "the scan found no environment read at all")
    val outside = reads.filterNot { case (owner, _) => allowed(owner) }
    assert(outside.isEmpty, outside.map { case (o, at) => s"$o at $at" }.mkString("\n"))
  }
}
