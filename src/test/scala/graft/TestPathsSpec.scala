package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Tests read fixtures from the repo (`src/test/resources`, through
  * `getResource`) or from the shared `/root/testdata` tree, never from
  * another absolute path: a test that depends on a checkout elsewhere on
  * the machine fails wherever that checkout is missing. */
class TestPathsSpec extends AnyFunSuite {
  // a `/root/` path component, captured so `testdata` can be allowed
  private val rootPath = """/root/([\w.-]+)""".r

  test("no test names a /root/ path other than /root/testdata") {
    val files = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.size > 10, "the test tree was not found from the build root")
    val offenders = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- rootPath.findAllMatchIn(line) if m.group(1) != "testdata"
    } yield s"$f:${i + 1}: ${m.matched}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
