package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source lint for the one-session-factory rule: sessions are built only by
  * [[GraftSession]], which injects the extensions at construction, and no
  * code adds optimizer rules to a live session. A second builder or a
  * post-construction hook would make the active rule set depend on which
  * code ran first. */
class SessionFactoryLintSpec extends AnyFunSuite with Matchers {

  private val factory = Paths.get("src/main/scala/graft/plans/GraftSession.scala")

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }

  private def offenders(pattern: String, allowed: Path => Boolean): Seq[String] =
    sources.filterNot(allowed).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$p:${i + 1}"
      }
    }

  test("the scan sees the whole tree") {
    sources.size should be > 100
    sources should contain(factory)
  }

  test("sessions are built only inside GraftSession") {
    offenders("SparkSession\\.builder", _ == factory) shouldBe empty
  }

  test("no code adds optimizer rules to a live session") {
    offenders("experimental\\.extraOptimizations", _ => false) shouldBe empty
    offenders("extraOptimizations\\s*(=[^=]|\\+\\+?=|:\\+)", _ => false) shouldBe empty
    offenders("GraftExtensions\\.register", _ => false) shouldBe empty
  }
}
