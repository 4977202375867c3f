package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source check that one module knows the metadata layout: the meta
  * dir's name, its numbered file names, the claim and the raw JSON
  * reads stay in `TableLog.scala`; everything else asks the log. */
class MetaLayoutLintSpec extends AnyFunSuite with Matchers {

  test("lint: the metadata layout is named only in TableLog.scala") {
    val layout = """(?<!\w)_meta\b|claimFile|IOUtils\.toByteArray|%05d\.json""".r
    // the pattern must still recognize what it bans, and not a query name
    Seq("s\"$location/_meta\"", "claimFile(tmp, t)",
      "org.apache.commons.io.IOUtils.toByteArray(in)", "f\"v$v%05d.json\"")
      .foreach(layout.findFirstIn(_) shouldBe defined)
    layout.findFirstIn("\"d26_json_meta\"") shouldBe empty
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "TableLog.scala")
      .toSeq
    files should not be empty
    files.filter(p =>
      layout.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.toString) shouldBe empty
  }
}
