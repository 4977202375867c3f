package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source checks that keep every store write on the one write step
  * (`LakeTable.writeDir` → `org.apache.spark.sql.StoreWrite`), which
  * reads each write's file count from its own command, and every store
  * read of its own files on the schema it already knows. */
class StoreWriteLintSpec extends AnyFunSuite with Matchers {

  private def sources(root: String): Seq[(Path, String)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  test("lint: no accumulator-registry access or reflection in main code") {
    val files = sources("src/main/scala")
    files should not be empty
    files.collect {
      case (p, src) if src.contains("AccumulatorContext") || src.contains("getDeclaredField") =>
        p.toString
    } shouldBe empty
  }

  test("lint: no DataFrameWriter call in the store") {
    val writerCall = """\.write\s*\.\s*(mode|parquet|format)\b""".r
    // the pattern must still recognize the call shape it bans
    writerCall.findFirstIn("df.write\n  .mode(\"errorifexists\")") shouldBe defined
    val files = sources("src/main/scala/graft/store")
    files should not be empty
    files.collect {
      case (p, src) if writerCall.findFirstIn(src).isDefined => p.toString
    } shouldBe empty
  }

  test("lint: no schema-less parquet read in the store") {
    // without .schema(...) Spark infers it from a footer in a one-task job
    val schemaLess = """\.read\s*\.\s*parquet\s*\(""".r
    schemaLess.findFirstIn("spark.read\n  .parquet(dir)") shouldBe defined
    schemaLess.findFirstIn("spark.read.schema(s).parquet(dir)") shouldBe empty
    val files = sources("src/main/scala/graft/store")
    files should not be empty
    files.collect {
      case (p, src) if schemaLess.findFirstIn(src).isDefined => p.toString
    } shouldBe empty
  }
}
