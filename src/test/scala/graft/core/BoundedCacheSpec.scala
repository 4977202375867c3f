package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BoundedCacheSpec extends AnyFunSuite with Matchers {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("evicts in access order once the weight budget is exceeded; a hit refreshes recency") {
    val c = new BoundedCache[String, Int](10, _.toLong)
    c.put("a", 4)
    c.put("b", 4)
    c.get("a") shouldBe Some(4) // a is now the most recent
    c.put("c", 4) // 12 > 10: the eldest access (b) goes
    c.get("b") shouldBe None
    c.get("a") shouldBe Some(4)
    c.get("c") shouldBe Some(4)
    c.put("d", 3) // 11 > 10: a is eldest again (c was read after it)
    c.get("a") shouldBe None
    Seq("c", "d").map(c.get) shouldBe Seq(Some(4), Some(3))
  }

  test("first put wins") {
    val c = new BoundedCache[String, Int](10, _ => 1L)
    c.put("a", 1)
    c.put("a", 2)
    c.get("a") shouldBe Some(1)
    c.getOrElseUpdate("a")(fail("a cached key must not reload")) shouldBe 1
  }

  test("an entry heavier than the whole budget survives its own insert") {
    val c = new BoundedCache[String, Int](10, _.toLong)
    c.put("a", 2)
    c.put("huge", 100)
    c.get("huge") shouldBe Some(100)
    c.get("a") shouldBe None
    c.put("b", 1) // the next insert evicts the overweight entry
    c.get("huge") shouldBe None
    c.get("b") shouldBe Some(1)
  }

  test("a throwing load and a None load cache nothing") {
    val c = new BoundedCache[String, Int](10, _ => 1L)
    val loads = new AtomicInteger
    c.getOrLoad("a") { loads.incrementAndGet(); None } shouldBe None
    c.getOrLoad("a") { loads.incrementAndGet(); None } shouldBe None
    loads.get shouldBe 2
    c.get("a") shouldBe None

    an[IllegalStateException] should be thrownBy
      c.getOrElseUpdate("b") { loads.incrementAndGet(); throw new IllegalStateException("io") }
    c.get("b") shouldBe None
    c.getOrElseUpdate("b") { loads.incrementAndGet(); 7 } shouldBe 7
    c.getOrElseUpdate("b") { loads.incrementAndGet(); 8 } shouldBe 7
    loads.get shouldBe 4
  }

  test("a load blocked on one key does not block a get or a load of another") {
    val c = new BoundedCache[String, Int](10, _ => 1L)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(c.getOrElseUpdate("A") {
      entered.countDown()
      release.await(30, TimeUnit.SECONDS)
      1
    })
    try {
      entered.await(10, TimeUnit.SECONDS) shouldBe true
      val other = Future((c.get("B"), c.getOrElseUpdate("B")(2), c.get("B")))
      Await.result(other, 5.seconds) shouldBe ((None, 2, Some(2)))
      c.get("A") shouldBe None // still loading
    } finally release.countDown()
    Await.result(slow, 10.seconds) shouldBe 1
    c.get("A") shouldBe Some(1)
  }

  test("lint: no hand-written LRU map outside BoundedCache.scala") {
    // an access-ordered java.util.LinkedHashMap is the three-argument
    // constructor ending in `true`; removeEldestEntry is its LRU hook
    val accessOrdered =
      """(?s)LinkedHashMap\b.{0,300}?\([^()]*,[^()]*,\s*true\s*\)""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files should not be empty
    val (home, rest) = files.partition(_.getFileName.toString == "BoundedCache.scala")
    def handWritten(p: java.nio.file.Path): Boolean = {
      val src = new String(Files.readAllBytes(p), "UTF-8")
      src.contains("removeEldestEntry") || accessOrdered.findFirstIn(src).isDefined
    }
    // the pattern must still recognize the one sanctioned map
    home.map(handWritten) shouldBe Seq(true)
    rest.filter(handWritten).map(_.toString) shouldBe empty
  }
}
