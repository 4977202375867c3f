package graft.cdc

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[HttpSchemaRegistry]] against a loopback Confluent-shaped server
  * (`GET /schemas/ids/{id}` → `{"schema": "..."}`): ids 1–3 resolve,
  * id 3 stalls until released, anything else is a 404. */
class SchemaRegistrySpec extends AnyFunSuite with Matchers {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private class Registry extends AutoCloseable {
    val requests = new ConcurrentHashMap[Int, AtomicInteger]()
    val stallEntered = new CountDownLatch(1)
    val stallRelease = new CountDownLatch(1)
    private val pool = Executors.newFixedThreadPool(2)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/schemas/ids/").toInt
      requests.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
      if (id == 3) { stallEntered.countDown(); stallRelease.await(30, TimeUnit.SECONDS) }
      val (status, body) =
        if (id <= 3) (200, s"""{"schema":"{\\"type\\":\\"string\\",\\"name\\":\\"s$id\\"}"}""")
        else (404, """{"error_code":40403,"message":"Schema not found"}""")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.setExecutor(pool)
    server.start()
    val client = new HttpSchemaRegistry(s"http://127.0.0.1:${server.getAddress.getPort}")
    def close(): Unit = { stallRelease.countDown(); server.stop(0); pool.shutdownNow() }
  }

  private def withRegistry(body: Registry => Unit): Unit = {
    val r = new Registry
    try body(r) finally r.close()
  }

  test("returns the schema field of the response") {
    withRegistry { r =>
      r.client.getSchema(1) shouldBe """{"type":"string","name":"s1"}"""
    }
  }

  test("repeated lookups of one id make one request") {
    withRegistry { r =>
      (1 to 5).foreach(_ => r.client.getSchema(2))
      r.requests.get(2).get shouldBe 1
    }
  }

  test("a 404 throws NoSuchElementException and caches nothing") {
    withRegistry { r =>
      val e = intercept[NoSuchElementException](r.client.getSchema(404))
      e.getMessage shouldBe "schema id 404: HTTP 404"
      intercept[NoSuchElementException](r.client.getSchema(404))
      r.requests.get(404).get shouldBe 2
    }
  }

  test("a stalled request does not block a cached lookup of another id") {
    withRegistry { r =>
      r.client.getSchema(1)
      val stalled = Future(r.client.getSchema(3))
      r.stallEntered.await(10, TimeUnit.SECONDS) shouldBe true
      Await.result(Future(r.client.getSchema(1)), 5.seconds) should include("s1")
      r.stallRelease.countDown()
      Await.result(stalled, 10.seconds) should include("s3")
    }
  }
}
