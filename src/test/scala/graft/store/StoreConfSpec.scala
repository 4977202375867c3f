package graft.store

import java.util.concurrent.CountDownLatch

import graft.SparkSpec

class StoreConfSpec extends SparkSpec {

  private val keys = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")

  test("overlapping scopes on two threads restore the conf at the last exit") {
    def conf = keys.map(k => k -> spark.conf.getOption(k))
    // start from the defaults: on the shared session, overlapping scopes
    // of an earlier suite may have left the overrides on
    keys.foreach(spark.conf.unset)
    val before = conf
    val aIn, bIn, aOut = new CountDownLatch(1)
    @volatile var insideBAfterA: Seq[(String, Option[String])] = Nil
    def thread(f: => Unit) = { val t = new Thread(() => f); t.start(); t }
    // enter A, enter B, exit A, exit B
    val a = thread {
      StoreConf.bytesFirstCoalesce(spark) { aIn.countDown(); bIn.await() }
      aOut.countDown()
    }
    val b = thread {
      aIn.await()
      StoreConf.bytesFirstCoalesce(spark) {
        bIn.countDown(); aOut.await(); insideBAfterA = conf
      }
    }
    a.join(); b.join()
    insideBAfterA.map(_._2) shouldBe Seq(Some("false"), Some("true"))
    conf shouldBe before
  }
}
