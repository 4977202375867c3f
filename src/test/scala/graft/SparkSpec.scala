package graft

import org.apache.spark.sql.{DataFrame, SparkSession, StoreWrite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.GraftSession

/** Shared local SparkSession for all specs (one per test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(appName = "graft-test", master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** `df`, which must fold to rows the driver holds, and the same rows
    * as a distributed frame (a repartition keeps a plan from folding):
    * the two inputs an operator with a driver-side rule must agree on. */
  def heldAndDistributed(df: DataFrame): Seq[(String, DataFrame)] = {
    assert(StoreWrite.local(df).isDefined, "the frame does not fold to local rows")
    val spread = df.repartition(2)
    assert(StoreWrite.local(spread).isEmpty)
    Seq("held" -> df, "distributed" -> spread)
  }
}
