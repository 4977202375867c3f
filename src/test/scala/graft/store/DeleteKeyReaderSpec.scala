package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DeleteKeyMask
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSpec

/** `DeleteKeyMask.load` builds its parquet reader, which broadcasts the
  * session's Hadoop conf, once per session and key schema. */
class DeleteKeyReaderSpec extends SparkSpec {

  private def deleteFile(keys: Seq[Int]): Seq[FileStatus] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("delete-keys").resolve("d").toString
    keys.toDF("k").coalesce(1).write.parquet(dir)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
  }

  private def lastBroadcastId: Long = spark.sparkContext.broadcast(0).id

  test("a load with the reader built broadcasts only its key set") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val Seq(first, second) = Seq(1 to 5, 6 to 9).map(deleteFile)
    DeleteKeyMask.load(spark, Seq("first" -> first), schema, 100)
    val before = lastBroadcastId
    val Seq(Some(keys)) = DeleteKeyMask.load(spark, Seq("second" -> second), schema, 100)
    lastBroadcastId - before - 1 shouldBe 1
    keys.size shouldBe 4

    // another key schema builds its own reader: the same file reads as longs
    val asLong = StructType(Seq(StructField("k", LongType)))
    val Seq(Some(wide)) = DeleteKeyMask.load(spark, Seq("second-long" -> second), asLong, 100)
    wide.tuples.contains(6L) shouldBe true
    keys.tuples.contains(6) shouldBe true
  }
}
