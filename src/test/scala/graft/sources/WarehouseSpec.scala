package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** Staged warehouse loads (the reference's indirect-load shape): the table
  * swaps atomically from old to new, failed publishes can't leave a torn
  * table, and staging scratch is cleaned up. */
class WarehouseSpec extends SparkSpec {

  test("overwrite swaps the table; a resolved reader keeps the old snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_spec").toString
    val wh = new ParquetWarehouse(root)
    wh.writeTable(Seq(1, 2, 3).toDF("x"), "t")
    assert(wh.readTable(spark, "t").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3))
    wh.writeTable(Seq(9).toDF("x"), "t")
    assert(wh.readTable(spark, "t").collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("staging scratch does not accumulate after successful publishes") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_spec").toString
    val wh = new ParquetWarehouse(root)
    wh.writeTable(Seq(1).toDF("x"), "t")
    wh.writeTable(Seq(2).toDF("x"), "t")
    val staging = new java.io.File(s"$root/_staging")
    val leftovers = Option(staging.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty, s"staging leftovers: $leftovers")
  }

  test("a table replaced with a wider schema reads with the new schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_spec").toString
    val wh = new ParquetWarehouse(root)
    wh.writeTable(Seq(1).toDF("x"), "t")
    assert(wh.readTable(spark, "t").schema.fieldNames.toSeq == Seq("x"))
    wh.writeTable(Seq((2, "b")).toDF("x", "y"), "t")
    val df = wh.readTable(spark, "t")
    assert(df.schema == spark.read.parquet(s"$root/t").schema)
    assert(df.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "b")))
  }

  /** The error `readTable` throws must be the one a plain parquet read
    * of the same directory throws: same class, same error condition. */
  private def assertSameError(root: String, table: String): Unit = {
    def caught(read: => Any): Throwable =
      try { read; fail(s"reading $table did not throw") }
      catch { case e: Exception => e }
    val got = caught(new ParquetWarehouse(root).readTable(spark, table))
    val expected = caught(spark.read.parquet(s"$root/$table"))
    def condition(e: Throwable) = e match {
      case s: org.apache.spark.SparkThrowable => Option(s.getCondition)
      case _ => None
    }
    assert(got.getClass == expected.getClass)
    assert(condition(got) == condition(expected))
    assert(condition(got).nonEmpty, s"no error condition on $got")
  }

  test("a missing table fails exactly as a plain parquet read does") {
    assertSameError(Files.createTempDirectory("wh_spec").toString, "absent")
  }

  test("a table directory with no data files fails exactly as a plain read does") {
    val root = Files.createTempDirectory("wh_spec").toString
    Files.createDirectories(java.nio.file.Paths.get(root, "empty"))
    Files.writeString(java.nio.file.Paths.get(root, "empty", "_SUCCESS"), "")
    assertSameError(root, "empty")
  }
}
