package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftCheckpointShim
import graft.SparkSpec

/** Pins the two properties the iterative suffix tier depends on: the
  * pin is a pure identity on DATA, and it actually severs the carried
  * statistics whose bit length otherwise doubles per checkpointed
  * superstep (the Spark 4 localCheckpoint behavior documented on
  * [[org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats]] —
  * without it a ~14-superstep loop stalls the driver in
  * BigInteger.multiply). */
class GraftCheckpointShimSpec extends SparkSpec {

  test("pinWithMeasuredStats preserves rows and schema") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val joined = df.as("a").join(df.as("b"), "id")
      .select(col("id"), col("a.v").as("v"))
    val pinned = GraftCheckpointShim.pinWithMeasuredStats(joined)
    assert(pinned.schema == joined.schema)
    assert(pinned.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      == joined.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
    // the leaf reports a measured block size, never a carried product
    // estimate
    assert(pinned.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 64,
      s"stats carried: ${pinned.queryExecution.optimizedPlan.stats.sizeInBytes}")
  }

  test("superstep loop keeps the statistics bit length bounded") {
    def step(df: DataFrame): DataFrame =
      df.as("a").join(df.as("b"), "id").select(col("id"))
    def bits(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    // raw localCheckpoint: join estimation multiplies child sizes and the
    // checkpoint CARRIES the product, so bits ~double per iteration
    var raw = spark.range(50).toDF("id").localCheckpoint()
    (1 to 6).foreach(_ => raw = step(raw).localCheckpoint())
    // pinned: every iteration carries its measured size instead
    var pinned = GraftCheckpointShim.pinWithMeasuredStats(spark.range(50).toDF("id"))
    (1 to 6).foreach(_ =>
      pinned = GraftCheckpointShim.pinWithMeasuredStats(step(pinned)))
    val (rawBits, pinBits) = (bits(raw), bits(pinned))
    assert(pinBits <= 64, s"pinned stats grew: $pinBits bits")
    assert(rawBits > 4 * pinBits,
      s"expected exponential carried growth (raw=$rawBits, pin=$pinBits) — " +
        "if this fails, Spark fixed the carried-stats behavior and the pin " +
        "need not sever it")
  }
}
