package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Banding: one test per stated semantic of the shared banded
  * candidate join, on parquet-backed input (a local relation would let
  * the optimizer fold the join away).
  */
class BandingSpec extends SparkSpec {

  /** `(__id, a, b, c)` rows round-tripped through parquet. */
  private def fileBacked(rows: Seq[(Option[Long], Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("banding").resolve("t").toString
    rows.toDF("__id", "a", "b", "c").write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every self-pair over bands (a, b, c), multiplicity kept. */
  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    Banding.selfPairs(
      Banding.explode(df, Seq("__id"), Seq(col("a"), col("b"), col("c"))), Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("NULL ids produce no pairs") {
    // 1 and 2 each share a band with the NULL-id row, not with each other
    val df = fileBacked(Seq(
      (None, 1L, 2L, 3L), (Some(1L), 1L, 5L, 6L), (Some(2L), 7L, 2L, 8L)))
    assert(pairs(df).isEmpty)
  }

  test("rows with equal ids never pair with each other") {
    val df = fileBacked(Seq(
      (Some(1L), 1L, 2L, 3L), (Some(1L), 1L, 2L, 3L), (Some(2L), 7L, 8L, 9L)))
    assert(pairs(df).isEmpty)
  }

  test("empty input gives an empty result") {
    val df = fileBacked(Seq.empty)
    assert(df.inputFiles.nonEmpty && df.count() == 0)
    assert(pairs(df).isEmpty)
  }

  test("the pair set is the same at 1 and 8 partitions") {
    val rnd = new scala.util.Random(11)
    val df = fileBacked((0 until 200).map(i =>
      (Some(i.toLong), rnd.nextInt(6).toLong, rnd.nextInt(6).toLong,
        rnd.nextInt(6).toLong)))
    val one = pairs(df.repartition(1))
    assert(one.nonEmpty)
    assert(one == pairs(df.repartition(8)))
  }

  test("a pair colliding in k bands is returned k times, carry once per side") {
    val df = fileBacked(Seq(
      (Some(1L), 5L, 6L, 7L), (Some(2L), 5L, 6L, 0L), (Some(3L), 9L, 9L, 9L)))
    val out = Banding.selfPairs(
      Banding.explode(df, Seq("__id", "c"), Seq(col("a"), col("b"), col("c"))),
      Seq("c"))
    assert(out.columns.toSeq == Seq("id1", "id2", "c1", "c2"))
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 2L, 7L, 0L), (1L, 2L, 7L, 0L)))
  }

  test("bitSlices: band j is the unsigned bit range [j*bits/k, (j+1)*bits/k)") {
    // 64 bits in 3 bands: [0,21), [21,42), [42,64)
    val sig = -1L ^ (1L << 21) // all ones but bit 21
    val got = spark.range(1)
      .select(Banding.bitSlices(lit(sig), 64, 3): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    assert(got == Seq((1L << 21) - 1, (1L << 21) - 2, (1L << 22) - 1))
  }
}
