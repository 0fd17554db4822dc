package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** The banded candidate join shared by every LSH-style near-dup family
  * (MinHash, SimHash, perceptual hashes, hyperplane LSH): explode each
  * row into `(band, val)` rows, self-join on `(band, val)`, and let the
  * caller verify. Candidate pairs come from a shuffle on the band key,
  * never from an all-pairs product.
  *
  * Semantics of [[selfPairs]], pinned by `BandingSpec`:
  *  - a pair is `(id1, id2)` with `id1 < id2` that shares at least one
  *    `(band, val)`; a NULL id or a NULL band value never pairs;
  *  - rows with EQUAL ids never pair with each other, so ids must be
  *    unique: two documents sharing an id are never compared;
  *  - empty input gives an empty result;
  *  - the pair set does not depend on partitioning;
  *  - a pair colliding in k bands is returned k times — the caller
  *    verifies and then applies its own `distinct`.
  */
object Banding {

  /** `(keep…, band: int, val: long)`: one row per element of `vals`,
    * `band` being the element's index. The `vals` columns are
    * evaluated against `df`.
    */
  def explode(df: DataFrame, keep: Seq[String], vals: Seq[Column]): DataFrame = {
    val k = keep.map(col)
    df.select(k :+ functions.explode(array(vals.zipWithIndex.map { case (v, j) =>
        struct(lit(j).as("band"), v.as("val"))
      }: _*)).as("b"): _*)
      .select(k :+ col("b.band").as("band") :+ col("b.val").as("val"): _*)
  }

  /** Band j = the unsigned bits `[j*bits/k, (j+1)*bits/k)` of a long
    * signature. With k bands over a `bits`-wide signature, two
    * signatures differing in fewer than k bits agree on at least one
    * slice (pigeonhole), and every slice holds at least one bit while
    * k <= bits.
    */
  def bitSlices(sig: Column, bits: Int, k: Int): Seq[Column] = {
    require(k >= 1 && k <= bits && bits <= 64,
      s"need 1 <= k ($k) <= bits ($bits) <= 64")
    (0 until k).map { j =>
      val lo = j * bits / k
      val width = (j + 1) * bits / k - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(sig, lo).bitwiseAND(lit(mask))
    }
  }

  /** Self-join of an [[explode]]d frame keyed by `__id` on
    * `(band, val)` with `l.__id < r.__id`. Returns `id1`, `id2` and,
    * for each `carry` column `c`, `c1` (id1's side) and `c2` (id2's
    * side). No deduplication: see the object doc.
    */
  def selfPairs(banded: DataFrame, carry: Seq[String]): DataFrame =
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.val") === col("r.val") &&
          col("l.__id") < col("r.__id"))
      .select(Seq(col("l.__id").as("id1"), col("r.__id").as("id2")) ++
        carry.flatMap(c => Seq(col(s"l.$c").as(s"${c}1"), col(s"r.$c").as(s"${c}2"))): _*)
}
