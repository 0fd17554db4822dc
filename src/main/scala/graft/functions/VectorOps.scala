package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scalar functions over `array<float>` embedding columns —
  * pure codegen'd built-ins (zip_with / aggregate), no UDFs, so the
  * per-row work stays inside whole-stage codegen at any scale.
  *
  * Numeric determinism: every element is cast to double BEFORE any
  * arithmetic, and the accumulation is an explicit left fold. The
  * DuckDB oracles mirror the identical association
  * (list_reduce(list_prepend(0.0, ...))), so dot products — and hence
  * cosine scores — are bit-identical across engines, no rounding
  * tolerance needed.
  *
  * Reference analog: the vector-store retrieval spine
  * (`core/LinkAlign/RagPipeline.py:27-103`,
  * `core/LinkAlign/SchemaLinkingTool.py:64-116`) — re-expressed as
  * relational top-k over an embedding table (SURVEY §1.5).
  */
object VectorOps {

  /** Left-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity: dot / (norm * norm), each factor rooted
    * separately (the oracle mirrors this exact association).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Squared Euclidean distance (for LSH bucketing / diagnostics). */
  def distSq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  // ---- oracle-side (DuckDB) mirrors -------------------------------------

  /** DuckDB expression computing the identical left-fold dot product. */
  def oDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, len($a)),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin

  def oNorm(a: String): String = s"sqrt(${oDot(a, a)})"

  /** DuckDB mirror of [[distSq]]: identical left-fold of (a-b)². */
  def oDistSq(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, len($a)),
       |    i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |       * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
       |  (acc, x) -> acc + x)""".stripMargin

  def oCosine(a: String, b: String): String =
    s"(${oDot(a, b)} / (${oNorm(a)} * ${oNorm(b)}))"

  // ---- random-hyperplane LSH (the 100 TB path) --------------------------

  /** Deterministic pseudo-random unit-free hyperplanes: `bits` planes of
    * dimension `dim`, seeded — the same planes can be embedded into an
    * oracle or regenerated anywhere.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of `vec` against the hyperplanes, packed into a
    * long. cosine-similar vectors agree on most bits (SimHash for
    * dense vectors).
    */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
