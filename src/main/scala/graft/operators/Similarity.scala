package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{FloatVec, VectorOps}

/** Similarity search over embedding tables (SURVEY §1.5, §2.8 — the
  * retrieval spine of LinkAlign reduction and few-shot selection,
  * `core/LinkAlign/SchemaLinkingTool.py:64-116`), plus embedding-space
  * near-duplicate detection for the LLM-data-pipeline brief.
  *
  * Scale design:
  *  - `knnExact`: query side is broadcast (queries are few — a question
  *    batch), corpus streams once; per-query top-k uses a rank-filtered
  *    window, which Spark ≥3.5 executes with WindowGroupLimit — each map
  *    task keeps only its local top-k per query before the shuffle, so
  *    shuffled bytes are O(#queries × k), not O(corpus).
  *  - `lshCandidatePairs`: banded sign-bit LSH — the all-pairs cross
  *    product becomes a shuffle on (band, value). At 100 TB the exact
  *    variant is the verifier joined after bucketing, never a cross join.
  */
object Similarity {

  /** Exact cosine top-k: one row per (query, rank<=k neighbor).
    * `queries` must carry (queryIdCol, vecCol); corpus (idCol, vecCol).
    * Self-matches (same id) are excluded.
    */
  /** `excludeSelf` drops pairs whose corpus id equals the query id —
    * right when queries come FROM the corpus (self-match dedup), wrong
    * when the two id spaces are unrelated (an exemplar store queried
    * by question ids would silently lose the exemplar whose id
    * collides with the question's): pass false there.
    */
  def knnExact(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame =
    rankTopK(scoredPairs(corpus, queries, idCol, queryIdCol, vecCol, excludeSelf),
      idCol, k)

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the k MOST similar corpus rows whose cosine stays BELOW
    * `dupThreshold` — the near-but-not-duplicate band (above it the
    * pair is a positive/duplicate, far below it the negative is too
    * easy to teach anything). Same broadcast + rank-filter plan as
    * `knnExact` with the band filter applied before the rank.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, vecCol: String, k: Int,
      dupThreshold: Double): DataFrame =
    rankTopK(scoredPairs(corpus, queries, idCol, queryIdCol, vecCol)
      .filter(col("score") < dupThreshold), idCol, k)

  // norms are precomputed once per vector, not once per pair — the
  // score expression dot/(na*nb) keeps the same association, so values
  // are bit-identical to the naive form.
  private def scoredPairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, vecCol: String,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("__qid"), col(vecCol).as("__qvec"),
      FloatVec.normF(col(vecCol)).as("__qnorm"))
    corpus.withColumn("__cnorm", FloatVec.normF(col(vecCol)))
      .join(broadcast(q),
        if (excludeSelf) col(idCol) =!= col("__qid") else lit(true))
      .withColumn("score",
        FloatVec.dotF(col(vecCol), col("__qvec")) / (col("__cnorm") * col("__qnorm")))
  }

  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col("rank"),
        col(idCol).as("neighbor_id"), col("score"))
  }

  /** Few-shot/label-propagation analog: majority label vote among the
    * top-k neighbors of each query (deterministic tie-break: most votes,
    * then smallest label).
    */
  def knnLabelVote(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val neighbors = knnExact(
      corpus.select(col(idCol), col(vecCol), col(labelCol)),
      queries, idCol, queryIdCol, vecCol, k)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("n_label")), "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label"))
    neighbors
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"), col("votes"))
  }

  /** Exact embedding near-duplicate pairs: all (id1 < id2) with cosine
    * >= threshold. O(n²) — the correctness baseline; at scale use
    * `lshNearDupPairs` (same output contract on the candidate set).
    */
  def nearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = df.select(col(idCol), col(vecCol),
      FloatVec.normF(col(vecCol)).as("__n"))
    val a = withNorm.select(col(idCol).as("id1"), col(vecCol).as("__v1"), col("__n").as("__n1"))
    val b = withNorm.select(col(idCol).as("id2"), col(vecCol).as("__v2"), col("__n").as("__n2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("score",
        FloatVec.dotF(col("__v1"), col("__v2")) / (col("__n1") * col("__n2")))
      .filter(col("score") >= threshold)
      .select(col("id1"), col("id2"), col("score"))
  }

  /** Banded-LSH candidate pairs: ids sharing at least one signature band.
    * The join shuffles on (band, value) — no cross product anywhere.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 32, bands: Int = 8, seed: Long = 42L): DataFrame = {
    require(bits % bands == 0, s"bits $bits not divisible by bands $bands")
    val planes = VectorOps.hyperplanes(
      dim = firstVecLen(df, vecCol), bits = bits, seed = seed)
    val sig = df.select(col(idCol).as("__id"),
      VectorOps.lshSignature(col(vecCol), planes).as("__sig"))
    Banding.selfPairs(Banding.explode(sig, Seq("__id"),
      Banding.bitSlices(col("__sig"), bits, bands)), Nil)
      .distinct()
  }

  /** LSH near-dup: banded candidates, then exact cosine verification —
    * the scale path with the same output contract as the exact variant
    * (up to LSH recall).
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 32, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, vecCol, bits, bands, seed)
    val vecs = df.select(col(idCol), col(vecCol))
    cands
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("__v1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("__v2")), "id2")
      .withColumn("score", FloatVec.dotF(col("__v1"), col("__v2")) / (FloatVec.normF(col("__v1")) * FloatVec.normF(col("__v2"))))
      .filter(col("score") >= threshold)
      .select(col("id1"), col("id2"), col("score"))
  }

  /** Iterative retrieval with seen-key exclusion
    * (`SchemaLinkingTool.py:139-223`, exclusion
    * `LinkAlignReduce.py:132-149`): each round retrieves top-k by cosine
    * to the current query vector, excludes everything already retrieved
    * (anti-join), and re-centers the query on the exact decimal centroid
    * of the newly retrieved vectors (the deterministic stand-in for the
    * reference's LLM query rewriting). Rows are tagged with their round.
    */
  def iterativeRetrieve(corpus: DataFrame, queryVec: Seq[Double], idCol: String,
      vecCol: String, k: Int, rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // seen-key exclusion as a DRIVER-side set folded into the scan
    // predicate (k·rounds ids, bounded by the retrieval schedule): the
    // previous per-round `left_anti` against a growing UNION of local
    // frames replanned an ever-larger join per round and cost a join
    // stage each — an InSet filter is one codegen'd predicate, the
    // round's plan stays constant-size, and the exclusion semantics are
    // identical (exact id membership either way)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var query = queryVec
    // rounds accumulate on the driver (each round's rows were already
    // collected for re-centering) and become ONE local relation at the
    // end, instead of `rounds` nested unions of tiny DataFrames
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], Double, Int, Int)]
    // a NULL id is None, which sorts first like Spark's ascending order
    def idOf(row: org.apache.spark.sql.Row): Option[Long] =
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    for (r <- 1 to rounds) {
      val qCol = array(query.map(lit): _*)
      // global top-k via orderBy+limit = TakeOrderedAndProject (scale-safe,
      // no single-partition window); rank is assigned on the DRIVER over
      // the k collected rows — a lit(0)-partitioned window is folded by
      // Spark 4's EliminateWindowPartitions into a genuinely
      // unpartitioned WindowExec.
      // the retrieved VECTORS ride the top-k collect (k rows × dim
      // floats — tiny), so re-centering costs zero extra jobs: one job
      // per round instead of two, which matters when the schedule runs
      // 10 sequential rounds
      // null-safe exclusion: a bare !isInCollection(...) evaluates to
      // NULL (row silently dropped) for a NULL id, where the left_anti
      // it replaced kept such rows — every in-repo caller has non-null
      // ids, but the helper is generic, so the guard keeps the
      // anti-join semantics exactly
      val base =
        if (seen.isEmpty) corpus
        else corpus.filter(
          col(idCol).isNull || !col(idCol).isInCollection(seen.toSeq))
      val topkRows = base
        .withColumn("score", VectorOps.cosine(col(vecCol), qCol))
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
        .select(col(idCol), col("score"), col(vecCol))
        .collect() // k rows — tiny by construction
        .sortBy(row => (-row.getDouble(1), idOf(row)))
      acc ++= topkRows.zipWithIndex.map { case (row, i) =>
        (idOf(row), row.getDouble(1), i + 1, r)
      }
      seen ++= topkRows.flatMap(idOf)
      // next query = per-dimension left-fold double sum of this round's
      // vectors in id order (same direction as the centroid — cosine is
      // scale-invariant — and an order-pinned fold, so any engine
      // reproducing the fold gets bit-identical scores next round)
      if (r < rounds) {
        val vecs = topkRows
          .sortBy(idOf)
          .map(_.getSeq[Float](2).map(_.toDouble).toArray)
        query = vecs.transpose.map(_.foldLeft(0.0)(_ + _)).toSeq
      }
    }
    acc.toSeq.toDF(idCol, "score", "rank", "round_n")
  }

  private def firstVecLen(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)
}
