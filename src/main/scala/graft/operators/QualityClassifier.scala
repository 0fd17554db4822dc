package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trainable document-quality classifier (the CCNet / fastText-family
  * linear model: Wenzek et al. 2020, Joulin et al. 2017): logistic
  * regression over hashed unigram+bigram bag-of-words features,
  * trained by full-batch gradient descent AS SPARK AGGREGATIONS and
  * scored by one codegen'd scan expression. The reference pipeline filters
  * corpora with exactly this model shape; here both training and
  * inference are distributed.
  *
  * Determinism contract (same discipline as [[ImportanceResample]]):
  * every cross-row reduction is over INTEGERS, so partitioning and
  * add-order cannot change results, and any engine mirroring the
  * recipe reproduces it bit-for-bit:
  *
  *  - features: per-doc bucket counts (hashed, `buckets`-bounded);
  *    the bias is bucket −1 with count 1, so one aggregation shape
  *    serves weights and bias alike;
  *  - forward: margin_micro = Σ w_b·cnt_b (exact integer);
  *    p_micro = floor(1e6·sigmoid(margin_micro/1e6)) — the only
  *    floating step, per-row and never accumulated;
  *  - backward: residual r = p_micro − y·1e6 (integer);
  *    grad_b = Σ_docs r·cnt_b summed as DECIMAL(38,0) (exact at any
  *    corpus size — Long would overflow near 1e12 docs);
  *  - update: w ← w − fld(etaNum·grad, etaDen·N) in BigInt floor
  *    division (identical on both engines; truncating division is NOT
  *    engine-portable for negative gradients).
  *
  * Scale shape: the model is `buckets`+1 integers BY CONSTRUCTION —
  * it rides into every task as an array literal inside one codegen'd
  * expression, whatever the corpus size. Each GD iteration is ONE scan
  * of the corpus: the forward pass and residual are per-row scan
  * expressions (no feature table, no join, no per-doc aggregation),
  * and the per-bucket gradient is a single map-side-combinable
  * aggregation that shuffles ≤ B+1 partial sums per partition.
  * Iterations are few and fixed (full-batch GD on a 513-parameter
  * model converges in single-digit steps); the per-iteration driver
  * state is B+1 longs.
  */
object QualityClassifier {

  /** Trained model in integer micro units. `weights(b)` is the micro
    * weight of bucket `b`; `bias` is bucket −1.
    */
  final case class Model(bias: Long, weights: Array[Long]) {
    def buckets: Int = weights.length
  }

  /** Per-doc hashed feature counts with the bias row: `(idCol, bucket,
    * cnt)` where bucket −1 carries cnt 1 for every document (so docs
    * with no tokens still score).
    */
  def features(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val counts = ImportanceResample.features(docs, idCol, textCol, buckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val bias = docs.select(col(idCol), lit(-1L).as("bucket"), lit(1L).as("cnt"))
    counts.unionByName(bias)
  }

  /** Per-row bucket-id array of a document's unigram+bigram hashes —
    * the scan-time twin of [[features]] (same tokens, same hashes, same
    * pmod): `tokens(NULL)` is NULL → empty array (bias-only score),
    * matching features()'s bias row for empty documents.
    */
  private def bucketArrOf(textCol: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.Column = {
    val toks = graft.functions.TextAnalysis.tokens(textCol)
    val hashes = concat(
      org.apache.spark.sql.graftvec.TextHashExpr.shingleHashes(toks, 1),
      org.apache.spark.sql.graftvec.TextHashExpr.shingleHashes(toks, 2))
    transform(coalesce(hashes, array().cast("array<long>")),
      h => pmod(h, lit(buckets.toLong)))
  }

  /** Margin in micro units as ONE codegen'd expression: the model rides
    * as a (B)-element array literal, each bucket id looks its weight up
    * with `element_at`, the fold starts at the bias. Integer addition is
    * associative and commutative, so this equals [[features]]' Σ w·cnt
    * form bit-for-bit whatever the evaluation order — the property the
    * scoreExpr-vs-score spec pins.
    */
  private def marginOf(bucketArr: org.apache.spark.sql.Column,
      model: Model): org.apache.spark.sql.Column = {
    // ONE array Literal, not array(lit, lit, ...): a CreateArray of B
    // children inside a lambda body is re-evaluated per ELEMENT of the
    // aggregated array (B work per lookup — quadratic per row, measured
    // 14x on the classifier bench entry); lit(Array[Long]) is a single
    // pre-built constant the lookup indexes in O(1)
    val wArr = lit(model.weights)
    aggregate(bucketArr, lit(model.bias),
      (acc, b) => acc + element_at(wArr, (b + 1).cast("int")))
  }

  /** `floor(1e6 · sigmoid(mMicro/1e6))` — the one floating-point step,
    * evaluated per row, never accumulated.
    */
  private def pMicro(mMicro: org.apache.spark.sql.Column) =
    floor(lit(1e6) / (lit(1.0) + exp(-(mMicro.cast("double") / lit(1e6)))))
      .cast("long")

  /** BigInt floor division (round toward −∞) — portable across engines,
    * unlike truncating integer division for negative numerators.
    */
  private def fld(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if (a % b != 0 && (a.signum != b.signum)) q - 1 else q
  }

  /** Persist a model as a tiny parquet weight table (`bucket`, `w`;
    * bias at bucket −1) — the classifier analog of the materialized
    * IVF index: train once, score many later sessions/streams.
    */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    ((-1L, model.bias) +:
      model.weights.zipWithIndex.map { case (w, b) => (b.toLong, w) }.toSeq)
      .toDF("bucket", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model written by [[saveModel]]. */
  def loadModel(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val buckets = rows.keys.max.toInt + 1
    require(buckets > 0 && rows.contains(-1L),
      s"not a classifier model at $path")
    Model(rows(-1L), Array.tabulate(buckets)(b => rows.getOrElse(b.toLong, 0L)))
  }

  /** Train `iters` full-batch GD steps with learning rate
    * etaNum/etaDen on label column `labelCol` (0/1 int). Weights start
    * at zero — step 1's forward pass is exactly p=500000, a useful
    * cross-engine anchor — unless `init` warm-starts from an earlier
    * model (continual curation: refresh the gate on fresh labels
    * without retraining from scratch).
    *
    * train() persists nothing itself: `docs` is evaluated iters+1
    * times (the sizing count plus one gradient scan per iteration).
    * Callers passing an expensive LAZY plan should cache or
    * localCheckpoint it first — every in-repo caller already hands in
    * a checkpointed or trivially-scannable frame.
    */
  def train(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int, iters: Int,
      etaNum: Long = 1L, etaDen: Long = 10L,
      init: Option[Model] = None): Model = {
    val n = BigInt(docs.count())
    require(n > 0, "cannot train on an empty corpus")
    init.foreach(m => require(m.buckets == buckets,
      s"warm-start bucket mismatch: model ${m.buckets} vs requested $buckets"))
    var model = init.getOrElse(Model(0L, Array.fill(buckets)(0L)))
    val den = BigInt(etaDen) * n
    for (_ <- 1 to iters) {
      // forward pass + residual computed PER ROW in one codegen'd
      // expression (the scoreExpr margin — bit-identical to the old
      // broadcast-join/groupBy(id) path, see marginOf), then the
      // per-bucket gradient in ONE map-side-combinable aggregation:
      // grad_b = Σ_docs r·cnt_b  ≡  Σ over a doc's bucket OCCURRENCES
      // of r (one explode row per occurrence, plus one −1 bias row per
      // doc) — integer sums in decimal(38,0), exact either way. The
      // previous shape (persisted exploded feature table + per-iter
      // margins join + groupBy(id) + residual join) shuffled the
      // per-doc feature rows twice per iteration; this shuffles only
      // the ≤ B+1 per-partition partial sums.
      val grads = gradientFrame(docs, idCol, textCol, labelCol, buckets, model)
        .collect()
        .map(row => row.getLong(0) ->
          BigInt(row.getDecimal(1).toBigInteger))
        .toMap
      val num = BigInt(etaNum)
      val newBias = BigInt(model.bias) -
        fld(num * grads.getOrElse(-1L, BigInt(0)), den)
      val newW = Array.tabulate(buckets) { b =>
        (BigInt(model.weights(b)) -
          fld(num * grads.getOrElse(b.toLong, BigInt(0)), den)).toLong
      }
      model = Model(newBias.toLong, newW)
    }
    model
  }

  /** One GD iteration's per-bucket gradient frame: `(bucket, __g)` with
    * grad_b = Σ_docs r·cnt_b summed as decimal(38,0). Exposed
    * private[graft] so the plan-shape spec can pin the two properties
    * the hot path depends on:
    *
    *  1. NO Exchange below the Generate — the forward pass + residual
    *     and the explode run inside the scan stage, and only the
    *     ≤ buckets+1 per-partition partial sums shuffle (the
    *     map-side-combinable groupBy). The per-iteration
    *     `repartition(idCol)` barrier this replaces moved every
    *     (id, residual, bucket-array) row through a full exchange once
    *     per iteration just to pin evaluation grain.
    *  2. The margin is evaluated ONCE PER DOCUMENT, below the Generate.
    *     Without a fence, CollapseProject/ColumnPruning re-site the
    *     margin expression ABOVE the Generate and the whole forward
    *     pass re-evaluates once per exploded BUCKET OCCURRENCE
    *     (measured 32 s vs 1.6 s on the sf0.1 classifier entry, same
    *     sums). The fence is a non-moving one: the residual is wrapped
    *     in a NON-DETERMINISTIC no-op (`when(rand(seed) =!= -1.0, r)` —
    *     rand is in [0, 1), so the value is bit-identical), and the
    *     optimizer never collapses, duplicates, or re-sites projections
    *     containing non-deterministic expressions. The test must be an
    *     equality: Spark's OptimizeRand folds an ordering comparison of
    *     rand against an out-of-range literal (`rand < 2.0`) to `true`,
    *     which deletes the fence. Integer sums are
    *     order-independent, so correctness never depended on the
    *     fence — only the 20× evaluation-grain cliff does.
    */
  private[graft] def gradientFrame(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int,
      model: Model): DataFrame = {
    val bucketArr = bucketArrOf(col(textCol), buckets)
    val r = pMicro(marginOf(bucketArr, model)) -
      col(labelCol).cast("long") * lit(1000000L)
    val rFenced = when(rand(42L) =!= lit(-1.0), r)
    docs
      .select(col(idCol), rFenced.as("__r"),
        concat(bucketArr, array(lit(-1L))).as("__ba"))
      .select(col("__r"), explode(col("__ba")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("__r").cast("decimal(38,0)")).as("__g"))
  }

  /** Score documents with a trained model: `(idCol, quality_micro)` in
    * [0, 1e6]. One scan-time expression per row ([[scoreExpr]]) — no
    * explode, no join, no aggregation; the corpus never shuffles.
    */
  def score(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, model: Model): DataFrame =
    docs.select(col(idCol), scoreExpr(col(textCol), model).as("quality_micro"))

  /** Row-wise scoring COLUMN: the margin computed inside one codegen'd
    * expression — the model rides along as a (B+1)-element array
    * literal and each n-gram hash looks its weight up with
    * `element_at`, so there is no join, no explode and no per-doc
    * aggregation. Bit-identical to [[score]] (same hash, same integer
    * sum, same sigmoid floor) but usable ANYWHERE a Column is: in
    * Structured Streaming filters (no streaming aggregation state), in
    * scan-time projections, inside other operators' expressions.
    */
  def scoreExpr(textCol: org.apache.spark.sql.Column, model: Model): org.apache.spark.sql.Column =
    pMicro(marginOf(bucketArrOf(textCol, model.buckets), model))

  /** Train-and-score in one call (the q_quality_classifier shape):
    * fit on `docs` with `labelCol`, then score every document.
    */
  def trainAndScore(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int,
      iters: Int): DataFrame = {
    val model = train(spark, docs, idCol, textCol, labelCol, buckets, iters)
    score(spark, docs, idCol, textCol, model)
  }
}
