package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** QualityClassifier: learning direction on a separable corpus,
  * bit-determinism across runs, bias-only scoring for empty docs,
  * and the broadcast-model plan shape.
  */
class QualityClassifierSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    // separable: positives carry quality markers, negatives spam
    // markers, both share filler so the shared buckets carry no label
    // signal on their own
    val pos = (0 until 30).map(i =>
      (i.toLong, s"filler common words excellent wonderful insightful prose number $i", 1))
    val neg = (100 until 130).map(i =>
      (i.toLong, s"filler common words spam junk garbage clickbait number $i", 0))
    (pos ++ neg).toDF("doc_id", "text", "lab")
  }

  test("separable corpus: positives outscore negatives after training") {
    val scored = QualityClassifier.trainAndScore(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 3)
    val byClass = scored.join(corpus.select("doc_id", "lab"), "doc_id")
      .groupBy("lab").agg(avg(col("quality_micro")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(byClass(1) > byClass(0) + 100000.0,
      s"positives ${byClass(1)} must clearly outscore negatives ${byClass(0)}")
  }

  test("training is bit-deterministic across runs") {
    val m1 = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 2)
    val m2 = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 2)
    assert(m1.bias == m2.bias)
    assert(m1.weights.sameElements(m2.weights))
  }

  test("a document with no tokens gets the bias-only score") {
    import spark.implicits._
    val docs = corpus.unionByName(
      Seq((999L, "", 0)).toDF("doc_id", "text", "lab"))
    val model = QualityClassifier.train(
      spark, docs, "doc_id", "text", "lab", buckets = 128, iters = 2)
    val empty = QualityClassifier.score(spark, docs, "doc_id", "text", model)
      .filter(col("doc_id") === 999L).head().getLong(1)
    val expected = math.floor(
      1e6 / (1.0 + math.exp(-(model.bias.toDouble / 1e6)))).toLong
    assert(empty == expected)
  }

  test("scoreExpr is bit-identical to an independent features-table margin") {
    // INDEPENDENT reference path (score() itself is scoreExpr now, so
    // comparing the two would be a tautology): margins recomputed from
    // the still-present features() table as the join/aggregate
    // Σ w_b·cnt_b + bias the r19 rewrite replaced, then the same
    // sigmoid floor — must match the scan expression bit-for-bit
    import spark.implicits._
    val docs = graft.catalog.Tables.load(spark, sfDir, "documents")
      .withColumn("lab", (col("source") === "src0").cast("int"))
    val model = QualityClassifier.train(
      spark, docs, "doc_id", "text", "lab", buckets = 512, iters = 2)
    val wdf = ((-1L, model.bias) +:
      model.weights.zipWithIndex.map { case (w, b) => (b.toLong, w) }.toSeq)
      .toDF("bucket", "w")
    val expected = QualityClassifier.features(docs, "doc_id", "text", 512)
      .join(wdf, "bucket")
      .groupBy("doc_id").agg(sum(col("w") * col("cnt")).as("m"))
      .select(col("doc_id"),
        floor(lit(1e6) / (lit(1.0) + exp(-(col("m").cast("double") / lit(1e6)))))
          .cast("long").as("q1"))
    val rowwise = docs.select(col("doc_id"),
      QualityClassifier.scoreExpr(col("text"), model).as("q2"))
    val n = docs.count()
    val joined = expected.join(rowwise, "doc_id")
    assert(joined.count() == n, "every document must score on both paths")
    assert(joined.filter(col("q1") =!= col("q2")).count() == 0)
  }

  test("gradient plan: fenced residual below the Generate, no exchange below it") {
    // parquet input: over a LocalRelation, ConvertToLocalRelation folds
    // the fence into a LocalTableScan and there is no plan to pin
    val docs = graft.catalog.Tables.load(spark, sfDir, "documents")
      .withColumn("lab", (col("source") === "src0").cast("int"))
    val model = QualityClassifier.Model(0L, Array.fill(128)(0L))
    val gf = QualityClassifier.gradientFrame(
      docs, "doc_id", "text", "lab", 128, model)
    gf.collect() // execute so the printed plan is the AQE-final truth
    // the final AQE plan only (the ScanMetrics.fromExecuted unwrap): the
    // initial plan printed after it would put a second tree below
    val plan = gf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val lines = plan.toString.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, s"gradient plan must explode bucket ids:\n${lines.mkString("\n")}")
    // (1) evaluation grain: the non-deterministic fence (rand marker)
    // pins the residual projection BELOW the Generate — re-sited above,
    // the forward pass re-evaluates per bucket OCCURRENCE (measured
    // 20x). Children print after parents, so "below" = a later line.
    val randIdx = lines.indexWhere(_.contains("rand("))
    assert(randIdx > genIdx,
      s"residual must be computed below the Generate:\n${lines.mkString("\n")}")
    // (2) the repartition barrier is gone for good: nothing below the
    // Generate may shuffle — the scan, margin and explode share one
    // stage and only the per-bucket partial sums cross an exchange
    assert(!lines.drop(genIdx + 1).exists(l =>
        l.contains("Exchange") || l.contains("ShuffleQueryStage")),
      s"no Exchange may sit below the Generate:\n${lines.mkString("\n")}")
  }

  test("scoreExpr filters a live stream (no streaming aggregation state)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val model = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 3)
    val q = src.toDF().toDF("doc_id", "text")
      .withColumn("quality_micro",
        QualityClassifier.scoreExpr(col("text"), model))
      .filter(col("quality_micro") >= 500000L)
      .writeStream.format("memory").queryName("qc_stream")
      .outputMode("append").start()
    try {
      src.addData(
        (1L, "filler common words excellent wonderful insightful prose number 1"),
        (2L, "filler common words spam junk garbage clickbait number 2"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM qc_stream")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"stream must keep only the quality doc, got $kept")
    } finally q.stop()
  }

  test("save/load round-trips the model; warm start continues training") {
    val m1 = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 2)
    val path = "target/tmp/qc_model"
    QualityClassifier.saveModel(spark, m1, path)
    val loaded = QualityClassifier.loadModel(spark, path)
    assert(loaded.bias == m1.bias)
    assert(loaded.weights.sameElements(m1.weights))
    // warm start: 2 iters then 1 more == 3 straight iters (same data)
    val warm = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 1,
      init = Some(loaded))
    val cold3 = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 3)
    assert(warm.bias == cold3.bias)
    assert(warm.weights.sameElements(cold3.weights))
  }

  test("scoring is one scan expression — no join, no exchange anywhere") {
    // r19 optimization: score() rides the model as an array literal in
    // one codegen'd expression (the scoreExpr path, bit-identity pinned
    // above) — the corpus never shuffles and the old broadcast weight
    // join is gone entirely
    val model = QualityClassifier.train(
      spark, corpus, "doc_id", "text", "lab", buckets = 128, iters = 1)
    val scored = QualityClassifier.score(spark, corpus, "doc_id", "text", model)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scoring must not join, got:\n$plan")
    assert(!plan.contains("Exchange"),
      s"scoring must not shuffle or broadcast, got:\n$plan")
  }
}
