package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Similarity operators: exact knn sanity, LSH recall/selectivity on a
  * clustered fixture, and iterative retrieval's exclusion contract.
  */
class SimilaritySpec extends SparkSpec {

  /** 30 clusters × 4 jittered copies: within-cluster cosine ≥ ~0.95,
    * across-cluster ~0 — the shape LSH is built for.
    */
  private lazy val clustered = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val rows = for {
      c <- 0 until 30
      base = Array.fill(dim)(rnd.nextGaussian())
      j <- 0 until 4
    } yield {
      val v = base.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat)
      (c.toLong * 4 + j, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("knnExact returns k ranked neighbors, self excluded") {
    val out = Similarity.knnExact(
      clustered,
      clustered.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding")),
      "vec_id", "qid", "embedding", 3).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("neighbor_id")).forall(_ != 0L))
    // nearest neighbors of vec 0 are its cluster-mates 1,2,3
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 2L, 3L))
    assert(out.map(_.getAs[Int]("rank")).sorted.sameElements(Array(1, 2, 3)))
  }

  test("LSH near-dup recall >= 0.8 on clustered data with < 15% candidate ratio") {
    val exact = Similarity.nearDupPairsExact(clustered, "vec_id", "embedding", 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain true near-dups")

    val cands = Similarity.lshCandidatePairs(clustered, "vec_id", "embedding",
      bits = 32, bands = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = clustered.count()
    val allPairs = n * (n - 1) / 2
    assert(cands.size.toDouble / allPairs < 0.15,
      s"candidate ratio ${cands.size.toDouble / allPairs} too high — LSH not pruning")

    val found = Similarity.lshNearDupPairs(clustered, "vec_id", "embedding", 0.9,
      bits = 32, bands = 4).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(found).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall below 0.8")
    // verification step guarantees precision 1.0 w.r.t. threshold
    assert(found.subsetOf(exact))
  }

  test("FewShot.retrieve concatenates top-k exemplars in rank order") {
    import org.apache.spark.sql.functions.col
    val corpus = clustered.withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("doc-"), col("vec_id")))
    val q = clustered.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val out = graft.retrieve.FewShot.retrieve(corpus, q, k = 3).collect()
    assert(out.length == 1)
    val ctx = out.head.getString(1)
    // nearest neighbors of vec 0 are cluster-mates 1,2,3 — all present
    assert(Seq("doc-1", "doc-2", "doc-3").forall(ctx.contains))
    assert(ctx.split("\n\n").length == 3)
  }

  test("iterativeRetrieve excludes prior rounds and tags round_n") {
    val q = clustered.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val out = Similarity.iterativeRetrieve(
      clustered, q, "vec_id", "embedding", k = 4, rounds = 3)
      .collect()
    assert(out.length == 12)
    val byRound = out.groupBy(_.getAs[Int]("round_n"))
    assert(byRound.keySet == Set(1, 2, 3))
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "rounds must not re-retrieve seen ids")
    // round 1 should find cluster 0 itself
    assert(byRound(1).map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("iterativeRetrieve keeps NULL-id rows: they are never excluded as seen") {
    import spark.implicits._
    val v0 = clustered.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    // a NULL-id copy of vec 0: top of round 1, and (anti-join
    // semantics) still eligible in round 2
    val corpus = clustered.union(
      Seq((Option.empty[Long], v0)).toDF("vec_id", "embedding"))
    val out = Similarity.iterativeRetrieve(
      corpus, v0.map(_.toDouble), "vec_id", "embedding", k = 5, rounds = 2)
      .collect()
    assert(out.length == 10)
    assert(out.filter(_.isNullAt(0)).map(_.getAs[Int]("round_n")).sorted.toSeq == Seq(1, 2))
    val ids = out.filterNot(_.isNullAt(0)).map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "non-NULL ids are retrieved once")
  }

  test("IVF search: probed-cell recall vs exact on clustered data") {
    val queries = clustered.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = Similarity.knnExact(clustered, queries, "vec_id", "qid", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = graft.operators.IvfIndex.searchIvf(
      clustered, queries, "vec_id", "qid", "embedding", k = 3, nlist = 12, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall below 0.7")
    // determinism: same result on a different partitioning
    val again = graft.operators.IvfIndex.searchIvf(
      clustered.repartition(7), queries, "vec_id", "qid", "embedding", 3, 12, 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf == again)
  }
}
