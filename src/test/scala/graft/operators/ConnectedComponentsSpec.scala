package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Star-contraction connected components: min-id labels on chains,
  * cycles, and forests; determinism; cluster-survivor selection.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    ConnectedComponents.components(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, triangle, and isolated pair each collapse to their minimum") {
    val l = labels(edges(
      // a 5-node chain 10-11-12-13-14
      10L -> 11L, 11L -> 12L, 12L -> 13L, 13L -> 14L,
      // a triangle 20-21-22
      20L -> 21L, 21L -> 22L, 22L -> 20L,
      // a single edge
      30L -> 31L))
    (10L to 14L).foreach(n => assert(l(n) == 10L, s"node $n -> ${l(n)}"))
    (20L to 22L).foreach(n => assert(l(n) == 20L))
    assert(l(30L) == 30L && l(31L) == 30L)
  }

  test("duplicate, reversed, and self-loop edges are tolerated") {
    val l = labels(edges(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 2L, 2L -> 3L))
    assert(l(1L) == 1L && l(2L) == 1L && l(3L) == 1L)
  }

  test("labels are invariant under repartitioning") {
    val e = edges(1L -> 2L, 2L -> 3L, 7L -> 8L, 4L -> 5L, 5L -> 6L, 3L -> 4L)
    def run(parts: Int) = ConnectedComponents.components(e.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(1) == run(5))
  }

  test("random chains, cycles, stars and forests: labels equal a union-find minimum") {
    // seeded property over the star-shaped stop rule: components must
    // stop exactly when each component is a min-centered star, so every
    // label must match a driver-side union-find over the same edges
    val rnd = new scala.util.Random(2026)
    (0 until 8).foreach { trial =>
      // shuffled ids: structure order never follows id order
      val ids = rnd.shuffle((0L until 60L).map(_ * 7 + trial).toList).iterator
      val edgeList = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      (0 until 2 + rnd.nextInt(4)).foreach { _ =>
        val nodes = Seq.fill(2 + rnd.nextInt(8))(ids.next())
        rnd.nextInt(4) match {
          case 0 => edgeList ++= nodes.zip(nodes.tail) // chain
          case 1 => edgeList ++= nodes.zip(nodes.tail :+ nodes.head) // cycle
          case 2 => edgeList ++= nodes.tail.map(nodes.head -> _) // star
          case _ => // random tree: a forest once the components are unioned
            edgeList ++= nodes.indices.tail.map(i => nodes(rnd.nextInt(i)) -> nodes(i))
        }
      }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edgeList.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      assert(labels(edges(edgeList.toSeq: _*)) == expected, s"trial $trial")
    }
  }

  test("clusterLosers keeps exactly the minimum of each duplicate cluster") {
    val losers = ConnectedComponents.clusterLosers(
      edges(5L -> 9L, 9L -> 7L, 100L -> 101L).toDF("id1", "id2"),
      "id1", "id2")
      .collect().map(_.getLong(0)).toSet
    assert(losers == Set(7L, 9L, 101L), s"losers: $losers")
  }

  test("job budget: components on a fixed parquet fixture") {
    // a 6-chain, a 4-cycle, a 5-star and an isolated pair (17 nodes), read back
    // from parquet so the optimizer cannot fold the input away. A change
    // to the stop rule or the checkpoint schedule moves this number; a
    // change that moves it updates it here and says why in CHANGES.md.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-budget").resolve("e").toString
    Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      10L -> 11L, 11L -> 12L, 12L -> 13L, 13L -> 10L,
      20L -> 21L, 20L -> 22L, 20L -> 23L, 20L -> 24L,
      30L -> 31L).toDF("src", "dst").write.parquet(dir)
    val e = spark.read.parquet(dir)
    var out = Array.empty[org.apache.spark.sql.Row]
    val jobs = org.apache.spark.JobBudget.count(spark) {
      out = ConnectedComponents.components(e).collect()
    }
    assert(out.length == 17)
    assert(jobs == ComponentsJobs, s"components ran $jobs jobs")
  }

  private val ComponentsJobs = 31
}
