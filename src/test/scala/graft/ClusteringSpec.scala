package graft

import graft.operators.Dedup

class ClusteringSpec extends SparkSuite {
  import graft.operators.Clustering

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph collapses to one component (multi-round convergence)") {
    // a 9-node path needs several large/small-star rounds; every node must
    // end labeled with the path's minimum
    val edges = (0L until 8L).map(i => (i, i + 1))
    assert(cc(edges) == (0L to 8L).map(_ -> 0L).toMap)
  }

  test("disjoint components get their own min labels; duplicate and reversed edges collapse") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 9L), (20L, 30L), (30L, 20L), (7L, 7L))
    // (7,7) is a self-loop: dropped entirely (singleton, not incident to a real edge)
    assert(cc(edges) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 30L -> 20L))
  }

  test("random graphs match a driver-side union-find") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(60)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val expected = parent.keys.map(k => k -> {
        val root = find(k)
        parent.keys.filter(find(_) == root).min
      }).toMap
      assert(cc(edges) == expected, s"trial $trial")
    }
  }

  test("dupPagerank: 20 iterations run with internal checkpoints; ranks sum to 1") {
    import spark.implicits._
    val a = "one two three four five six seven eight"
    val b = "three four five six seven eight nine ten"
    val c = "six seven eight nine ten eleven twelve thirteen"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, a + " nine")).toDF("doc_id", "text")
    val ranks = Clustering.dupPagerank(docs, "doc_id", "text", threshold = 0.3, iterations = 20)
      .collect().map(_.getAs[Double]("rank"))
    assert(ranks.length == 4)
    assert(math.abs(ranks.sum - 1.0) < 1e-9, ranks.toSeq)
  }

  test("dedupClusters assigns transitive near-dup groups a canonical min doc") {
    import spark.implicits._
    // pairwise output: (1,2) J=1.0 and (1,3),(2,3) J=0.5 — one cluster {1,2,3}
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x"), (4L, "z q r s t")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, threshold = 0.5)
    val out = Clustering.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
