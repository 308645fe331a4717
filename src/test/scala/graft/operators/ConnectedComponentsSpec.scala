package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Exact large-star/small-star connected components (Kiveris et al. 2014):
  * ground truth by serial union-find, long chains in few rounds, isolated
  * nodes, and the nearDupClusters entry point built on it. */
class ConnectedComponentsSpec extends SparkSuite {

  private lazy val s = sqlc

  private def nodesDf(ids: Seq[Long]): DataFrame = {
    import s.implicits._
    ids.toDF("doc_id")
  }
  private def edgesDf(es: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    es.toDF("doc_a", "doc_b")
  }

  /** Serial union-find with min-id roots. */
  private def unionFind(ids: Seq[Long],
      es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def run(ids: Seq[Long], es: Seq[(Long, Long)],
      maxIters: Int = 30): Map[Long, Long] =
    Graph.connectedComponentsStar(nodesDf(ids), "doc_id", edgesDf(es),
        "doc_a", "doc_b", maxIters = maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a 120-node chain converges in O(log² n) rounds where label " +
      "propagation needs diameter rounds") {
    val ids = (1L to 120L)
    val es = (1L until 120L).map(i => (i, i + 1))
    // maxIters=12 IS the round-count assertion: plain propagation needs
    // 119 rounds here
    val out = run(ids, es, maxIters = 12)
    assert(out == ids.map(_ -> 1L).toMap)
    // the near-dup entry point converges on the same chain
    val clusters = Dedup.nearDupClusters(nodesDf(ids), edgesDf(es), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == out)
  }

  test("matches serial union-find on a seeded random graph with isolated " +
      "nodes and duplicate/reversed edges") {
    val rnd = new scala.util.Random(7)
    val ids = (1L to 200L)
    val es = (1 to 150).map { _ =>
      (rnd.nextInt(160).toLong + 1, rnd.nextInt(160).toLong + 1)
    }.filter { case (a, b) => a != b } ++
      Seq((5L, 3L), (3L, 5L), (5L, 3L)) // dups + both orientations
    val out = run(ids, es)
    assert(out == unionFind(ids, es))
    // nodes 161..200 have no edges: components of themselves
    assert((161L to 200L).forall(i => out(i) == i))
  }

  test("agrees with nearDupClusters on a low-diameter near-dup graph") {
    val ids = (1L to 40L)
    // two cliques + a star
    val es = (2L to 10L).map(i => (1L, i)) ++
      (12L to 20L).map(i => (11L, i)) ++
      Seq((25L, 26L), (26L, 27L))
    val star = run(ids, es)
    val lp = Dedup.nearDupClusters(nodesDf(ids), edgesDf(es), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == lp)
    // a 500-doc star (one boilerplate template matching many docs) plus a
    // 31-doc chain among 1000 docs: every member but the two roots moves
    import org.apache.spark.sql.functions.col
    val hubEdges = edgesDf((1L until 500L).map(i => (0L, i)) ++
      (600L until 630L).map(i => (i, i + 1)))
    val moved = Dedup.nearDupClusters(s.range(1000L).toDF("doc_id"),
        hubEdges, "doc_id")
      .filter(col("cluster_id") =!= col("doc_id")).count()
    assert(moved == 499L + 31L - 1L)
  }

  test("empty edge set: every node is its own component") {
    val out = run(Seq(3L, 7L, 9L), Nil)
    assert(out == Map(3L -> 3L, 7L -> 7L, 9L -> 9L))
  }
}
