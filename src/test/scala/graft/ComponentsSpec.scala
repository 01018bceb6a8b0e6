package graft

import graft.ops.{Components, Dedup, Graph, Identity}

/** [[Components.minLabel]] against a local union-find over the same
  * nodes and edges, on the adversarial shapes: a long path (diameter),
  * a hot star key, isolated nodes, empty input, duplicate and self edges,
  * and the round bound. The caller-level path tests pin that every caller
  * inherits the O(log diameter) convergence.
  */
class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private val n = 10000L
  private val path = (0L until n - 1).map(i => (i, i + 1))

  /** Min-id label per node: union-find whose root is always the minimum. */
  private def unionFind(
      nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    (nodes ++ edges.flatMap { case (u, v) => Seq(u, v) })
      .foreach(x => parent.getOrElseUpdate(x, x))
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (u, v) =>
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def labels(
      nodes: Seq[Long], edges: Seq[(Long, Long)], maxRounds: Int)
      : Array[(Long, Long)] =
    Components.minLabel(edges.toDF("u", "v"), maxRounds, "test components",
      nodes = Option.when(nodes.nonEmpty)(nodes.toDF("node")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def check(
      nodes: Seq[Long], edges: Seq[(Long, Long)], maxRounds: Int = 30)
      : Unit = {
    val got = labels(nodes, edges, maxRounds)
    val want = unionFind(nodes, edges)
    assert(got.length == want.size, "one row per node")
    assert(got.toMap == want)
  }

  test("minLabel: a 10^4-node path converges in O(log diameter) rounds") {
    // diameter 9999, minimum at one end: plain min-propagation would need
    // 9999 rounds; seeding + one jump per round needs ~log₂ 10^4 ≈ 14
    check(Nil, path, maxRounds = 20)
  }

  test("minLabel: a 10^4-leaf star with the hub as the largest id") {
    check(Nil, (0L until n).map(leaf => (n, leaf)))
  }

  test("minLabel: isolated nodes keep their own id beside connected ones") {
    check(Seq(1L, 2L, 3L, 50L, 100L, 7L), Seq((3L, 2L), (7L, 50L), (8L, 7L)))
  }

  test("minLabel: an empty edge frame labels every node with itself") {
    check(Seq(5L, 3L, 9L), Nil)
    assert(labels(Nil, Nil, 30).isEmpty)
  }

  test("minLabel: duplicate, reversed and self edges change nothing") {
    check(Seq(4L, 6L),
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 4L), (3L, 2L),
        (6L, 6L), (6L, 6L)))
  }

  test("minLabel: hitting the round bound throws, naming the operator") {
    val ex = intercept[IllegalStateException](labels(Nil, path, maxRounds = 2))
    assert(ex.getMessage.contains("test components did not converge in 2"),
      ex.getMessage)
  }

  test("nearDupClusters: a 10^4-doc chain converges at the default maxIters") {
    val docs = (0L until n + 2).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(docs, path.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == n + 2)
    assert((0L until n).forall(i => out(i) == ((0L, n))))
    assert(out(n) == ((n, 1L)) && out(n + 1) == ((n + 1, 1L)))
  }

  test("connectedComponentsFromPairs: a 10^4-node path is one component") {
    val out = Graph.connectedComponentsFromPairs(path.toDF("u", "v"))
      .collect().map(r => (r.getAs[Long]("component_id"),
        r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges")))
    assert(out.toSeq == Seq((0L, n, n - 1)))
  }

  test("resolveEntities: a 10^4-record key chain is one entity") {
    // key k_i links records i and i+1: the key-head graph is a path too
    val rk = path.flatMap { case (a, b) => Seq((a, s"k$a"), (b, s"k$a")) }
      .toDF("record_id", "key")
    val out = Identity.resolveEntities(rk).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, n, n - 1)))
  }

  test("resolveEntities, goldenRecords and connectedComponents leave no cache behind") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val rk = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("record_id", "key")
    val events = Seq(
      (10L, 1L, "view", 2.0, new java.sql.Timestamp(86400000L)),
      (11L, 98L, "click", 1.0, new java.sql.Timestamp(2 * 86400000L))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val li = (for (o <- 1L to 2L; p <- 1L to 3L) yield (o, p))
      .toDF("l_orderkey", "l_partkey")
    spark.catalog.clearCache()
    assert(Identity.resolveEntities(rk).collect().length == 2)
    assert(cache.isEmpty, "resolveEntities left a cached frame")
    assert(Identity.goldenRecords(events).collect().length == 1)
    assert(cache.isEmpty, "goldenRecords left a cached frame")
    assert(Graph.connectedComponents(li).collect().length == 1)
    assert(cache.isEmpty, "connectedComponents left a cached frame")
  }
}
