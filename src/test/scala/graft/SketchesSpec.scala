package graft

import graft.ops.{Graph, Sketches}
import org.apache.spark.sql.functions._

/** Sketch-pruned exact operators + integer PageRank. The oracle gate already
  * hash-checks end results; these specs gate the INTERNAL guarantees the
  * oracle can't see: the sketch's candidate superset property, the bloom
  * prefilter's selectivity, and PageRank's mass conservation. */
class SketchesSpec extends SparkSpec {

  test("Misra-Gries candidates are a superset of the true heavy hitters") {
    import spark.implicits._
    val toks = Tables.documents(spark, Sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val sketch = toks.as[String].select(Sketches.MisraGries.toColumn).head()
    val n = toks.count()
    val truth = toks.groupBy("token").agg(count(lit(1)).as("f"))
      .filter(col("f") * Sketches.HhK > n)
      .collect().map(_.getString(0)).toSet
    assert(truth.nonEmpty, "test corpus has no heavy hitters — threshold too high")
    val missed = truth -- sketch.keySet
    assert(missed.isEmpty, s"sketch (size ${sketch.size}) missed true heavy hitters: $missed")
  }

  test("heavy hitters report = exact groupBy formulation") {
    val got = Sketches.heavyHitters(spark, Sf).collect().map(r => (r.getString(0), r.getLong(1)))
    val toks = Tables.documents(spark, Sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val n = toks.count()
    val want = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * Sketches.HhK > n)
      .orderBy(col("freq").desc, col("token"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("bloom prefilter passes all matches and prunes most non-matches") {
    val dim = Tables.customer(spark, Sf)
      .filter(col("c_acctbal") > Sketches.BloomBalCut).select("c_custkey")
    val bf = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
    val mc = udf((k: Long) => bf.mightContain(k))
    val orders = Tables.orders(spark, Sf)
    val prefiltered = orders.filter(mc(col("o_custkey"))).count()
    val exact = orders.join(dim, col("o_custkey") === col("c_custkey"), "left_semi").count()
    val total = orders.count()
    assert(prefiltered >= exact, "bloom filter dropped a true match (impossible for a correct bloom)")
    // fpp 1%: the prefilter should pass at most exact + ~3% of non-matches
    assert(prefiltered <= exact + (total - exact) * 3 / 100 + 10,
      s"prefilter too loose: $prefiltered passed, $exact true, $total total")
    assert(Sketches.bloomSemiJoin(spark, Sf).count() == exact)
  }

  test("PageRank conserves scaled mass within truncation loss and is deterministic") {
    val r = Graph.pageRank(spark, Sf, "broadcast").cache()
    val nodes = r.count()
    val total = r.agg(sum("rank")).head().getLong(0)
    // Each round: base mass PrBase*nodes + damped share of (conserved modulo
    // per-node integer-division truncation, bounded by degree per node).
    val ideal = nodes * (Graph.PrBase + Graph.PrDamp * Graph.PrInit / 100)
    assert(total <= ideal, s"mass grew: $total > $ideal")
    assert(total >= ideal * 9 / 10, s"mass lost beyond truncation plausibility: $total vs $ideal")
    val again = Graph.pageRank(spark, Sf, "broadcast").collect()
    assert(r.collect().toSeq == again.toSeq, "fixed-iteration integer PageRank must be deterministic")
    r.unpersist()
  }

  test("triangle counts match a brute-force in-memory recount") {
    val got = Graph.triangleCounts(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rebuild the capped co-supply edge set directly and count naively
    val ps = Tables.lineitem(spark, Sf)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byPart = ps.groupBy(_._1).filter(_._2.length <= Graph.CoSupplyCap)
    val edges = byPart.values.flatMap { sup =>
      val sk = sup.map(_._2).distinct.sorted
      for (i <- sk.indices; j <- i + 1 until sk.length) yield (sk(i), sk(j))
    }.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= Graph.MinSharedParts).keySet.toSet
    def nbrs(n: Long): Set[Long] =
      edges.collect { case (a, b) if a == n => b
                      case (a, b) if b == n => a }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- nbrs(a) if c > b && edges.contains((b, c))) {
      triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(nodes.nonEmpty && triPerNode.nonEmpty, "corpus graph has no triangles")
    nodes.foreach { n =>
      assert(got(n)._2 == triPerNode(n),
        s"node $n: pipeline ${got(n)._2} vs brute ${triPerNode(n)}")
    }
  }

  /** The part↔supplier graph as an in-memory adjacency map, node ids
    * parity-encoded like Graph's (part p → 2p, supplier s → 2s+1). */
  private lazy val adj: Map[Long, Set[Long]] = {
    val ps = Tables.lineitem(spark, Sf)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    (ps ++ ps.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
  }

  private def name(nid: Long) =
    if (nid % 2 == 0) s"p:${nid / 2}" else s"s:${(nid - 1) / 2}"

  /** In-memory min-hop BFS from Graph.BfsSeed, `maxHop` hops deep. */
  private def bfsReference(maxHop: Int): Map[String, Int] = {
    val hops = scala.collection.mutable.Map(Graph.BfsSeed -> 0)
    var frontier = Set(Graph.BfsSeed)
    (1 to maxHop).foreach { h =>
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(hops.contains)
      frontier.foreach(hops(_) = h)
    }
    hops.map { case (nid, h) => name(nid) -> h }.toMap
  }

  private def bfs(hint: String, maxHop: Option[Int]): Map[String, Int] = {
    val got = Graph.reachBfs(spark, Sf, hint, maxHop).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    graft.TrackedCaches.release()
    got
  }

  test("both BFS rows equal an in-memory BFS from the same seed") {
    // q_reach_bfs and q_reach_bfs_dist differ only by join hint; each must
    // reproduce the reference min-hop map row for row at BfsMaxHop.
    val expect = bfsReference(Graph.BfsMaxHop)
    Seq("broadcast", "shuffle_hash").foreach { hint =>
      val got = bfs(hint, Some(Graph.BfsMaxHop))
      assert(got == expect,
        s"$hint BFS mismatch: got ${got.size} nodes, expected ${expect.size}")
    }
    // the traversal must actually leave hop 1 (2-hop part neighborhood live)
    assert(expect.values.count(_ == 2) > 0 && expect.values.count(_ == 1) > 0)
  }

  test("uncapped BFS drains its frontier and agrees with the capped labels") {
    // Fixpoint: uncapped, the anti-joined frontier must drain to empty and
    // the result must be a superset of the capped map that agrees on it
    // (min-hop labels are prefix-stable), covering the seed's whole
    // component (every node it touches has all ITS neighbors labeled).
    val capped = bfsReference(Graph.BfsMaxHop)
    val full = bfs("shuffle_hash", None)
    assert(capped.forall { case (n, h) => full.get(n).contains(h) },
      "uncapped BFS must agree with the capped labels")
    assert(full.size >= capped.size)
    // component closure, re-checked against the raw edge list
    val labeled = full.keySet
    adj.foreach { case (nid, nbrs) =>
      if (labeled.contains(name(nid)))
        nbrs.foreach(nb => assert(labeled.contains(name(nb)),
          s"fixpoint left ${name(nb)} unlabeled next to ${name(nid)}"))
    }
  }
}
