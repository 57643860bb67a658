package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on relational edge lists — the Pregel-lite
  * family (message = equi-join on src, combine = groupBy dst) that
  * complements [[graft.llm.Dedup.minLabelComponents]]'s connected
  * components. Everything is integer arithmetic so the fixed-iteration
  * result is bit-identical on any engine — the same determinism discipline
  * as the IVF centroid training. PageRank and BFS run their rounds through
  * [[Superstep.iterate]]; each takes the join hint as its one plan choice
  * ("broadcast" for a dims-scale vertex set, "shuffle_hash" for one too
  * large for any single machine).
  */
object Graph {

  /** Damping numerator/denominator: rank' = Base + (Damp * msgs) div 100. */
  val PrDamp = 85L
  val PrBase = 150000L
  val PrInit = 1000000L
  val PrIters = 3

  /** The part↔supplier co-occurrence graph PageRank and BFS traverse:
    * distinct (l_partkey, l_suppkey) from lineitem, both directions, so
    * every node has in- and out-edges and there is no dangling-mass term.
    * Node ids are parity-encoded longs (part p → 2p, supplier s → 2s+1):
    * integer hash joins throughout, with the display string minted only by
    * [[nodeName]] in the final projection. The fact-sized list shuffles
    * once, here, into the src bucketing every round's message join reads
    * from cache (cached and tracked). */
  private[graft] def edgeList(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
    graft.TrackedCaches.track(
      ps.select((col("p") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
        .union(ps.select((col("sk") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
        .repartition(col("src")).cache())
  }

  /** "p:<partkey>" / "s:<suppkey>" for the parity-encoded `nid` column. */
  private val nodeName: Column =
    when(col("nid") % 2 === 0, concat(lit("p:"), expr("nid div 2")))
      .otherwise(concat(lit("s:"), expr("(nid - 1) div 2")))
      .as("node")

  /** [[edgeList]] and its out-degrees (which inherit the src bucketing:
    * partial aggregation, no exchange). */
  private[graft] def prGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val edges = edgeList(s, d)
    (edges, edges.groupBy("src").agg(count(lit(1)).as("d")))
  }

  /** One un-materialized propagation round — the plan PlanShapeSpec audits
    * (each round is checkpointed, which truncates the visible plan).
    * `joinHint` is the strategy of both rank joins. "broadcast" suits a
    * dims-scale vertex set (parts + suppliers, ~21k at sf0.1, against a
    * ~1.2M edge list): the contribution vector broadcasts against the
    * cached edges, the groupBy(dst) map-side-combines, and the only shuffle
    * per round is ≤|nodes| partial sums. "shuffle_hash" is the web-scale
    * shape: nothing broadcasts, each round shuffles ~|nodes| rank rows on
    * nid while the edges stay in their src bucketing. */
  private[graft] def prRound(edges: DataFrame, deg: DataFrame, pr: DataFrame,
      joinHint: String): DataFrame = {
    val contrib = pr.join(deg.hint(joinHint), pr("nid") === deg("src"))
      .select(col("nid"), expr("pr div d").as("c"))
    edges.join(contrib.hint(joinHint), edges("src") === contrib("nid"))
      .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      .select(col("dst").as("nid"),
        (lit(PrBase) + expr(s"($PrDamp * m) div 100")).as("pr"))
  }

  /** Fixed-iteration integer PageRank over [[edgeList]]. Ranks are integers
    * scaled by 1e6; contributions use integer division (truncating on both
    * engines for non-negatives), so [[PrIters]] rounds are deterministic
    * and hash-match the oracle's unrolled CTE chain under either join hint
    * (the q_pagerank and q_pagerank_dist rows share [[pageRankSql]]). The
    * rank vector stays executor-resident between rounds; nothing is
    * collected to the driver. */
  def pageRank(s: SparkSession, d: String, joinHint: String): DataFrame = {
    val (edges, deg) = prGraph(s, d)
    val init = deg.select(col("src").as("nid"), lit(PrInit).as("pr"))
    Superstep.iterate(init, PrIters)((pr, _) => prRound(edges, deg, pr, joinHint))
      .state.select(nodeName, col("pr").as("rank"))
      .orderBy("node")
  }

  val pageRankSql: String = {
    // One CTE per round, the same integer formulas. DuckDB's sum(BIGINT) is
    // HUGEINT -> cast back before the next round's arithmetic.
    def round(prev: String, out: String) =
      s"""$out AS (
            SELECT e.dst AS nid,
                   $PrBase + ($PrDamp * CAST(sum(r.pr // dg.d) AS BIGINT)) // 100 AS pr
            FROM edges e
            JOIN $prev r ON e.src = r.nid
            JOIN deg dg ON e.src = dg.src
            GROUP BY e.dst)"""
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        edges AS (SELECT p * 2 AS src, sk * 2 + 1 AS dst FROM e0
                  UNION ALL
                  SELECT sk * 2 + 1, p * 2 FROM e0),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        r0 AS (SELECT src AS nid, CAST($PrInit AS BIGINT) AS pr FROM deg),
        ${round("r0", "r1")},
        ${round("r1", "r2")},
        ${round("r2", "r3")}
        SELECT CASE WHEN nid % 2 = 0 THEN 'p:' || CAST(nid // 2 AS BIGINT)
                    ELSE 's:' || CAST((nid - 1) // 2 AS BIGINT) END AS node,
               pr AS rank
        FROM r3 ORDER BY node"""
  }

  /** Hot-part cap for the co-supply edge builder: a part supplied by f
    * suppliers contributes f(f-1)/2 candidate edges, so an unbounded hot
    * part is a quadratic reducer — the SAME failure mode as a stop-shingle
    * in the Jaccard index, and the same fix ([[graft.llm.Dedup.ShingleDfCap]]
    * discipline): parts above the cap carry no co-supply signal worth a
    * quadratic blowup and are dropped BEFORE pairing. The oracle applies
    * the identical cap. */
  val CoSupplyCap = 50

  /** Strong-tie floor for the triangle graph: supplier pairs are edges only
    * with at least this many shared parts. Corpus-wide co-occurrence over a
    * small supplier dimension saturates — at sf0.1 EVERY pair shares ≥ 1 of
    * the 20k parts (mean 17), making the ≥1 graph the complete K_1000 with
    * C(1000,3) ≈ 166M triangles, an output-size blowup no enumeration
    * algorithm can dodge (measured: 756 cpu-s). Thresholding on tie
    * STRENGTH is the standard projection fix for dense co-occurrence
    * graphs: the ≥30 upper tail keeps 2 015 of 499 500 pairs at sf0.1
    * (avg degree 4) while at the small correctness SFs — where shared-part
    * counts run 130–190 — every edge clears the bar, so the graph (and the
    * brute-force spec replay) is unchanged there. */
  val MinSharedParts = 30L

  /** Per-node triangle counts over the supplier STRONG co-supply graph
    * (pairs sharing ≥ [[MinSharedParts]] sub-[[CoSupplyCap]] parts) — the
    * standard cluster-coefficient / community-density signal.
    *
    * Scale shape: the classic DEGREE-ORDERED orientation. Each undirected
    * edge is directed from the (degree, id)-smaller endpoint to the larger,
    * which makes every node's out-degree O(sqrt(|E|)) on any graph; the
    * wedge join (paths u→v, u→w) therefore touches sum(outdeg²) =
    * O(|E|^1.5) candidate wedges instead of sum(deg²), which a hub node
    * would otherwise drive quadratic. Wedge closure is ONE equi-join of
    * the wedge list against the directed edge list — everything is
    * equi-joins over integer keys. Edge building aggregates the per-part
    * pair stream (bounded by [[CoSupplyCap]]²/2 per part) into weighted
    * pairs BEFORE the threshold filter — one map-side-combined shuffle on
    * the pair key. */
  def triangleCounts(s: SparkSession, d: String): DataFrame = {
    // The (part, supplier) projection is referenced THREE times — the df
    // cap aggregate and both sides of the pairing self-join — and each
    // reference otherwise re-runs the full lineitem scan + distinct
    // shuffle. Measured isolated A/B at sf0.1 (interleaved best-of-2,
    // r11): uncached 4.59-4.66 s wall / 17.8-19.5 cpu-s vs cached
    // 4.09-4.25 s / 14.8-15.3 cpu-s — ~10% wall, ~20% cpu here, and the
    // saving scales with the fact:projection size ratio (at 100 TB the
    // avoided work is two extra full fact scans). Both cached frames are
    // supplier/part-scale, far below the fact.
    val ps = graft.TrackedCaches.track(Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      .cache())
    val keep = ps.groupBy("p").agg(count(lit(1)).as("f"))
      .filter(col("f") <= CoSupplyCap)
    val capped = graft.TrackedCaches.track(ps.join(keep.select("p"), "p").cache())
    // Lineage cuts (the PageRank localCheckpoint discipline). The edge
    // builder (full scan + per-part pairing fan-out + pair aggregate) is by
    // far the expensive subtree, and `edges` is referenced from deg, the
    // orientation join, both wedge sides and the closure — without a cut
    // Spark INLINES the builder at every reference and the pairing runs ~8x
    // in one plan (measured: 7.3 s wall at sf0.1 with 2-core utilization —
    // pure recompute serialization). The thresholded edge list is tiny, so
    // materialize it eagerly; dirEdges gets the same cut because it is
    // referenced three times (two wedge sides + the closure), each of which
    // would otherwise replay the deg aggregation and orientation joins.
    // Downstream, every join runs over node-scale local tables and
    // broadcasts.
    val edges = capped.select(col("p"), col("sk").as("a"))
      .join(capped.select(col("p"), col("sk").as("b")), "p")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= MinSharedParts)
      .select("a", "b").localCheckpoint(true)
    val deg = edges.select(col("a").as("n")).union(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // Orient a->b iff (deg(a), a) < (deg(b), b)
    val dirEdges = edges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    val wedges = dirEdges.select(col("src"), col("dst").as("v"))
      .join(dirEdges.select(col("src"), col("dst").as("w")), "src")
      .filter(col("v") < col("w"))
    val tris = wedges.join(
      dirEdges.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val perNode = tris.select(col("x").as("n"))
      .union(tris.select(col("y").as("n")))
      .union(tris.select(col("z").as("n")))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("supplier"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("supplier")
  }

  val triangleCountsSql: String =
    s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        keep AS (SELECT p FROM ps GROUP BY p HAVING count(*) <= $CoSupplyCap),
        capped AS (SELECT ps.p, ps.sk FROM ps JOIN keep ON ps.p = keep.p),
        edges AS (SELECT x.sk AS a, y.sk AS b
                  FROM capped x JOIN capped y ON x.p = y.p AND x.sk < y.sk
                  GROUP BY 1, 2 HAVING count(*) >= $MinSharedParts),
        deg AS (SELECT n, count(*) AS deg FROM (
                  SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
                GROUP BY n),
        de AS (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                           THEN e.a ELSE e.b END AS src,
                      CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                           THEN e.b ELSE e.a END AS dst
               FROM edges e
               JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
        tri AS (SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
                FROM de w1 JOIN de w2
                  ON w1.src = w2.src AND w1.dst < w2.dst
                JOIN de c ON c.src = w1.dst AND c.dst = w2.dst),
        pn AS (SELECT n, count(*) AS n_tri FROM (
                 SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
                 UNION ALL SELECT z FROM tri)
               GROUP BY n)
        SELECT deg.n AS supplier, deg.deg,
          coalesce(pn.n_tri, 0) AS n_tri
        FROM deg LEFT JOIN pn ON deg.n = pn.n
        ORDER BY supplier"""

  /** BFS depth cap of the registry rows. Three hops covers the supply-chain
    * question ("a recall of part X touches which suppliers, then which
    * co-supplied parts, then which of THEIR suppliers"); the DuckDB oracle's
    * recursive CTE, whose UNION ALL frontier multiplies by node degree per
    * hop, needs the same bound. */
  val BfsMaxHop = 3

  /** Seed node: part 1, parity-encoded like the PageRank node ids. */
  val BfsSeed = 2L

  /** Min-hop reachability from [[BfsSeed]] over [[edgeList]] — the
    * supply-chain blast-radius query — as deduped-frontier BFS: the state
    * is one (nid, hop) table, and each round expands the last hop's
    * frontier by one equi-join against the bucketed edges, DEDUPLICATES it
    * and anti-joins away every node already in the state, so a round's
    * frontier is bounded by |unvisited nodes| no matter the path
    * multiplicity. First discovery order IS min-hop order in BFS, so hop
    * labels need no post-aggregation. `joinHint` is the strategy of both
    * joins ("broadcast" for q_reach_bfs, "shuffle_hash" for
    * q_reach_bfs_dist); both rows share [[reachBfsSql]].
    *
    * A capped run ([[BfsMaxHop]] by default) is ended by its cap alone:
    * rounds past an emptied frontier add nothing, so it pays no per-round
    * count. With `maxHop = None` the empty frontier is the halt test, and
    * the loop reaches the true fixpoint (the seed's component exhausted)
    * in at most diameter rounds. */
  def reachBfs(s: SparkSession, d: String, joinHint: String,
      maxHop: Option[Int] = Some(BfsMaxHop)): DataFrame = {
    val edges = edgeList(s, d)
    val seed = s.range(0, 1, 1, 1).select(lit(BfsSeed).as("nid"), lit(0).as("hop"))
    val halt: (DataFrame, Int) => Boolean =
      if (maxHop.isDefined) (_, _) => false
      else (state, hop) => state.filter(col("hop") === hop).count() == 0
    Superstep.iterate(seed, maxHop.getOrElse(Int.MaxValue), halt)(
        (state, hop) => bfsRound(edges, state, hop, joinHint))
      .state.select(nodeName, col("hop"))
      .orderBy("hop", "node")
  }

  /** One BFS round: the state plus the unvisited neighbors of its
    * hop - 1 frontier, labeled `hop`. Split out so PlanShapeSpec can audit
    * the physical round. */
  private[graft] def bfsRound(edges: DataFrame, state: DataFrame, hop: Int,
      joinHint: String): DataFrame = {
    val frontier = state.filter(col("hop") === hop - 1).select(col("nid").as("src"))
    val found = edges.join(frontier.hint(joinHint), "src")
      .select(col("dst").as("nid")).distinct()
      .join(state.select("nid").hint(joinHint), Seq("nid"), "left_anti")
    state.union(found.select(col("nid"), lit(hop).as("hop")))
  }

  val reachBfsSql: String =
    s"""WITH RECURSIVE
        ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        e AS (SELECT p * 2 AS src, sk * 2 + 1 AS dst FROM ps
              UNION ALL
              SELECT sk * 2 + 1, p * 2 FROM ps),
        reach(nid, hop) AS (
          SELECT CAST($BfsSeed AS BIGINT), 0
          UNION ALL
          SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.nid
          WHERE r.hop < $BfsMaxHop
        )
        SELECT CASE WHEN nid % 2 = 0 THEN 'p:' || CAST(nid // 2 AS BIGINT)
                    ELSE 's:' || CAST((nid - 1) // 2 AS BIGINT) END AS node,
          CAST(min(hop) AS INT) AS hop
        FROM reach GROUP BY nid ORDER BY hop, node"""
}
