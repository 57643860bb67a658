package graft

import graft.ops.{Analytics, Relational}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.functions.{col, count, lit}

/** Physical-plan regression gates for the scale claims SCALING.md makes:
  * the fact build must broadcast all three dims (fact side never shuffles
  * for the joins) and must NOT funnel through a single-partition exchange;
  * the hive-partitioned read-back must prune partitions in the scan; the
  * flagship agg's filter must reach the parquet scan as a pushed filter. */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("fact build broadcasts all dims; fact side never shuffles for joins") {
    val df = Relational.factJoined(spark, Sf)
    df.collect() // finalize AQE on THIS queryExecution
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 3,
      s"expected customer+nation+region as broadcast joins, got ${bhj.size}:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"no dim join may shuffle the fact side:\n$plan")
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"join stage must be shuffle-free:\n$plan")
  }

  test("flagship numbering avoids the single-partition global window") {
    val df = Relational.factSongplays(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val single = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(single.isEmpty,
      s"numbering must not funnel through a single-partition exchange:\n$plan")
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"numbering path must not use a window:\n$plan")
  }

  test("boilerplate scrub: no window, no cartesian, no single-partition funnel") {
    // The rewrite stage must stay an explode → agg → join → agg chain: a
    // WindowExec would mean the reassembly regressed to a per-doc sort
    // window, and the keep-join must never cross-product.
    val df = graft.llm.TextAnalysis.boilerplateScrub(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"boilerplate scrub must not window:\n$plan")
    assert(collectWithSubqueries(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian in the keep-join:\n$plan")
    // Only the final presentation ORDER BY may land on one partition; the
    // working exchanges (block df, reassembly, joins) must stay wide.
    val singles = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(singles.size <= 1,
      s"working shuffles must not funnel to one partition:\n$plan")
  }

  test("canonical keep aggregates the cluster argmax — no window, no cartesian") {
    val df = graft.llm.Dedup.canonicalKeep(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty,
      s"the per-cluster argmax must be max(struct), not a ranked window:\n$plan")
    assert(collectWithSubqueries(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian in the canonical join-back:\n$plan")
    graft.TrackedCaches.release()
  }

  test("partitioned parquet read-back prunes partitions in the scan") {
    val df = Relational.partitionedParquetRoundtrip(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"expected a parquet scan in:\n$plan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"year/month filters must prune the scan, not evaluate post-read:\n$plan")
    // pruned read really skipped the other months: one (year,month) dir only
    scans.foreach { f =>
      val parts = f.relation.location.listFiles(f.partitionFilters, Nil)
      assert(parts.size == 1, s"expected exactly 1 surviving hive partition, " +
        s"got ${parts.size}")
    }
  }

  test("q1 filter is pushed down to the lineitem scan") {
    val df = Analytics.q1Agg(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(p => p != "[]" && p.nonEmpty),
      s"expected a pushed filter on the scan, got $pushed:\n$plan")
    // column pruning: the 11-col table must not be read in full
    val readSchema = scans.head.requiredSchema.fieldNames.toSet
    assert(readSchema.size < 11, s"expected pruned ReadSchema, got $readSchema")
  }

  test("q5 snowflake folds region/nation/supplier into broadcasts; scans prune") {
    val df = Analytics.q5Shape(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3,
      s"region->nation->supplier chain (+AQE-converted sides) must broadcast, got ${bhj.size}:\n$plan")
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    val li = scans.find(_.relation.location.rootPaths.exists(_.toString.contains("lineitem")))
    assert(li.isDefined)
    assert(li.get.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
      s"lineitem scan must read only the 4 needed columns, got ${li.get.requiredSchema.fieldNames.toSeq}")
    val ord = scans.find(_.relation.location.rootPaths.exists(_.toString.contains("orders")))
    assert(ord.get.metadata.getOrElse("PushedFilters", "[]").contains("o_orderdate"),
      "order-date range must push into the orders scan")
  }

  test("ingest screening broadcasts the arrival side; corpus tables never sort-merge") {
    // The per-micro-batch kernel of q_stream_ingest_dedup: at 100 TB the
    // corpus band/signature/digest tables are the big side and must be
    // probed in place — shuffling them per micro-batch is the scale-killer
    // this gate exists to catch.
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.{md5, min}
    val docs = Tables.documents(spark, Sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val corpusSig = Dedup.signaturesOf(corpus).cache()
    val rows = Dedup.NumHashes / Dedup.Bands
    val corpusBands = Dedup.bandRows(corpusSig)
      .toDF(("db" +: (0 until rows).map(r => s"w$r")) :+ "band": _*)
    val corpusDigests = corpus.select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy("digest").agg(min("doc_id").as("exact_src"))
    val df = graft.streaming.DocStreams.screenBatch(
      docs.filter(col("doc_id") % 5 === 0), corpusSig, corpusBands, corpusDigests)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3,
      s"band probe, signature probe and digest join must all broadcast, got ${bhj.size}:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"corpus-scale index tables must never be shuffled for a join:\n$plan")
    corpusSig.unpersist()
  }

  test("vec ingest screening broadcasts arrival probes; corpus cells never sort-merge") {
    // The per-micro-batch kernel of q_stream_vec_ingest: at 100 TB the
    // cell-assigned corpus is the big side and must be probed in place —
    // its probe join must broadcast the (batch x nprobe)-bounded arrival
    // rows, and no corpus-scale table may be shuffled for a join.
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val sx = Similarity.scaledOf(corpus).cache()
    val n = sx.count()
    val k = Similarity.centroidsFor(n)
    val cents = Similarity.trainCentroids(sx,
      Similarity.seedCentroidsOf(corpus, sx, k), n, k)
    // cache = the shape that runs per micro-batch: standing index probed
    // in place, not the one-time index build.
    val cells = Similarity.assignCells(sx, cents).join(corpus, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell")).cache()
    val df = graft.streaming.VecStreams.screenBatch(
      emb.filter(col("vec_id") % 5 === 0), cents, cells,
      Similarity.probesFor(k))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"cell probe must broadcast the arrival side into the corpus cells:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"corpus-scale cell table must never be shuffled for a join:\n$plan")
    sx.unpersist(); cells.unpersist()
  }

  test("decontam screening broadcasts arrival sides; corpus tables never sort-merge") {
    // The per-micro-batch kernel of q_stream_decontam: BOTH stages must
    // probe the cached corpus tables in place — stage 1 broadcasts the
    // rare arrival terms into the postings, stage 2 broadcasts the
    // (batch x CandCap)-bounded candidate list into the forward index.
    // Re-shuffling either corpus table per micro-batch is the scale-killer
    // this gate exists to catch.
    import graft.llm.Retrieval
    val docs = Tables.documents(spark, Sf)
    // cache = true: the gate must audit the shape that runs per micro-batch
    // (cached index probed in place), not the one-time index build.
    val ix = Retrieval.buildIndex(
      docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text"), cache = true)
    val fwd = Retrieval.forwardIndex(ix, cache = true)
    val qt = Retrieval.postings(
      docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text"))
      .select(col("doc_id").as("query_id"), col("term"))
    val df = Retrieval.scoreCandidates(ix, fwd, qt, Retrieval.screenCandidates(ix, qt))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2,
      s"rare-term probe AND candidate-list probe must broadcast, got ${bhj.size}:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"corpus postings/forward index must never be shuffled for a join:\n$plan")
    graft.TrackedCaches.release()
  }

  test("broadcast screens plan as one mapPartitions pass — zero exchanges") {
    // The small-index strategy's whole point: per micro-batch the screen
    // must be scan -> deserialize -> mapPartitions -> serialize, with NO
    // Exchange (a shuffle per batch would erase the strategy's advantage
    // and silently reintroduce the deep-plan cost it exists to avoid).
    import graft.llm.Retrieval
    val docs = Tables.documents(spark, Sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val snap = spark.sparkContext.broadcast(Retrieval.buildScreenSnapshot(corpus))
    val batch = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val out = Retrieval.screenBatchLocal(spark, snap, batch)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val ex = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(ex.isEmpty, s"broadcast screen must not shuffle:\n$plan")
    snap.destroy()
  }

  test("LM scoring broadcasts both model sides; bucketing never windows") {
    // The bigram stream is corpus-scale; the model tables are vocab-bounded.
    // A sort-merge join here would shuffle the corpus per scoring pass.
    val ppl = graft.llm.TextAnalysis.lmPerplexity(spark, Sf)
    ppl.collect()
    val plan = ppl.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2,
      s"c2 and c1 model joins must both broadcast, got ${bhj.size}:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"the bigram stream must never sort-merge:\n$plan")
    // Tercile bucketing must stay cutoff-broadcast + comparison — an ntile
    // window over the corpus is the 100 TB sort bottleneck it exists to avoid.
    val buckets = graft.llm.TextAnalysis.pplBuckets(spark, Sf)
    buckets.collect()
    val bplan = buckets.queryExecution.executedPlan
    val windows = collectWithSubqueries(bplan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"bucketing must not use a window:\n$bplan")
    graft.TrackedCaches.release()
  }

  test("split assignment is shuffle-free; shard tiling never windows or funnels") {
    // trainSplit: the split tag is a pure per-row projection — the ONLY
    // exchanges allowed are the rollup aggregate's and the presentation
    // sort's, and nothing may funnel through one partition.
    val split = graft.llm.TextAnalysis.trainSplit(spark, Sf)
    split.collect()
    val splan = split.queryExecution.executedPlan
    val singleS = collectWithSubqueries(splan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(singleS.isEmpty,
      s"split rollup must not funnel through one partition:\n$splan")
    // shardManifest: the running token total must come from the
    // distributed cumsum — a WindowExec here means the one-partition
    // global-window regression the cumsum exists to avoid.
    val shards = graft.llm.TextAnalysis.shardManifest(spark, Sf)
    shards.collect()
    val hplan = shards.queryExecution.executedPlan
    val windows = collectWithSubqueries(hplan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"shard tiling must not use a window:\n$hplan")
    val singleH = collectWithSubqueries(hplan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(singleH.isEmpty,
      s"shard tiling must not funnel through one partition:\n$hplan")
    graft.TrackedCaches.release()
  }

  test("open-vocab LM scoring shuffles both model joins; nothing broadcasts") {
    // The web-scale-vocabulary variant: c2/c1 are far beyond broadcast
    // range, so both model joins must run as co-partitioned shuffle hash
    // joins — a broadcast anywhere in this plan means the hint regressed
    // and the path stopped modeling the open-vocab deployment.
    val ppl = graft.llm.TextAnalysis.lmPerplexityOpenVocab(spark, Sf)
    ppl.collect()
    val plan = ppl.queryExecution.executedPlan
    val shj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.size == 2,
      s"c2 and c1 model joins must both shuffle-hash, got ${shj.size}:\n$plan")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.isEmpty,
      s"open-vocab path must not broadcast the model:\n$plan")
    graft.TrackedCaches.release()
  }

  test("PageRank rounds broadcast the node vector; edges never sort-merge") {
    // pageRank checkpoints each round (truncating the visible lineage), so
    // audit the plan of ONE un-materialized round — the shape every round runs.
    val (edges, deg) = graft.ops.Graph.prGraph(spark, Sf)
    val pr0 = deg.select(col("src").as("nid"),
      lit(graft.ops.Graph.PrInit).as("pr"))
    val df = graft.ops.Graph.prRound(edges, deg, pr0, "broadcast")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2,
      s"expected 2 broadcast joins in a round (deg + contrib), got ${bhj.size}:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"the fact-sized edge list must never be shuffled for a join:\n$plan")
    graft.TrackedCaches.release()
  }

  test("distributed PageRank: same output, no driver-local rank, no broadcast rounds") {
    // The web-scale variant must be bit-identical to the broadcast one...
    val a = graft.ops.Graph.pageRank(spark, Sf, "broadcast").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val b0 = graft.ops.Graph.pageRank(spark, Sf, "shuffle_hash")
    val b = b0.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.sameElements(b), "distributed rounds must reproduce pageRank exactly")
    // ...with the rank vector never driver-localized: a collect+
    // createDataFrame would show up as LocalTableScan; the lineage must
    // carry none (its checkpointed rounds scan executor-resident RDDs).
    assert(!b0.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "rank-vector lineage must not pass through a driver-local relation")
    // And the per-round plan is the classic shuffle formulation: both rank
    // joins shuffle-hash against the pre-bucketed edges; nothing broadcasts.
    val (edges, deg) = graft.ops.Graph.prGraph(spark, Sf)
    val pr0 = deg.select(col("src").as("nid"),
      lit(graft.ops.Graph.PrInit).as("pr")).localCheckpoint(true)
    val round = graft.ops.Graph.prRound(edges, deg, pr0, "shuffle_hash")
    round.collect()
    val plan = round.queryExecution.executedPlan
    val shj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.size == 2,
      s"deg + contrib joins must both shuffle-hash, got ${shj.size}:\n$plan")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.isEmpty, s"distributed rounds must not broadcast:\n$plan")
    graft.TrackedCaches.release()
  }

  test("distributed BFS: frontier expansion shuffle-hashes on bucketed edges, no driver-local visited") {
    // The deduped-frontier BFS must keep its state executor-resident (no
    // LocalTableScan in the final lineage — checkpointed rounds scan
    // executor-resident RDDs) and expand via the pre-bucketed edge layout
    // with a shuffle-hash hint, never broadcasting a node-scale frontier.
    val df = graft.ops.Graph.reachBfs(spark, Sf, "shuffle_hash")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      "visited/frontier lineage must not pass through a driver-local relation")
    graft.TrackedCaches.release()
    // Per-round shape (checkpoints truncate the final lineage, so audit the
    // round kernel directly): frontier expansion shuffle-hashes against the
    // bucketed edges; the anti-join carries no sort-merge of the edge list.
    val edges = graft.ops.Graph.edgeList(spark, Sf)
    val seed = spark.range(1)
      .select(lit(graft.ops.Graph.BfsSeed).as("nid"), lit(0).as("hop"))
      .localCheckpoint(true)
    val round = graft.ops.Graph.bfsRound(edges, seed, 1, "shuffle_hash")
    round.collect()
    val rplan = round.queryExecution.executedPlan
    val shj = collectWithSubqueries(rplan) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty,
      s"frontier expansion must shuffle-hash against the bucketed edges:\n$rplan")
    graft.TrackedCaches.release()
  }

  test("containment runs the df-capped index shape: anti-join cap, no cartesian") {
    val df = graft.llm.Dedup.containmentPairs(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"),
      s"pair generation must stay an equi-join on the shingle hash:\n$plan")
    // The df cap's hot-shingle list anti-joins by broadcast (tiny by
    // construction), so the shingle stream is never shuffled for the cap.
    // The capped index is cached, so the anti-join lives in the cached
    // relation's BUILD plan — descend into InMemoryRelation to find it.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val cachedPlans = collectWithSubqueries(plan) {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    // cachedPlan is an AdaptiveSparkPlanExec whose executed tree only shows
    // in its string rendering — match there rather than collecting nodes.
    val rendered = (plan +: cachedPlans).map(_.toString)
    assert(rendered.exists(t =>
        t.contains("LeftAnti") && t.contains("BroadcastHashJoin")),
      "df cap must be a broadcast anti-join (in the cached index build):\n" +
        rendered.mkString("\n---\n").take(8000))
    // Under the SizesBroadcastMaxDocBytes gate the doc-arity set-size frame
    // must BROADCAST into the verification joins: at the 100× ladder the
    // two sort-merge joins of the candidate-pair frame were the query's
    // dominant term (+15.6 s, Decompose) and the broadcast removed it.
    // Scoped to the joins the claim is about (keys on doc_a/doc_b) — a
    // future legitimate SMJ elsewhere in the query must not trip this.
    def onPairKeys(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(k => Seq("doc_a", "doc_b").exists(k.toString.contains))
    val pairBhj = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec if onPairKeys(j.leftKeys ++ j.rightKeys) => j
    }
    assert(pairBhj.size >= 2,
      s"both sizes verification joins must be broadcast-hash:\n$plan")
    val pairSmj = collectWithSubqueries(plan) {
      case j: SortMergeJoinExec if onPairKeys(j.leftKeys ++ j.rightKeys) => j
    }
    assert(pairSmj.isEmpty,
      s"sizes verification joins must not sort-merge the pair frame:\n$plan")
    graft.TrackedCaches.release()
  }

  test("PMI joins its vocab-arity marginals by broadcast; no second corpus pass") {
    val df = graft.llm.TextAnalysis.pmiPairs(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2,
      s"left and right marginals must broadcast onto the count table:\n$plan")
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"no marginal join may shuffle the candidate stream:\n$plan")
    graft.TrackedCaches.release()
  }

  test("random projection is a pure map pass: codegen kernels, sort-only exchange") {
    val df = graft.llm.Similarity.randProjection(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // The only exchange allowed is the presentation sort's range partitioning
    // — the projection itself must add no shuffle, no broadcast, no join.
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"projection must only shuffle for the final sort:\n$plan")
    assert(!plan.toString.contains("Join"),
      s"the literal matrix must not become a join side:\n$plan")
    // All 16 components run as the codegen'd LongDot kernel, not HOF lambdas.
    val nKernels = "long_dot".r.findAllIn(plan.toString).size
    assert(nKernels >= graft.llm.Similarity.RpDims,
      s"expected ${graft.llm.Similarity.RpDims} long_dot kernels in:\n$plan")
    graft.TrackedCaches.release()
  }

  test("event-analytics windows are always user-partitioned, never global") {
    // The family's scale contract: every WindowExec partitions by user_id
    // (parallel in user cardinality); a global window would funnel the
    // stream through one task.
    for (df <- Seq(
        graft.ops.EventAnalytics.gapFill(spark, Sf),
        graft.ops.EventAnalytics.anomalyMad(spark, Sf),
        graft.ops.EventAnalytics.eventTransitions(spark, Sf))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val windows = collectWithSubqueries(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"expected a partitioned window in:\n$plan")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"global (unpartitioned) window in:\n$plan"))
    }
  }

  test("rfm scores by broadcast thresholds — no window anywhere in the plan") {
    val df = graft.ops.EventAnalytics.rfmSegments(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"quartile scoring must not reintroduce a global ntile window:\n$plan")
    val bcast = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(bcast.size >= 2,
      s"anchor and cut points must broadcast onto the user aggregate:\n$plan")
  }

  test("anomaly gate batches broadcast the arrival side; stats never re-shuffle") {
    import org.apache.spark.sql.functions.{round => fround, unix_micros}
    val ev = Tables.events(spark, Sf)
    val train = ev
      .filter(unix_micros(col("ts")) < graft.streaming.EventStreams.AnomalyCutoffUs)
      .select(col("user_id"), col("event_id"),
        fround(col("value") * 100, 0).cast("long").as("c"))
    val stats = graft.ops.EventAnalytics.userRobustStats(train).cache()
    stats.count()
    val batch = ev
      .filter(unix_micros(col("ts")) >= graft.streaming.EventStreams.AnomalyCutoffUs)
      .limit(200).select("event_id", "user_id", "value")
    val df = graft.streaming.EventStreams.screenAnomalyBatch(batch, stats)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"per-batch screening must probe stats in place, not sort-merge:\n$plan")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"arrival side must broadcast onto the stats:\n$plan")
    stats.unpersist()
  }

  test("linkage and mmr never go cartesian; candidate pools join by key") {
    for (df <- Seq(
        graft.ops.Linkage.fuzzyJoin(spark, Sf),
        graft.llm.Similarity.mmrRerank(spark, Sf))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val cart = collectWithSubqueries(plan) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty, s"unbounded cartesian in:\n$plan")
      val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
      assert(smj.isEmpty,
        s"dictionary/candidate joins must broadcast, not sort-merge:\n$plan")
      graft.TrackedCaches.release()
    }
  }

  test("basket rules: ratio sides broadcast, top-100 is a TakeOrdered, no cartesian") {
    val df = graft.ops.Analytics.basketPairs(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // part-frequency (x2) + the 1-row order total must all arrive broadcast
    // onto the pair counts — part is dimension-arity at any corpus scale.
    val bhj = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bhj.size >= 3,
      s"expected n_a, n_b and the order total as broadcasts, got ${bhj.size}:\n$plan")
    val cart = collectWithSubqueries(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cart.isEmpty, s"unbounded cartesian in:\n$plan")
    // the top-100 must not globally sort the pair stream
    val takeOrdered = collectWithSubqueries(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty,
      s"top-100 must be a TakeOrdered, not a global sort + limit:\n$plan")
  }

  test("standing-index delete probes: tombstone exclusion broadcasts, " +
      "partition pruning survives") {
    // The delete feature must not cost the probes their 100 TB plan: the
    // tombstone anti-join has a doc/takedown-arity build side and must be
    // a BROADCAST LeftAnti (a shuffled anti-join would re-shuffle the
    // corpus-scale probe rows for a tiny exclusion list), and the
    // standing scans must keep their partition-column pruning filters.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def gate(df: org.apache.spark.sql.DataFrame, part: String,
        tag: String): Unit = {
      df.collect()
      // The shingle probe CACHES its postings frame, so its anti-join
      // lives inside the InMemoryRelation's cached plan — descend into
      // cached plans (to a fixpoint: caches can nest) so the gate sees
      // the whole physical story, not just the outermost fragment.
      var roots = Seq(df.queryExecution.executedPlan)
      var grown = true
      while (grown) {
        val more = roots.flatMap(r => collectWithSubqueries(r) {
          case im: InMemoryTableScanExec => im.relation.cachedPlan
        }).filterNot(p => roots.exists(_ eq p))
        grown = more.nonEmpty
        roots ++= more
      }
      val antiB = roots.flatMap(r => collectWithSubqueries(r) {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      })
      assert(antiB.nonEmpty,
        s"$tag: tombstone exclusion must be a broadcast anti-join:\n" +
          roots.mkString("\n---\n"))
      val antiS = roots.flatMap(r => collectWithSubqueries(r) {
        case j: SortMergeJoinExec if j.joinType == LeftAnti => j
      })
      assert(antiS.isEmpty,
        s"$tag: tombstone exclusion must never shuffle the probe side")
      // A value predicate on the partition column: `IN`/`INSET` over
      // several probed values, `=` over one (a one-bucket layout, where
      // the optimizer also infers an isnotnull that prints first — so
      // the scan nodes are inspected, not the plan string).
      val partFilters = roots.flatMap(r => collectWithSubqueries(r) {
        case f: FileSourceScanExec => f.partitionFilters
      }).flatten
      assert(partFilters.exists(e =>
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull] &&
          e.references.exists(_.name == part)),
        s"$tag: standing scan lost its $part partition filter: $partFilters")
    }
    // Fresh standing state for all three (the shipped bases may have been
    // compacted — tombstones drained — by an earlier spec).
    Seq("graft_ivf_delete", "graft_shingle_delete", "graft_bm25_delete")
      .foreach(dir => graft.Fs.deleteRec(java.nio.file.Paths.get(
        s"${System.getProperty("java.io.tmpdir")}/$dir")))
    gate(graft.llm.AnnIndex.annIvfDeleteStanding(spark, Sf), "cell",
      "ivf")
    gate(graft.llm.Dedup.standingDeleteIngest(spark, Sf), "bucket",
      "shingle")
    gate(graft.llm.Retrieval.bm25TopKStandingDelete(spark, Sf), "bucket",
      "bm25")
    graft.TrackedCaches.release()
    Seq("graft_ivf_delete", "graft_shingle_delete", "graft_bm25_delete")
      .foreach(dir => graft.Fs.deleteRec(java.nio.file.Paths.get(
        s"${System.getProperty("java.io.tmpdir")}/$dir")))
  }

  test("incremental MV: both aggregate sides scan with the cutoff pushed down") {
    val df = graft.ops.Quality.incrAgg(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // Exactly two orders scans — base and delta — each with its date bound
    // pushed to the parquet reader (on a date-partitioned lake this is the
    // partition prune that makes the refresh incremental). Nothing may
    // rescan the union.
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    assert(scans.size == 2, s"expected base + delta scans, got ${scans.size}:\n$plan")
    scans.foreach { f =>
      assert(f.dataFilters.exists(_.references.exists(_.name == "o_orderdate")),
        s"cutoff must reach the scan as a data filter:\n$f")
      assert(f.metadata.get("PushedFilters").exists(p =>
        p.contains("GreaterThanOrEqual") || p.contains("LessThan")),
        s"cutoff must be PUSHED to the parquet reader:\n${f.metadata.get("PushedFilters")}")
    }
  }
}
