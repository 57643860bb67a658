package graft

import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: annotated physical plans for the heaviest queries, so a
  * plan regression (lost broadcast, new exchange, un-pushed filter) shows up
  * in a reviewable artifact — not only as a PlanShapeSpec failure.
  *
  * Plans are rendered AFTER execution (collect), so AQE's final plan is
  * shown — the one that actually ran. Expression ids vary run to run;
  * review the operator tree and exchange/broadcast structure, not ids. */
object PlanDump {

  /** query -> what a reviewer should check in its plan. */
  private val audited: Seq[(String, String)] = Seq(
    "q_fact_songplays" -> ("Flagship numbering output stage. The 4-way fact " +
      "join runs INSIDE the scalable-numbering RDD (the ExistingRDD scan " +
      "below) — its 3 dim broadcasts and no-window/no-single-partition " +
      "properties are asserted by PlanShapeSpec/QueriesSpec on the join " +
      "frame itself. Expect here: range partitioning on the order key and " +
      "nothing global."),
    "q_ann_ivf" -> ("IVF probe stage (training runs eagerly before this plan). " +
      "Expect: broadcast of the 15-row query-probe side onto the cell-partitioned " +
      "corpus; exchanges keyed on cell, none global."),
    "q_ann_lsh" -> ("Banded-LSH candidate join. Expect: broadcast of the " +
      "per-query band signatures; equi-join on (band, bucket); exact cosine " +
      "only above the candidate join; window is per-query top-k (partitioned, bounded)."),
    "q_dedup_ngram_jaccard" -> ("df-capped shingle inverted index. Expect: " +
      "map-side-combined shingle aggregate, broadcast anti-join for the df cap, " +
      "equi-join on shingle hash — no cross join anywhere."),
    "q_bucketed_join" -> ("Pre-bucketed co-located join. Expect: ZERO " +
      "ShuffleExchange on either join side (bucketed scans align with the key)."),
    "q_topk_per_key" -> ("Custom TopKPerKey physical operator. Expect: " +
      "partial per-partition heaps below ONE exchange on the key, final heaps above."),
    "q_pagerank" -> ("Integer PageRank output stage. Rounds run through " +
      "Superstep.iterate and materialize the rank vector via eager " +
      "localCheckpoint (executor-resident, no driver collect), so this plan " +
      "shows the final decode/sort over a Scan ExistingRDD; the per-round " +
      "shape (2 BroadcastHashJoins over the cached edge list, zero " +
      "SortMergeJoin) is asserted on an un-materialized round by PlanShapeSpec."),
    "q_bloom_join" -> ("Bloom-prefiltered semi join. Expect: the bloom UDF " +
      "filter BELOW the o_custkey exchange (facts pruned before shuffling), " +
      "then the exact semi join above it."),
    "q_heavy_hitters" -> ("Misra-Gries candidate rescore stage (the sketch " +
      "pass runs eagerly before this plan). Expect: isin(candidate-list) " +
      "filter pushed into the scan stage, map-side-combined count over " +
      "<= 256 keys, broadcast of the 1-row total."),
    "q_dedup_incremental" -> ("Incremental ingest dedup. Expect: the " +
      "df-capped shingle index feeding a batch-side x corpus-side equi-join " +
      "on the shingle hash (no self-join), then the left join reporting " +
      "every batch doc."),
    "q_dup_ngram_fraction" -> ("Corpus-duplicated text fraction. Expect: " +
      "ONE window stream feeding a map-side-combined distinct-doc count, " +
      "one equi-join back on the window hash (aggregation join — linear in " +
      "occurrences, so no df cap), and a broadcast or shuffle join of the " +
      "small per-doc dup counts onto the doc spine. No self-join anywhere."),
    "q_seq_pack" -> ("Sequence packing output stage. The global token " +
      "offset comes from the scalable cumsum (the ExistingRDD below); " +
      "expect the per-row span explode + projection above it and NO " +
      "WindowExec anywhere (PackingSpec asserts)."),
    "q_zorder_layout" -> ("Z-ordered read-back. Expect BOTH the user_id " +
      "range and the ts range in PushedFilters of the parquet scan over " +
      "the z-layout files — that pair is what the layout exists to prune " +
      "(LayoutSpec measures the row-group skip)."),
    "q_cdc_chunks" -> ("Content-defined chunking. Expect a single scan -> " +
      "project (array HOFs) -> generate/explode pipeline with ONE exchange " +
      "total: the presentation sort. Chunking itself must be map-only."),
    "q_lm_perplexity" -> ("Bigram-LM scoring stage. Expect: the bigram " +
      "explode stream joined against BROADCAST model sides (vocab2-bounded " +
      "c2, vocab-arity c1 — both derived from the cached model aggregate, " +
      "not fresh corpus scans), then one map-side-combined per-doc " +
      "aggregate. No window, no cross join; exactly two corpus passes."),
    "q_lm_ppl_openvocab" -> ("Open-vocabulary LM scoring: same arithmetic " +
      "as q_lm_perplexity, web-scale-vocab join strategy. Expect: BOTH " +
      "model joins as ShuffledHashJoin with the model side as build (the " +
      "bigram stream and model co-partition on w1/w2 and w1), and NO " +
      "broadcast anywhere in the plan (PlanShapeSpec gates this)."),
    "q_source_scorecard" -> ("Per-source curation scorecard. Expect: ONE " +
      "feature pass over documents (map-side-combined per-doc projection), " +
      "a digest self-aggregate joined back on digest (aggregation join, " +
      "linear in docs), then a source-arity rollup — no window over the " +
      "corpus, no self cross join."),
    "q_bm25_topk" -> ("Impact-index BM25 retrieval through the MaxScore " +
      "router. Expect: cached IMPACT postings (per-posting contribution " +
      "precomputed at build — the scoring aggregate is a pure long sum, " +
      "no per-row rounds) probed by the BROADCAST query-term side " +
      "(df-ceiling applied to the query list BEFORE this join; corpus " +
      "stats are collected scalars, so no stats join exists at all), the " +
      "custom TopKPerKey operator bounding the rank stage, and the final " +
      "window partitioned per query over <= k x queries rows. On this " +
      "selectivity-floor corpus the router's df gate picks the one-pass " +
      "scatter for every query (no selective rare term exists); the " +
      "bounded two-phase route and its pruning are gated by RetrievalSpec " +
      "on a crafted selective corpus (essential-term sets provably " +
      "shrink, result provably equal)."),
    "q_ann_ivf_rescore" -> ("Two-stage compressed-first-pass ANN. Expect: " +
      "the probe stage shaped like q_ann_ivf (broadcast probes onto " +
      "cell-partitioned int8 codes), the custom TopKPerKey operator " +
      "(partial heaps below ONE exchange on query_id) instead of a " +
      "candidate sort, and the float rescore join driven by the BROADCAST " +
      "RescoreK-bounded survivor list probing the corpus scan."),
    "q_containment" -> ("Asymmetric containment pairs. Expect: the SAME " +
      "df-capped inverted-index shape as q_dedup_ngram_jaccard (map-side-" +
      "combined shingle aggregate, broadcast anti-join cap, ONE equi-join " +
      "on the shingle hash) — both direction scores come off the single " +
      "intersection row, so there is no second candidate join."),
    "q_ngram_novelty" -> ("First-occurrence n-gram novelty, JOIN-FREE " +
      "round-11 shape. Expect: ONE distinct-window stream feeding two " +
      "map-side-combined aggregates — per-doc window counts, and the " +
      "hash-arity first-owner (min doc_id) table re-aggregated by owner — " +
      "joined only at DOC arity, then the left join onto the doc spine. " +
      "No occurrence-scale join anywhere (the pre-r11 plan joined the " +
      "owner table back onto the full occurrence stream and re-shuffled " +
      "it by doc_id — its 30x ladder term), no self-join, no global window."),
    "q_pagerank_dist" -> ("q_pagerank with the shuffle-hash join hint (the " +
      "web-scale formulation). Same final decode/sort over a Scan " +
      "ExistingRDD with NO LocalTableScan; PlanShapeSpec asserts the " +
      "per-round shape: both rank joins shuffle-hash, nothing broadcasts."),
    "q_pmi_pairs" -> ("PMI collocations. Expect: ONE map-side-combined " +
      "bigram count aggregate (the corpus pass), the PmiMinCount filter " +
      "BELOW the joins, and both vocab-arity marginals joined back by " +
      "BROADCAST — never a second corpus scan, never a sort-merge join " +
      "(PlanShapeSpec gates both)."),
    "q_rand_projection" -> ("Johnson-Lindenstrauss projection. Expect: a " +
      "single map stage over the pruned (vec_id, embedding) scan — 16 " +
      "codegen'd long_dot kernels against literal matrix rows (no " +
      "broadcast, no exchange except the presentation sort). The map-pass " +
      "shape is the whole point at 100 TB."),
    "q_dup_spans" -> ("Maximal duplicated-span extraction. Expect: the SAME " +
      "linear window-stream + df aggregation join as q_dup_ngram_fraction " +
      "(map-side-combined distinct-doc count, ONE equi-join back on the " +
      "window hash), then the island grouping as a doc-PARTITIONED window " +
      "(row_number over doc_id — parallel in documents, never global) and " +
      "a doc-keyed aggregate. No pair join, no self cross join."),
    "q_gap_fill" -> ("Hourly gap-fill with forward fill. Expect: per-user " +
      "grid generation via sequence()+explode (no calendar cross join), a " +
      "left join of grid onto the hourly last-value aggregate keyed on " +
      "(user, hour), and the running last(ignoreNulls) as a USER-partitioned " +
      "WindowExec (PlanShapeSpec asserts no global window in the family)."),
    "q_rfm_segments" -> ("RFM quartile segmentation. Expect: one purchase " +
      "aggregate keyed on user, the 1-row anchor and the 1-row quartile-cut " +
      "aggregate each attached by BROADCAST nested-loop (constant side), and " +
      "ZERO WindowExec — the global-ntile scale-killer is replaced by " +
      "threshold comparisons (PlanShapeSpec gates no-window + 2 broadcasts)."),
    "q_fuzzy_join" -> ("Blocked Levenshtein linkage. Expect: the distinct-" +
      "name dictionary aggregate (vocabulary-bounded) self-joined ONLY " +
      "through the block-key equi-join — broadcast hash, no cartesian " +
      "product, no sort-merge — with the edit-distance filter above the " +
      "join. Fact rows are never paired; at 100 TB this plan's size scales " +
      "with vocabulary, not corpus."),
    "q_mmr_rerank" -> ("MMR diversity re-rank. Expect: candidate " +
      "generation as a broadcast of the query side onto the int8-code scan " +
      "into the bounded-heap TopKPerKey (partial heaps below ONE exchange " +
      "on query_id), then the whole MmrK-round greedy as a SINGLE " +
      "flatMapGroups over the MmrCand-bounded per-query pools (round 11 — " +
      "the former MmrK-1 join rounds each cost an exchange pair plus an " +
      "eager checkpoint and owned the wall). One exchange for the " +
      "grouping, integer dot kernels inside the task, no cartesian, no " +
      "global sort until the 25-row presentation."),
    "q_basket_pairs" -> ("Market-basket association rules. Expect: ONE self " +
      "equi-join of the distinct (order, part) incidence on the order key " +
      "(per-key quadratic bounded by basket size), map-side-combined pair " +
      "counts, the part-frequency and 1-row order-total sides as " +
      "BROADCASTS, and TakeOrdered for the top-100 — no global sort, no " +
      "cartesian."),
    "q_incr_agg" -> ("Incremental MV maintenance. Expect: TWO partition-" +
      "filtered scans of orders (base below cutoff, delta at/after — on a " +
      "date-partitioned lake the delta scan prunes to the fresh partition), " +
      "each feeding a map-side-combined customer-arity aggregate, merged by " +
      "ONE full-outer equi-join on custkey. Nothing rescans the union."),
    "q_dpp_join" -> ("Dynamic partition pruning. Expect: the hive-" +
      "partitioned fact scan carrying `dynamicpruning` in PartitionFilters " +
      "(the runtime IN-subquery fed by the broadcast calendar dim), " +
      "5 of 30 date directories surviving (LayoutSpec asserts the " +
      "numPartitions metric), and the per-date aggregate above the pruned " +
      "join."),
    "q_pad_waste" -> ("Length-bucketed padding-waste report. Expect: one " +
      "corpus scan, per-row integer bucket arithmetic, a <=64-row bucket " +
      "aggregate (map-side combined) and the 1-row corpus max as a " +
      "BROADCAST cross join — no windows, no wide joins."),
    "q_reach_bfs" -> ("Deduped-frontier BFS output stage. Rounds run " +
      "through Superstep.iterate and materialize via eager " +
      "localCheckpoint, so this plan shows the final decode/sort over a " +
      "Scan ExistingRDD of the (nid, hop) state; each round broadcasts " +
      "the frontier against the cached, src-bucketed edge list, distincts " +
      "the neighbors and anti-joins the state."),
    "q_reach_bfs_dist" -> ("q_reach_bfs with the shuffle-hash join hint. " +
      "Same final decode/sort over a Scan ExistingRDD with NO " +
      "LocalTableScan; the per-round kernel (audited by PlanShapeSpec " +
      "'distributed BFS') shuffle-hashes the frontier against the " +
      "once-bucketed cached edges instead of broadcasting it."),
    "q_triangle_count" -> ("Degree-ordered triangle closure. The edge " +
      "builder (fact scan -> cached (part, supplier) distinct projection " +
      "-> capped pairing self-join) runs EAGERLY inside the " +
      "localCheckpoint, so like the BFS twins this plan shows only the " +
      "downstream stages: expect every edge reference as a Scan " +
      "ExistingRDD (never a parquet re-scan), the degree aggregate and " +
      "closure as broadcast joins over node-scale tables, and NO " +
      "lineitem scan anywhere — the round-11 cache fix additionally " +
      "makes the builder itself scan the fact ONCE (the projection is " +
      "an InMemoryTableScan at its three references; A/B in " +
      "SCALING.md), the term that grows with the fact at 100 TB."))

  /** Streaming queries return a sink read whose plan says nothing; what
    * scales (or doesn't) is the per-micro-batch KERNEL. These dump the same
    * batch frames PlanShapeSpec gates: the ingest screen and the LM gate
    * scorer, built exactly as the stream mains build them per batch. */
  private def kernels(s: SparkSession, sf: String): Seq[(String, String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions.{col, md5, min}
    import graft.llm.{Dedup, TextAnalysis}
    // Index tables are cached and materialized exactly as the stream mains
    // cache them, so the dumped per-batch plans probe InMemoryTableScans —
    // the shape that actually runs per micro-batch — rather than showing
    // corpus aggregates the streams only ever run once.
    val docs = Tables.documents(s, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val corpusSig = Dedup.signaturesOf(corpus).cache()
    val rows = Dedup.NumHashes / Dedup.Bands
    val corpusBands = Dedup.bandRows(corpusSig)
      .toDF(("db" +: (0 until rows).map(r => s"w$r")) :+ "band": _*)
    val corpusDigests = corpus.select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy("digest").agg(min("doc_id").as("exact_src")).cache()
    corpusDigests.count()
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
    val (c2, c1, vocab) =
      TextAnalysis.bigramModel(TextAnalysis.bigramsOf(corpus.select("doc_id", "text")))
    Seq(
      ("q_stream_ingest_dedup (micro-batch kernel)",
        "Per-arrival-batch near-dup screen of streamIngestDedup. Expect: " +
        "band probe, signature probe and exact-digest join ALL as " +
        "BroadcastHashJoin with the ARRIVAL side broadcast — the corpus " +
        "index tables are probed in place, never re-shuffled per batch " +
        "(PlanShapeSpec: >= 3 broadcasts, zero SortMergeJoin).",
        graft.streaming.DocStreams.screenBatch(arrivals, corpusSig, corpusBands, corpusDigests)),
      ("q_stream_quality_gate (micro-batch kernel)",
        "Per-arrival-batch LM scorer of streamQualityGate. Expect: the " +
        "batch bigram explode joined against BROADCAST model sides (c2, " +
        "c1) trained once from the standing corpus — no corpus scan in " +
        "the per-batch plan, no window, one map-side-combined per-doc " +
        "aggregate.",
        TextAnalysis.scorePpl(TextAnalysis.bigramsOf(arrivals.select("doc_id", "text")),
          c2, c1, vocab)),
      ("q_stream_decontam (micro-batch kernel, DISTRIBUTED strategy)",
        "Per-arrival-batch two-stage BM25 screen of streamDecontam — the " +
        "large-index strategy (at the dump SF the gate's size-based " +
        "selection actually picks the broadcast-snapshot mapPartitions " +
        "path, whose plan is a single scan+project; dumped here is the " +
        "kernel that runs when the index exceeds " +
        "BroadcastScreenMaxBytes). " +
        "Expect: stage 1 — cached postings (InMemoryTableScan, as at " +
        "runtime) probed by the BROADCAST rare arrival terms, match " +
        "counts into the bounded-heap TopKPerKey cap; stage 2 — the " +
        "cached forward index probed by the BROADCAST (batch x CandCap) " +
        "candidate list, scores folded in place from each doc's term " +
        "array (BIGINT micro-unit fold, round 9). No SortMergeJoin, no " +
        "per-batch corpus aggregate " +
        "(PlanShapeSpec 'decontam screening' gates this).", {
        import graft.llm.Retrieval
        val ix = Retrieval.buildIndex(corpus.select("doc_id", "text"), cache = true)
        val fwd = Retrieval.forwardIndex(ix, cache = true)
        val qt = Retrieval.postings(arrivals.select("doc_id", "text"))
          .select(col("doc_id").as("query_id"), col("term"))
        Retrieval.scoreCandidates(ix, fwd, qt, Retrieval.screenCandidates(ix, qt))
      }),
      ("q_stream_vec_ingest (micro-batch kernel)",
        "Per-arrival-batch nearest-neighbor screen of streamVecIngest. " +
        "Expect: the cached cell-assigned corpus (InMemoryTableScan, as " +
        "at runtime) probed by the BROADCAST (batch x nprobe) arrival " +
        "probe rows — centroids broadcast into the batch-side routing, " +
        "the corpus never re-shuffled or re-scanned beyond the probed " +
        "cells, exact FloatCosine only on cell-mates. No SortMergeJoin " +
        "(PlanShapeSpec 'vec ingest screening' gates this).", {
        import graft.llm.Similarity
        val emb = Tables.embeddings(s, sf)
        val vcorpus = emb.filter(col("vec_id") % 5 =!= 0)
        val sx = Similarity.scaledOf(vcorpus).cache()
        val n = sx.count()
        val k = Similarity.centroidsFor(n)
        val cents = Similarity.trainCentroids(sx,
          Similarity.seedCentroidsOf(vcorpus, sx, k), n, k)
        val cells = Similarity.assignCells(sx, cents).join(vcorpus, "vec_id")
          .select(col("vec_id"), col("embedding"), col("cell")).cache()
        cells.count()
        graft.streaming.VecStreams.screenBatch(
          emb.filter(col("vec_id") % 5 === 0), cents, cells,
          Similarity.probesFor(k))
      }))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val sb = new StringBuilder
    sb ++= "# PLANS — executed physical plans of the headline queries\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.PlanDump\"` over `$sf`.\n"
    sb ++= "Regenerate after any plan-affecting change; review structure, not expression ids.\n"
    val frames = audited.map { case (name, note) =>
      (name, note, SparkEntry.queries(name)(spark, sf))
    } ++ kernels(spark, sf)
    frames.foreach { case (name, note, df) =>
      df.collect() // finalize AQE so the dumped plan is the executed one
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= df.queryExecution.executedPlan.toString.take(12000)
      sb ++= "\n```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote PLANS.md (${frames.size} queries)")
    spark.stop()
  }
}
