package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The bodies of `graft.Measure`'s scale subcommands: the query ladders,
  * the standing-index ladders and the soaks. Each runs on the caller's
  * session over the caller's data dir.
  *
  * A ladder times the same work over the data dir (1x) and over a
  * `copies`x replica staged under `java.io.tmpdir`. Relational tables
  * replicate with consistent key offsets (customer/orders/events keys
  * shift together, so per-user and per-customer densities stay constant —
  * the realistic growth mode).
  *
  * The events replica is `copies`x the events in the SAME time span, i.e.
  * `copies`x stream throughput at constant watermark lag: state-store row
  * counts and micro-batch input sizes grow while the micro-batch COUNT
  * stays fixed (FilesPerTrigger over the same chunk layout), isolating how
  * per-event state cost scales from trigger-scheduling fixed cost.
  *
  * The docs replica rewrites, per copy, ~20% of token TYPES to a
  * copy-local form. Substituting by token identity — not position —
  * preserves every within-copy near-dup pair bit-for-bit (both docs of a
  * pair share tokens, so they share substitutions and their Jaccard is
  * unchanged), while cross-copy similarity collapses (a 3-gram shingle
  * survives in two copies only if all 3 tokens escaped substitution in
  * both: ~0.64^3 ≈ 0.26 shared shingles → Jaccard ≈ 0.15, far under the
  * 0.5 pairing threshold). The replica therefore has `copies`x the docs,
  * `copies`x the clusters, and the SAME cluster size distribution —
  * growth, not artificial duplication.
  */
object ScaleTest {

  /** The one timer: the wall seconds of `body`, then [[settle]] outside
    * the timed window (also when `body` throws). */
  def time(spark: SparkSession)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 } finally settle(spark)
  }

  /** Post-measurement hygiene: builder and catalog caches released, then
    * an explicit GC and a pause. Releasing a cache only queues it for the
    * ContextCleaner, which reaps it after the owning refs are GC'd; until
    * then a deep-scale neighbor's debris (spill and broadcast blocks,
    * shuffle files on tmpfs, an expanded fragmented heap) inflates the
    * NEXT row. At 100x: q_dedup_incremental 82 s after q_containment's
    * spills vs 12.6-27 s isolated in a fresh JVM, q_groupby_count 23.4 s
    * vs 3.45, q_rand_projection 2.6x, q_vec_quantize 5.6x. Without the
    * release, cached projections of earlier rows (equidepth's bucketed
    * orders, pagerank's edges, triangle's co-supply projection) pile up
    * across a big pass: at 30x q_asof_native read 9.61 s in the polluted
    * JVM vs 0.64 s isolated. The GC gives each row the fresh executor
    * state a real cluster's dynamic allocation gives between stages. */
  private def settle(spark: SparkSession): Unit = {
    TrackedCaches.release()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(500)
  }

  /** The upper median of `xs`. */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Writes `df` to the noop sink, materializing every column. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Fingerprint of the source corpus, baked into every staged-corpus path
    * alongside the generator parameters: when the source is regenerated
    * the staged replicas are rebuilt instead of silently reused, so a
    * ratio can never compare a NEW 1× corpus against a replica of the OLD
    * one. Hashes per-file (name, size, mtime) — a regenerated corpus that
    * happens to total the same byte count (the summed-length stamp's
    * blind spot) still changes mtimes and therefore the stamp. */
  private def corpusStamp(src: String): String = {
    val sig = Option(new java.io.File(src).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
  }

  /** Staged-corpus path for `prefix0` (generator params included) + the
    * source dir's name + the current source stamp. The name keeps replicas
    * of different data dirs apart, so switching `SPARK_GRAFT_SF_DIR` does
    * not rebuild them. Staged siblings carrying the SAME prefix and name
    * but a STALE stamp are corpora of a regenerated-away source: delete
    * them here — each regeneration otherwise strands multi-GB orphans in
    * tmpdir forever. */
  private def stagedDir(prefix0: String, src: String): String = {
    val prefix = prefix0 + new java.io.File(src).getName.replaceAll("[^a-zA-Z0-9.]", "_") + "_"
    val stamp = corpusStamp(src)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val all = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
    all.filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.getName != s"$prefix$stamp")
      .foreach { stale =>
        // Streaming landing zones embed the staged-corpus dir name; drop a
        // stale corpus's zones with it or they orphan the same way.
        all.filter(z => z.isDirectory && z != stale &&
          z.getName.contains(stale.getName)).foreach(z => Fs.deleteRec(z.toPath))
        Fs.deleteRec(stale.toPath)
      }
    s"$tmp/$prefix$stamp"
  }

  /** `dst`, built by `build` unless its `_built` marker exists. */
  private def staged(dst: String)(build: String => Unit): String = {
    val marker = new java.io.File(s"$dst/_built")
    if (!marker.exists()) { build(dst); marker.createNewFile() }
    dst
  }

  /** A replica of the data dir. The path prefix embeds the generator
    * parameters (copy count, key stride or substitution modulus): a change
    * to a builder must bump it, so a stale staged corpus cannot skew the
    * reported ratios. */
  final case class Corpus(prefix: Int => String,
      build: (SparkSession, String, String, Int) => Unit) {
    def at(spark: SparkSession, src: String, copies: Int): String =
      staged(stagedDir(prefix(copies), src))(build(spark, src, _, copies))
  }
  val Relational = Corpus(c => s"graft_sf1_c${c}_s1000000_", build)
  val Docs = Corpus(c => s"graft_docs${c}x_c${c}_m5_d1000000_", buildDocs)
  val Events = Corpus(c => s"graft_events${c}x_c${c}_s1000000_", buildStreams)
  val Vecs = Corpus(c => s"graft_vecs${c}x_c${c}_v1000000_", buildVecs)

  /** A query-ladder row: its CSV key and the frame it writes from a data
    * dir. */
  final case class Row(key: String, frame: (SparkSession, String) => DataFrame)
  def rows(names: String*): Seq[Row] = names.map(n => Row(n, SparkEntry.queries(n)))

  /** One section of a query ladder: `rows` over the data dir and over the
    * `corpus` replica, reading the landing zones `zones` stage. */
  final case class Section(header: String, corpus: Corpus, rows: Seq[Row],
      zones: Seq[(SparkSession, String) => String] = Nil, ratio: Boolean = true)

  /** Each query ladder's sections at a copy count. */
  val ladders: Map[String, Int => Seq[Section]] = {
    import graft.streaming.{DocStreams, EventStreams, VecStreams}
    Map(
      "relational" -> ((_: Int) => Seq(Section("query,sf0.1_s,sf1_s,ratio", Relational, rows(
        "q1_agg", "q_fact_songplays", "q_groupby_count", "q_window_running",
        "q_sessionize", "q_salted_join", "q_topk", "q_join_left",
        "q_tumbling_window", "q_asof_join", "q_pagerank", "q_bloom_join",
        "q_approx_quantile", "q5_shape", "q_merge_upsert",
        "q_window_range_frame", "q_asof_native",
        "q_table_stats", "q_equidepth_hist",
        "q_basket_pairs", "q_incr_agg", "q_dpp_join", "q_triangle_count",
        "q_reach_bfs", "q_reach_bfs_dist", "q_variant_extract", "q_sql_udf",
        "q_collation")))),
      "docs" -> ((c: Int) => Seq(Section(s"query,docs1x_s,docs${c}x_s,ratio", Docs, rows(
        "q_dedup_exact", "q_dedup_fingerprint", "q_dedup_minhash",
        "q_dedup_simhash", "q_winnow_fps", "q_dedup_winnow",
        "q_dedup_ngram_jaccard", "q_containment", "q_dedup_clusters",
        "q_dedup_incremental",
        "q_heavy_hitters", "q_curation_funnel",
        "q_seq_pack", "q_doc_chunks", "q_cdc_chunks", "q_cdc_shared",
        "q_mixture_rebalance", "q_dup_ngram_fraction", "q_boilerplate_scrub",
        "q_dedup_canonical", "q_bpe_merges", "q_lm_perplexity",
        "q_ppl_buckets", "q_source_scorecard", "q_bm25_topk", "q_hybrid_rrf",
        "q_train_split", "q_shard_manifest", "q_source_overlap",
        "q_pmi_pairs", "q_len_hist", "q_ngram_novelty", "q_dedup_savings",
        "q_pad_waste", "q_media_motion",
        // Streaming decontamination joins the ladder (round 10): its index
        // cost scales with the corpus and its screen strategy is
        // size-selected, so the Nx row measures both the build slope and
        // which side of the broadcast crossover the corpus lands on. The
        // evolving variant (round 11) rides alongside: same screen, but the
        // index is driver-maintained and appended per batch — the Nx pair
        // prices the rebuild-vs-incremental difference directly. The
        // DISTRIBUTED evolving twin (round 13) is the one gate MEANT for
        // the >64 MB corpora the broadcast twin requires away: its Nx row
        // proves per-batch screen+append cost stays |batch|-bounded while
        // the standing corpus grows — the property that is its thesis.
        "q_stream_decontam", "q_stream_decontam_evolving",
        "q_stream_decontam_evolving_dist"), Seq(DocStreams.stageDocs _)))),
      // Events AND users grow together at the same per-user density — the
      // realistic growth axis for product analytics. Every operator is
      // user-keyed, so the expectation is ~linear wall growth with flat
      // per-user cost.
      "events" -> ((c: Int) => Seq(Section(s"query,events1x_s,events${c}x_s,ratio", Events, rows(
        "q_event_funnel", "q_funnel_windowed", "q_funnel_latency",
        "q_cohort_retention", "q_event_transitions", "q_event_paths",
        "q_gap_fill", "q_anomaly_mad", "q_cusum_shift", "q_attribution",
        "q_rfm_segments", "q_ab_test", "q_stream_anomaly_gate"),
        Seq(EventStreams.stageEvents _)))),
      // Each streaming family on the replica of what it streams: events;
      // documents for the ingest near-dup filter, the LM quality gate and
      // decontamination (index/model and arrival stream both grow, same
      // micro-batch count); embeddings for the vector-ingest gate.
      "streams" -> ((c: Int) => Seq(
        Section(s"query,events1x_s,events${c}x_s,ratio", Events, rows(
          "q_stream_tumbling", "q_stream_static_join", "q_stream_dedup",
          "q_stream_stream_join", "q_stream_session_window",
          "q_stream_file_sink", "q_stream_cdc_apply"), Seq(EventStreams.stageEvents _)),
        Section(s"query,docs1x_s,docs${c}x_s,ratio", Docs, rows(
          "q_stream_ingest_dedup", "q_stream_quality_gate", "q_stream_decontam"),
          Seq(DocStreams.stageDocs _)),
        // Strategy-crossover rows for the decontam gate: BOTH screening
        // strategies at both scales (auto picks broadcast at these corpus
        // sizes — the forced-distributed rows measure the kernel the gate
        // switches to past BroadcastScreenMaxBytes, so the crossover is a
        // measurement, not an assertion).
        Section(s"query,mode,docs1x_s,docs${c}x_s", Docs,
          Seq("broadcast" -> Long.MaxValue, "distributed" -> 0L).map { case (mode, ceiling) =>
            Row(s"q_stream_decontam,$mode", DocStreams.streamDecontamUnder(_, _, ceiling))
          }, Seq(DocStreams.stageDocs _), ratio = false),
        Section(s"query,vecs1x_s,vecs${c}x_s,ratio", Vecs, rows("q_stream_vec_ingest"),
          Seq(VecStreams.stageVecs _)))),
      "vecs" -> ((c: Int) => Seq(Section(s"query,vecs1x_s,vecs${c}x_s,ratio", Vecs, rows(
        "q_ann_topk", "q_ann_lsh", "q_ann_ivf",
        "q_ann_ivf_rescore", "q_rand_projection", "q_vec_quantize",
        "q_cluster_profile", "q_hard_negatives")))))
  }

  /** The one query-ladder runner. Returns CSV lines, the header first and
    * then `key,1x_s,Nx_s[,ratio]` per row. Code is warmed once, by an
    * untimed pass over the rows at 1x. Staging rule: before each scale's
    * pass the section's landing zones are staged, untimed; `Zone.stage`
    * is stage-or-reuse, so a streaming row finds its zone ready and no
    * row's time includes zone staging. Every row is timed with [[time]]. */
  def runLadder(spark: SparkSession, src: String, copies: Int,
      sec: Section): Seq[String] = {
    val dst = sec.corpus.at(spark, src, copies)
    def pass(dir: String): Seq[Double] = {
      sec.zones.foreach(_(spark, dir))
      sec.rows.map { r =>
        try time(spark)(noop(r.frame(spark, dir)))
        catch {
          // The evolving decontam gate hard-requires the broadcast regime
          // (streamDecontamEvolving throws past BroadcastScreenMaxBytes by
          // design rather than silently diverge); at docs 30/100 the
          // staged corpus exceeds the gate, and one operator declining its
          // regime must not abort the other rows mid-ladder. Record a
          // skipped (NaN) row and keep going. Matched by TYPE — a reword
          // of the gate's message must not silently revert this to an
          // abort (its distributed twin runs those corpora instead).
          case _: graft.streaming.BroadcastRegimeExceeded =>
            println(s"[ladder] ${r.key} skipped: corpus exceeds the broadcast gate")
            Double.NaN
        }
      }
    }
    pass(src) // warm
    val small = pass(src)
    val big = pass(dst)
    sec.header +: sec.rows.indices.map { i =>
      val (a, b, key) = (small(i), big(i), sec.rows(i).key)
      if (a.isNaN || b.isNaN) s"$key,skipped,skipped" + (if (sec.ratio) ",-" else "")
      else f"$key,$a%.2f,$b%.2f" + (if (sec.ratio) f",${b / a}%.1f" else "")
    }
  }

  /** Runs query ladder `name` at `copies`x and prints its CSV; the vecs
    * ladder adds its recall ladders. */
  def ladder(spark: SparkSession, src: String, name: String, copies: Int): Unit = {
    ladders(name)(copies).foreach(runLadder(spark, src, copies, _).foreach(println))
    if (name == "vecs") recallLadders(spark, src, Vecs.at(spark, src, copies), copies)
  }

  /** Recall@10 of IVF vs brute force on the vecs ladder's two scales and on
    * two clustered corpora. The measurement that matters: on a
    * uniform-random corpus recall@10 is a function of the SCAN FRACTION
    * nearly independent of N (the 1x and 10x ladders coincide), so a fixed
    * nprobe — a falling fraction of the sqrt(N)-growing cell count —
    * decays recall (measured 0.78 -> 0.44 at 10x), while probesFor's fixed
    * ~30% fraction holds it >= 0.80 at both scales. The embeddings replica
    * rotates dimensions and flips signs per copy: a rotated/sign-flipped
    * random vector is just another random vector (the corpus stays
    * uniform), but it is FAR from its source (expected cosine ~0), so the
    * replica has genuinely distinct vectors — growth, not planted
    * duplicates that would hand ANN its own copies as trivial neighbors. */
  private def recallLadders(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    // Sweep the probe budget and report (nprobe, scan fraction, recall) so
    // the cost of any recall target is measured, not asserted.
    def ladder(tag: String, dir: String, probes: Seq[Int]): Unit = {
      def top(df: DataFrame): Set[(Long, Long)] = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
        df.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= graft.llm.Similarity.TopK)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val truth = top(graft.llm.Similarity.annTopK(spark, dir))
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val k = graft.llm.Similarity.centroidsFor(n)
      probes.foreach { np =>
        val got = top(graft.llm.Similarity.annIvfWith(spark, dir, np))
        graft.TrackedCaches.release()
        spark.catalog.clearCache()
        val r = (truth intersect got).size.toDouble / truth.size
        println(f"$tag,$k,$np,${np.toDouble / k}%.3f,$r%.2f")
      }
    }
    // Each sweep includes the SHIPPED probesFor budget at that scale
    // (14 of 45 cells at 1x; 42 of 141 at 10x, and proportionally at
    // other copy counts) so the config in the library is the config the
    // ladder measures. The Nx sweep is generated around the shipped
    // budget (2/7 .. 12/7 of it — at 10x that reproduces the historical
    // {12,24,36,42,48,72} sweep exactly).
    println("scale,k_cells,nprobe,scan_fraction,ivf_recall_at_10")
    ladder("vecs1x", src, Seq(6, 12, 14, 18, 24))
    val nBig = spark.read.parquet(s"$dst/embeddings.parquet").count()
    val npBig = graft.llm.Similarity.probesFor(
      graft.llm.Similarity.centroidsFor(nBig))
    ladder(s"vecs${copies}x", dst,
      Seq(2, 4, 6, 7, 8, 12).map(m => (npBig * m) / 7).distinct.filter(_ >= 1))
    // CLUSTERED ladder — the uniform corpus above is the adversarial case
    // that sized the shipped ~30% budget; real embeddings cluster. These
    // mixture-of-Gaussians corpora (unit-norm centers, per-dim noise sigma
    // far under the center separation) measure what structure buys: the
    // same integer-exact training concentrates each cluster in few cells,
    // so recall holds at scan fractions the uniform corpus cannot reach.
    // RecallSpec gates the 1x point (recall >= 0.80 at fraction <= 0.10).
    def clusteredDir(nc: Int, pc: Int): String =
      staged(clusteredVecsDir(nc, pc))(buildClusteredVecs(spark, _, nc, pc))
    // k=45 cells at N=2000, k=141 at N=20000; sweeps cover 2-31% of cells
    // including the shipped probesFor point (14 / 42) at each scale.
    ladder("clustered1x", clusteredDir(40, 50), Seq(1, 2, 4, 9, 14))
    ladder("clustered10x", clusteredDir(400, 50), Seq(2, 4, 7, 14, 42))
  }

  /** One step of a standing-index ladder: a timed leg reports
    * `name=<seconds>` in its row; an untimed one (empty name) prepares
    * state outside every timed window. */
  private final case class Leg(name: String, body: () => Unit)
  private def leg(name: String)(body: => Unit): Leg = Leg(name, () => body)
  private def prep(body: => Any): Leg = Leg("", () => { body; () })

  /** Where a standing ladder's legs run: the data dir, the index's base
    * dir, the row's tag and the layout's bucket count (0: the default). */
  private final case class At(spark: SparkSession, dir: String, base: String, tag: String,
      buckets: Int)

  /** The one leg runner: each leg in order, timed with [[time]] (so every
    * leg, timed or not, is followed by the settle), and the CSV row
    * `standing,<tag>,<leg>=<s>,…` of the timed legs. */
  private def runLegs(spark: SparkSession, tag: String, legs: Seq[Leg]): String =
    (Seq("standing", tag) ++ legs.flatMap { l =>
      val dt = time(spark)(l.body())
      if (l.name.isEmpty) None else Some(f"${l.name}=$dt%.2f")
    }).mkString(",")

  /** A standing-index ladder: its replica, the index dir name under
    * `java.io.tmpdir`, the CSV header, its legs, and the layout variants
    * run at Nx (the first also at 1x). */
  private final case class Standing(corpus: Corpus, family: String, base: String,
      header: String, legs: At => Seq[Leg], buckets: Seq[Int] = Seq(0))

  private val standings: Map[String, Standing] = Map(
    "ivf" -> Standing(Vecs, "vecs", "graft_ivf_ladder",
      "standing,scale,build_s,probe_s,append_1pct_s,probe2_s," +
        "probe_5appends_s,compact_s,probe_compacted_s," +
        "delete_1pct_s,probe_deleted_s,compact2_s,probe_drained_s," +
        "rebuild_annivf_s", ivfLegs),
    // The layout knob: the same Nx corpus at 1024 buckets — the short
    // query's pruned fraction drops ~16x; the 5-full-doc set still covers
    // the vocabulary and stays un-prunable by design.
    "bm25" -> Standing(Docs, "docs", "graft_bm25_ladder",
      "standing,scale,buckets,build_s,probe_5full_s,probe_short_s," +
        "delete_1pct_s,probe_short_deleted_s,compact_drain_s," +
        "probe_short_drained_s,rebuild_bm25topk_s", bm25Legs, Seq(64, 1024)),
    "shingle" -> Standing(Docs, "docs", "graft_shingle_ladder",
      "standing,scale,build_s,probe_fullbatch_s,probe_1pct_s," +
        "commit_1pct_s,probe2_1pct_s,delete_1pct_s,probe_deleted_s," +
        "compact_drain_s,probe_drained_s,rebuild_incremental_s", shingleLegs),
    "evodist" -> Standing(Docs, "docs", "graft_evodist_ladder",
      "standing,scale,seed_append_s,screen_s,delete_1pct_s," +
        "screen_deleted_s,compact_drain_s,screen_drained_s", evodistLegs))

  def standingNames: Set[String] = standings.keySet

  /** Standing ladder `name`: a warm run at 1x (discarded), then one row at
    * 1x and one at `copies`x per layout variant. Returns the CSV lines,
    * header first. */
  def standing(spark: SparkSession, src: String, name: String, copies: Int): Seq[String] = {
    val l = standings(name)
    val dst = l.corpus.at(spark, src, copies)
    def run(tag: String, dir: String, buckets: Int): String = {
      val base = graft.streaming.Zone.tmp(l.base)
      Fs.deleteRec(java.nio.file.Paths.get(base))
      val rowTag = if (buckets > 0) s"$tag,b$buckets" else tag
      runLegs(spark, rowTag, l.legs(At(spark, dir, base, rowTag, buckets)))
    }
    run("warm", src, l.buckets.head) // warm code paths; discard
    l.header +: (run(s"${l.family}1x", src, l.buckets.head) +:
      l.buckets.map(run(s"${l.family}${copies}x", dst, _)))
  }

  /** Standing IVF index: (a) the one-time BUILD (train + full-corpus
    * assignment + the cell-partitioned layout write), (b) a PROBE-ONLY
    * query, and (c) the rebuild-every-time q_ann_ivf — the index's thesis
    * is (b) ≪ (c) with the gap WIDENING as the corpus grows, because probe
    * cost is ~|probed cells| (the partition-pruned scan) while rebuild pays
    * training's N·√N kernel plus the corpus assignment pass every call. */
  private def ivfLegs(at: At): Seq[Leg] = {
    import at._
    import graft.llm.AnnIndex
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < graft.llm.Similarity.NumQueries)
    def probe(name: String) = leg(name)(noop(AnnIndex.probe(spark, base, q)))
    // 1% arrival slice j (fresh ids past the corpus max, so disjoint),
    // materialized OUTSIDE the timed window: deriving it is a corpus-scale
    // filter the ingest source pays, not the index mutation a leg
    // measures.
    lazy val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    def slice(j: Int): DataFrame = emb.filter(col("vec_id") % 100 === 7 + j)
      .select((col("vec_id") + (j + 1) * (maxId + 1)).as("vec_id"),
        col("embedding"), col("label"))
      .localCheckpoint()
    lazy val arrivals = slice(0)
    // Delete leg (round 15): purge a 1% corpus slice by id — the resolve
    // is one column-pruned (vec_id, cell) scan, so the leg's ratio
    // measures exactly the term that grows with the corpus — then probe
    // the tombstone-anti-join regime, drain via compaction, and probe the
    // physically-purged layout.
    lazy val doomed = emb.filter(col("vec_id") % 100 === 13)
      .select("vec_id").localCheckpoint()
    Seq(
      leg("build")(AnnIndex.buildIfStale(spark, dir, base)),
      probe("probe"),
      // Append leg: the arrival slice assigned to the FROZEN centroids and
      // appended into its cells — must be batch-scale — then the same
      // query set probed against the grown index.
      prep(arrivals),
      leg("append")(AnnIndex.append(spark, base, arrivals)),
      probe("probe2"),
      // The compaction case: four MORE 1% appends pile a file per touched
      // cell per append onto the layout; probe the accumulated state,
      // compact, probe again — the delta between those two probes is the
      // file-count tax compaction recovers.
      prep((1 to 4).foreach(j => AnnIndex.append(spark, base, slice(j)))),
      probe("probe_5appends"),
      leg("compact")(AnnIndex.compact(spark, base)),
      probe("probe_compacted"),
      prep(doomed),
      leg("delete")(AnnIndex.delete(spark, base, doomed)),
      probe("probe_deleted"),
      leg("compact2")(AnnIndex.compact(spark, base)),
      probe("probe_drained"),
      leg("rebuild")(noop(SparkEntry.queries("q_ann_ivf")(spark, dir))))
  }

  /** Standing BM25 index — the retrieval sibling of [[ivfLegs]]: build-once
    * (tokenize + impact postings + bucketed layout) vs probe-only ranked
    * top-k vs the rebuild-every-time q_bm25_topk. The probe's standing
    * scans partition-prune to the query's term buckets, so probe cost
    * tracks the QUERY's posting lists while rebuild pays the corpus
    * tokenize + index build every call. */
  private def bm25Legs(at: At): Seq[Leg] = {
    import at._
    import graft.llm.Retrieval
    val docs = Tables.documents(spark, dir)
    val q = docs.select("doc_id", "text").filter(col("doc_id") < Retrieval.NumQueries)
    // The serving probe the index exists for: ONE short query (the first
    // 8 distinct terms of doc 0 — deterministic), whose bucket set is a
    // strict subset of the layout, vs the shipped q_bm25_standing query
    // set (5 FULL docs, ~500 distinct terms — a vocabulary that covers
    // every bucket, so pruning cannot help it; same lesson as the
    // evolving gate's route census at bench shape). Built once, outside
    // the timed probes.
    lazy val short = {
      val text = docs.filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
      import spark.implicits._
      Seq((0L, text.split(" ").distinct.take(8).mkString(" "))).toDF("doc_id", "text")
    }
    def probe(name: String, qs: => DataFrame) = leg(name)(noop(Retrieval.bm25Probe(spark, base, qs)))
    // Delete leg (round 16): a ~1% takedown by id — the BM25 delete is a
    // pure doc-arity live-docs mask (no resolve pass, no deltas: frozen
    // stats), so the delete itself must be takedown-scale flat across the
    // ladder; the corpus-scale terms are the undrained probes' broadcast
    // anti-join over their pruned posting slices and the compaction's
    // full per-bucket rewrite.
    lazy val doomed = docs.filter(col("doc_id") % 100 === 1).select("doc_id").localCheckpoint()
    Seq(
      leg("build")(Retrieval.bm25BuildIfStale(spark, dir, base, buckets)),
      probe("probe5full", q),
      prep(short),
      probe("probeshort", short),
      prep(doomed),
      leg("delete")(Retrieval.bm25Delete(spark, base, doomed)),
      probe("probeshort_deleted", short),
      leg("compact")(Retrieval.bm25Compact(spark, base)),
      probe("probeshort_drained", short),
      leg("rebuild")(noop(SparkEntry.queries("q_bm25_topk")(spark, dir))))
  }

  /** Standing shingle index — the dedup sibling of [[bm25Legs]]: build-once
    * (corpus shingle postings + df + standing sizes) vs the probe-only
    * batch screen vs the rebuild-every-time q_dedup_incremental, whose
    * judge-decomposed 100× profile is DOMINATED by the corpus-linear
    * capped-index build the standing form amortizes away. */
  private def shingleLegs(at: At): Seq[Leg] = {
    import at._
    import graft.llm.Dedup
    val fullBatch = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    // The serving-shape batch: a SMALL arrival slice (1% of the batch
    // ids) — per-batch cost must track the BATCH, not the corpus.
    val smallBatch = fullBatch.filter(col("doc_id") % 500 === 0)
    def probe(name: String, batch: DataFrame) =
      leg(name)(noop(Dedup.shingleProbe(spark, base, batch)))
    // Delete leg (round 16): a takedown of a ~1% corpus slice, restricted
    // OUTSIDE the timed window to the population the delete contract
    // admits — docs with live postings (an all-over-cap doc is refused as
    // unprovable) and docs whose removal would not bring any shingle back
    // under the df cap (the cap-resurrection refusal; exclusion is one
    // monotone pass: removing docs only lowers per-shingle delete counts,
    // so no new crossing can appear). The exclusions are LOGGED — a ladder
    // leg that silently shrank its takedown would overstate nothing but
    // still misreport coverage. The shingle delete itself carries no
    // corpus-linear resolve term (it re-shingles only the handed text);
    // the corpus term this leg watches is the vocabulary-bucket-pruned
    // dfc/postings reads, which degenerate toward full scans as the
    // takedown's vocabulary covers all buckets.
    lazy val doomed = {
      val cand0 = Tables.documents(spark, dir)
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 100 === 1)
        .select("doc_id", "text")
      val provable = cand0.join(
        spark.read.parquet(s"$base/n0").select("doc_id").distinct(),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val candSh = Dedup.shinglesOf(provable).localCheckpoint()
      val ddel = candSh.groupBy("sh").agg(count(lit(1)).as("ddel"))
      val df0 = spark.read.parquet(s"$base/dfc")
        .groupBy("sh").agg(sum("dfc").as("df0"))
      val crossingSh = ddel.join(df0, Seq("sh"))
        .filter(col("df0") > Dedup.ShingleDfCap &&
          col("df0") - col("ddel") <= Dedup.ShingleDfCap)
        .select("sh")
      val kept = provable.join(
        candSh.join(crossingSh, Seq("sh"), "left_semi").select("doc_id").distinct(),
        Seq("doc_id"), "left_anti").localCheckpoint()
      println(s"standing,$tag,delete_slice: candidates=${cand0.count()} " +
        s"provable=${provable.count()} kept=${kept.count()}")
      kept
    }
    Seq(
      leg("build")(Dedup.shingleBuildIfStale(spark, dir, base)),
      probe("probefull", fullBatch),
      probe("probesmall", smallBatch),
      // The commit leg: accept the small batch's survivors into the
      // standing state (timing includes the survivor probe — that
      // probe+commit pair IS the per-arrival serving cost), then probe a
      // SECOND arrival slice against the grown index. Both must track the
      // batch, not the corpus.
      leg("commit")(Dedup.shingleCommit(spark, base, smallBatch.join(
        Dedup.shingleProbe(spark, base, smallBatch).filter(!col("is_dup"))
          .select("doc_id"), Seq("doc_id"), "left_semi"))),
      probe("probe2", fullBatch.filter(col("doc_id") % 500 === 250)),
      prep(doomed),
      leg("delete")(Dedup.shingleDelete(spark, base, doomed)),
      probe("probe_deleted", smallBatch),
      leg("compact")(Dedup.shingleCompact(spark, base)),
      probe("probe_drained", smallBatch),
      leg("rebuild")(noop(SparkEntry.queries("q_dedup_incremental")(spark, dir))))
  }

  /** Evolving-decontam-index delete lifecycle — the distributed evolving
    * index's sibling of [[ivfLegs]]' delete legs: seed-append (this
    * index's build), screen a fixed small arrival batch, DELETE a ~1% seed
    * slice BY ID (the negative df/stats deltas derive from the index's own
    * forward rows — no text handed, no corpus resolve term), screen the
    * tombstone+delta regime, drain via compaction, screen the purged
    * layout. The corpus-scale terms to watch: the screen's pruned posting
    * reads (batch-vocabulary buckets, whose per-bucket size grows with the
    * corpus) and the compaction rewrite. */
  private def evodistLegs(at: At): Seq[Leg] = {
    import at._
    graft.plans.TopKPerKey.ensureRegistered(spark)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    // Fixed serving-shape arrival batch (~0.3% of the held-out pool) —
    // the same screen kernel the streaming twin pays per micro-batch.
    lazy val batch = docs.filter(col("doc_id") % 3 =!= 0 &&
      pmod(xxhash64(col("doc_id")), lit(300L)) === 0L).localCheckpoint()
    // ids ≡ 0 (mod 3) ∧ ≡ 1 (mod 100) — a ~1% slice of the seed, by CRT
    // one residue class mod 300.
    lazy val doomed = seed.filter(col("doc_id") % 100 === 1).select("doc_id").localCheckpoint()
    val inc = new graft.llm.Retrieval.EvolvingDistIndex(spark, base)
    def screen(name: String) = leg(name)(noop(inc.screen(batch)))
    Seq(
      prep(batch),
      leg("seed")(inc.append(seed)),
      screen("screen"),
      prep(doomed),
      leg("delete")(inc.delete(doomed)),
      screen("screen_deleted"),
      leg("compact")(inc.compact()),
      screen("screen_drained"))
  }

  /** Parameter-stamped path of the synthetic clustered corpus (independent
    * of the data dir — g1 is the generator version; bump it when
    * [[buildClusteredVecs]] changes so a stale cached corpus cannot skew
    * the ladder). Shared with RecallSpec's clustered gate. */
  private[graft] def clusteredVecsDir(nClusters: Int, perCluster: Int): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_vecsclu_g1_c${nClusters}_p$perCluster"

  /** Mixture-of-Gaussians embedding corpus: `nClusters` unit-norm centers,
    * `perCluster` members each = center + per-dim N(0, 0.05^2) noise. With
    * 64 dims the noise vector's norm is ~0.4, so intra-cluster cosine sits
    * ~0.86 while inter-cluster cosine is ~0 (random unit centers) — tight,
    * well-separated clusters, the geometry real text embeddings exhibit.
    * vec_id v belongs to cluster v mod nClusters, so the query set
    * (vec_id < NumQueries) spans NumQueries distinct clusters. All
    * randomness is Box-Muller over murmur3-hash uniforms keyed by
    * (cluster|vec_id, dim, salt): deterministic, partitioning-independent,
    * and generated distributed (one map pass; centers broadcast). */
  private[graft] def buildClusteredVecs(spark: SparkSession, dst: String,
      nClusters: Int, perCluster: Int): Unit = {
    // Box-Muller N(0,1) from two murmur3 uniforms in (0,1); +0.5 keeps the
    // log argument strictly positive.
    def gauss(k1: String, salt: Int): String =
      s"""sqrt(-2.0d * ln((pmod(hash($k1, j, $salt), 1000000) + 0.5d) / 1000000.0d))
          * cos(${2 * math.Pi}d * (pmod(hash($k1, j, ${salt + 1}), 1000000) + 0.5d) / 1000000.0d)"""
    val centers = spark.range(0, nClusters).toDF("cl")
      .withColumn("craw", expr(s"transform(sequence(0, 63), j -> ${gauss("cl", 11)})"))
      .withColumn("cnorm", expr("sqrt(aggregate(craw, 0.0d, (a, x) -> a + x * x))"))
      .select(col("cl"), expr("transform(craw, x -> x / cnorm)").as("center"))
    spark.range(0, nClusters.toLong * perCluster).toDF("vec_id")
      .withColumn("cl", pmod(col("vec_id"), lit(nClusters.toLong)))
      .join(broadcast(centers), "cl")
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, 63),
              j -> CAST(center[j] + 0.05d * (${gauss("vec_id", 31)}) AS FLOAT))""")
        .as("embedding"))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** Key offset stride per copy. */
  private val Stride = 1000000L

  /** `df` and `copies - 1` more copies, copy i (≥ 1) transformed by
    * `shift(df, i)`, unioned by name. */
  private def replicate(df: DataFrame, copies: Int)(shift: (DataFrame, Int) => DataFrame)
      : DataFrame =
    (df +: (1 until copies).map(shift(df, _))).reduce(_ unionByName _)

  /** embeddings replicated: copy i rotates dimensions by i and flips signs
    * by hash(copy, dim) — deterministic, uniform-preserving, and far from
    * the source vector (see [[recallLadders]]). */
  private def buildVecs(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit =
    replicate(spark.read.parquet(s"$src/embeddings.parquet"), copies) { (emb, i) =>
      emb.withColumn("vec_id", col("vec_id") + i * Stride)
        .withColumn("embedding", expr(
          s"""transform(sequence(0, size(embedding) - 1),
                j -> CASE WHEN pmod(hash($i, j), 2) = 0
                          THEN embedding[pmod(j + $i, size(embedding))]
                          ELSE -embedding[pmod(j + $i, size(embedding))] END)"""))
    }.repartition(32).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

  /** events (+ customers for the stream-static join) replicated with
    * consistent key offsets: `copies`x events in the same time span. */
  private def buildStreams(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    // Read through Tables so ts is a TIMESTAMP (written as micros).
    replicate(Tables.events(spark, src), copies)((df, i) => df
      .withColumn("event_id", col("event_id") + i * Stride)
      .withColumn("user_id", col("user_id") + i * Stride))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    replicate(spark.read.parquet(s"$src/customer.parquet"), copies)((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + i * Stride))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
  }

  /** documents replicated with copy-keyed token substitution — see the
    * object scaladoc for why this preserves cluster structure. */
  private def buildDocs(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit =
    replicate(spark.read.parquet(s"$src/documents.parquet"), copies)((docs, i) => docs
      .withColumn("doc_id", col("doc_id") + i * Stride)
      .withColumn("text", expr(
        s"""array_join(transform(split(text, ' '), t ->
              CASE WHEN pmod(hash(t, $i), 5) = 0 THEN concat(t, '~$i')
                   ELSE t END), ' ')"""))
      .withColumn("n_chars", length(col("text"))))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/documents.parquet")

  /** The relational replica: [[buildStreams]]' events and customers,
    * orders and line items on the same key offsets, and the other tables
    * copied once. */
  private def build(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    buildStreams(spark, src, dst, copies)
    replicate(spark.read.parquet(s"$src/orders.parquet"), copies)((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + i * Stride)
      .withColumn("o_custkey", col("o_custkey") + i * Stride))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicate(spark.read.parquet(s"$src/lineitem.parquet"), copies)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * Stride))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    Seq("nation", "region", "part", "supplier", "documents", "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
  }

  private def parquetFileCount(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return 0L
    val st = java.nio.file.Files.walk(p)
    try st.filter(q => q.toString.endsWith(".parquet") &&
      java.nio.file.Files.isRegularFile(q)).count()
    finally st.close()
  }

  /** One soak driver for all three standing families — the steady state
    * the 2-batch oracle zones cannot show: `nBatches` probe→mutate
    * micro-batches over a growing standing index, with compaction
    * triggered MID-STREAM by the file-count pressure the mutations
    * actually create (not by a manual call at a chosen moment). Prints
    * one row per batch and enforces the two steady-state claims:
    * (a) probe results are IDENTICAL across a compaction (probed before
    * and after on the same batch), and (b) per-batch wall stays FLAT —
    * the late-stream median must not exceed 2.5x the early-stream
    * median (generous for host noise; a file-count or corpus-size slope
    * would blow through it). One implementation so a tuning change to
    * the trigger accounting or the flatness bar cannot silently diverge
    * the three soaks' acceptance criteria. Every step is timed with
    * [[time]]; the index dir `base` is deleted at the end. */
  private def runSoak(spark: SparkSession, nBatches: Int, name: String,
      base: String, filesDir: String, fileTrigger: Long,
      probeLabel: String, mutateLabel: String,
      batchOf: Int => DataFrame,
      probe: DataFrame => Seq[String],
      mutate: DataFrame => Unit,
      compact: () => Unit): Unit = try {
    val walls = Array.ofDim[Double](nBatches)
    var compactions = 0
    for (b <- 0 until nBatches) {
      val batch = batchOf(b)
      var v1, v2 = Seq.empty[String]
      val probeS = time(spark) { v1 = probe(batch) }
      val filesBefore = parquetFileCount(filesDir)
      var compactS = 0.0
      if (filesBefore > fileTrigger) {
        compactS = time(spark)(compact())
        compactions += 1
        time(spark) { v2 = probe(batch) }
        require(v1 == v2,
          s"batch $b: $name probe results changed across compaction " +
            s"(${v1.size} vs ${v2.size} rows)")
      }
      val mutateS = time(spark)(mutate(batch))
      walls(b) = probeS + mutateS
      println(f"soak batch $b%2d: arrivals=${batch.count()}%4d " +
        f"$probeLabel=$probeS%6.2f $mutateLabel=$mutateS%5.2f " +
        f"files=$filesBefore%4d" +
        (if (compactS > 0) f" COMPACT=$compactS%5.2f -> " +
          f"${parquetFileCount(filesDir)} files" else ""))
    }
    val early = median(walls.take(5).toSeq)
    val late = median(walls.takeRight(5).toSeq)
    println(f"soak $name summary: batches=$nBatches " +
      f"compactions=$compactions earlyMedian=$early%.2f " +
      f"lateMedian=$late%.2f ratio=${late / early}%.2f")
    require(compactions > 0,
      "soak never triggered a compaction — lower the file trigger")
    require(late <= 2.5 * early,
      f"per-batch wall is NOT flat: late median $late%.2f vs early $early%.2f")
  } finally Fs.deleteRec(java.nio.file.Paths.get(base))

  private val soaks: Map[String, (SparkSession, String, Int) => Unit] =
    Map("evodist" -> soakEvodist _, "shingle" -> soakShingle _, "ann" -> soakAnn _)

  def soakNames: Set[String] = soaks.keySet

  /** Runs soak `name` over `nBatches` arrival batches of the data dir. */
  def soak(spark: SparkSession, src: String, name: String, nBatches: Int): Unit =
    soaks(name)(spark, src, nBatches)

  /** Distributed evolving decontam gate soak: screen→append per batch.
    * Trigger 192 at ~22 files per append (the batch vocab spans ~22 of
    * the 64 buckets) fires every ~6 batches after a reset. */
  private def soakEvodist(spark: SparkSession, src: String, nBatches: Int): Unit = {
    val docs = Tables.documents(spark, src).select("doc_id", "text")
      .localCheckpoint()
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val arrivals = docs.filter(col("doc_id") % 3 =!= 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_evodist").toString
    val inc = new graft.llm.Retrieval.EvolvingDistIndex(spark, base)
    val tSeed = time(spark)(inc.append(seed))
    println(f"soak seed: ${seed.count()} docs, $tSeed%.2f s")
    graft.plans.TopKPerKey.ensureRegistered(spark)
    // Interleaved DELETE leg (round 15): each batch appends its arrivals
    // then deletes a deterministic ~1/8 slice of the PREVIOUS batch's
    // (appended, never re-deleted — batches are disjoint), so every later
    // screen runs the tombstone-anti-join + negative-delta regime and
    // every file-pressure compaction fires with live tombstones; the
    // runSoak screen-identity require then covers masked vs
    // physically-drained at each firing.
    var prevBatch: DataFrame = null
    runSoak(spark, nBatches, "evodist", base, s"$base/postings", 192L,
      "screen", "append+del",
      b => arrivals
        .filter(pmod(xxhash64(col("doc_id")), lit(nBatches.toLong)) === b)
        .localCheckpoint(),
      batch => inc.screen(batch).collect().map(_.toString).sorted.toSeq,
      batch => {
        inc.append(batch)
        if (prevBatch != null)
          inc.delete(prevBatch.filter(col("doc_id") % 8 === 3)
            .select("doc_id"))
        prevBatch = batch
      },
      () => inc.compact())
  }

  /** Standing shingle index soak: probe→commit-survivors per batch,
    * shingleCompact under marker-suspend. The layout is pinned to 64
    * buckets (sf0.1 would size 4): 64 new files per commit (shingle vocab
    * spans all buckets) → trigger 192 fires every ~3. */
  private def soakShingle(spark: SparkSession, src: String, nBatches: Int): Unit = {
    import graft.llm.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_shingle").toString
    val tBuild = time(spark)(Dedup.shingleBuildIfStale(spark, src, base, 64))
    println(f"soak dedup build: $tBuild%.2f s")
    // The build's standing corpus is doc_id % 5 =!= 0; arrivals come from
    // the held-out fifth, split into nBatches by id hash.
    val pool = Tables.documents(spark, src)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
      .localCheckpoint()
    // Commit needs the batch's SURVIVORS — derived from the rows of the
    // probe the harness just timed (memoized here), never a second probe.
    // When a compaction intervenes the memo holds the post-compaction
    // probe's rows, which the identity require has already proven equal.
    var lastProbe: Array[org.apache.spark.sql.Row] = Array.empty
    // Interleaved DELETE leg (round 15): each batch tombstones a
    // deterministic ~1/4 slice of the PREVIOUS batch's committed
    // survivors — steady commit+delete traffic, so compactions fire
    // with live tombstones and runSoak's probe-identity require covers
    // the tombstone-anti-join vs physically-dropped regimes. Survivors
    // are the one population the delete contract admits: committed
    // (live postings exist), never re-deleted (batches are disjoint),
    // and this corpus sits far under the df cap (max df 21 vs 50), so
    // the cap-resurrection guard cannot fire.
    var prevSurvivors: DataFrame = null
    runSoak(spark, nBatches, "dedup", base, s"$base/postings", 192L,
      "probe", "commit+del",
      b => pool
        .filter(pmod(xxhash64(col("doc_id")), lit(nBatches.toLong)) === b)
        .localCheckpoint(),
      batch => {
        lastProbe = Dedup.shingleProbe(spark, base, batch).collect()
        lastProbe.map(_.toString).sorted.toSeq
      },
      batch => {
        val ids = lastProbe.filter(!_.getBoolean(1)).map(_.getLong(0)).toSeq
        val accepted = batch.filter(col("doc_id").isin(ids: _*))
          .localCheckpoint()
        Dedup.shingleCommit(spark, base, accepted)
        if (prevSurvivors != null)
          Dedup.shingleDelete(spark, base,
            prevSurvivors.filter(col("doc_id") % 4 === 2))
        prevSurvivors = accepted
      },
      () => Dedup.shingleCompact(spark, base))
  }

  /** Standing IVF index soak: frozen-centroid appends per batch,
    * AnnIndex.compact under marker-suspend. ~24 files per append (~√N
    * cells at this corpus, most touched per batch) → trigger 192 fires
    * every ~7 batches after a reset. */
  private def soakAnn(spark: SparkSession, src: String, nBatches: Int): Unit = {
    import graft.llm.{AnnIndex, StandingIndex}
    val emb = Tables.embeddings(spark, src).select("vec_id", "embedding")
      .localCheckpoint()
    val seed = emb.filter(col("vec_id") % 3 === 0)
    val pool = emb.filter(col("vec_id") % 3 =!= 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_ann").toString
    var n = 0L
    val tBuild = time(spark) {
      n = AnnIndex.buildFrom(spark, seed, base)
      // The probe budget rides the marker's ` n=` tail (buildIfStale's
      // protocol); the soak builds from a seed frame, so it stamps its own.
      StandingIndex.commit(base, s"dir=soak sig=seed n=$n")
    }
    println(f"soak ann build: $n vectors, $tBuild%.2f s")
    runSoak(spark, nBatches, "ann", base, s"$base/cells", 192L,
      "probe", "append",
      b => pool
        .filter(pmod(xxhash64(col("vec_id")), lit(nBatches.toLong)) === b)
        .localCheckpoint(),
      batch => AnnIndex.probe(spark, base, batch).collect()
        .map(_.toString).sorted.toSeq,
      batch => {
        AnnIndex.append(spark, base, batch)
        // Interleaved DELETE leg: purge a deterministic ~1/8 slice of
        // this batch's arrivals right after they land, so every later
        // probe runs the tombstone-anti-join regime and every
        // file-pressure compaction fires with LIVE tombstones — the
        // runSoak probe-identity require then proves the anti-join
        // answer equals the physically-dropped answer at each firing,
        // and the steady-state flatness bar prices the per-batch
        // delete (a column-pruned (vec_id, cell) resolve + a
        // tombstone append) alongside the append it rides with.
        AnnIndex.delete(spark, base,
          batch.filter(col("vec_id") % 8 === 1).select("vec_id"))
      },
      () => AnnIndex.compact(spark, base))
  }
}
