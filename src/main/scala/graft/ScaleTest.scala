package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10x scale experiment (not part of the driver contract): replicate the
  * sf0.1 relational tables to ~sf1 in /tmp with consistent key offsets
  * (customer/orders/events keys shift together, so per-user and per-customer
  * densities stay constant — the realistic growth mode), then time a
  * representative operator subset at both scales. Documents/embeddings stay
  * at natural size (replicating them would plant artificial duplicate
  * clusters and measure a different problem).
  *
  * Every mode builds the factory session ([[GraftSession.build]]):
  * `SPARK_GRAFT_CPUS` cores, default 4.
  *
  * Usage: runMain graft.ScaleTest [copies]        (default 10)
  *        runMain graft.ScaleTest docs [copies]   (dedup-family Nx experiment; SCALING.md carries 10x + 30x)
  *        runMain graft.ScaleTest streams         (streaming-family 10x experiment)
  *        runMain graft.ScaleTest vecs            (vector-family 10x + clustered recall ladders)
  *
  * The `streams` mode replicates events (and customers, for the stream-static
  * join) 10x with consistent key offsets — 10x the events in the SAME time
  * span, i.e. 10x stream throughput at constant watermark lag: state-store
  * row counts and micro-batch input sizes grow 10x while the micro-batch
  * COUNT stays fixed (FilesPerTrigger over the same chunk layout), isolating
  * how per-event state cost scales from trigger-scheduling fixed cost. Each
  * scale's landing zone is staged BEFORE its timing loop so ingest is not
  * billed to the first query.
  *
  * The `docs` mode replicates documents 10x with copy-keyed token
  * substitution (~20% of token TYPES per copy rewritten to a copy-local
  * form). Substituting by token identity — not position — preserves every
  * within-copy near-dup pair bit-for-bit (both docs of a pair share tokens,
  * so they share substitutions and their Jaccard is unchanged), while
  * cross-copy similarity collapses (a 3-gram shingle survives in two copies
  * only if all 3 tokens escaped substitution in both: ~0.64^3 ≈ 0.26 shared
  * shingles → Jaccard ≈ 0.15, far under the 0.5 pairing threshold). The 10x
  * corpus therefore has 10x the docs, 10x the clusters, and the SAME cluster
  * size distribution — growth, not artificial duplication.
  */
object ScaleTest {

  /** Fingerprint of the source corpus, baked into every staged-corpus path
    * alongside the generator parameters: when the driver regenerates
    * /root/testdata the staged 10× corpora are rebuilt instead of silently
    * reused, so a ratio can never compare a NEW 1× corpus against a 10×
    * replica of the OLD one. Hashes per-file (name, size, mtime) — a
    * regenerated corpus that happens to total the same byte count (the
    * summed-length stamp's blind spot) still changes mtimes and therefore
    * the stamp. */
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

  /** Staged-corpus path for `prefix` (generator params included) + the
    * current source stamp. Staged siblings carrying the SAME parameter
    * prefix but a STALE stamp are corpora of a regenerated-away source:
    * delete them here — each regeneration otherwise strands multi-GB
    * orphans in tmpdir forever. */
  private def stagedDir(prefix: String, src: String): String = {
    val stamp = corpusStamp(src)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val all = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
    all.filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.getName != s"$prefix$stamp")
      .foreach { stale =>
        // Streaming landing zones embed the staged-corpus dir name; drop a
        // stale corpus's zones with it or they orphan the same way.
        all.filter(z => z.isDirectory && z != stale &&
          z.getName.contains(stale.getName)).foreach(deleteRec)
        deleteRec(stale)
      }
    s"$tmp/$prefix$stamp"
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    // Every ladder/soak report leads with the commit it measured — a
    // published SCALING.md band without its measuring commit is the
    // claim-vs-HEAD gap class behind the r13 and r15 adjudications.
    println(s"[scale] measured-at commit=${Bench.gitHead()} " +
      f"load=${java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    if (args.headOption.contains("docs"))
      // Optional third arg: comma-separated query names — a targeted
      // subset for deep-scale probes (e.g. `docs 100 q_ngram_novelty,...`
      // runs only the named rows; the evolving decontam gate is
      // broadcast-regime-only and must be left out of >64 MB corpora).
      return docsMain(args.drop(1).headOption.map(_.toInt).getOrElse(10),
        args.drop(2).headOption.map(_.split(',').toSet))
    if (args.headOption.contains("streams")) return streamsMain()
    if (args.headOption.contains("vecs"))
      return vecsMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("vecstanding"))
      return vecStandingMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("bm25standing"))
      return bm25StandingMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("dedupstanding"))
      return dedupStandingMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("evostanding"))
      return evoStandingMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("events"))
      return eventsMain(args.drop(1).headOption.map(_.toInt).getOrElse(10))
    if (args.headOption.contains("soak"))
      return soakMain(args.drop(1).headOption.map(_.toInt).getOrElse(20))
    if (args.headOption.contains("soakdedup"))
      return soakDedupMain(args.drop(1).headOption.map(_.toInt).getOrElse(20))
    if (args.headOption.contains("soakann"))
      return soakAnnMain(args.drop(1).headOption.map(_.toInt).getOrElse(20))
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val spark = GraftSession.build()

    val src = "/root/testdata/sf0.1"
    // The corpus directory embeds the generator parameters (copy count +
    // key stride): changing either forces a rebuild instead of silently
    // reusing a corpus built under the old scheme.
    val dst =
      stagedDir(s"graft_sf1_c${copies}_s1000000_", src)

    if (!new java.io.File(s"$dst/_built").exists()) {
      build(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }

    val subset = Seq(
      "q1_agg", "q_fact_songplays", "q_groupby_count", "q_window_running",
      "q_sessionize", "q_salted_join", "q_topk", "q_join_left",
      "q_tumbling_window", "q_asof_join", "q_pagerank", "q_bloom_join",
      "q_approx_quantile", "q5_shape", "q_merge_upsert",
      "q_window_range_frame", "q_asof_native",
      "q_table_stats", "q_equidepth_hist",
      "q_basket_pairs", "q_incr_agg", "q_dpp_join", "q_triangle_count",
      "q_reach_bfs", "q_reach_bfs_dist", "q_variant_extract", "q_sql_udf",
      "q_collation")

    // Drain builder caches between queries like every other family's
    // ladder (and Bench) does: without it, cached projections from the
    // earlier queries (equidepth's bucketed orders, pagerank's edge
    // persists, triangle's co-supply projection — multi-million-row at
    // 30x) pile up across the 28-query big pass and the later rows time
    // GC/eviction churn instead of their plans. Measured at 30x:
    // q_asof_native read 9.61 s in the polluted JVM vs 0.64 s isolated,
    // q_table_stats 10.19 vs 1.16, q_window_running 19.63 vs 5.67.
    def time(dir: String): Map[String, Double] =
      subset.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        TrackedCaches.release()
        spark.catalog.clearCache()
        // Post-query GC hygiene outside the timed window (docsMain's 100x
        // lesson, third family it bit): releasing the caches only queues
        // them for the ContextCleaner, and at 100x the un-reaped debris of
        // a 60M-row neighbor inflated q_groupby_count to 23.4 s vs 3.45
        // hygienic (1.1 isolated-warm) and q_join_left 10.6 vs 3.15.
        System.gc()
        Thread.sleep(500)
        name -> dt
      }.toMap

    time(src) // warm both code paths
    val small = time(src)
    val big = time(dst)
    println("query,sf0.1_s,sf1_s,ratio")
    subset.foreach { q =>
      println(f"$q,${small(q)}%.2f,${big(q)}%.2f,${big(q) / small(q)}%.1f")
    }
    spark.stop()
  }

  /** Dedup/curation-family scale experiment at `copies`x documents (10 by
    * default; `runMain graft.ScaleTest docs 30` runs the 30x ladder —
    * 150k docs, still far under this host's memory, and the point where a
    * super-linear candidate generator would visibly bend). */
  private def docsMain(copies: Int, only: Option[Set[String]] = None): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    // Parameter-stamped path (copies, substitution mod, doc-id stride):
    // a change to buildDocs must bump this suffix so a stale cached corpus
    // can't skew the reported ratios.
    val dst =
      stagedDir(s"graft_docs${copies}x_c${copies}_m5_d1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildDocs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    val subset = Seq(
      "q_dedup_exact", "q_dedup_fingerprint", "q_dedup_minhash",
      "q_dedup_simhash", "q_winnow_fps", "q_dedup_winnow",
      "q_dedup_ngram_jaccard", "q_containment", "q_dedup_clusters",
      "q_dedup_incremental",
      "q_heavy_hitters", "q_curation_funnel",
      "q_seq_pack", "q_doc_chunks", "q_cdc_chunks", "q_cdc_shared",
      "q_mixture_rebalance", "q_dup_ngram_fraction", "q_boilerplate_scrub", "q_dedup_canonical",
      "q_bpe_merges", "q_lm_perplexity",
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
      "q_stream_decontam_evolving_dist")
      .filter(q => only.forall(_.contains(q)))
    require(subset.nonEmpty, "query filter matched nothing in the docs subset")
    def time(dir: String): Map[String, Double] =
      subset.map { name =>
        val t0 = System.nanoTime()
        val dt =
          try {
            SparkEntry.queries(name)(spark, dir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            // The evolving decontam gate hard-requires the broadcast regime
            // (streamDecontamEvolving throws past BroadcastScreenMaxBytes by
            // design rather than silently diverge); at docs 30/100 the
            // staged corpus exceeds the gate, and one operator declining its
            // regime must not abort the other rows mid-ladder. Record a
            // skipped (NaN) row and keep going. Matched by TYPE — a reword
            // of the gate's message must not silently revert this to an
            // abort (its distributed twin runs those corpora instead).
            case _: graft.streaming.BroadcastRegimeExceeded =>
              println(s"[ladder] $name skipped: corpus exceeds the broadcast gate")
              Double.NaN
          }
        TrackedCaches.release()
        spark.catalog.clearCache()
        // Post-query hygiene OUTSIDE the timed window: a deep-scale
        // neighbor's spill/broadcast debris (shuffle files on tmpfs,
        // unreaped broadcast blocks, an expanded fragmented heap) is
        // reaped by the ContextCleaner only after the owning refs are
        // GC'd, and at 100x that residue inflated the NEXT query 3-6x
        // (q_dedup_incremental: 82 s after q_containment's spills vs
        // 12.6-27 s isolated in a fresh JVM). An explicit GC lets the
        // cleaner run now, so each row times its own plan — the
        // per-executor-fresh-state a real cluster's dynamic allocation
        // gives between stages.
        System.gc()
        Thread.sleep(500)
        name -> dt
      }.toMap
    time(src) // warm code paths
    val small = time(src)
    val big = time(dst)
    println(s"query,docs1x_s,docs${copies}x_s,ratio")
    subset.foreach { q =>
      if (small(q).isNaN || big(q).isNaN) println(s"$q,skipped,skipped,-")
      else println(f"$q,${small(q)}%.2f,${big(q)}%.2f,${big(q) / small(q)}%.1f")
    }
    spark.stop()
  }

  /** Event-analytics-family 10x experiment: the streams-mode corpus (10x
    * events AND 10x users at the same per-user density — the realistic
    * growth axis for product analytics) timed over the funnel / cohort /
    * transition / gap-fill / MAD / RFM family plus the streaming anomaly
    * gate. Every operator is user-keyed, so the expectation is ~linear
    * wall growth with flat per-user cost. */
  private def eventsMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    // Same replicated corpus (and stamp discipline) as the streams mode;
    // `runMain graft.ScaleTest events 30` runs the 30x ladder (30M events,
    // the point where a super-linear per-user kernel would visibly bend).
    val dst = stagedDir(s"graft_events${copies}x_c${copies}_s1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildStreams(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    val subset = Seq(
      "q_event_funnel", "q_funnel_windowed", "q_funnel_latency",
      "q_cohort_retention", "q_event_transitions", "q_event_paths",
      "q_gap_fill", "q_anomaly_mad", "q_cusum_shift", "q_attribution",
      "q_rfm_segments", "q_ab_test", "q_stream_anomaly_gate")
    def time(dir: String): Map[String, Double] =
      subset.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        TrackedCaches.release()
        spark.catalog.clearCache()
        name -> dt
      }.toMap
    graft.streaming.EventStreams.stageEvents(spark, src)
    time(src) // warm
    val small = time(src)
    graft.streaming.EventStreams.stageEvents(spark, dst)
    time(dst) // stage + warm the Nx landing zone untimed (streams-mode rule)
    val big = time(dst)
    println(s"query,events1x_s,events${copies}x_s,ratio")
    subset.foreach { q =>
      println(f"$q,${small(q)}%.2f,${big(q)}%.2f,${big(q) / small(q)}%.1f")
    }
    spark.stop()
  }

  /** Streaming-family 10x experiment — see the object scaladoc. */
  private def streamsMain(): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    // Parameter-stamped path (copies, key stride) — same rebuild discipline
    // as the other modes.
    val dst =
      stagedDir("graft_events10x_c10_s1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildStreams(spark, src, dst, 10)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    val subset = Seq(
      "q_stream_tumbling", "q_stream_static_join", "q_stream_dedup",
      "q_stream_stream_join", "q_stream_session_window",
      "q_stream_file_sink", "q_stream_cdc_apply")
    def time(dir: String): Map[String, Double] =
      subset.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        TrackedCaches.release()
        spark.catalog.clearCache()
        name -> dt
      }.toMap
    // Landing zones are per-source-dir (each dataset keeps its own base
    // directory), so pre-stage each scale's zone before its timing loop;
    // the first small() also warms the streaming machinery's code paths.
    graft.streaming.EventStreams.stageEvents(spark, src)
    time(src) // warm
    val small = time(src)
    graft.streaming.EventStreams.stageEvents(spark, dst)
    val big = time(dst)
    println("query,events1x_s,events10x_s,ratio")
    subset.foreach { q =>
      println(f"$q,${small(q)}%.2f,${big(q)}%.2f,${big(q) / small(q)}%.1f")
    }
    // The ingest near-dup filter and the LM quality gate stream DOCUMENTS,
    // so their 10x axis is the docs-mode corpus (10x docs, preserved cluster
    // structure): corpus index/model 10x, arrival stream 10x, same
    // micro-batch count.
    val docsDst =
      stagedDir("graft_docs10x_c10_m5_d1000000_", src)
    if (!new java.io.File(s"$docsDst/_built").exists()) {
      buildDocs(spark, src, docsDst, 10)
      new java.io.File(s"$docsDst/_built").createNewFile()
    }
    val docSubset = Seq("q_stream_ingest_dedup", "q_stream_quality_gate",
      "q_stream_decontam")
    def timeFrame(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      TrackedCaches.release()
      spark.catalog.clearCache()
      dt
    }
    def timeDocStream(name: String, dir: String): Double =
      timeFrame(SparkEntry.queries(name)(spark, dir))
    println("query,docs1x_s,docs10x_s,ratio")
    docSubset.foreach { name =>
      timeDocStream(name, src) // warm (first call also stages the 1x zone)
      val sSmall = timeDocStream(name, src)
      // The 10x zone needs the same pre-staging the 1x zone got from its
      // warm call: without this, stageDocs' wipe+write of the 10x landing
      // zone is billed into the first timed big run and inflates the ratio.
      timeDocStream(name, docsDst) // warm + stage the 10x zone, untimed
      val sBig = timeDocStream(name, docsDst)
      println(f"$name,$sSmall%.2f,$sBig%.2f,${sBig / sSmall}%.1f")
    }
    // Strategy-crossover rows for the decontam gate: time BOTH screening
    // strategies at both scales (auto picks broadcast at these corpus
    // sizes — the forced-distributed rows measure the kernel the gate
    // switches to past BroadcastScreenMaxBytes, so the crossover is a
    // measurement, not an assertion).
    println("query,mode,docs1x_s,docs10x_s")
    Seq("broadcast" -> Long.MaxValue, "distributed" -> 0L).foreach {
      case (mode, ceiling) =>
        def decontam(dir: String): Double = timeFrame(
          graft.streaming.DocStreams.streamDecontamUnder(spark, dir, ceiling))
        decontam(src)
        val a = decontam(src)
        decontam(docsDst)
        val b = decontam(docsDst)
        println(f"q_stream_decontam,$mode,$a%.2f,$b%.2f")
    }
    // The vector-ingest gate streams EMBEDDINGS, so its 10x axis is the
    // vecs-mode corpus (10x genuinely distinct vectors — corpus IVF index
    // 10x, arrival stream 10x). Same warm-then-time discipline.
    val vecsDst =
      stagedDir("graft_vecs10x_c10_v1000000_", src)
    if (!new java.io.File(s"$vecsDst/_built").exists()) {
      buildVecs(spark, src, vecsDst, 10)
      new java.io.File(s"$vecsDst/_built").createNewFile()
    }
    println("query,vecs1x_s,vecs10x_s,ratio")
    Seq("q_stream_vec_ingest").foreach { name =>
      timeDocStream(name, src) // warm + stage the 1x zone
      val sSmall = timeDocStream(name, src)
      timeDocStream(name, vecsDst) // warm + stage the 10x zone, untimed
      val sBig = timeDocStream(name, vecsDst)
      println(f"$name,$sSmall%.2f,$sBig%.2f,${sBig / sSmall}%.1f")
    }
    spark.stop()
  }

  /** Post-measurement hygiene OUTSIDE the timed window (the ladder rule:
    * released caches must actually be reaped before the next row). */
  private def settle(spark: SparkSession): Unit = {
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(500)
  }

  /** Standing-IVF-index cost-regime ladder: at 1x and `copies`x, measure
    * (a) the one-time index BUILD (train + full-corpus assignment + the
    * cell-partitioned layout write), (b) a PROBE-ONLY query against the
    * standing index, and (c) the rebuild-every-time q_ann_ivf — the
    * index's thesis is (b) ≪ (c) with the gap WIDENING as the corpus
    * grows, because probe cost is ~|probed cells| (the partition-pruned
    * scan) while rebuild pays training's N·√N kernel plus the corpus
    * assignment pass every call. Reuses the vecs mode's staged corpus. */
  private def vecStandingMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    val dst = stagedDir(s"graft_vecs${copies}x_c${copies}_v1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildVecs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    def run(tag: String, dir: String): Unit = {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_ladder"
      deleteRec(new java.io.File(base))
      val q = graft.Tables.embeddings(spark, dir)
        .filter(col("vec_id") < graft.llm.Similarity.NumQueries)
      val t0 = System.nanoTime()
      graft.llm.AnnIndex.buildIfStale(spark, dir, base)
      val tb = (System.nanoTime() - t0) / 1e9
      settle(spark)
      val t1 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp = (System.nanoTime() - t1) / 1e9
      settle(spark)
      // Append leg: a 1% arrival slice (fresh ids past the corpus max so
      // they're disjoint) assigned to the FROZEN centroids and appended
      // into its cells — must be batch-scale — then the same query set
      // probed against the grown index.
      val emb = graft.Tables.embeddings(spark, dir)
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      // Materialize the arrival slice OUTSIDE the timed window: deriving
      // it is a corpus-scale filter the ingest source pays, not the
      // index mutation this leg exists to measure.
      val arrivals = emb.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + maxId + 1).as("vec_id"),
          col("embedding"), col("label"))
        .localCheckpoint()
      val ta0 = System.nanoTime()
      graft.llm.AnnIndex.append(spark, base, arrivals)
      val ta = (System.nanoTime() - ta0) / 1e9
      settle(spark)
      val tp20 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp2 = (System.nanoTime() - tp20) / 1e9
      settle(spark)
      // The compaction case: four MORE 1% appends (disjoint fresh-id
      // slices) pile a file per touched cell per append onto the layout;
      // probe the accumulated state, compact, probe again — the delta
      // between those two probes is the file-count tax compaction
      // recovers.
      (1 to 4).foreach { j =>
        graft.llm.AnnIndex.append(spark, base,
          emb.filter(col("vec_id") % 100 === 7 + j)
            .select((col("vec_id") + (j + 1) * (maxId + 1)).as("vec_id"),
              col("embedding"), col("label"))
            .localCheckpoint())
      }
      settle(spark)
      val tp30 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp3 = (System.nanoTime() - tp30) / 1e9
      settle(spark)
      val tc0 = System.nanoTime()
      graft.llm.AnnIndex.compact(spark, base)
      val tc = (System.nanoTime() - tc0) / 1e9
      settle(spark)
      val tp40 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp4 = (System.nanoTime() - tp40) / 1e9
      settle(spark)
      // Delete leg (round 15): purge a 1% corpus slice by id — the
      // resolve is one column-pruned (vec_id, cell) scan, so the leg's
      // ratio measures exactly the term that grows with the corpus —
      // then probe the tombstone-anti-join regime, drain via compaction,
      // and probe the physically-purged layout.
      val doomed = emb.filter(col("vec_id") % 100 === 13)
        .select("vec_id").localCheckpoint()
      val td0 = System.nanoTime()
      graft.llm.AnnIndex.delete(spark, base, doomed)
      val tdel = (System.nanoTime() - td0) / 1e9
      settle(spark)
      val tp50 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp5 = (System.nanoTime() - tp50) / 1e9
      settle(spark)
      val tc20 = System.nanoTime()
      graft.llm.AnnIndex.compact(spark, base)
      val tc2 = (System.nanoTime() - tc20) / 1e9
      settle(spark)
      val tp60 = System.nanoTime()
      graft.llm.AnnIndex.probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp6 = (System.nanoTime() - tp60) / 1e9
      settle(spark)
      val t2 = System.nanoTime()
      SparkEntry.queries("q_ann_ivf")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val tr = (System.nanoTime() - t2) / 1e9
      settle(spark)
      println(f"standing,$tag,build=$tb%.2f,probe=$tp%.2f," +
        f"append=$ta%.2f,probe2=$tp2%.2f,probe_5appends=$tp3%.2f," +
        f"compact=$tc%.2f,probe_compacted=$tp4%.2f," +
        f"delete=$tdel%.2f,probe_deleted=$tp5%.2f,compact2=$tc2%.2f," +
        f"probe_drained=$tp6%.2f,rebuild=$tr%.2f")
    }
    run("warm", src) // warm code paths; discard
    println("standing,scale,build_s,probe_s,append_1pct_s,probe2_s," +
      "probe_5appends_s,compact_s,probe_compacted_s," +
      "delete_1pct_s,probe_deleted_s,compact2_s,probe_drained_s," +
      "rebuild_annivf_s")
    run("vecs1x", src)
    run(s"vecs${copies}x", dst)
    spark.stop()
  }

  /** Standing-BM25-index cost-regime ladder — the retrieval sibling of
    * [[vecStandingMain]], on the docs ladder's staged corpus: build-once
    * (tokenize + impact postings + bucketed layout) vs probe-only ranked
    * top-k vs the rebuild-every-time q_bm25_topk. The probe's standing
    * scans partition-prune to the query's term buckets, so probe cost
    * tracks the QUERY's posting lists while rebuild pays the corpus
    * tokenize + index build every call. */
  private def bm25StandingMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    val dst = stagedDir(s"graft_docs${copies}x_c${copies}_m5_d1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildDocs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    // The serving probe the index exists for: ONE short query (the first
    // 8 distinct terms of doc 0 — deterministic), whose bucket set is a
    // strict subset of the layout, vs the shipped q_bm25_standing query
    // set (5 FULL docs, ~500 distinct terms — a vocabulary that covers
    // every bucket, so pruning cannot help it; same lesson as the
    // evolving gate's route census at bench shape).
    def shortQuery(dir: String): DataFrame = {
      val text = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") === 0L).select("text")
        .collect()(0).getString(0)
      val terms = text.split(" ").distinct.take(8)
      import spark.implicits._
      Seq((0L, terms.mkString(" "))).toDF("doc_id", "text")
    }
    def run(tag: String, dir: String, nBuckets: Int): Unit = {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_ladder"
      deleteRec(new java.io.File(base))
      val q = graft.Tables.documents(spark, dir).select("doc_id", "text")
        .filter(col("doc_id") < graft.llm.Retrieval.NumQueries)
      val t0 = System.nanoTime()
      graft.llm.Retrieval.bm25BuildIfStale(spark, dir, base, nBuckets)
      val tb = (System.nanoTime() - t0) / 1e9
      settle(spark)
      val t1 = System.nanoTime()
      graft.llm.Retrieval.bm25Probe(spark, base, q)
        .write.format("noop").mode("overwrite").save()
      val tp = (System.nanoTime() - t1) / 1e9
      settle(spark)
      val t1s = System.nanoTime()
      graft.llm.Retrieval.bm25Probe(spark, base, shortQuery(dir))
        .write.format("noop").mode("overwrite").save()
      val tps = (System.nanoTime() - t1s) / 1e9
      settle(spark)
      // Delete leg (round 16): a ~1% takedown by id — the BM25 delete
      // is a pure doc-arity live-docs mask (no resolve pass, no deltas:
      // frozen stats), so the delete itself must be takedown-scale flat
      // across the ladder; the corpus-scale terms are the undrained
      // probes' broadcast anti-join over their pruned posting slices
      // and the compaction's full per-bucket rewrite.
      val doomedIds = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 100 === 1).select("doc_id")
        .localCheckpoint()
      val td0 = System.nanoTime()
      graft.llm.Retrieval.bm25Delete(spark, base, doomedIds)
      val tdel = (System.nanoTime() - td0) / 1e9
      settle(spark)
      val tp50 = System.nanoTime()
      graft.llm.Retrieval.bm25Probe(spark, base, shortQuery(dir))
        .write.format("noop").mode("overwrite").save()
      val tp5 = (System.nanoTime() - tp50) / 1e9
      settle(spark)
      val tc20 = System.nanoTime()
      graft.llm.Retrieval.bm25Compact(spark, base)
      val tc2 = (System.nanoTime() - tc20) / 1e9
      settle(spark)
      val tp60 = System.nanoTime()
      graft.llm.Retrieval.bm25Probe(spark, base, shortQuery(dir))
        .write.format("noop").mode("overwrite").save()
      val tp6 = (System.nanoTime() - tp60) / 1e9
      settle(spark)
      val t2 = System.nanoTime()
      SparkEntry.queries("q_bm25_topk")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val tr = (System.nanoTime() - t2) / 1e9
      settle(spark)
      println(f"standing,$tag,b$nBuckets,build=$tb%.2f,probe5full=$tp%.2f," +
        f"probeshort=$tps%.2f,delete=$tdel%.2f,probeshort_deleted=$tp5%.2f," +
        f"compact=$tc2%.2f,probeshort_drained=$tp6%.2f,rebuild=$tr%.2f")
    }
    run("warm", src, 64) // warm code paths; discard
    println("standing,scale,buckets,build_s,probe_5full_s,probe_short_s," +
      "delete_1pct_s,probe_short_deleted_s,compact_drain_s," +
      "probe_short_drained_s,rebuild_bm25topk_s")
    run("docs1x", src, 64)
    run(s"docs${copies}x", dst, 64)
    // The layout knob: same corpus, 1024 buckets — the short query's
    // pruned fraction drops ~16x; the 5-full-doc set still covers the
    // vocabulary and stays un-prunable by design.
    run(s"docs${copies}x", dst, 1024)
    spark.stop()
  }

  /** Standing-shingle-index cost-regime ladder — the dedup sibling of
    * [[bm25StandingMain]], on the docs ladder's staged corpus: build-once
    * (corpus shingle postings + df + standing sizes) vs the probe-only
    * batch screen vs the rebuild-every-time q_dedup_incremental, whose
    * judge-decomposed 100× profile is DOMINATED by the corpus-linear
    * capped-index build the standing form amortizes away. */
  private def dedupStandingMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    val dst = stagedDir(s"graft_docs${copies}x_c${copies}_m5_d1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildDocs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    def run(tag: String, dir: String): Unit = {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_shingle_ladder"
      deleteRec(new java.io.File(base))
      val fullBatch = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
      // The serving-shape batch: a SMALL arrival slice (1% of the batch
      // ids) — per-batch cost must track the BATCH, not the corpus.
      val smallBatch = fullBatch.filter(col("doc_id") % 500 === 0)
      val t0 = System.nanoTime()
      graft.llm.Dedup.shingleBuildIfStale(spark, dir, base)
      val tb = (System.nanoTime() - t0) / 1e9
      settle(spark)
      val t1 = System.nanoTime()
      graft.llm.Dedup.shingleProbe(spark, base, fullBatch)
        .write.format("noop").mode("overwrite").save()
      val tp = (System.nanoTime() - t1) / 1e9
      settle(spark)
      val t1s = System.nanoTime()
      graft.llm.Dedup.shingleProbe(spark, base, smallBatch)
        .write.format("noop").mode("overwrite").save()
      val tps = (System.nanoTime() - t1s) / 1e9
      settle(spark)
      // The commit leg: accept arrival 1's survivors into the standing
      // state (timing includes the survivor probe — that probe+commit
      // pair IS the per-arrival serving cost), then probe a SECOND
      // arrival slice against the grown index. Both must track the
      // batch, not the corpus.
      val small2 = fullBatch.filter(col("doc_id") % 500 === 250)
      val t1c = System.nanoTime()
      val survivors = smallBatch.join(
        graft.llm.Dedup.shingleProbe(spark, base, smallBatch)
          .filter(!col("is_dup")).select("doc_id"), Seq("doc_id"), "left_semi")
      graft.llm.Dedup.shingleCommit(spark, base, survivors)
      val tc = (System.nanoTime() - t1c) / 1e9
      settle(spark)
      val t1p2 = System.nanoTime()
      graft.llm.Dedup.shingleProbe(spark, base, small2)
        .write.format("noop").mode("overwrite").save()
      val tp2 = (System.nanoTime() - t1p2) / 1e9
      settle(spark)
      // Delete leg (round 16): a takedown of a ~1% corpus slice,
      // restricted OUTSIDE the timed window to the population the
      // delete contract admits — docs with live postings (an
      // all-over-cap doc is refused as unprovable) and docs whose
      // removal would not bring any shingle back under the df cap
      // (the cap-resurrection refusal; exclusion is one monotone pass:
      // removing docs only lowers per-shingle delete counts, so no new
      // crossing can appear). The exclusions are LOGGED — a ladder leg
      // that silently shrank its takedown would overstate nothing but
      // still misreport coverage. The shingle delete itself carries no
      // corpus-linear resolve term (it re-shingles only the handed
      // text); the corpus term this leg watches is the vocabulary-
      // bucket-pruned dfc/postings reads, which degenerate toward full
      // scans as the takedown's vocabulary covers all buckets.
      val cand0 = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 100 === 1)
        .select("doc_id", "text")
      val provable = cand0.join(
        spark.read.parquet(s"$base/n0").select("doc_id").distinct(),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val candSh = graft.llm.Dedup.shinglesOf(provable).localCheckpoint()
      val ddel = candSh.groupBy("sh").agg(count(lit(1)).as("ddel"))
      val df0 = spark.read.parquet(s"$base/dfc")
        .groupBy("sh").agg(sum("dfc").as("df0"))
      val crossingSh = ddel.join(df0, Seq("sh"))
        .filter(col("df0") > graft.llm.Dedup.ShingleDfCap &&
          col("df0") - col("ddel") <= graft.llm.Dedup.ShingleDfCap)
        .select("sh")
      val doomed = provable.join(
        candSh.join(crossingSh, Seq("sh"), "left_semi")
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti").localCheckpoint()
      println(s"standing,$tag,delete_slice: candidates=${cand0.count()} " +
        s"provable=${provable.count()} kept=${doomed.count()}")
      settle(spark)
      val td0 = System.nanoTime()
      graft.llm.Dedup.shingleDelete(spark, base, doomed)
      val tdel = (System.nanoTime() - td0) / 1e9
      settle(spark)
      val tp50 = System.nanoTime()
      graft.llm.Dedup.shingleProbe(spark, base, smallBatch)
        .write.format("noop").mode("overwrite").save()
      val tp5 = (System.nanoTime() - tp50) / 1e9
      settle(spark)
      val tc20 = System.nanoTime()
      graft.llm.Dedup.shingleCompact(spark, base)
      val tc2 = (System.nanoTime() - tc20) / 1e9
      settle(spark)
      val tp60 = System.nanoTime()
      graft.llm.Dedup.shingleProbe(spark, base, smallBatch)
        .write.format("noop").mode("overwrite").save()
      val tp6 = (System.nanoTime() - tp60) / 1e9
      settle(spark)
      val t2 = System.nanoTime()
      SparkEntry.queries("q_dedup_incremental")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val tr = (System.nanoTime() - t2) / 1e9
      settle(spark)
      println(f"standing,$tag,build=$tb%.2f,probefull=$tp%.2f," +
        f"probesmall=$tps%.2f,commit=$tc%.2f,probe2=$tp2%.2f," +
        f"delete=$tdel%.2f,probe_deleted=$tp5%.2f,compact=$tc2%.2f," +
        f"probe_drained=$tp6%.2f,rebuild=$tr%.2f")
    }
    run("warm", src) // warm code paths; discard
    println("standing,scale,build_s,probe_fullbatch_s,probe_1pct_s," +
      "commit_1pct_s,probe2_1pct_s,delete_1pct_s,probe_deleted_s," +
      "compact_drain_s,probe_drained_s,rebuild_incremental_s")
    run("docs1x", src)
    run(s"docs${copies}x", dst)
    spark.stop()
  }

  /** Evolving-decontam-index delete-lifecycle ladder — the distributed
    * evolving index's sibling of [[vecStandingMain]]'s delete legs, on
    * the docs ladder's staged corpus: seed-append (this index's build),
    * screen a fixed small arrival batch, DELETE a ~1% seed slice BY ID
    * (the negative df/stats deltas derive from the index's own forward
    * rows — no text handed, no corpus resolve term), screen the
    * tombstone+delta regime, drain via compaction, screen the purged
    * layout. The corpus-scale terms to watch: the screen's pruned
    * posting reads (batch-vocabulary buckets, whose per-bucket size
    * grows with the corpus) and the compaction rewrite. */
  private def evoStandingMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    val dst = stagedDir(s"graft_docs${copies}x_c${copies}_m5_d1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildDocs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    graft.plans.TopKPerKey.ensureRegistered(spark)
    def run(tag: String, dir: String): Unit = {
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_evodist_ladder"
      deleteRec(new java.io.File(base))
      val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      val seed = docs.filter(col("doc_id") % 3 === 0)
      // Fixed serving-shape arrival batch (~0.3% of the held-out pool) —
      // the same screen kernel the streaming twin pays per micro-batch.
      val batch = docs.filter(col("doc_id") % 3 =!= 0 &&
        pmod(xxhash64(col("doc_id")), lit(300L)) === 0L).localCheckpoint()
      val inc = new graft.llm.Retrieval.EvolvingDistIndex(spark, base)
      val t0 = System.nanoTime()
      inc.append(seed)
      val tb = (System.nanoTime() - t0) / 1e9
      settle(spark)
      val t1 = System.nanoTime()
      inc.screen(batch).write.format("noop").mode("overwrite").save()
      val ts1 = (System.nanoTime() - t1) / 1e9
      settle(spark)
      // ids ≡ 0 (mod 3) ∧ ≡ 1 (mod 100) — a ~1% slice of the seed, by
      // CRT one residue class mod 300. Derived outside the timed window.
      val doomed = seed.filter(col("doc_id") % 100 === 1)
        .select("doc_id").localCheckpoint()
      val td0 = System.nanoTime()
      inc.delete(doomed)
      val tdel = (System.nanoTime() - td0) / 1e9
      settle(spark)
      val t2 = System.nanoTime()
      inc.screen(batch).write.format("noop").mode("overwrite").save()
      val ts2 = (System.nanoTime() - t2) / 1e9
      settle(spark)
      val tc0 = System.nanoTime()
      inc.compact()
      val tc = (System.nanoTime() - tc0) / 1e9
      settle(spark)
      val t3 = System.nanoTime()
      inc.screen(batch).write.format("noop").mode("overwrite").save()
      val ts3 = (System.nanoTime() - t3) / 1e9
      settle(spark)
      println(f"standing,$tag,seed=$tb%.2f,screen=$ts1%.2f," +
        f"delete=$tdel%.2f,screen_deleted=$ts2%.2f,compact=$tc%.2f," +
        f"screen_drained=$ts3%.2f")
    }
    run("warm", src) // warm code paths; discard
    println("standing,scale,seed_append_s,screen_s,delete_1pct_s," +
      "screen_deleted_s,compact_drain_s,screen_drained_s")
    run("docs1x", src)
    run(s"docs${copies}x", dst)
    spark.stop()
  }

  /** Vector-family 10x experiment: measures the recall-vs-scan-fraction
    * ladder that sized the shipped IVF config (Similarity.centroidsFor /
    * probesFor). The measurement that matters: on a uniform-random corpus
    * recall@10 is a function of the SCAN FRACTION nearly independent of N
    * (the 1x and 10x ladders coincide), so a fixed nprobe — a falling
    * fraction of the sqrt(N)-growing cell count — decays recall (measured
    * 0.78 -> 0.44 at 10x), while probesFor's fixed ~30% fraction holds it
    * >= 0.80 at both scales. embeddings replicate 10x with a copy-keyed
    * dimension rotation plus deterministic per-copy sign flips: a
    * rotated/sign-flipped random vector is just another random vector (the
    * corpus stays uniform), but it is FAR from its source (expected cosine
    * ~0), so the 10x corpus has 10x genuinely distinct vectors — growth,
    * not planted duplicates that would hand ANN its own copies as trivial
    * neighbors. Reported per scale: annIvf/annLsh/brute wall time AND the
    * (nprobe, scan fraction, recall@10) ladder including the shipped
    * probesFor point at each scale. */
  private def vecsMain(copies: Int): Unit = {
    val spark = GraftSession.build()
    val src = "/root/testdata/sf0.1"
    // Parameter-stamped path (copies, id stride) — same rebuild discipline
    // as the other modes; `runMain graft.ScaleTest vecs 30` runs the 30x
    // ladder (300k vectors — where a super-linear candidate generator or a
    // snapshot-layout term would visibly bend, per the round-10 lesson
    // that 10x hid both decontam scale bugs).
    val dst =
      stagedDir(s"graft_vecs${copies}x_c${copies}_v1000000_", src)
    if (!new java.io.File(s"$dst/_built").exists()) {
      buildVecs(spark, src, dst, copies)
      new java.io.File(s"$dst/_built").createNewFile()
    }
    val subset = Seq("q_ann_topk", "q_ann_lsh", "q_ann_ivf",
      "q_ann_ivf_rescore", "q_rand_projection", "q_vec_quantize",
      "q_cluster_profile", "q_hard_negatives")
    def time(dir: String): Map[String, Double] =
      subset.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.TrackedCaches.release()
        spark.catalog.clearCache()
        // Post-query hygiene OUTSIDE the timed window — docsMain's 100x
        // lesson applies here identically: a deep-scale neighbor's
        // spill/broadcast debris inflated q_rand_projection 2.6x and
        // q_vec_quantize 5.6x in the first 100x vecs run until the
        // explicit GC let the ContextCleaner reap between rows.
        System.gc()
        Thread.sleep(500)
        name -> dt
      }.toMap
    time(src) // warm code paths
    val small = time(src)
    val big = time(dst)
    println(s"query,vecs1x_s,vecs${copies}x_s,ratio")
    subset.foreach { q =>
      println(f"$q,${small(q)}%.2f,${big(q)}%.2f,${big(q) / small(q)}%.1f")
    }
    // Recall@10 ladder of IVF vs brute force at each scale: sweep the probe
    // budget and report (nprobe, scan fraction, recall) so the cost of any
    // recall target is measured, not asserted — on THIS corpus (uniform
    // random, the adversarial case) and on what real clustered data would
    // only improve.
    def ladder(tag: String, dir: String, probes: Seq[Int]): Unit = {
      def top(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
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
    def clusteredDir(nc: Int, pc: Int): String = {
      val d = clusteredVecsDir(nc, pc)
      if (!new java.io.File(s"$d/_built").exists()) {
        buildClusteredVecs(spark, d, nc, pc)
        new java.io.File(s"$d/_built").createNewFile()
      }
      d
    }
    // k=45 cells at N=2000, k=141 at N=20000; sweeps cover 2-31% of cells
    // including the shipped probesFor point (14 / 42) at each scale.
    ladder("clustered1x", clusteredDir(40, 50), Seq(1, 2, 4, 9, 14))
    ladder("clustered10x", clusteredDir(400, 50), Seq(2, 4, 7, 14, 42))
    spark.stop()
  }

  /** Parameter-stamped path of the synthetic clustered corpus (independent
    * of /root/testdata — g1 is the generator version; bump it when
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

  /** embeddings replicated `copies`x: copy i rotates dimensions by i and
    * flips signs by md5(copy, dim) — deterministic, uniform-preserving,
    * and far from the source vector (see vecsMain scaladoc). */
  private def buildVecs(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    val vMax = 1000000L
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val out = (0 until copies).map { i =>
      if (i == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + i * vMax)
        .withColumn("embedding", expr(
          s"""transform(sequence(0, size(embedding) - 1),
                j -> CASE WHEN pmod(hash($i, j), 2) = 0
                          THEN embedding[pmod(j + $i, size(embedding))]
                          ELSE -embedding[pmod(j + $i, size(embedding))] END)"""))
    }.reduce(_ unionByName _)
    out.repartition(32).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** events (+ customers for the stream-static join) replicated `copies`x
    * with consistent key offsets: 10x events in the same time span. */
  private def buildStreams(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    val cMax = 1000000L
    def copyUnion(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)
    val ev = Tables.events(spark, src)
    copyUnion(ev, (df, i) => df
      .withColumn("event_id", col("event_id") + i * cMax)
      .withColumn("user_id", col("user_id") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    copyUnion(cust, (df, i) => df.withColumn("c_custkey", col("c_custkey") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
  }

  /** documents replicated `copies`x with copy-keyed token substitution —
    * see the object scaladoc for why this preserves cluster structure. */
  private def buildDocs(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dMax = 1000000L
    val out = (0 until copies).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + i * dMax)
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '), t ->
                CASE WHEN pmod(hash(t, $i), 5) = 0 THEN concat(t, '~$i')
                     ELSE t END), ' ')"""))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
    out.repartition(32).write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  private def build(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val cMax = 1000000L // key offset stride per copy
    def copyUnion(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)

    val cust = spark.read.parquet(s"$src/customer.parquet")
    copyUnion(cust, (df, i) => df.withColumn("c_custkey", col("c_custkey") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    copyUnion(ord, (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + i * cMax)
      .withColumn("o_custkey", col("o_custkey") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copyUnion(li, (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    // events: keep ns-as-long staging out of it — convert through Tables
    // (ts becomes TIMESTAMP) and write micros, then read plain.
    val ev = Tables.events(spark, src)
    copyUnion(ev, (df, i) => df
      .withColumn("event_id", col("event_id") + i * cMax)
      .withColumn("user_id", col("user_id") + i * cMax))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

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
    * the three soaks' acceptance criteria. */
  private def runSoak(spark: SparkSession, nBatches: Int, name: String,
      base: String, filesDir: String, fileTrigger: Long,
      probeLabel: String, mutateLabel: String,
      batchOf: Int => org.apache.spark.sql.DataFrame,
      probe: org.apache.spark.sql.DataFrame => Seq[String],
      mutate: org.apache.spark.sql.DataFrame => Unit,
      compact: () => Unit): Unit = {
    val walls = Array.ofDim[Double](nBatches)
    var compactions = 0
    for (b <- 0 until nBatches) {
      val batch = batchOf(b)
      def probed(): Seq[String] = {
        val v = probe(batch)
        TrackedCaches.release(); spark.catalog.clearCache()
        v
      }
      val ts = System.nanoTime()
      val v1 = probed()
      val probeS = (System.nanoTime() - ts) / 1e9
      val filesBefore = parquetFileCount(filesDir)
      var compactS = 0.0
      if (filesBefore > fileTrigger) {
        val tc = System.nanoTime()
        compact()
        compactS = (System.nanoTime() - tc) / 1e9
        compactions += 1
        val v2 = probed()
        require(v1 == v2,
          s"batch $b: $name probe results changed across compaction " +
            s"(${v1.size} vs ${v2.size} rows)")
      }
      val ta = System.nanoTime()
      mutate(batch)
      val mutateS = (System.nanoTime() - ta) / 1e9
      walls(b) = probeS + mutateS
      println(f"soak batch $b%2d: arrivals=${batch.count()}%4d " +
        f"$probeLabel=$probeS%6.2f $mutateLabel=$mutateS%5.2f " +
        f"files=$filesBefore%4d" +
        (if (compactS > 0) f" COMPACT=$compactS%5.2f -> " +
          f"${parquetFileCount(filesDir)} files" else ""))
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val early = median(walls.take(5).toSeq)
    val late = median(walls.takeRight(5).toSeq)
    println(f"soak $name summary: batches=$nBatches " +
      f"compactions=$compactions earlyMedian=$early%.2f " +
      f"lateMedian=$late%.2f ratio=${late / early}%.2f")
    require(compactions > 0,
      "soak never triggered a compaction — lower the file trigger")
    require(late <= 2.5 * early,
      f"per-batch wall is NOT flat: late median $late%.2f vs early $early%.2f")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
    spark.stop()
  }

  /** Distributed evolving decontam gate soak: screen→append per batch.
    * Trigger 192 at ~22 files per append (the batch vocab spans ~22 of
    * the 64 buckets) fires every ~6 batches after a reset. */
  private def soakMain(nBatches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val spark = GraftSession.build()
    import graft.llm.Retrieval
    val src = "/root/testdata/sf0.1"
    val docs = Tables.documents(spark, src).select("doc_id", "text")
      .localCheckpoint()
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val arrivals = docs.filter(col("doc_id") % 3 =!= 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_evodist").toString
    val inc = new Retrieval.EvolvingDistIndex(spark, base)
    val t0 = System.nanoTime()
    inc.append(seed)
    println(f"soak seed: ${seed.count()} docs, " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    graft.plans.TopKPerKey.ensureRegistered(spark)
    // Interleaved DELETE leg (round 15): each batch appends its arrivals
    // then deletes a deterministic ~1/8 slice of the PREVIOUS batch's
    // (appended, never re-deleted — batches are disjoint), so every later
    // screen runs the tombstone-anti-join + negative-delta regime and
    // every file-pressure compaction fires with live tombstones; the
    // runSoak screen-identity require then covers masked vs
    // physically-drained at each firing.
    var prevBatch: org.apache.spark.sql.DataFrame = null
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
  private def soakDedupMain(nBatches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val spark = GraftSession.build()
    import graft.llm.Dedup
    val src = "/root/testdata/sf0.1"
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_shingle").toString
    val t0 = System.nanoTime()
    Dedup.shingleBuildIfStale(spark, src, base, 64)
    println(f"soak dedup build: ${(System.nanoTime() - t0) / 1e9}%.2f s")
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
    var prevSurvivors: org.apache.spark.sql.DataFrame = null
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
  private def soakAnnMain(nBatches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val spark = GraftSession.build()
    import graft.llm.{AnnIndex, StandingIndex}
    val src = "/root/testdata/sf0.1"
    val emb = Tables.embeddings(spark, src).select("vec_id", "embedding")
      .localCheckpoint()
    val seed = emb.filter(col("vec_id") % 3 === 0)
    val pool = emb.filter(col("vec_id") % 3 =!= 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft_soak_ann").toString
    val t0 = System.nanoTime()
    val n = AnnIndex.buildFrom(spark, seed, base)
    // The probe budget rides the marker's ` n=` tail (buildIfStale's
    // protocol); the soak builds from a seed frame, so it stamps its own.
    StandingIndex.commit(base, s"dir=soak sig=seed n=$n")
    println(f"soak ann build: $n vectors, " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
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
