package graft

import graft.ops.Analytics
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Structured Streaming specs: streaming results must agree with their batch
  * equivalents (the streaming queries are incremental recomputations of the
  * same logical aggregation). */
class StreamingSpec extends SparkSpec {

  /** `body` over a fresh temp dir named by `prefix`, deleted afterwards. */
  private def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally graft.Fs.deleteRec(dir)
  }

  test("streaming tumbling window == batch tumbling window") {
    val streamed = EventStreams.tumblingWindowStream(spark, Sf)
      .select("win_start", "cnt", "sum_value")
    val batch = Analytics.tumblingWindow(spark, Sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream attribution join == batch self-join (incl. cross-batch pairs)") {
    val streamed = EventStreams.streamStreamJoin(spark, Sf)
    val ev = Tables.events(spark, Sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        unix_micros(col("ts")).as("v_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        unix_micros(col("ts")).as("p_us"))
    val batch = v.join(p, col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("cnt"),
        floor(min(col("p_us") - col("v_us")) / lit(1000000L)).as("min_delay_s"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream join matches across micro-batch boundaries (state survives)") {
    // Two event-time-contiguous chunks, one file per trigger: the view lands
    // in batch 0, its purchase (20 min later, same user) in batch 1. A match
    // proves the view side's join state survived the micro-batch boundary.
    import java.nio.file._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_ss_cross")
    if (Files.exists(base)) {
      Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(base)
    val hourUs = 3600L * 1000000
    val t0 = 1700000000L * 1000000
    import spark.implicits._
    // chunk 0: an old view (evicted: 3h before chunk max), a fresh view
    // (10 min before chunk max), and a max-ts marker event.
    val chunk0 = Seq(
      (1L, t0, 7L, "view", 1.0),
      (2L, t0 + 3 * hourUs - 600L * 1000000, 8L, "view", 1.0),
      (3L, t0 + 3 * hourUs, 9L, "click", 0.0))
    // chunk 1: a purchase matching the fresh view (20 min after it), and a
    // user-7 purchase 3h after user 7's view — outside the 30-min bound, so
    // user 7 must NOT appear in the output.
    val chunk1 = Seq(
      (4L, t0 + 3 * hourUs + 600L * 1000000, 8L, "purchase", 5.0),
      (5L, t0 + 3 * hourUs + 700L * 1000000, 7L, "purchase", 5.0))
    Seq(chunk0, chunk1).zipWithIndex.foreach { case (rows, i) =>
      val tmp = base.resolve(s"_stage_$i")
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = base.resolve(f"chunk_$i%02d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    val pairs = EventStreams.attributionPairs(spark, base.toString, filesPerTrigger = 1)
      .select("user_id", "view_id", "purchase_id").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((8L, 2L, 4L)),
      s"expected exactly the cross-batch pair (8,2,4), got ${pairs.mkString(",")}")
  }

  test("left-outer stream-stream join emits unmatched view after watermark closes window") {
    // chunk 0: user 8's view (matched in chunk 1), user 7's view (never
    // matched). chunk 1: user 8's purchase 20 min after the view, plus a
    // marker view+purchase pair 3h later. The markers matter: watermarks are
    // computed per join side AFTER the event_type filters, so only late view
    // and purchase events (not clicks) advance them. They push both side
    // watermarks to t0 + 2h — past user 7's t0+30min match horizon, so the
    // no-data eviction batch MUST emit user 7's view with a null purchase.
    import java.nio.file._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_ss_outer")
    if (Files.exists(base)) {
      Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(base)
    val hourUs = 3600L * 1000000
    val t0 = 1700000000L * 1000000
    import spark.implicits._
    val chunk0 = Seq(
      (1L, t0, 7L, "view", 1.0),
      (2L, t0, 8L, "view", 1.0))
    val chunk1 = Seq(
      (3L, t0 + 1200L * 1000000, 8L, "purchase", 5.0),
      (4L, t0 + 3 * hourUs, 9L, "view", 0.0),
      (5L, t0 + 3 * hourUs, 9L, "purchase", 0.0))
    Seq(chunk0, chunk1).zipWithIndex.foreach { case (rows, i) =>
      val tmp = base.resolve(s"_stage_$i")
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = base.resolve(f"chunk_$i%02d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    val rows = EventStreams.attributionPairs(spark, base.toString,
        filesPerTrigger = 1, joinType = "left_outer", queryName = "graft_ss_outer_t")
      .select("user_id", "view_id", "purchase_id").collect()
    val got = rows.map(r =>
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((8L, 2L, 3L), (9L, 4L, 5L), (7L, 1L, -1L)),
      s"expected matches (8,2,3),(9,4,5) and watermark-evicted null (7,1,null), got ${got}")
  }

  test("q_stream_stream_outer matches the horizon-filtered batch left join") {
    val streamed = EventStreams.streamStreamOuter(spark, Sf)
    assert(streamed.count() > 0)
    val ev = Tables.events(spark, Sf).cache()
    // Horizon anchors on min over side maxima — the join's global watermark.
    val maxUs = ev.filter(col("event_type").isin("view", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(col("m"))).head().getLong(0)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        unix_micros(col("ts")).as("v_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val batch = v.join(p, col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"), "left_outer")
      .filter(col("purchase_id").isNotNull || col("v_us") < maxUs - 5460000000L)
      .groupBy(col("v_user").as("user_id"))
      .agg(sum(when(col("purchase_id").isNotNull, 1L).otherwise(0L)).as("matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("unmatched"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("native session_window stream == horizon-filtered batch sessions") {
    val streamed = EventStreams.sessionWindowStream(spark, Sf)
    assert(streamed.count() > 0)
    val maxUs = Tables.events(spark, Sf)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val batch = Analytics.sessionize(spark, Sf)
      .filter(unix_micros(col("sess_end")) < maxUs - 5460000000L)
      .select(col("user_id"), unix_micros(col("sess_start")).as("start_us"),
        col("n_events"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stateful streaming sessions match batch gaps-and-islands sessions") {
    val streamed = EventStreams.sessionizeStream(spark, Sf)
      .select(col("user_id"), col("sess_start").as("start_us"), col("n_events"))
    val batch = Analytics.sessionize(spark, Sf)
      .select(col("user_id"),
        unix_micros(col("sess_start")).as("start_us"), col("n_events"))
    // Streaming (append mode + event-time timeout) cannot emit each user's
    // final open session at end-of-input; every emitted session must exist in
    // the batch result, and most batch sessions must be emitted.
    val extra = streamed.exceptAll(batch).count()
    assert(extra == 0, s"$extra streamed sessions not present in batch result")
    val emitted = streamed.count()
    val total = batch.count()
    assert(emitted >= total - Tables.events(spark, Sf)
      .select("user_id").distinct().count(),
      s"too few sessions emitted: $emitted of $total")
  }

  test("transformWithState sessions == flatMapGroupsWithState sessions (API migration equivalence)") {
    val tws = EventStreams.sessionizeStreamTws(spark, Sf)
    val fmgws = EventStreams.sessionizeStream(spark, Sf)
    assert(tws.count() > 0, "TWS emitted no sessions")
    // Identical session logic, same staged input, same timers: the new
    // arbitrary-state API must reproduce the old implicit-timeout API's
    // output EXACTLY — the gate a production pipeline runs before migrating.
    assert(tws.exceptAll(fmgws).count() == 0 &&
      fmgws.exceptAll(tws).count() == 0,
      s"TWS (${tws.count()}) and fMGWS (${fmgws.count()}) session sets diverge")
    // and both must stay inside the batch gaps-and-islands truth
    val batch = Analytics.sessionize(spark, Sf)
      .select(col("user_id"),
        unix_micros(col("sess_start")).as("start_us"), col("n_events"))
    assert(tws.select(col("user_id"), col("sess_start").as("start_us"),
      col("n_events")).exceptAll(batch).count() == 0)
  }

  test("TWS restart recovers RocksDB session state: split run == uninterrupted run") {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val staged = Paths.get(EventStreams.stageEvents(spark, Sf))
    val chunks = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .sorted().iterator().asScala.toSeq
    assert(chunks.size >= 3, s"need >= 3 staged chunks, got ${chunks.size}")
    val made = scala.collection.mutable.Buffer.empty[Path]
    def freshDir(tag: String) = {
      val dir = Files.createTempDirectory(s"graft_tws_$tag")
      made += dir
      dir.toString
    }
    // Files.copy does NOT preserve the staged zone's deterministic mtimes,
    // and the file source orders batches by modification time — landed
    // chunks must keep their time order or sessionization sees cross-batch
    // out-of-order events (caught here as sess_start > sess_end refs).
    def land(c: Path, zone: String): Unit = {
      val dst = Paths.get(zone, c.getFileName.toString)
      Files.copy(c, dst)
      Files.setLastModifiedTime(dst, Files.getLastModifiedTime(c))
      ()
    }
    try {
      // Reference: one uninterrupted run over all chunks.
      val refZone = freshDir("refzone"); val refBase = freshDir("refbase")
      chunks.foreach(land(_, refZone))
      EventStreams.runTwsSessionsOnce(spark, refZone, refBase)
      // Split: run over the first half, STOP (checkpoint persists the RocksDB
      // state + source offsets), land the rest, run again with the same base.
      val splitZone = freshDir("splitzone"); val splitBase = freshDir("splitbase")
      val (early, late) = chunks.splitAt(chunks.size / 2)
      early.foreach(land(_, splitZone))
      EventStreams.runTwsSessionsOnce(spark, splitZone, splitBase)
      late.foreach(land(_, splitZone))
      EventStreams.runTwsSessionsOnce(spark, splitZone, splitBase)
      val ref = spark.read.parquet(s"$refBase/out")
      val split = spark.read.parquet(s"$splitBase/out")
      assert(ref.count() > 0, "reference run emitted no sessions")
      // Sessions spanning the restart boundary must close from RECOVERED
      // state — any loss or duplication shows as a set difference.
      assert(split.exceptAll(ref).count() == 0 && ref.exceptAll(split).count() == 0,
        s"restart emissions (${split.count()}) != uninterrupted (${ref.count()})")
    } finally made.foreach(graft.Fs.deleteRec)
  }

  test("file sink restart over the same checkpoint is exactly-once (no re-emission)") {
    val dir = EventStreams.stageEvents(spark, Sf)
    withTempDir("graft_filesink_spec") { base =>
      EventStreams.runFileSinkOnce(spark, dir, base)
      val first = spark.read.parquet(s"$base/out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).sorted.toSeq
      assert(first.nonEmpty, "first run must flush at least one closed window")
      assert(first.map(_._1).distinct.size == first.size,
        "append sink emitted a window twice within one run")
      // Restart against the same checkpoint + path with no new input: the
      // file-commit log must replay nothing and duplicate nothing.
      EventStreams.runFileSinkOnce(spark, dir, base)
      val second = spark.read.parquet(s"$base/out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).sorted.toSeq
      assert(second == first,
        s"restart changed the sink contents: ${second.size} rows vs ${first.size}")
    }
  }

  test("file sink reuses one working dir across calls") {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    // A file-sink working dir holds the sink's `out` and `ckpt`; each call
    // must reuse the query's one dir instead of leaving a new one behind.
    def sinkDirs(): Set[Path] = {
      val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try ls.iterator.asScala.filter(p =>
          Files.isDirectory(p.resolve("out")) && Files.isDirectory(p.resolve("ckpt")))
        .toSet
      finally ls.close()
    }
    val before = sinkDirs()
    EventStreams.streamFileSink(spark, Sf).count()
    EventStreams.streamFileSink(spark, Sf).count()
    TrackedCaches.release()
    val added = sinkDirs() -- before
    assert(added.size <= 1, s"two file-sink calls left ${added.size} new dirs: $added")
  }

  test("ingest dedup restages its landing zone when the source table is rewritten") {
    import spark.implicits._
    withTempDir("graft_zone_rewrite") { base =>
      val text = (id: Long) => (0 until 12).map(w => s"r${id}w$w").mkString(" ")
      def write(ids: Seq[Long]): Unit =
        ids.map(i => (i, text(i))).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$base/documents.parquet")
      def arrivals(): Set[Long] = {
        val ids = graft.streaming.DocStreams.streamIngestDedup(spark, base)
          .collect().map(_.getLong(0)).toSet
        TrackedCaches.release()
        ids
      }
      write(0L to 24L)
      assert(arrivals() == (0L to 24L by 5).toSet)
      // Same path, different corpus: the zone staged from the first one must
      // not be served.
      write(100L to 124L)
      assert(arrivals() == (100L to 124L by 5).toSet,
        "the rewritten table's arrivals were screened from the old zone")
    }
  }

  test("streaming ingest dedup == batch-computed verdicts over the same split") {
    import graft.llm.Dedup
    val streamed = graft.streaming.DocStreams.streamIngestDedup(spark, Sf)
    // Independent batch formulation from the same kernels: band-collision
    // candidates restricted to arrival x corpus, signature-agreement gate,
    // digest join for exact dups.
    val docs = Tables.documents(spark, Sf)
    val sig = Dedup.signaturesOf(docs).cache()
    val bands = Dedup.bandRows(sig)
    val x = bands.as("x"); val y = bands.as("y")
    val rows = Dedup.NumHashes / Dedup.Bands
    val cand = x.join(y, col("x.band") === col("y.band") &&
        (0 until rows).map(r => col(s"x.v$r") === col(s"y.v$r")).reduce(_ && _) &&
        col("x.doc_id") % 5 === 0 && col("y.doc_id") % 5 =!= 0)
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db")).distinct()
    val nEq = (0 until Dedup.NumHashes)
      .map(i => when(col(s"a.s_$i") === col(s"b.s_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val near = cand.join(sig.as("a"), col("da") === col("a.doc_id"))
      .join(sig.as("b"), col("db") === col("b.doc_id"))
      .filter(nEq >= Dedup.MinhashMatchThreshold)
      .groupBy("da").agg(min("db").as("near_src"))
    val dg = docs.select(col("doc_id"), md5(col("text")).as("dg"))
    val ex = dg.filter(col("doc_id") % 5 === 0).as("l")
      .join(dg.filter(col("doc_id") % 5 =!= 0).as("r"), col("l.dg") === col("r.dg"))
      .groupBy(col("l.doc_id").as("de")).agg(min(col("r.doc_id")).as("exact_src"))
    val batch = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
      .join(ex, col("doc_id") === col("de"), "left")
      .join(near, col("doc_id") === col("da"), "left")
      .select(col("doc_id"), col("exact_src").isNotNull.as("is_exact_dup"),
        coalesce(col("near_src"), lit(-1L)).as("near_dup_of"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    sig.unpersist()
    graft.TrackedCaches.release()
  }

  test("streaming quality gate == batch scoring against the corpus model") {
    import graft.llm.TextAnalysis
    val streamed = graft.streaming.DocStreams.streamQualityGate(spark, Sf)
    // Independent batch formulation from the same kernels: train on the
    // standing corpus, score the whole arrival slice in one pass.
    val docs = Tables.documents(spark, Sf)
    val (c2, c1, v) = TextAnalysis.bigramModel(
      TextAnalysis.bigramsOf(docs.filter(col("doc_id") % 5 =!= 0)
        .select("doc_id", "text")))
    val batch = TextAnalysis.scorePpl(
        TextAnalysis.bigramsOf(docs.filter(col("doc_id") % 5 === 0)
          .select("doc_id", "text")), c2, c1, v)
      .withColumn("admit",
        col("ppl") <= lit(graft.streaming.DocStreams.PplAdmitMax))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // The threshold must actually split the arrivals (both verdicts live).
    val admits = streamed.groupBy("admit").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(admits.getOrElse(true, 0L) > 0 && admits.getOrElse(false, 0L) > 0,
      s"PplAdmitMax must exercise both verdicts, got $admits")
    graft.TrackedCaches.release()
  }

  test("streaming vec ingest == batch-computed verdicts over the same split") {
    import graft.llm.Similarity
    val streamed = graft.streaming.VecStreams.streamVecIngest(spark, Sf)
    // Independent batch formulation from the same kernels: train the IVF
    // index on the standing corpus, probe the whole arrival slice in one
    // pass, inline argmax instead of the stream's screening helper.
    val emb = Tables.embeddings(spark, Sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val sx = Similarity.scaledOf(corpus).cache()
    val n = sx.count()
    val k = Similarity.centroidsFor(n)
    val nprobe = Similarity.probesFor(k)
    val cents = Similarity.trainCentroids(sx,
      Similarity.seedCentroidsOf(corpus, sx, k), n, k)
    val cells = Similarity.assignCells(sx, cents).join(corpus, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val arr = emb.filter(col("vec_id") % 5 === 0)
    val cand = Similarity.probeCells(Similarity.scaledOf(arr), cents, nprobe)
      .withColumnRenamed("vec_id", "arr_id")
      .join(arr.select(col("vec_id").as("arr_id"), col("embedding").as("qe")), "arr_id")
      .join(cells, "cell")
      .select(col("arr_id"), col("vec_id").as("nid"),
        round(graft.functions.VectorFunctions.floatCosine(
          col("qe"), col("embedding")), 4).as("cos"))
    val nn = cand.groupBy("arr_id")
      .agg(max(struct(col("cos"), (-col("nid")).as("negid"))).as("m"))
    val batch = arr.select(col("vec_id"))
      .join(nn, col("vec_id") === col("arr_id"), "left")
      .select(col("vec_id"),
        coalesce(-col("m.negid"), lit(-1L)).as("nn_id"),
        coalesce(col("m.cos"), lit(-2.0)).as("nn_cos"),
        (coalesce(col("m.cos"), lit(-2.0)) <
          lit(graft.streaming.VecStreams.AdmitCosMax)).as("admit"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // The ceiling must actually split the arrivals (both verdicts live).
    val admits = streamed.groupBy("admit").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(admits.getOrElse(true, 0L) > 0 && admits.getOrElse(false, 0L) > 0,
      s"AdmitCosMax must exercise both verdicts, got $admits")
    sx.unpersist()
    graft.TrackedCaches.release()
  }

  test("streaming vec ingest rejects a planted corpus twin, admits orthogonals") {
    // Synthetic embedding geometry on one-hot axes: arrival 0 is byte-
    // identical to corpus vec 7 (cos 1.0 -> reject, neighbor 7); arrivals
    // 5/10/15/20 sit on axes no corpus vector uses (cos 0.0 -> admit).
    // Arrival ids {0,5,10,15,20} keep every staged vec_id range non-empty.
    withTempDir("graft_vec_synth") { base =>
      def oneHot(axis: Int): Array[Float] =
        Array.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
      val rows =
        Seq((0L, oneHot(7)), (5L, oneHot(40)), (10L, oneHot(41)),
          (15L, oneHot(42)), (20L, oneHot(50))) ++
          (1 to 24).filter(_ % 5 != 0).map(i => (i.toLong, oneHot(i)))
      import spark.implicits._
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
      val out = graft.streaming.VecStreams.streamVecIngest(spark, base)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
        .toMap
      assert(out(0L) == ((7L, 1.0, false)),
        s"arrival 0 must reject against corpus twin 7, got ${out(0L)}")
      Seq(5L, 10L, 15L, 20L).foreach { i =>
        assert(out(i)._2 == 0.0 && out(i)._3,
          s"orthogonal arrival $i must admit at cos 0.0, got ${out(i)}")
      }
      graft.TrackedCaches.release()
    }
  }

  test("streaming ingest dedup flags a planted exact corpus twin") {
    // The real corpus has no identical-text pair spanning the arrival split
    // at test SF, so the digest path would be vacuously all-false — plant
    // one. Arrival ids {0,5,10,15,20} keep every staged doc_id range
    // non-empty; doc 0's text is byte-identical to corpus doc 7 (exact dup
    // => also a near-dup with full signature agreement), doc 20 has two
    // words (no shingles => no near-dup candidates, exercises the
    // no-signature edge).
    withTempDir("graft_ingest_synth") { base =>
      val mk = (id: Long, text: String) => (id, text)
      val uniq = (id: Long) =>
        (0 until 12).map(w => s"w${id}x$w").mkString(" ")
      val docsSeq =
        Seq(mk(0, uniq(7)), mk(5, uniq(5)), mk(10, uniq(10)), mk(15, uniq(15)),
          mk(20, "two words")) ++
          (1 to 24).filter(_ % 5 != 0).map(i => mk(i, uniq(i)))
      import spark.implicits._
      docsSeq.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val out = graft.streaming.DocStreams.streamIngestDedup(spark, base)
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      assert(out(0) == ((true, 7L)), s"doc 0 must flag corpus twin 7, got ${out(0)}")
      assert(out(20) == ((false, -1L)), "a 2-word doc has no shingles, no verdicts")
      assert(Seq(5L, 10L, 15L).forall(i => out(i) == ((false, -1L))),
        "unique arrival docs must pass the filter")
      graft.TrackedCaches.release()
    }
  }

  test("streaming ingest dedup handles a sparse doc_id space (single-batch zone)") {
    // Arrival ids {0, 1000000} land in only 2 of the 4 key ranges. The
    // middle ranges still stage their chunks, schema-only files, so the
    // zone holds 4 chunks and streams in 2 micro-batches (doc 0, then doc
    // 1000000), the batch arithmetic the oracles replay. Verdicts must
    // still be right (doc 1000000 has an exact corpus twin, doc 0 is
    // unique).
    withTempDir("graft_ingest_sparse") { base =>
      val uniq = (id: Long) => (0 until 15).map(w => s"s${id}w$w").mkString(" ")
      import spark.implicits._
      (Seq((0L, uniq(0)), (1000000L, uniq(3))) ++
          (1L to 3L).map(i => (i, uniq(i))))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val out = graft.streaming.DocStreams.streamIngestDedup(spark, base)
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      assert(out(1000000L) == ((true, 3L)), s"sparse twin must flag, got ${out(1000000L)}")
      assert(out(0L) == ((false, -1L)))
      assert(graft.streaming.Zone.chunks(graft.streaming.DocStreams.stageDocs(spark, base)) ==
        graft.streaming.Zone.Chunks, "a sparse zone must still stage every chunk")
      graft.TrackedCaches.release()
    }
  }

  test("CDC apply: state versions grow monotonically to the batch rollup") {
    val finalState = EventStreams.streamCdcApply(spark, Sf).cache()
    // the run leaves its versioned state chain on disk — audit it
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_cdc")
    import scala.jdk.CollectionConverters._
    val versions = java.nio.file.Files.list(base).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v"))
      .map(_.drop(1).toInt).toSeq.sorted
    assert(versions.size >= 2, s"expected >= 2 state versions, got $versions")
    val totals = versions.map { v =>
      spark.read.parquet(base.resolve(s"v$v").toString)
        .agg(sum("n_events")).head().getLong(0)
    }
    assert(totals == totals.sorted,
      s"per-version event totals not monotone: $totals")
    assert(totals.distinct.size == totals.size,
      s"a merge round absorbed no events (stalled chain): $totals")
    val batchTotal = Tables.events(spark, Sf).count()
    assert(totals.last == batchTotal,
      s"final state covers ${totals.last} events, corpus has $batchTotal")
    finalState.unpersist()
  }

  test("anomaly gate: both verdicts exercised; batch kernel agrees per event") {
    val got = EventStreams.streamAnomalyGate(spark, Sf).collect()
    assert(got.nonEmpty, "no post-cutoff arrivals screened")
    val verdicts = got.map(_.getBoolean(6)).toSet
    assert(verdicts == Set(true, false),
      "threshold must flag some arrivals and pass others")
    // every flagged event satisfies the integer predicate against its stats
    got.filter(_.getBoolean(6)).foreach { r =>
      assert(2 * r.getLong(3) > graft.ops.EventAnalytics.MadK * r.getLong(5))
    }
    graft.TrackedCaches.release()
  }

  test("anomaly gate screens unknown users to sentinel stats, never flagged") {
    import spark.implicits._
    val train = Seq((1L, 1L, 1000L), (1L, 2L, 1010L), (1L, 3L, 1020L))
      .toDF("user_id", "event_id", "c")
    val stats = graft.ops.EventAnalytics.userRobustStats(train)
    val batch = Seq(
      (10L, 1L, 99.99),   // known user, wild value -> flagged
      (11L, 1L, 10.10),   // known user, at median -> passed
      (12L, 7L, 500.0))   // user 7 never trained -> sentinel, not flagged
      .toDF("event_id", "user_id", "value")
    val out = EventStreams.screenAnomalyBatch(batch, stats).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(6))).toMap
    assert(out(10L)._2, "wild value for a known user must flag")
    assert(!out(11L)._2, "median value must pass")
    assert(out(12L) == ((-1L, false)), "unknown user must carry sentinel, unflagged")
  }

  test("ingest-dedup broadcast screen == distributed screen, end-to-end bit-for-bit") {
    // Third gate under the size-based strategy contract: identical
    // exact-dup flags and near-dup sources from both physical screens.
    def run(ceiling: Long) =
      graft.streaming.DocStreams.streamIngestDedupUnder(spark, Sf, ceiling).collect()
    val bc = run(Long.MaxValue)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val dist = run(0L)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(bc.nonEmpty && bc.length == dist.length)
    bc.zip(dist).foreach { case (a, b) =>
      assert(a == b, s"dedup screen-path divergence: broadcast=$a distributed=$b")
    }
  }

  test("vec-ingest broadcast screen == distributed screen, end-to-end bit-for-bit") {
    // Same strategy-selection contract as the decontam gate: the broadcast
    // snapshot screen and the distributed probed-cells kernel must emit
    // IDENTICAL verdicts — same nn_id, same 4-dp cosine, same admits.
    def run(ceiling: Long) =
      graft.streaming.VecStreams.streamVecIngestUnder(spark, Sf, ceiling).collect()
    val bc = run(Long.MaxValue)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val dist = run(0L)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(bc.nonEmpty && bc.length == dist.length)
    bc.zip(dist).foreach { case (a, b) =>
      assert(a == b, s"vec screen-path divergence: broadcast=$a distributed=$b")
    }
  }

  test("decontam broadcast screen == distributed screen, end-to-end bit-for-bit") {
    // The gate picks its physical screening strategy by index size (the
    // broadcast-join philosophy); both strategies must produce IDENTICAL
    // verdict frames — same top_match, same top_score down to the last
    // 6-dp micro-unit, same admits — or the auto threshold would change
    // answers, not just plans. Forcing each side through the broadcast
    // ceiling runs the real gate end-to-end (stream machinery included)
    // twice.
    def run(ceiling: Long) =
      graft.streaming.DocStreams.streamDecontamUnder(spark, Sf, ceiling).collect()
    val bc = run(Long.MaxValue)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val dist = run(0L)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(bc.nonEmpty, "decontam verdicts must be non-empty at the test SF")
    assert(bc.length == dist.length)
    bc.zip(dist).foreach { case (a, b) =>
      assert(a == b, s"screen-path divergence: broadcast=$a distributed=$b")
    }
    // Both verdicts exercised so the ceiling actually bites on this corpus.
    val admits = bc.map(_.getAs[Boolean]("admit")).toSet
    assert(admits == Set(true, false),
      "corpus must exercise both admit verdicts")
  }

  test("distributed decontam screen leaves no per-batch cache behind") {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val ctx = spark.sparkContext
    def newlyPersisted(body: => Unit): Int = {
      TrackedCaches.release()
      spark.catalog.clearCache()
      val before = ctx.getPersistentRDDs.keySet
      body
      try (ctx.getPersistentRDDs.keySet -- before).size
      finally { TrackedCaches.release(); spark.catalog.clearCache() }
    }
    // What the gate keeps for the whole stream: its cached corpus index.
    val corpus = Tables.documents(spark, Sf).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    val index = newlyPersisted {
      graft.llm.Retrieval.forwardIndex(
        graft.llm.Retrieval.buildIndex(corpus, cache = true), cache = true).count()
    }
    val gate = newlyPersisted {
      graft.streaming.DocStreams.streamDecontamUnder(spark, Sf, 0L).collect()
    }
    val ls = Files.list(Paths.get(graft.streaming.Zone.tmp("graft_stream_decontam")))
    val batches = try ls.iterator.asScala.count(_.getFileName.toString.startsWith("v"))
      finally ls.close()
    assert(batches >= 2, s"the gate ran $batches micro-batches")
    assert(gate == index,
      s"$batches micro-batches left ${gate - index} cached frames beyond the gate's index")
  }

  test("evolving decontam: batch 0 equals the static gate, batch 1 sees the grown index") {
    // The evolving gate screens batch 0 against the corpus-only index —
    // identical verdicts to the static gate for those arrivals — then
    // ingests it, so batch 1 is scored against corpus ∪ batch-0 with
    // recomputed BM25 statistics (n, avgLen, df all move; scores must).
    val evolving = graft.streaming.DocStreams.streamDecontamEvolving(spark, Sf).collect()
    // Lifecycle: the final snapshot is destroyed once verdicts are
    // parquet-backed (the gate's broadcast discipline).
    val snap = graft.streaming.Zone.lastSnapshot
    assert(snap.nonEmpty)
    intercept[org.apache.spark.SparkException](snap.get.value)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val static0 = graft.streaming.DocStreams
      .streamDecontamUnder(spark, Sf, Long.MaxValue).collect()
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(evolving.length == static0.length, "arrival coverage differs")
    // Replay the staged-zone batch arithmetic (the oracle's).
    val ids = evolving.map(_.getLong(0))
    val (lo, hi) = (ids.min, ids.max)
    val span = (hi - lo) / 4 + 1
    def batchOf(id: Long) = ((id - lo) / span) / 2
    val eMap = evolving.map(r => r.getLong(0) -> r.toSeq).toMap
    val sMap = static0.map(r => r.getLong(0) -> r.toSeq).toMap
    val b0 = ids.filter(batchOf(_) == 0L)
    val b1 = ids.filter(batchOf(_) == 1L)
    assert(b0.nonEmpty && b1.nonEmpty, "both batches must be populated")
    b0.foreach { id =>
      assert(eMap(id) == sMap(id), s"batch-0 verdict moved for arrival $id")
    }
    assert(b1.exists(id => eMap(id) != sMap(id)),
      "no batch-1 score moved — the index did not grow")
  }

  test("evolving dedup gate: stream verdicts equal the two-phase batch reference") {
    import spark.implicits._
    // The gate probes batch 0 against the standing corpus index, commits
    // its survivors, probes batch 1 against the GROWN index. The reference
    // recomputes both phases from scratch with the frames API — joint df
    // caps per phase population, exactly the oracle's semantics.
    val got = graft.streaming.DocStreams.streamDedupEvolving(spark, Sf)
      .collect()
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val ids = got.map(_.getLong(0))
    assert(ids.nonEmpty)
    val (lo, hi) = (ids.min, ids.max)
    val span = (hi - lo) / 4 + 1
    def batchOf(id: Long) = ((id - lo) / span) / 2
    val b0 = ids.filter(batchOf(_) == 0L).toSeq
    val b1 = ids.filter(batchOf(_) == 1L).toSeq
    assert(b0.nonEmpty && b1.nonEmpty, "both batches must be populated")
    val arr0 = docs.join(b0.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val arr1 = docs.join(b1.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val v0 = graft.llm.Dedup.incrementalDedupOf(corpus, arr0).collect()
    val surv = v0.filter(!_.getBoolean(1)).map(_.getLong(0)).toSeq
    val accepted = arr0.join(surv.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val v1 = graft.llm.Dedup
      .incrementalDedupOf(corpus.unionByName(accepted), arr1).collect()
    graft.TrackedCaches.release()
    val want = (v0 ++ v1).sortBy(_.getLong(0)).map(_.toString).toSeq
    assert(got.map(_.toString).toSeq == want,
      "stream verdicts diverged from the two-phase batch reference")
  }

  test("evolving dedup gate: a second call before any cache release " +
      "serves the same verdicts") {
    // Each call re-clones its working index into the same directory,
    // outside Spark. Cached reads from the first call match the second
    // call's reads by path (one bucket at this corpus size), so the clone
    // must refresh them or the second call reads deleted files.
    val first = graft.streaming.DocStreams.streamDedupEvolving(spark, Sf)
      .collect().map(_.toString).toSeq
    val second = graft.streaming.DocStreams.streamDedupEvolving(spark, Sf)
      .collect().map(_.toString).toSeq
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(first.nonEmpty && second == first,
      "the second call diverged from the first")
  }

  test("evolving dedup gate: batch-1 dup of a committed survivor is caught (crafted)") {
    import spark.implicits._
    // Zone arithmetic: arrivals {0, 10, 20, 30} → lo=0, span=8 → chunks
    // {0},{10},{20},{30}; maxFilesPerTrigger=2 → batch 0 = {0, 10},
    // batch 1 = {20, 30}. Doc 20 duplicates doc 0 EXACTLY — it can only
    // be verdicted a dup if batch 0's survivor was COMMITTED into the
    // standing index; a no-op commit yields (20, false, -1). Doc 10
    // duplicates the corpus doc, so it is rejected and must NOT be
    // committed (dup_of for 20 must be 0, not 10).
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (0L, "one two three four five"),
      (10L, "alpha beta gamma delta epsilon"),
      (20L, "one two three four five"),
      (30L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    withTempDir("graft_stream_dedup_crafted") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.streaming.DocStreams.streamDedupEvolving(spark, dir)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      graft.TrackedCaches.release()
      spark.catalog.clearCache()
      assert(got.toSeq == Seq(
        (0L, false, -1L), (10L, true, 1L), (20L, true, 0L),
        (30L, false, -1L)),
        s"crafted verdicts wrong: ${got.toSeq}")
    }
  }

  test("evolving decontam: distributed (bucketed-append) twin == broadcast twin") {
    // The distributed-regime evolving gate keeps the standing index as
    // append-only term-bucketed parquet instead of a driver snapshot; the
    // verdicts must be ROW-IDENTICAL to the broadcast twin — same
    // top_match, same 6-dp score, same admit, both batches — or the
    // regime switch would change answers, not just physical strategy.
    val dist = graft.streaming.DocStreams
      .streamDecontamEvolvingUnder(spark, Sf, 0L).collect()
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    val bc = graft.streaming.DocStreams
      .streamDecontamEvolvingUnder(spark, Sf, Long.MaxValue).collect()
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    assert(bc.nonEmpty, "evolving verdicts must be non-empty at the test SF")
    assert(bc.length == dist.length, "arrival coverage differs")
    bc.zip(dist).foreach { case (a, b) =>
      assert(a == b, s"evolving-regime divergence: broadcast=$a dist=$b")
    }
  }

  test("gate broadcast snapshots are destroyed once verdicts are parquet-backed") {
    // Lifecycle contract (the TrackedCaches.release discipline extended to
    // explicit broadcasts): a gate whose verdict frame is parquet-backed
    // has no further use for its index snapshot, so the gate must
    // destroy() it — freeing DRIVER blocks too, which unpersist leaves
    // behind — rather than let repeated invocations on a long-running
    // cluster accumulate broadcast blocks until the ContextCleaner's GC
    // cycle. destroy() makes any later .value throw, which is the
    // observable proof.
    def assertDestroyed(name: String,
        snap: Option[org.apache.spark.broadcast.Broadcast[_]]): Unit = {
      assert(snap.nonEmpty, s"$name: broadcast screen left no snapshot handle")
      val e = intercept[org.apache.spark.SparkException](snap.get.value)
      assert(e.getMessage.toLowerCase.contains("destroy"),
        s"$name: snapshot was not destroyed: ${e.getMessage}")
    }
    val broadcastSide = Long.MaxValue
    graft.streaming.Zone.lastSnapshot = None
    graft.streaming.DocStreams.streamDecontamUnder(spark, Sf, broadcastSide).collect()
    assertDestroyed("decontam", graft.streaming.Zone.lastSnapshot)
    graft.streaming.Zone.lastSnapshot = None
    graft.streaming.DocStreams.streamIngestDedupUnder(spark, Sf, broadcastSide).collect()
    assertDestroyed("ingest-dedup", graft.streaming.Zone.lastSnapshot)
    graft.streaming.Zone.lastSnapshot = None
    graft.streaming.VecStreams.streamVecIngestUnder(spark, Sf, broadcastSide).collect()
    assertDestroyed("vec-ingest", graft.streaming.Zone.lastSnapshot)
    graft.streaming.Zone.lastSnapshot = None
    graft.streaming.DocStreams.streamDecontamEvolvingUnder(spark, Sf, broadcastSide).collect()
    assertDestroyed("evolving-decontam", graft.streaming.Zone.lastSnapshot)
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
  }

  test("every gate returns zero verdicts, with its usual schema, when nothing arrives") {
    import graft.streaming.{DocStreams, VecStreams}
    // A corpus with no arrival rows: no doc_id % 5 == 0, no vec_id % 5 == 0
    // and no event past the anomaly cutoff (the events zone stages every
    // event, so the events table is empty). Every zone stages no chunk,
    // and each gate takes the driver's empty-zone path.
    type Gate = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
    val gates: Seq[(String, Gate)] = Seq(
      ("ingest-dedup", DocStreams.streamIngestDedup),
      ("quality", DocStreams.streamQualityGate),
      ("decontam", DocStreams.streamDecontam),
      ("evolving-dedup", DocStreams.streamDedupEvolving),
      ("evolving-decontam", DocStreams.streamDecontamEvolving),
      ("vec-ingest", VecStreams.streamVecIngest),
      ("anomaly", EventStreams.streamAnomalyGate))
    // The size-selected gates' distributed regimes, forced.
    val distributed: Seq[(String, Gate)] = Seq(
      ("ingest-dedup", DocStreams.streamIngestDedupUnder(_, _, 0L)),
      ("decontam", DocStreams.streamDecontamUnder(_, _, 0L)),
      ("evolving-decontam", DocStreams.streamDecontamEvolvingUnder(_, _, 0L)),
      ("vec-ingest", VecStreams.streamVecIngestUnder(_, _, 0L)))
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val want = gates.map { case (name, gate) =>
      val df = gate(spark, Sf)
      assert(df.count() > 0, s"$name: no verdicts on the test corpus")
      TrackedCaches.release()
      spark.catalog.clearCache()
      name -> shape(df)
    }.toMap
    withTempDir("graft_no_arrivals") { base =>
      Tables.documents(spark, Sf).filter(col("doc_id") % 5 =!= 0)
        .write.parquet(s"$base/documents.parquet")
      Tables.embeddings(spark, Sf).filter(col("vec_id") % 5 =!= 0)
        .write.parquet(s"$base/embeddings.parquet")
      Tables.events(spark, Sf).limit(0).write.parquet(s"$base/events.parquet")
      val zones = Seq(DocStreams.stageDocs(spark, base), VecStreams.stageVecs(spark, base),
        EventStreams.stageEvents(spark, base))
      try {
        assert(zones.forall(graft.streaming.Zone.chunks(_) == 0), "a zone staged arrivals")
        (gates ++ distributed).foreach { case (name, gate) =>
          val df = gate(spark, base)
          assert(df.collect().isEmpty, s"$name: verdicts without arrivals")
          assert(shape(df) == want(name), s"$name: schema ${shape(df)}, not ${want(name)}")
          TrackedCaches.release()
          spark.catalog.clearCache()
        }
      } finally zones.foreach(z => graft.Fs.deleteRec(java.nio.file.Paths.get(z)))
    }
  }
}
