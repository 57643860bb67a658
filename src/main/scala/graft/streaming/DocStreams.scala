package graft.streaming

import graft.Tables
import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest near-dup filter — the continuous-arrival twin of
  * [[graft.llm.Dedup.incrementalDedup]] (SURVEY.md §2.9 extension x the
  * dedup family).
  *
  * A production training-data pipeline doesn't dedup a frozen corpus once;
  * new documents arrive continuously and each must be screened against the
  * EXISTING corpus before admission. This query runs that shape end to end:
  * the arriving slice (doc_id % 5 == 0, the same synthetic arrival split as
  * the batch incremental query) lands as a file stream; each micro-batch is
  * screened in `foreachBatch` against a cached corpus index — exact dup via
  * content digest, near-dup via the MinHash-LSH band join — and per-doc
  * verdicts are written to a versioned sink (overwrite-by-batchId, the same
  * idempotent-replay discipline as [[EventStreams.streamCdcApply]]).
  *
  * Semantics: verdicts are against the PRE-EXISTING corpus only —
  * arrival-vs-arrival duplicates are the post-ingest batch pass's job
  * ([[graft.llm.Dedup.minhashPairs]]). That choice makes the result
  * micro-batch-partitioning-invariant (each doc's verdict depends only on
  * the static corpus), which is what lets a batch DuckDB oracle gate the
  * streaming run bit-for-bit.
  *
  * Scale shape (100 TB): the corpus index is built ONCE (signatures +
  * band rows + digest table, all doc-scale, cached — in production:
  * persisted and bucketed on the band key) and each micro-batch pays
  * |batch| x band-collision work, never |corpus|^2, never corpus re-scan.
  * All joins are equi-joins on compact keys (band tuple, digest); signature
  * computation per batch is the same map-side-combining groupBy(doc) the
  * batch dedup family uses.
  */

/** Thrown by broadcast-regime-only gates when the standing corpus exceeds
  * [[graft.llm.Retrieval.BroadcastScreenMaxBytes]] — a dedicated type (not
  * a bare require) so the scale ladder can record a skipped row by MATCHING
  * THE TYPE instead of the message text, which a reword would silently
  * break (ScaleTest.runLadder). Subclasses IllegalArgumentException so
  * callers treating the gate as a precondition failure keep working. */
final class BroadcastRegimeExceeded(msg: String)
    extends IllegalArgumentException(msg)

object DocStreams {

  /** The most recent gate run's broadcast index snapshot — exposed so
    * StreamingSpec can assert the lifecycle: once a gate's verdict frame is
    * parquet-backed, its snapshot must be DESTROYED (driver + executor
    * blocks freed), not merely unpersisted. `TrackedCaches.release()` only
    * unpersists (the degenerate empty-zone path returns a LAZY frame that
    * must stay re-broadcastable), so without the explicit destroy a
    * long-running cluster invoking gates repeatedly accumulates driver
    * broadcast blocks until the GC-driven ContextCleaner catches up. */
  @volatile private[graft] var lastSnapshot:
      Option[org.apache.spark.broadcast.Broadcast[_]] = None

  /** Streaming-source schema for the staged arrival slice. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Stage the arriving doc slice (doc_id % 5 == 0) as a [[Zone]] chunked
    * on doc_id. */
  def stageDocs(s: SparkSession, d: String): String =
    Zone.stage(s, d, "documents", "doc_id",
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0).select("doc_id", "text"))

  /** One micro-batch's screening: verdicts for an arrival frame against the
    * standing corpus index. Factored out of the stream so PlanShapeSpec can
    * audit its physical plan: the ARRIVAL side is explicitly broadcast into
    * both corpus probes — the corpus-scale band and signature tables are
    * probed in place, never shuffled per micro-batch (at 100 TB that
    * re-shuffle would dwarf the actual screening; with the index bucketed on
    * its keys the same plan holds with zero exchanges). The digest table
    * rides the same discipline implicitly: it is dict-sized per corpus and
    * sits on the broadcastable right side of the left join. */
  private[graft] def screenBatch(batch: DataFrame, corpusSig: DataFrame,
      corpusBands: DataFrame, corpusDigests: DataFrame): DataFrame = {
    val rows = Dedup.NumHashes / Dedup.Bands
    val bsig = Dedup.signaturesOf(batch)
    val bbands = Dedup.bandRows(bsig)
    // Band-key equi-join, batch x corpus — identical arithmetic to the
    // batch minhashPairs candidate join, restricted to the arrival side.
    val cand = corpusBands.join(broadcast(bbands),
        bbands("band") === corpusBands("band") &&
          (0 until rows)
            .map(r => col(s"v$r") === col(s"w$r")).reduce(_ && _))
      .select(col("doc_id").as("da"), col("db")).distinct()
    val nEq = (0 until Dedup.NumHashes)
      .map(i => when(col(s"a.s_$i") === col(s"b.s_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val near = corpusSig.as("b")
      .join(broadcast(cand.join(bsig.as("a"), col("da") === col("a.doc_id"))),
        col("db") === col("b.doc_id"))
      .filter(nEq >= Dedup.MinhashMatchThreshold)
      .groupBy("da").agg(min("db").as("near_src"))
    batch.select(col("doc_id"), md5(col("text")).as("digest"))
      .join(corpusDigests, Seq("digest"), "left")
      .join(near, col("doc_id") === col("da"), "left")
      .select(col("doc_id"),
        col("exact_src").isNotNull.as("is_exact_dup"),
        coalesce(col("near_src"), lit(-1L)).as("near_dup_of"))
  }

  /** Driver-built snapshot of the standing dedup index for the broadcast
    * screening strategy. The CORPUS side is collected from the very frames
    * the distributed kernel probes (signaturesOf / digest rollup — same
    * Spark arithmetic, zero replication risk); only the ARRIVAL side's
    * minhash is recomputed locally, mirroring [[graft.llm.Dedup]]'s
    * shingle/hash/permutation pipeline token for token.
    *
    * Layout is FLAT arrays (the decontam snapshot's round-10 lesson): the
    * previous Map-of-tuples form spent ~9 s of driver groupBy assembling
    * a 1.9M-tuple band index plus ~4 s of per-run broadcast
    * java-serialization at the 30x ladder, against a 0.5 s screen. The
    * band index is DERIVABLE from the signatures (band keys are signature
    * slices — the same derivation [[graft.llm.Dedup.bandRows]] performs
    * distributed), so it is neither built on the driver nor serialized:
    * it rebuilds @transient-lazily after deserialization in one linear
    * pass. Digests carry membership only — both screen strategies emit
    * `is_exact_dup` as a boolean, so the min-source doc the distributed
    * frame also computes is never observable here. */
  private[graft] class DedupScreenSnapshot(
      val docIds: Array[Long],    // one row per corpus doc with a signature
      val sigsFlat: Array[Long],  // docIds.length * NumHashes, row-major
      val digests: Array[String]) // corpus text md5s (membership set)
      extends Serializable {
    @transient lazy val digestSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](digests.length * 2)
      digests.foreach(s.add)
      s
    }
    /** Per band: (band-key 4-slice of the signature) -> doc row indexes. */
    @transient lazy val bandMaps: Array[java.util.HashMap[
        (Long, Long, Long, Long), scala.collection.mutable.ArrayBuffer[Int]]] = {
      val rows = graft.llm.Dedup.NumHashes / graft.llm.Dedup.Bands
      val maps = Array.fill(graft.llm.Dedup.Bands)(
        new java.util.HashMap[(Long, Long, Long, Long),
          scala.collection.mutable.ArrayBuffer[Int]]())
      var di = 0
      while (di < docIds.length) {
        val base = di * graft.llm.Dedup.NumHashes
        var b = 0
        while (b < graft.llm.Dedup.Bands) {
          val k = (sigsFlat(base + b * rows), sigsFlat(base + b * rows + 1),
            sigsFlat(base + b * rows + 2), sigsFlat(base + b * rows + 3))
          var buf = maps(b).get(k)
          if (buf == null) {
            buf = new scala.collection.mutable.ArrayBuffer[Int]()
            maps(b).put(k, buf)
          }
          buf += di
          b += 1
        }
        di += 1
      }
      maps
    }
  }

  /** Arrival-side MinHash signature, mirroring [[Dedup.signaturesOf]]:
    * distinct word-3-gram shingles, 28-bit md5-prefix base hash, min of
    * each affine permutation mod Prime. Returns null for a doc with fewer
    * than 3 words (no shingles — such docs have no signature row in the
    * distributed frame either). */
  private[graft] def localSignature(text: String): Array[Long] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new scala.collection.mutable.HashSet[String]()
    val sig = Array.fill(Dedup.NumHashes)(Long.MaxValue)
    var i = 0
    while (i + 2 < ws.length) {
      val sh = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
      if (seen.add(sh)) {
        md.reset()
        val hex = md.digest(sh.getBytes("UTF-8"))
          .take(4).map(b => f"${b & 0xff}%02x").mkString // 8 hex chars
        val h = java.lang.Long.parseLong(hex.substring(0, 7), 16)
        var j = 0
        while (j < Dedup.NumHashes) {
          val v = (Dedup.HashA(j) * h + Dedup.HashB(j)) % Dedup.Prime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    sig
  }

  /** Hex md5 of a UTF-8 string — Spark's md5() rendering. */
  private def md5Hex(text: String): String = {
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  /** One arrival's verdict against a [[DedupScreenSnapshot]] — value-
    * identical to [[screenBatch]]: exact dup via the digest map, near-dup
    * source = min corpus doc sharing an LSH band with >=
    * MinhashMatchThreshold signature agreement. */
  private[graft] def screenOneLocal(ss: DedupScreenSnapshot, text: String):
      (Boolean, Long) = {
    val isExact = ss.digestSet.contains(md5Hex(text))
    val sig = localSignature(text)
    if (sig == null) return (isExact, -1L)
    val rows = Dedup.NumHashes / Dedup.Bands
    var near = -1L
    val cand = new scala.collection.mutable.HashSet[Int]()
    var b = 0
    while (b < Dedup.Bands) {
      val k = (sig(b * rows), sig(b * rows + 1), sig(b * rows + 2),
        sig(b * rows + 3))
      val buf = ss.bandMaps(b).get(k)
      if (buf != null) buf.foreach(cand.add)
      b += 1
    }
    cand.foreach { di =>
      val base = di * Dedup.NumHashes
      var nEq = 0; var j = 0
      while (j < Dedup.NumHashes) {
        if (ss.sigsFlat(base + j) == sig(j)) nEq += 1
        j += 1
      }
      val db = ss.docIds(di)
      if (nEq >= Dedup.MinhashMatchThreshold && (near < 0 || db < near))
        near = db
    }
    (isExact, near)
  }

  /** Verdicts for an arrival frame via the broadcast screen — the
    * zero-shuffle strategy for a sub-[[graft.llm.Retrieval.BroadcastScreenMaxBytes]]
    * corpus (the decontam-gate discipline applied to the dedup gate). */
  private[graft] def screenBatchLocal(s: SparkSession,
      snap: org.apache.spark.broadcast.Broadcast[DedupScreenSnapshot],
      batch: DataFrame): DataFrame = {
    import s.implicits._
    batch.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ss = snap.value
        it.map { case (did, text) =>
          val (ex, near) = screenOneLocal(ss, text)
          (did, ex, near)
        }
      }
      .toDF("doc_id", "is_exact_dup", "near_dup_of")
  }

  /** Per-doc admission verdict for every arriving doc: exact dup (identical
    * text exists in the corpus), near-dup source (smallest corpus doc
    * sharing an LSH band with >= MinhashMatchThreshold/NumHashes signature
    * agreement; -1 when none).
    *
    * Screening strategy is selected by INDEX SIZE like [[streamDecontam]]:
    * under the broadcast gate the corpus signature/band/digest index is
    * snapshotted (collected from the SAME distributed frames the other
    * strategy probes) and each micro-batch screens in one mapPartitions
    * pass. StreamingSpec holds both strategies row-identical end-to-end
    * through [[streamIngestDedupUnder]]. */
  def streamIngestDedup(s: SparkSession, d: String): DataFrame =
    streamIngestDedupUnder(s, d, graft.llm.Retrieval.BroadcastScreenMaxBytes)

  /** [[streamIngestDedup]] with the broadcast ceiling (corpus text bytes)
    * as a parameter: `Long.MaxValue` forces the broadcast screen, `0L` the
    * distributed one. */
  private[graft] def streamIngestDedupUnder(s: SparkSession, d: String,
      screenMaxBytes: Long): DataFrame = {
    val dir = stageDocs(s, d)
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    // The standing corpus index, built once and reused by every micro-batch:
    // band rows + signatures for the near-dup join, digests for exact dup.
    val rows = Dedup.NumHashes / Dedup.Bands
    val useBroadcast = {
      val st = corpus.agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("bytes")).head()
      st.getLong(0) == 0L || st.getLong(1) <= screenMaxBytes
    }

    var snapOpt: Option[org.apache.spark.broadcast.Broadcast[_]] = None
    val screen: DataFrame => DataFrame =
      if (useBroadcast) {
        val sigRows = Dedup.signaturesOf(corpus).collect()
        val docIds = sigRows.map(_.getLong(0))
        val sigsFlat = new Array[Long](docIds.length * Dedup.NumHashes)
        var di = 0
        while (di < sigRows.length) {
          var j = 0
          while (j < Dedup.NumHashes) {
            sigsFlat(di * Dedup.NumHashes + j) = sigRows(di).getLong(j + 1)
            j += 1
          }
          di += 1
        }
        val digests = corpus
          .select(md5(col("text")).as("digest"))
          .distinct().collect().map(_.getString(0))
        val snap = graft.TrackedCaches.trackBroadcast(s.sparkContext.broadcast(
          new DedupScreenSnapshot(docIds, sigsFlat, digests)))
        snapOpt = Some(snap)
        (batch: DataFrame) => screenBatchLocal(s, snap, batch)
      } else {
        val corpusSig = graft.TrackedCaches.track(
          Dedup.signaturesOf(corpus).cache())
        val corpusBands = Dedup.bandRows(corpusSig)
          .toDF(("db" +: (0 until rows).map(r => s"w$r")) :+ "band": _*)
        val corpusDigests = graft.TrackedCaches.track(
          corpus.select(md5(col("text")).as("digest"), col("doc_id"))
            .groupBy("digest").agg(min("doc_id").as("exact_src")).cache())
        (batch: DataFrame) =>
          screenBatch(batch, corpusSig, corpusBands, corpusDigests)
      }

    val outBase = Zone.tmp("graft_stream_ingest")
    val latest = Zone.run(s, dir, docSchema, outBase, Zone.SliceShuffles) {
      (batch, batchId) => Zone.put(screen(batch), outBase, batchId)
    }
    // The incrementality gate (>= 2 micro-batches) applies only when the
    // zone has enough chunks for two triggers: a sparse doc_id space can
    // legitimately stage fewer than 3 non-empty chunks (stageDocs skips
    // empty ranges), and one-batch screening of such a corpus is correct.
    val nChunks = Zone.chunks(dir)
    require(latest >= 1 || nChunks <= 2,
      s"ingest dedup ran ${latest + 1} micro-batches over $nChunks chunks — " +
        "need >= 2 batches for the screening to actually be incremental")
    // Zero staged chunks (empty arrival slice) means zero micro-batches ran:
    // return an empty verdict frame with the exact output schema (screening
    // a LIMIT 0 batch) instead of calling read.parquet on an empty path list.
    lastSnapshot = snapOpt
    if (latest < 0)
      // The returned frame lazily re-runs screen() — the snapshot must
      // stay valid (TrackedCaches unpersists it after the caller's action).
      screen(corpus.select(col("doc_id"), col("text")).limit(0))
        .orderBy("doc_id")
    else {
      // Verdicts are parquet-backed; the snapshot can never be probed
      // again — destroy it now (see [[lastSnapshot]]).
      snapOpt.foreach(_.destroy())
      Zone.versions(s, outBase, latest, "doc_id")
    }
  }

  /** EVOLVING streaming ingest dedup — the commit-path gate: each
    * micro-batch is probed against the STANDING shingle index
    * ([[graft.llm.Dedup.shingleProbe]] — exact joint-df-cap n-gram
    * Jaccard, the [[graft.llm.Dedup.incrementalDedup]] semantics), its
    * verdicts land as parquet, and its SURVIVORS commit into the index
    * ([[graft.llm.Dedup.shingleCommit]]) — so batch 1 dedups against
    * corpus ∪ batch-0 survivors. This is the production continuous-ingest
    * shape: the standing state grows by appends (df deltas, under-cap
    * occurrences, size corrections), never a rebuild, and dup arrivals
    * are NOT indexed (the difference from the decontam evolving gates,
    * which ingest every arrival — a dedup gate admitting a dup would
    * poison the index with the copy).
    *
    * Zone discipline is [[streamDecontamEvolving]]'s (dense 4-chunk /
    * 2-batch staged slice, maxFilesPerTrigger = 2) so a batch DuckDB
    * oracle can replay the boundary arithmetic. Each call clones a
    * PRISTINE marker-gated corpus index into a working copy (file copy,
    * not rebuild — the commits mutate the working copy only, so reruns
    * amortize the corpus-scale build exactly like the other standing
    * queries). Survivors are read back from the WRITTEN verdict parquet,
    * so the commit's lineage can never re-run the probe against
    * post-append state. */
  def streamDedupEvolving(s: SparkSession, d: String): DataFrame = {
    import java.nio.file._
    import graft.llm.Dedup
    val dir = stageDocs(s, d)
    val pristine = Zone.tmp("graft_shingle_stream_pristine")
    Dedup.shingleBuildIfStale(s, d, pristine)
    // Empty arrival slice: nothing will probe or commit — serve the empty
    // verdict frame straight off the pristine index, no working clone.
    if (Zone.chunks(dir) == 0)
      return Dedup.shingleProbe(s, pristine,
        Tables.documents(s, d).select(col("doc_id"), col("text")).limit(0))
    val base = Zone.tmp("graft_stream_dedup_evolving_ix")
    graft.Fs.deleteRec(Paths.get(base))
    // Hard-link clone: shingleCommit is append-only (existing files are
    // never rewritten), so links give pristine-isolation at metadata cost
    // however big the standing index grows.
    graft.Fs.linkRec(Paths.get(pristine), Paths.get(base))
    // The clone bypasses Spark: drop any cached read of a previous call's
    // working copy, which Spark would match to this call's reads by path.
    s.catalog.refreshByPath(base)
    val outBase = Zone.tmp("graft_stream_dedup_evolving")
    val latest = Zone.run(s, dir, docSchema, outBase, Zone.SliceShuffles) {
      (batch, batchId) =>
        val b = batch.select(col("doc_id"), col("text"))
        // Unordered per-batch verdicts: the combined read-back below is
        // the one place this query sorts.
        Zone.put(Dedup.shingleProbeUnordered(s, base, b), outBase, batchId)
        val survivors = s.read.parquet(Zone.version(outBase, batchId))
          .filter(!col("is_dup")).select("doc_id")
        Dedup.shingleCommit(s, base,
          b.join(survivors, Seq("doc_id"), "left_semi"))
    }
    val nChunks = Zone.chunks(dir)
    if (latest < 0) {
      // Empty arrival slice: nothing probed, nothing committed.
      Dedup.shingleProbe(s, base,
        Tables.documents(s, d).select(col("doc_id"), col("text")).limit(0))
    } else {
      require(nChunks == 4 && latest == 1,
        s"evolving dedup ran ${latest + 1} batches over $nChunks chunks — " +
          "the oracle's batch arithmetic needs the dense 4-chunk / 2-batch zone")
      Zone.versions(s, outBase, latest, "doc_id")
    }
  }

  /** Oracle for [[streamDedupEvolving]]: the shared two-phase commit
    * chain ([[graft.llm.Dedup.twoPhaseDedupSql]]) with the batch
    * membership replayed from the staged zone's boundary arithmetic
    * ([[Zone.batchOfSql]], as in [[streamDecontamEvolvingSql]]), emitting
    * BOTH batches' verdicts. */
  val streamDedupEvolvingSql: String = graft.llm.Dedup.twoPhaseDedupSql(
    s"""arrb AS (${Zone.batchOfSql(
             "(SELECT doc_id FROM documents WHERE doc_id % 5 = 0)", "doc_id")}),
        a0 AS (SELECT doc_id FROM arrb WHERE b = 0),
        a1 AS (SELECT doc_id FROM arrb WHERE b = 1)""",
    c => s"$c IN (SELECT doc_id FROM a0)",
    c => s"$c IN (SELECT doc_id FROM a1)",
    emitPhase1 = true)

  /** Admission ceiling for [[streamQualityGate]]: arrivals scoring above
    * this perplexity under the corpus LM are rejected. Sits at the corpus
    * median (~29.6 at sf0.01) so both verdicts are exercised. */
  val PplAdmitMax = 29.5

  /** Streaming LM quality gate — the continuous-arrival twin of
    * [[TextAnalysis.lmPerplexity]], the way [[streamIngestDedup]] twins the
    * batch dedup: the standing corpus (doc_id % 5 != 0) trains the bigram
    * model ONCE; each arriving micro-batch is scored against the broadcast
    * model tables and admitted iff ppl <= [[PplAdmitMax]]. Bigrams the
    * corpus never saw take the Laplace floor (the left-join path of
    * [[TextAnalysis.scorePpl]]) — exactly how a production gate handles
    * out-of-distribution text.
    *
    * Verdicts depend only on the static model, so they are micro-batch-
    * partitioning-invariant and a batch DuckDB oracle gates the streaming
    * run bit-for-bit (the [[streamIngestDedup]] argument). Per micro-batch
    * cost is |batch| x model-probe work (model sides broadcast); the corpus
    * is never re-scanned after training. */
  def streamQualityGate(s: SparkSession, d: String): DataFrame = {
    val dir = stageDocs(s, d)
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    val (c2, c1, vocab) =
      TextAnalysis.bigramModel(TextAnalysis.bigramsOf(corpus.select("doc_id", "text")))
    val outBase = Zone.tmp("graft_stream_gate")
    val latest = Zone.run(s, dir, docSchema, outBase, Zone.SliceShuffles) {
      (batch, batchId) =>
        Zone.put(TextAnalysis.scorePpl(TextAnalysis.bigramsOf(batch), c2, c1, vocab)
          .withColumn("admit", col("ppl") <= lit(PplAdmitMax)), outBase, batchId)
    }
    val nChunks = Zone.chunks(dir)
    require(latest >= 1 || nChunks <= 2,
      s"quality gate ran ${latest + 1} micro-batches over $nChunks chunks — " +
        "need >= 2 batches for the gate to actually be incremental")
    // Same empty-zone discipline as streamIngestDedup: score a LIMIT 0
    // batch to produce the exact output schema with zero rows.
    if (latest < 0)
      TextAnalysis.scorePpl(
          TextAnalysis.bigramsOf(corpus.select("doc_id", "text").limit(0)),
          c2, c1, vocab)
        .withColumn("admit", col("ppl") <= lit(PplAdmitMax))
        .orderBy("doc_id")
    else
      Zone.versions(s, outBase, latest, "doc_id")
  }

  /** Batch oracle for the quality gate: the corpus-trained model scoring the
    * arrival slice with the same smoothing, rounding, and threshold. */
  val streamQualityGateSql: String =
    s"""WITH ctoks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE doc_id % 5 <> 0),
        cbig AS (SELECT t[i] AS w1, t[i+1] AS w2
                 FROM ctoks, unnest(range(1, len(t))) AS u(i)),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM cbig GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT w1 AS w FROM c2 UNION ALL SELECT w2 FROM c2)),
        atoks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id % 5 = 0),
        abig AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                 FROM atoks, unnest(range(1, len(t))) AS u(i)),
        lp AS (SELECT b.doc_id,
                 round(ln((coalesce(c2.c2, 0) + ${TextAnalysis.LmAlpha}) /
                   (coalesce(c1.c1, 0) + ${TextAnalysis.LmAlpha} * v.v)), 6) AS logp
               FROM abig b LEFT JOIN c2 USING (w1, w2)
                           LEFT JOIN c1 USING (w1), v),
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                  sum(CAST(logp AS DECIMAL(20, 6))) AS slp
                FROM lp GROUP BY 1)
        SELECT doc_id, n_bigrams,
          round(CAST(slp AS DOUBLE) / n_bigrams, 6) AS avg_logprob,
          round(exp(-round(CAST(slp AS DOUBLE) / n_bigrams, 6)), 6) AS ppl,
          (round(exp(-round(CAST(slp AS DOUBLE) / n_bigrams, 6)), 6)
            <= $PplAdmitMax) AS admit
        FROM agg ORDER BY doc_id"""

  /** Batch oracle: the same digest + MinHash-band arithmetic over the same
    * arrival/corpus split — valid because verdicts only depend on the static
    * corpus, so micro-batch chunking cannot change them. */
  val streamIngestDedupSql: String = {
    val rows = Dedup.NumHashes / Dedup.Bands
    val minCols = (0 until Dedup.NumHashes).map { i =>
      s"min((${Dedup.HashA(i)} * h + ${Dedup.HashB(i)}) % ${Dedup.Prime}) AS s_$i"
    }.mkString(", ")
    val bandSelects = (0 until Dedup.Bands).map { b =>
      val vs = (0 until rows).map(r => s"s_${b * rows + r} AS v$r").mkString(", ")
      s"SELECT doc_id, $vs, $b AS band FROM sig"
    }.mkString(" UNION ALL ")
    val joinVs = (0 until rows).map(r => s"x.v$r = y.v$r").mkString(" AND ")
    val nEq = (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN a.s_$i = b.s_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
               FROM words, generate_series(1, ${Dedup.MaxWords}) t(i) WHERE i <= len(ws) - 2),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h FROM sh),
        sig AS (SELECT doc_id, $minCols FROM h GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                 FROM bands x JOIN bands y
                 ON x.band = y.band AND $joinVs
                 WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0),
        near AS (SELECT da, min(db) AS near_src
                 FROM cand c JOIN sig a ON c.da = a.doc_id
                             JOIN sig b ON c.db = b.doc_id
                 WHERE $nEq >= ${Dedup.MinhashMatchThreshold}
                 GROUP BY da),
        ex AS (SELECT d.doc_id, min(c.doc_id) AS exact_src
               FROM documents d JOIN documents c
                 ON md5(d.text) = md5(c.text) AND c.doc_id % 5 <> 0
               WHERE d.doc_id % 5 = 0 GROUP BY d.doc_id)
        SELECT d.doc_id,
          ex.exact_src IS NOT NULL AS is_exact_dup,
          coalesce(n.near_src, CAST(-1 AS BIGINT)) AS near_dup_of
        FROM documents d
        LEFT JOIN ex ON d.doc_id = ex.doc_id
        LEFT JOIN near n ON d.doc_id = n.da
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id"""
  }

  /** Admission ceiling for [[streamDecontam]]: an arrival whose best BM25
    * match in the standing corpus scores ABOVE this is rejected as a
    * contamination suspect (its term profile retrieves an existing doc too
    * well). Sits just under the arrival top-score median at sf0.01 (~8.67)
    * so both verdicts are exercised. */
  val Bm25AdmitMax = 8.6

  /** Streaming decontamination gate — the retrieval twin of
    * [[streamQualityGate]]: the standing corpus (doc_id % 5 != 0) is
    * indexed for BM25 ONCE ([[Retrieval.buildIndex]] + the forward index,
    * both cached); each arriving micro-batch runs the bounded two-stage
    * screen (every arrival is a query, so the per-query bound is the whole
    * game — see the Retrieval "bounded screening" comment): candidates
    * from each arrival's [[Retrieval.RareTerms]] most selective terms,
    * capped at [[Retrieval.CandCap]], then full BM25 of just those pairs
    * via a broadcast probe of the forward index. The best-scoring match
    * admits the arrival iff score <= [[Bm25AdmitMax]] — the eval-set /
    * known-corpus screening a production ingest runs before training data
    * is accepted. Arrivals with NO sub-ceiling shared rare term (nothing
    * to retrieve) admit with top_match = -1, score 0.
    *
    * Verdicts depend only on the static corpus index and the arrival doc's
    * own terms (every screening stage takes df/length/stats from the index
    * side only), so they are micro-batch-partitioning-invariant and the
    * batch DuckDB oracle gates the streaming run bit-for-bit (the
    * [[streamIngestDedup]] argument). Per micro-batch cost is |batch| x
    * (RareTerms posting probes + CandCap forward-row scores); the corpus
    * is never re-scanned after the index builds.
    *
    * The gate selects its screening PHYSICAL STRATEGY by index size, the
    * way Spark selects broadcast joins: under
    * [[graft.llm.Retrieval.BroadcastScreenMaxBytes]] of corpus text the
    * whole screen runs as one mapPartitions pass against a broadcast index
    * snapshot (zero shuffles per micro-batch); above it the distributed
    * postings-probe kernel runs unchanged. Identical verdicts either way —
    * StreamingSpec replays the gate end-to-end on both sides (through
    * [[streamDecontamUnder]]) and asserts row equality. */
  def streamDecontam(s: SparkSession, d: String): DataFrame =
    streamDecontamUnder(s, d, graft.llm.Retrieval.BroadcastScreenMaxBytes)

  /** [[streamDecontam]] with the broadcast ceiling (corpus text bytes) as
    * a parameter: `Long.MaxValue` forces the broadcast screen, `0L` the
    * distributed one. */
  private[graft] def streamDecontamUnder(s: SparkSession, d: String,
      screenMaxBytes: Long): DataFrame = {
    import graft.llm.Retrieval
    val dir = stageDocs(s, d)
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    // Physical-strategy selection by INDEX SIZE (the broadcast-join
    // philosophy — see the Retrieval "Broadcast screening" comment): a
    // corpus whose text payload fits the ceiling is screened by the
    // zero-shuffle broadcast snapshot (one mapPartitions pass per
    // micro-batch); anything larger keeps the distributed postings-probe
    // kernel (StreamingSpec holds the two paths bit-identical; the
    // streams ladder measures both).
    val useBroadcast = {
      val st = corpus.agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("bytes")).head()
      st.getLong(0) == 0L || st.getLong(1) <= screenMaxBytes
    }

    var snapOpt: Option[org.apache.spark.broadcast.Broadcast[_]] = None
    // The distributed screen's per-batch cache, unpersisted once the
    // batch's verdicts are written.
    var batchCache: Option[DataFrame] = None
    val screen: DataFrame => DataFrame =
      if (useBroadcast) {
        val snap = graft.TrackedCaches.trackBroadcast(
          s.sparkContext.broadcast(Retrieval.buildScreenSnapshot(corpus)))
        snapOpt = Some(snap)
        (batch: DataFrame) =>
          Retrieval.screenBatchLocal(s, snap, batch.select(col("doc_id"), col("text")))
            .select(col("doc_id"), col("top_match"), col("top_score"),
              (col("top_score") <= lit(Bm25AdmitMax)).as("admit"))
      } else {
        val ix = Retrieval.buildIndex(corpus, cache = true)
        val fwd = Retrieval.forwardIndex(ix, cache = true)
        // The candidate cap runs the custom TopKPerKey operator INSIDE each
        // micro-batch; the stream plans on a session clone made at start(), so
        // the strategy must be on the parent session first (see ensureRegistered).
        graft.plans.TopKPerKey.ensureRegistered(s)
        (batch: DataFrame) => {
          val qt = Retrieval.postings(batch.select(col("doc_id"), col("text")))
            .select(col("doc_id").as("query_id"), col("term"))
          // Both screening stages read the (query term, df) rows; cache them
          // per batch so the arrival tokenize + df join runs once, not twice
          // (the stages share one plan and Spark does not dedupe subtrees).
          // Tiny: |batch| x sub-ceiling vocabulary. The micro-batch body
          // unpersists it after the batch's write; tracking covers the lazy
          // empty-zone frame, which no micro-batch writes.
          val qd = graft.TrackedCaches.track(
            Retrieval.subCeilingQueryDf(ix, qt).cache())
          batchCache = Some(qd)
          val cand = Retrieval.screenCandidatesQd(ix, qd)
          val scores = Retrieval.scoreCandidatesQd(ix, fwd, qd, cand)
          // Top-1 per arrival via the bounded-heap operator rather than a
          // row_number window: same (score DESC, doc_id) ordering, no per-batch
          // WindowExec sort, and one fewer operator in the plan foreachBatch
          // re-codegens every micro-batch.
          val top = graft.plans.TopKPerKey.topKPerKey(scores, 1, Seq("query_id"),
              Seq("score" -> false, "doc_id" -> true))
            .select(col("query_id").as("doc_id"), col("doc_id").as("top_match"),
              col("score").as("top_score"))
          batch.select(col("doc_id"))
            .join(top, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("top_match"), lit(-1L)).as("top_match"),
              coalesce(col("top_score"), lit(0.0)).as("top_score"),
              (coalesce(col("top_score"), lit(0.0)) <= lit(Bm25AdmitMax)).as("admit"))
        }
      }

    // Decontam's distributed stage-1 hit scatter is arrivals x posting-list
    // rows — ~6M per batch on this low-selectivity corpus — but the scatter
    // is consumed by map-side partial aggregation INSIDE its stage: the
    // exchange after it carries only the combined (query, doc) pairs, so
    // the slice-sized shuffle sizing of the sibling streams is right here
    // too (measured: full run 8.1 s at 8 partitions vs 11.3 s at 32 — the
    // 32-way variant just pays 4x task overhead on sub-MB partitions).
    // Round-9 cost decomposition (in-JVM stack sampling + per-phase
    // wall/cpu timers, warm): the distributed kernel's ~10 s wall at sf0.1
    // split into index build ~3 s (five sequential multi-stage actions on
    // a 124k-row index), batch 0 ~4 s, batch 1 ~2.5 s — per batch mostly
    // the 2M-group hash aggregate, the interpreted DECIMAL fold
    // (scala.math.BigDecimal$.decimal was the hottest app frame), and
    // 6-8 stage barriers' fixed costs, NOT the 6M-row scatter itself
    // (0.3 s). All of that is generality the 3 MB index doesn't need,
    // hence the size-based broadcast path above: same verdicts
    // (StreamingSpec holds the paths bit-identical end-to-end), one
    // mapPartitions stage per batch, measured 9.6 -> 2.9 s wall warm
    // (process CPU 108 -> 7 s). Knobs measured and rejected earlier:
    // CandCap 100 -> 50 flipped an admit verdict (see CandCap's scaladoc),
    // RareTerms 4 -> 3 moved CPU inside noise; batch-count reduction is
    // exhausted (4 staged chunks at maxFilesPerTrigger=2 is already the
    // 2-batch minimum the incrementality gate demands).
    val outBase = Zone.tmp("graft_stream_decontam")
    val latest = Zone.run(s, dir, docSchema, outBase, Zone.SliceShuffles) {
      (batch, batchId) =>
        Zone.put(screen(batch), outBase, batchId)
        batchCache.foreach(_.unpersist(blocking = false))
    }
    val nChunks = Zone.chunks(dir)
    require(latest >= 1 || nChunks <= 2,
      s"decontam gate ran ${latest + 1} micro-batches over $nChunks chunks — " +
        "need >= 2 batches for the screening to actually be incremental")
    // Same empty-zone discipline as the sibling gates: screen a LIMIT 0
    // batch to produce the exact output schema with zero rows.
    lastSnapshot = snapOpt
    if (latest < 0)
      // Lazy frame — the snapshot must stay valid (unpersist-only).
      screen(corpus.limit(0)).orderBy("doc_id")
    else {
      // Parquet-backed verdicts: destroy the snapshot (see [[lastSnapshot]]).
      snapOpt.foreach(_.destroy())
      Zone.versions(s, outBase, latest, "doc_id")
    }
  }

  /** EVOLVING streaming decontamination gate — the incremental-index twin
    * of [[streamDecontam]]: the standing index does NOT stay frozen; each
    * micro-batch is screened against the index AS OF THE PREVIOUS batch
    * and then appended to it (screen-then-ingest — verdicts are advisory
    * flags, the standing set grows with every arrival, which is the
    * production shape when later arrivals must be screened against
    * everything already seen, not just the original corpus).
    *
    * The index is maintained INCREMENTALLY on the driver
    * ([[graft.llm.Retrieval.incrementalIndexOf]] +
    * `IncrementalScreenIndex.append`): per batch the cost is |batch|
    * local tokenization, one index-linear snapshot projection, and one
    * re-broadcast (the superseded snapshot is destroyed on the spot) —
    * never a corpus re-scan. A rebuild formulation would pay the full
    * corpus-linear Spark index build per micro-batch, the very term that
    * dominated the decontam 30x ladder. Broadcast-screen only by design:
    * incremental append IS the broadcast regime's feature (the
    * distributed regime's analogue is bucketed posting appends).
    *
    * Verdict determinism (what makes a batch DuckDB oracle possible):
    * [[stageDocs]] cuts the arrival slice into 4 mtime-ordered chunks at
    * fixed doc_id boundaries (span = (hi - lo) / 4 + 1) and the stream
    * reads maxFilesPerTrigger = 2, so batch b holds exactly the arrivals
    * with (doc_id - lo) / span in {2b, 2b+1} — the oracle replays the
    * boundary arithmetic and screens batch 0 against the corpus, batch 1
    * against corpus ∪ batch-0 arrivals. The gate REQUIRES the dense
    * 4-chunk zone (it throws on sparse corpora rather than silently
    * diverging from the oracle's batch arithmetic). */
  def streamDecontamEvolving(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Retrieval
    val dir = stageDocs(s, d)
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    val st = corpus.agg(count(lit(1)).as("n"),
      sum(length(col("text"))).as("bytes")).head()
    if (!(st.getLong(0) == 0L ||
        st.getLong(1) <= Retrieval.BroadcastScreenMaxBytes))
      throw new BroadcastRegimeExceeded(
        "evolving decontam is broadcast-screen only — corpus exceeds the gate")
    val inc = Retrieval.incrementalIndexOf(corpus)
    @volatile var snap = graft.TrackedCaches.trackBroadcast(
      s.sparkContext.broadcast(inc.snapshot()))
    // The snapshot is re-projected lazily at the START of the batch that
    // needs it, not eagerly after every append — the final batch's append
    // would otherwise pay a projection + broadcast nothing ever reads.
    @volatile var stale = false
    val outBase = Zone.tmp("graft_stream_decontam_evolving")
    val latest = Zone.run(s, dir, docSchema, outBase, Zone.SliceShuffles) {
      (b, batchId) =>
        if (stale) {
          val old = snap
          snap = graft.TrackedCaches.trackBroadcast(
            s.sparkContext.broadcast(inc.snapshot()))
          old.destroy()
          stale = false
        }
        Zone.put(Retrieval.screenBatchLocal(s, snap, b.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("top_match"), col("top_score"),
            (col("top_score") <= lit(Bm25AdmitMax)).as("admit")), outBase, batchId)
        // Ingest the batch into the standing index; the NEXT batch (if any)
        // screens against it. Batch frames are arrival-slice-scale — the
        // collect is |batch|-bounded by construction of the staged zone.
        val rows = b.select(col("doc_id").cast("long"), col("text")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        inc.append(rows.sortBy(_._1).toSeq)
        stale = true
    }
    lastSnapshot = Some(snap)
    val nChunks = Zone.chunks(dir)
    if (latest < 0) {
      // Empty arrival slice: nothing screened, nothing ingested — return
      // the empty verdict frame (snapshot stays valid for the lazy plan).
      Retrieval.screenBatchLocal(s, snap, corpus.limit(0))
        .select(col("doc_id"), col("top_match"), col("top_score"),
          (col("top_score") <= lit(Bm25AdmitMax)).as("admit"))
        .orderBy("doc_id")
    } else {
      require(nChunks == 4 && latest == 1,
        s"evolving decontam ran ${latest + 1} batches over $nChunks chunks — " +
          "the oracle's batch arithmetic needs the dense 4-chunk / 2-batch zone")
      snap.destroy()
      Zone.versions(s, outBase, latest, "doc_id")
    }
  }

  /** EVOLVING streaming decontamination gate, DISTRIBUTED regime — the
    * bucketed-posting-append twin of [[streamDecontamEvolving]] for
    * standing corpora past [[graft.llm.Retrieval.BroadcastScreenMaxBytes]]
    * (the budget the broadcast gate `require`s): identical screen-then-
    * ingest semantics (batch b screened against corpus ∪ batches < b),
    * but the standing index lives as append-only term-bucketed parquet
    * ([[graft.llm.Retrieval.EvolvingDistIndex]]) — per batch the gate pays
    * one partition-pruned distributed screen plus a |batch|-scale append,
    * never a corpus-linear index rebuild and never a driver-resident
    * snapshot. Verdicts are row-identical to the broadcast twin
    * (StreamingSpec replays both) and the DuckDB oracle is the SAME
    * [[streamDecontamEvolvingSql]] — the regime moves, the semantics
    * don't. Zone discipline (dense 4-chunk / 2-batch staged slice,
    * maxFilesPerTrigger = 2) is copied from the broadcast twin so the
    * oracle's batch arithmetic holds here too. */
  def streamDecontamEvolvingDist(s: SparkSession, d: String): DataFrame = {
    import graft.llm.{Retrieval, StandingIndex}
    val dir = stageDocs(s, d)
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    val ix = Zone.tmp("graft_stream_decontam_evolving_dist_ix")
    StandingIndex.reset(ix)
    val inc = new Retrieval.EvolvingDistIndex(s, ix)
    inc.append(corpus) // the one-time seed build — corpus-scale, like buildIndex
    graft.plans.TopKPerKey.ensureRegistered(s)
    def verdicts(batch: DataFrame): DataFrame =
      inc.screen(batch.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("top_match"), col("top_score"),
          (col("top_score") <= lit(Bm25AdmitMax)).as("admit"))
    // UNLIKE the broadcast-regime gates, no shuffle.partitions=8 override:
    // this gate exists for heavy batches against big standing state, and
    // its kernel + stage-2 fold want the session's full parallelism (the
    // 8 was zone discipline for tiny-batch machinery; here it cost ~2×).
    // One scan task PER FILE for the standing dirs: the fwd/postings
    // files are small enough that Spark's default openCost packs them
    // into 1-2 scan partitions, and the stage-2 fold — which executes
    // INSIDE the fwd scan stage via the broadcast joins — then runs
    // near-serial (measured 8 s/verdict at sf0.1, ~2.5 s after). File
    // count is bounded by construction (appends repartition by bucket),
    // so task count stays sane at any corpus scale; files larger than
    // maxPartitionBytes still split.
    val out = Zone.tmp("graft_stream_decontam_evolving_dist")
    val latest = Zone.run(s, dir, docSchema, out,
        "spark.sql.files.openCostInBytes" -> (128L << 20).toString) {
      (b, batchId) =>
        Zone.put(verdicts(b), out, batchId)
        // Ingest AFTER the screen: the NEXT batch sees this one.
        inc.append(b.select(col("doc_id"), col("text")))
        graft.TrackedCaches.release()
    }
    val nChunks = Zone.chunks(dir)
    if (latest < 0)
      verdicts(corpus.limit(0)).orderBy("doc_id")
    else {
      require(nChunks == 4 && latest == 1,
        s"evolving-dist decontam ran ${latest + 1} batches over $nChunks " +
          "chunks — the oracle's batch arithmetic needs the dense " +
          "4-chunk / 2-batch zone")
      Zone.versions(s, out, latest, "doc_id")
    }
  }

  /** One parameterized copy of the two-stage screen's CTE chain (the
    * [[streamDecontamSql]] shape) over an explicit (reference set,
    * arrival set) pair — emitted twice by [[streamDecontamEvolvingSql]],
    * once per micro-batch, because the evolving gate's reference set
    * changes between batches. Per-term contributions are
    * floor(ts * 1e6 + 0.5) micro-units summed as BIGINT — the Spark
    * side's exact arithmetic token for token. */
  private def evolvingScreenBlock(p: String, ref: String, arr: String): String = {
    import graft.llm.Retrieval._
    s"""${p}toks AS (SELECT doc_id, u.t AS term
                 FROM $ref, unnest(string_split(text, ' ')) u(t)),
        ${p}tf AS (SELECT doc_id, term, count(*) AS tf FROM ${p}toks GROUP BY 1, 2),
        ${p}dl AS (SELECT doc_id, sum(tf) AS len FROM ${p}tf GROUP BY 1),
        ${p}stats AS (SELECT count(*) AS n,
                    CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM ${p}dl),
        ${p}dft AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1),
        ${p}qt AS (SELECT doc_id AS query_id, u.t AS term
               FROM $arr, unnest(string_split(text, ' ')) u(t) GROUP BY 1, 2),
        ${p}qd AS (SELECT q.query_id, q.term, d.df
               FROM ${p}qt q JOIN ${p}dft d USING (term), ${p}stats s
               WHERE d.df * 100 <= s.n * $MaxDfPct),
        ${p}rare AS (SELECT query_id, term FROM (
                   SELECT query_id, term,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY df, term) AS rrk
                   FROM ${p}qd) WHERE rrk <= $RareTerms),
        ${p}hits AS (SELECT r.query_id, f.doc_id, count(*) AS nmatch
                 FROM ${p}rare r JOIN ${p}tf f USING (term)
                 WHERE f.doc_id <> r.query_id GROUP BY 1, 2),
        ${p}cand AS (SELECT query_id, doc_id FROM (
                   SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY nmatch DESC, doc_id) AS crk
                   FROM ${p}hits) WHERE crk <= $CandCap),
        ${p}sc AS (SELECT c.query_id, c.doc_id,
                 CAST(sum(CAST(floor(
                   ln(1.0 + (CAST(s.n AS BIGINT) - q.df + 0.5) / (q.df + 0.5))
                     * (f.tf * ${K1 + 1.0})
                     / (f.tf + $K1 * (${1.0 - B} + $B * (CAST(l.len AS DOUBLE) / s.avglen)))
                     * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS score
               FROM ${p}cand c
               JOIN ${p}qd q ON q.query_id = c.query_id
               JOIN ${p}tf f ON f.doc_id = c.doc_id AND f.term = q.term
               JOIN ${p}dl l ON l.doc_id = c.doc_id, ${p}stats s
               GROUP BY 1, 2),
        ${p}top AS (SELECT query_id AS doc_id, doc_id AS top_match, score AS top_score
                FROM (SELECT query_id, doc_id, score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id) AS rk
                      FROM ${p}sc) WHERE rk = 1),
        ${p}out AS (SELECT a.doc_id,
          coalesce(t.top_match, CAST(-1 AS BIGINT)) AS top_match,
          coalesce(t.top_score, 0.0) AS top_score,
          coalesce(t.top_score, 0.0) <= $Bm25AdmitMax AS admit
        FROM $arr a LEFT JOIN ${p}top t ON a.doc_id = t.doc_id)"""
  }

  /** Batch oracle of [[streamDecontamEvolving]]: the staged-zone batch
    * boundaries replayed arithmetically (span = (hi - lo) // 4 + 1,
    * batch = ((doc_id - lo) // span) // 2), then the full two-stage
    * screen once per batch — batch 0 against the corpus, batch 1 against
    * corpus ∪ batch-0 arrivals, each with ITS OWN BM25 statistics (n,
    * avglen, df all move when the index grows — that is the point of the
    * evolving gate). */
  val streamDecontamEvolvingSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        ab AS (${Zone.batchOfSql("arr", "doc_id")}),
        arr0 AS (SELECT doc_id, text FROM ab WHERE b = 0),
        arr1 AS (SELECT doc_id, text FROM ab WHERE b = 1),
        ref1 AS (SELECT doc_id, text FROM corpus
                 UNION ALL SELECT doc_id, text FROM arr0),
        ${evolvingScreenBlock("b0", "corpus", "arr0")},
        ${evolvingScreenBlock("b1", "ref1", "arr1")}
        SELECT * FROM b0out UNION ALL SELECT * FROM b1out
        ORDER BY doc_id"""

  /** Batch oracle of [[streamDecontam]] (valid per its scaladoc): ONE
    * instance of the parameterized screen chain — the same rare-term
    * candidates (row_number over (df, term) <= RareTerms), match-count cap
    * (row_number over (nmatch DESC, doc_id) <= CandCap), full BM25 of the
    * surviving pairs, top-1 by (score DESC, doc_id), left-joined to every
    * arrival — with the standing corpus as the reference set. Sharing
    * [[evolvingScreenBlock]] keeps the static and evolving oracles
    * structurally incapable of drifting apart; the block's
    * floor-micro-unit BIGINT sum equals the earlier round/DECIMAL
    * formulation value-for-value on this always-positive score domain
    * (floor(x*1e6+0.5) IS half-up 6-dp rounding for positive x, and both
    * finishes produce the nearest double of the same 6-dp decimal). */
  val streamDecontamSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        ${evolvingScreenBlock("", "corpus", "arr")}
        SELECT * FROM out ORDER BY doc_id"""

  /** The shipped EVOLVING-DELETE query (`q_decontam_evolving_dist_delete`):
    * seed the distributed evolving index with the corpus (doc_id % 5 ≠ 0),
    * DELETE the doc_id % 10 = 7 slice by id (an eval-set retraction — the
    * takedown case a decontamination gate actually meets: a benchmark is
    * withdrawn and the screen must stop matching against it), then screen
    * the arrival set against the purged index. EXACTNESS is the point of
    * this index's delete: everything is read through sums, so the
    * negative deltas re-settle df, n, and avgLen on the remaining
    * population and the oracle simply recomputes the whole screen over
    * corpus-minus-deleted — no frozen-stats caveat (contrast
    * `q_bm25_standing_delete`) and no resurrection guard (contrast
    * `q_dedup_standing_delete`): the fwd table lets an id-only delete
    * derive its own corrections. The marker embeds the deleted phase
    * (the standing-family protocol — unlike the STREAMING evolving
    * gates, which must replay their micro-batch transitions, this batch
    * query's mutation amortizes): reruns reopen the purged index from
    * its durable stats deltas and serve screen-only, and a crash
    * mid-transition or a corpus rewrite rebuilds from source. */
  def decontamEvolvingDistDelete(s: SparkSession, d: String): DataFrame = {
    import java.nio.file._
    import graft.llm.{Retrieval, StandingIndex}
    val base = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_evodist_delete")
    val sig = StandingIndex.sourceSig(s"$d/documents.parquet")
    val want = s"dir=$d sig=$sig deleted=mod10eq7"
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val inc =
      if (StandingIndex.upToDate(base.toString, want))
        new Retrieval.EvolvingDistIndex(s, base.toString)
      else {
        if (Files.exists(base)) graft.Fs.deleteRec(base)
        Files.createDirectories(base)
        val ix = new Retrieval.EvolvingDistIndex(s, base.toString)
        ix.append(docs.filter(col("doc_id") % 5 =!= 0))
        ix.delete(docs.filter(col("doc_id") % 10 === 7).select("doc_id"))
        StandingIndex.commit(base.toString, want)
        ix
      }
    graft.plans.TopKPerKey.ensureRegistered(s)
    inc.screen(docs.filter(col("doc_id") % 5 === 0))
      .select(col("doc_id"), col("top_match"), col("top_score"),
        (col("top_score") <= lit(Bm25AdmitMax)).as("admit"))
      .orderBy("doc_id")
  }

  /** Oracle for [[decontamEvolvingDistDelete]]: the one-phase screen
    * block over the PURGED population — df, n, avgLen all recomputed
    * over corpus-minus-deleted, which is exactly what the negative
    * deltas serve. (Arrival ids are ≡ 0 mod 5, never ≡ 7 mod 10, so the
    * corpus predicate drops only the purged slice.) */
  val decontamEvolvingDistDeleteSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
              WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 7),
        arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        ${evolvingScreenBlock("", "corpus", "arr")}
        SELECT * FROM out ORDER BY doc_id"""
}
