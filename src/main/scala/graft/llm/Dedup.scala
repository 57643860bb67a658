package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication for LLM training-data pipelines: exact,
  * normalization-fingerprint, MinHash-LSH, SimHash, and exact n-gram Jaccard.
  *
  * Every variant ships BOTH a Spark implementation and a DuckDB oracle that
  * replicate the SAME deterministic hash arithmetic (md5-hex-prefix -> int64,
  * affine permutations mod a prime), so the differential check validates the
  * full pipeline — not just "rows > 0". Constants are defined once here and
  * injected into the generated oracle SQL.
  *
  * Scale design (100 TB):
  *  - Everything is shingle/token-parallel: explode -> hash -> groupBy(doc).
  *    No driver-side state; shuffles are on doc_id (bounded by corpus size,
  *    not token count) because min/sum aggregates combine map-side.
  *  - Candidate generation is LSH-banded (MinHash) or bit-banded (SimHash):
  *    the only joins are equi-joins on compact band keys, never an all-pairs
  *    cross join. Exact Jaccard runs only on candidate pairs (here on the
  *    shared-shingle inverted index, the standard exact-join trick).
  *  - Skew: a stop-shingle appearing in f docs costs f^2 pairs in the
  *    inverted-index join. The Jaccard index therefore drops shingles with
  *    doc-frequency > [[ShingleDfCap]] before the self-join (one extra
  *    map-side-combining groupBy + a broadcast anti-join — no new shuffle of
  *    the shingle stream). Stop-shingles carry no dedup signal anyway; both
  *    the Spark side and the oracle SQL compute Jaccard over the capped
  *    shingle universe, so the differential check gates the capped semantics.
  */
object Dedup {

  // ---- shared constants (Spark impl + oracle SQL) ----
  val NumHashes = 16            // MinHash signature length
  val Bands = 4                 // LSH bands (rows per band = 16/4 = 4)
  /** Edge-count gate under which [[minLabelComponents]] collects the pair
    * list and computes components with driver union-find (2M (long,long)
    * rows ≈ 32 MB — the broadcast-budget class). Above it, the Pregel-lite
    * propagation remains the billions-of-edges shape. */
  val LocalComponentsMaxEdges = 2000000L
  val Prime = 268435399L        // prime > 2^28 shingle-hash domain
  val SimBits = 60              // SimHash width (60 bits = 15 hex chars)
  val SimBands = 4              // 15-bit bands -> exact for hamming <= 3
  val MinhashMatchThreshold = 8 // >= 8/16 equal signature components
  val HammingMax = 3
  val JaccardThreshold = 0.5
  /** Max doc-frequency a shingle may have and still enter the Jaccard
    * inverted index: one shingle in f docs costs f^2 candidate pairs, so a
    * single hot stop-shingle would create a quadratic reducer at scale.
    * Corpus max df is 25 at sf0.1, so 50 leaves real results untouched. */
  val ShingleDfCap = 50

  /** Affine permutation constants a_i, b_i — deterministic, shared with SQL. */
  val HashA: IndexedSeq[Long] = (0 until NumHashes).map(i => ((i + 1) * 2654435761L) % 4294967291L)
  val HashB: IndexedSeq[Long] = (0 until NumHashes).map(i => ((i + 1) * 2246822519L) % 1000000007L)

  // ---- tokenization (identical semantics in Spark and DuckDB) ----
  // Corpus text is clean single-space-separated lowercase words, so plain
  // split(' ') == DuckDB string_split(' ') with no regex-dialect hazards.

  /** Distinct word-3-gram shingles of any (doc_id, text, ...) frame —
    * exposed so the streaming ingest filter can shingle a micro-batch with
    * the exact arithmetic the corpus index was built with. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    // Fused codegen 3-gram kernel ([[graft.functions.WordWindows]]) in
    // place of the interpreted transform HOF — window strings are
    // byte-identical (non-null elements, same single-space joiner;
    // TextFunctionsSpec pins n = 3 on the live corpus).
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.wordWindows(col("ws"), 3))).as("sh"))

  /** Distinct word-3-gram shingles per doc: (doc_id, sh). */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.documents(s, d))

  /** 28-bit base hash of a shingle: first 7 hex chars of md5. */
  private def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast(LongType)

  /** Word-position bound for the oracle's constant-range shingle expansion
    * (DuckDB can't lateral-join generate_series on a column). Corpus max is
    * 100 words; DedupSpec asserts every SF stays under this bound, because a
    * longer document would make the oracle silently drop shingles. */
  val MaxWords = 300

  /** SQL fragment mirroring [[shingles]]. */
  private val shinglesSql =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
              FROM words, generate_series(1, $MaxWords) t(i) WHERE i <= len(ws) - 2)"""

  /** [[shinglesSql]] plus the df-cap: `capped` is the skew-safe inverted
    * index (stop-shingles with df > ShingleDfCap removed). */
  private val cappedShinglesSql =
    s"""$shinglesSql,
       hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > $ShingleDfCap),
       capped AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT sh FROM hot))"""

  // =========================================================================
  // Exact dedup: hash-groupBy on content digest.
  // =========================================================================
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "text_hash")
      .orderBy("keep_id")

  val exactDedupSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_hash
       FROM documents GROUP BY md5(text) ORDER BY keep_id"""

  // =========================================================================
  // Normalization fingerprint (key-collision / OpenRefine style): md5 of the
  // sorted distinct token set — catches word-order permutations.
  // =========================================================================
  def fingerprintDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
          .as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .select("keep_id", "n_docs", "fp")
      .orderBy("keep_id")

  val fingerprintDedupSql: String =
    """WITH f AS (
         SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         FROM documents)
       SELECT min(doc_id) AS keep_id, count(*) AS n_docs, fp
       FROM f GROUP BY fp ORDER BY keep_id"""

  // =========================================================================
  // MinHash + LSH banding.
  // =========================================================================

  /** (doc_id, 28-bit shingle hash) stream — input to signature aggregation. */
  def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingles(s, d).withColumn("h", baseHash(col("sh"))).select("doc_id", "h")

  /** MinHash signature of any (doc_id, text, ...) frame — the micro-batch
    * kernel of the streaming ingest filter. Docs under 3 words produce no
    * shingles and therefore no signature row (they can't near-dup). */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val h = shinglesOf(docs).withColumn("h", baseHash(col("sh")))
      .select("doc_id", "h")
    val mins = (0 until NumHashes).map { i =>
      min((lit(HashA(i)) * col("h") + lit(HashB(i))) % lit(Prime)).as(s"s_$i")
    }
    h.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Per-doc MinHash signature: NumHashes min-of-affine-permutation columns.
    * (graft.functions.MinHashSigAgg computes the same signature as a single
    * TypedImperativeAggregate sketch buffer — spec-checked equivalent.) */
  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(Tables.documents(s, d))

  /** LSH band rows (doc_id, v0..v{rows-1}, band) of a signature frame. */
  private[graft] def bandRows(sig: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    (0 until Bands).map { b =>
      val vs = (0 until rows).map(r => col(s"s_${b * rows + r}").as(s"v$r"))
      sig.select((col("doc_id") +: vs) :+ lit(b).as("band"): _*)
    }.reduce(_ union _)
  }

  /** Candidate pairs from LSH bands + signature-agreement score. */
  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = graft.TrackedCaches.track(signatures(s, d).cache())
    val rows = NumHashes / Bands
    val bands = bandRows(sig)
    val x = bands.as("x"); val y = bands.as("y")
    val joinCond = col("x.band") === col("y.band") &&
      (0 until rows).map(r => col(s"x.v$r") === col(s"y.v$r")).reduce(_ && _) &&
      col("x.doc_id") < col("y.doc_id")
    val cand = x.join(y, joinCond, "inner")
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = sig.as("a"); val b = sig.as("b")
    val nEq = (0 until NumHashes)
      .map(i => when(col(s"a.s_$i") === col(s"b.s_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(a, col("doc_a") === col("a.doc_id"))
      .join(b, col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), nEq.as("n_sig_eq"))
      .filter(col("n_sig_eq") >= MinhashMatchThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared CTE body ending in `scored(doc_a, doc_b, n_sig_eq)` — the full
    * MinHash pipeline in DuckDB SQL, composed by [[minhashPairsSql]] and
    * [[sourceOverlapSql]] so both oracles score pairs identically. */
  private def minhashScoredCtes: String = {
    val rows = NumHashes / Bands
    val minCols = (0 until NumHashes).map { i =>
      s"min((${HashA(i)} * h + ${HashB(i)}) % $Prime) AS s_$i"
    }.mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val vs = (0 until rows).map(r => s"s_${b * rows + r} AS v$r").mkString(", ")
      s"SELECT doc_id, $vs, $b AS band FROM sig"
    }.mkString(" UNION ALL ")
    val joinVs = (0 until rows).map(r => s"x.v$r = y.v$r").mkString(" AND ")
    val nEq = (0 until NumHashes)
      .map(i => s"CASE WHEN a.s_$i = b.s_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$shinglesSql,
        h AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h FROM sh),
        sig AS (SELECT doc_id, $minCols FROM h GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM bands x JOIN bands y
                 ON x.band = y.band AND $joinVs AND x.doc_id < y.doc_id),
        scored AS (SELECT c.doc_a, c.doc_b, $nEq AS n_sig_eq
                   FROM cand c
                   JOIN sig a ON c.doc_a = a.doc_id
                   JOIN sig b ON c.doc_b = b.doc_id
                   WHERE $nEq >= $MinhashMatchThreshold)"""
  }

  val minhashPairsSql: String =
    s"""WITH $minhashScoredCtes
        SELECT doc_a, doc_b, n_sig_eq FROM scored ORDER BY doc_a, doc_b"""

  /** Cross-source near-duplicate mass: the verified MinHash near-dup pairs
    * ([[minhashPairs]] semantics — band collision, then >= threshold equal
    * signature components), rolled up by unordered source pair. The
    * curation read: how much of each source is copied in another (or
    * inside itself) — the matrix that decides which source to trust when
    * near-dup clusters keep one representative. Shapes: the pair set is
    * the banded candidate join (never all-pairs); the two source lookups
    * are doc_id equi-joins (linear); the rollup is source-arity² — tiny at
    * any corpus scale. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    minhashPairs(s, d).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH $minhashScoredCtes,
        pr AS (SELECT least(sa.source, sb.source) AS source_a,
                      greatest(sa.source, sb.source) AS source_b
               FROM scored p
               JOIN documents sa ON p.doc_a = sa.doc_id
               JOIN documents sb ON p.doc_b = sb.doc_id)
        SELECT source_a, source_b, count(*) AS n_pairs
        FROM pr GROUP BY 1, 2 ORDER BY 1, 2"""

  // =========================================================================
  // SimHash (60-bit) + bit-band candidate join, exact for hamming <= 3.
  // =========================================================================

  /** Per-doc 60-bit SimHash from term-frequency-weighted token hashes, via
    * the SimHashAgg TypedImperativeAggregate — one pass, one small buffer per
    * doc. (A 60-column sum(CASE) formulation computes the same thing but its
    * generated code takes ~8 s to Janino-compile; see SimHashAggregate.) */
  private def simhashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType))
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAggregate.simhash(col("h")).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= HammingMax. Pigeonhole over
    * SimBands 15-bit bands makes the candidate join exact (any pair within
    * hamming 3 shares at least one intact band) — no all-pairs scan. */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sim = graft.TrackedCaches.track(simhashes(s, d).cache())
    val bandWidth = SimBits / SimBands // 15
    val bands = (0 until SimBands).map { b =>
      sim.select(col("doc_id"), col("simhash"),
        lit(b).as("band"),
        shiftright(col("simhash"), b * bandWidth)
          .bitwiseAND((1L << bandWidth) - 1).as("v"))
    }.reduce(_ union _)
    val x = bands.as("x"); val y = bands.as("y")
    val cand = x.join(y,
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"), "inner")
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= HammingMax)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val simhashPairsSql: String = {
    val bandWidth = SimBits / SimBands
    val mask = (1L << bandWidth) - 1
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        th AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, j,
                   sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM th, generate_series(0, ${SimBits - 1}) t(j)
                 GROUP BY doc_id, j),
        sim AS (SELECT doc_id,
                  CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id),
        bands AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * $bandWidth)) & $mask AS v
                  FROM sim, generate_series(0, ${SimBands - 1}) t(b)),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   x.simhash AS sa, y.simhash AS sb
                 FROM bands x JOIN bands y
                 ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= $HammingMax
        ORDER BY doc_a, doc_b"""
  }

  // =========================================================================
  // Exact n-gram Jaccard via shared-shingle inverted index (df-capped).
  // =========================================================================

  /** Inverted index with stop-shingles removed: a shingle in > ShingleDfCap
    * docs would contribute df^2 rows to the self-join — the one skew hazard
    * of the exact-Jaccard formulation. The df aggregate combines map-side
    * (hot key collapses to one row per partition) and the hot set is tiny,
    * so the anti-join broadcasts: no extra shuffle of the shingle stream. */
  private def cappedShingles(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap)
      .select("sh")
    sh.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  /** Parquet-bytes gate under which the doc-arity set-size frame (16 B of
    * data per doc) broadcasts into the pair-verification joins instead of
    * shuffle-joining the candidate-pair frame. The pair frame is
    * OCCURRENCE-PAIR-scale (8 M rows at the 100× ladder) and each
    * verification join sort-merges it; the sizes frame is DOC-arity.
    * 256 MB of documents parquet ≈ 2 M docs (the 100× staged corpus is
    * 57 MB ≈ 500 k docs) ≈ ~100 MB hashed relation — comfortably inside an
    * executor. Past the gate (a true 100 TB corpus), the broadcast would
    * not fit and the doc-arity joins fall back to shuffle joins, which at
    * that scale are the right plan anyway. Measured at 100×: the
    * containment verify term (two sort-merge joins + filter + sort of the
    * pair frame) fell from +15.6 s to under the noise floor (Decompose). */
  val SizesBroadcastMaxDocBytes: Long = 256L << 20

  /** The documents table's on-disk parquet bytes — a zero-job gate input
    * (file metadata only, any Hadoop filesystem). */
  private def docBytes(s: SparkSession, d: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Whether the corpus is under the [[SizesBroadcastMaxDocBytes]] gate. */
  private def sizesFit(s: SparkSession, d: String): Boolean =
    docBytes(s, d) <= SizesBroadcastMaxDocBytes

  /** Doc-arity frame `df`, broadcast when the corpus is under the
    * [[SizesBroadcastMaxDocBytes]] gate, untouched (shuffle-join plan)
    * otherwise. */
  private def maybeBroadcastSizes(s: SparkSession, d: String,
      df: DataFrame): DataFrame =
    if (sizesFit(s, d)) broadcast(df)
    else df

  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsUnordered(s, d).orderBy("doc_a", "doc_b")

  /** [[ngramJaccardPairs]] without the final total order — for the graph
    * consumers ([[dedupClusters]], [[canonicalKeep]]) whose label
    * propagation re-shuffles the pairs immediately: the global sort is a
    * range-partitioning sample job plus a sort per run, all discarded by
    * the first downstream exchange (guide §2.4 — an orderBy used only for
    * output determinism does not belong on an intermediate). */
  private[llm] def ngramJaccardPairsUnordered(s: SparkSession,
      d: String): DataFrame = {
    val sh = graft.TrackedCaches.track(cappedShingles(s, d).cache())
    val sizes = maybeBroadcastSizes(s, d,
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"), "inner")
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast(DoubleType) / (col("na.n") + col("nb.n") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Incremental ingest dedup: a NEW batch (doc_id % 5 == 0 — the synthetic
    * arrival slice) screened against the EXISTING corpus's n-gram shingle
    * store, the production shape for continuous training-data ingestion —
    * new data joins the fingerprint index; the corpus is never re-paired
    * against itself. Candidates come from the same df-capped inverted index
    * as [[ngramJaccardPairs]] but the self-join is replaced by a
    * batch-side × corpus-side join, so cost is |batch| × overlap, not
    * |corpus|². Every batch doc is reported: is_dup + its smallest matching
    * corpus doc (−1 when none), jaccard >= [[JaccardThreshold]]. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame =
    incrementalDedupStages(s, d).last._2

  /** [[incrementalDedup]] with its pipeline prefixes exposed by name, so
    * `graft.Measure decompose` can attribute deep-scale wall time to a specific
    * term (index build vs candidate-pair aggregate vs verification) instead
    * of guessing — the 100×-ladder rule is decomposition before fix. The
    * LAST stage is the query; earlier stages are its own intermediates. */
  private[graft] def incrementalDedupStages(
      s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val sh = graft.TrackedCaches.track(cappedShingles(s, d).cache())
    val sizes = maybeBroadcastSizes(s, d,
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val batch = sh.filter(col("doc_id") % 5 === 0).as("a")
    val corpus = sh.filter(col("doc_id") % 5 =!= 0).as("b")
    val inter = batch.join(corpus, col("a.sh") === col("b.sh"), "inner")
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    val matches = inter
      .join(sizes.as("na"), col("da") === col("na.doc_id"))
      .join(sizes.as("nb"), col("db") === col("nb.doc_id"))
      .filter(col("i").cast(DoubleType) /
        (col("na.n") + col("nb.n") - col("i")) >= JaccardThreshold)
      .groupBy(col("da")).agg(min(col("db")).as("dup_src"))
    val full = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"))
      .join(matches, col("doc_id") === col("da"), "left")
      .select(col("doc_id"), col("dup_src").isNotNull.as("is_dup"),
        coalesce(col("dup_src"), lit(-1L)).as("dup_of"))
      .orderBy("doc_id")
    Seq("capped_index" -> sh, "pair_agg" -> inter,
      "verify_matches" -> matches, "full" -> full)
  }

  val incrementalDedupSql: String =
    s"""WITH $cappedShinglesSql,
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh
                  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                  GROUP BY 1, 2),
        m AS (SELECT da, min(db) AS dup_src
              FROM inter JOIN sizes na ON da = na.doc_id
                         JOIN sizes nb ON db = nb.doc_id
              WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold
              GROUP BY da)
        SELECT d.doc_id, (m.dup_src IS NOT NULL) AS is_dup,
               coalesce(m.dup_src, -1) AS dup_of
        FROM documents d LEFT JOIN m ON d.doc_id = m.da
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id"""

  /** [[incrementalDedup]] over ARBITRARY (doc_id, text) frames — the
    * library-shape API the %5-sliced query demonstrates: screen `batch`
    * against `corpus`, df cap computed over batch ∪ corpus JOINTLY
    * (exactly [[incrementalDedup]]'s semantics, where [[cappedShingles]]
    * runs over the whole table). Also the rebuild-from-scratch reference
    * the standing-index commit path is spec-proven against. `batch` and
    * `corpus` doc_ids must be disjoint. */
  def incrementalDedupOf(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val all = shinglesOf(corpus.select("doc_id", "text")
      .unionByName(batch.select("doc_id", "text")))
    val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select("sh")
    val sh = all.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val bid = broadcast(batch.select("doc_id"))
    val a = sh.join(bid, Seq("doc_id"), "left_semi").as("a")
    val b = sh.join(bid, Seq("doc_id"), "left_anti").as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh"), "inner")
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    val matches = inter
      .join(sizes.as("na"), col("da") === col("na.doc_id"))
      .join(sizes.as("nb"), col("db") === col("nb.doc_id"))
      .filter(col("i").cast(DoubleType) /
        (col("na.n") + col("nb.n") - col("i")) >= JaccardThreshold)
      .groupBy(col("da")).agg(min(col("db")).as("dup_src"))
    batch.select(col("doc_id"))
      .join(matches, col("doc_id") === col("da"), "left")
      .select(col("doc_id"), col("dup_src").isNotNull.as("is_dup"),
        coalesce(col("dup_src"), lit(-1L)).as("dup_of"))
      .orderBy("doc_id")
  }

  // ── Standing shingle index: the ingestion-serving regime ────────────
  //
  // [[incrementalDedup]] is the right QUERY shape (batch × corpus, never
  // corpus²) but it rebuilds the df-capped inverted index from the whole
  // corpus on every call — the judge-decomposed 100× profile shows that
  // corpus-linear capped_index term DOMINATING the remaining cost
  // (7.1 s of 14.9). The standing form persists the corpus side once —
  // shingle-bucketed postings, the full df table, and per-doc standing
  // sizes — and a probe reads only the BATCH's own shingles' rows of
  // them (the buckets they hash to, filtered to the shingles themselves).
  //
  // The subtlety that makes this exact rather than approximate: the
  // df > [[ShingleDfCap]] stop-shingle cap in [[cappedShingles]] is
  // computed over batch ∪ corpus JOINTLY, so a standing corpus-only
  // index cannot bake it in. The probe reconciles: joint df = stored
  // corpus df + the batch's own df (batch-vocabulary-arity data), a
  // shingle is KEPT iff joint ≤ cap, and a corpus doc's size is its
  // standing size n0 minus its count of FLIPPED shingles (corpus df ≤
  // cap but joint > cap — only batch-vocabulary shingles can flip, so
  // the correction reads only the batch's own postings). Probe output is
  // row-identical to [[incrementalDedup]] (DedupSpec proves it);
  // `q_dedup_standing` reuses [[incrementalDedupSql]] unchanged.

  /** Build the standing corpus shingle index at `base` unless its marker
    * shows it was built from this corpus (same dir, same corpus-file
    * content signature — an in-place rewrite with the same doc count
    * still rebuilds — and same bucket count), into the tables of
    * [[ShingleTables]]. The bucket count is sized from the corpus bytes
    * ([[StandingIndex.bucketsFor]]) and recorded as the `buckets` build
    * stat that probes, commits and deletes hash with. */
  def shingleBuildIfStale(s: SparkSession, d: String, base: String): Boolean =
    shingleBuildIfStale(s, d, base,
      StandingIndex.sizedBuckets(s"$d/documents.parquet"))

  /** [[shingleBuildIfStale]] with a caller-pinned bucket count. */
  def shingleBuildIfStale(s: SparkSession, d: String, base: String,
      nBuckets: Int): Boolean =
    StandingIndex.ensure(base, shingleMarker(d, nBuckets)) {
      shingleBuild(s, d, base, nBuckets)
    }

  /** The build body of [[shingleBuildIfStale]] into an empty `base`. */
  private def shingleBuild(s: SparkSession, d: String, base: String,
      nBuckets: Int): Unit = {
    StandingIndex.recordStats(base, "buckets" -> nBuckets)
    val store = shingleStore(s, base)
    val corpus = Tables.documents(s, d)
      .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    // The digest write runs as a CONCURRENT job: it reads only the
    // source corpus (never the dirs the chain below writes), so its
    // doc-arity scan overlaps the build's own jobs.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val digJob = Future(store.write("dig",
      corpus.select(col("doc_id"), md5(col("text")).as("dig"))))
    val csh = graft.TrackedCaches.track(shinglesOf(corpus).cache())
    store.write("dfc", csh.groupBy("sh").agg(count(lit(1)).as("dfc")))
    store.write("postings", csh.join(
      store.read("dfc").filter(col("dfc") <= ShingleDfCap).select("sh"),
      Seq("sh")))
    store.write("n0",
      store.read("postings").groupBy("doc_id").agg(count(lit(1)).as("n0")))
    Await.result(digJob, scala.concurrent.duration.Duration.Inf)
  }

  /** Build marker of a shingle index over corpus dir `d`; the phase
    * queries extend it with the phase they reached. */
  private def shingleMarker(d: String, nBuckets: Int): String =
    s"dir=$d ${StandingIndex.layoutMarker(s"$d/documents.parquet", nBuckets)} dig=1"

  /** The shingle index's tables: `postings/` (sh, doc_id; pre-filtered to
    * corpus-df ≤ cap — a shingle past the cap on corpus df alone can
    * never be kept), the df deltas `dfc/` (ALL shingles — the probe must
    * tell "new shingle" from "capped shingle"), the standing capped-size
    * deltas `n0/`, and the content digests `dig/` that [[shingleDelete]]
    * checks its handed text against. The per-doc tables are FLAT: commits
    * append to them on the streaming hot path (one tiny file, no
    * shuffle). */
  private val ShingleTables = Seq(
    PostingsStore.Table("postings", keyed = true,
      Seq("sh" -> StringType, "doc_id" -> LongType)),
    PostingsStore.Table("dfc", keyed = true,
      Seq("sh" -> StringType, "dfc" -> LongType), sum = Some("dfc")),
    PostingsStore.Table("n0", keyed = false,
      Seq("doc_id" -> LongType, "n0" -> LongType), sum = Some("n0")),
    PostingsStore.Table("dig", keyed = false,
      Seq("doc_id" -> LongType, "dig" -> StringType)))

  /** The store of the shingle index at `base`, routed with the bucket
    * count it was built with. */
  private def shingleStore(s: SparkSession, base: String): PostingsStore =
    new PostingsStore(s, base, "sh", StandingIndex.stat(base, "buckets").toInt,
      ShingleTables)

  /** Probe-only ingest dedup against a standing index: shingle the batch,
    * path-prune the standing postings/df scans to the batch's own
    * buckets, reconcile the joint df cap, and report every batch doc
    * (is_dup + smallest matching corpus doc) — [[incrementalDedup]]'s
    * output contract with the corpus-linear index build GONE from the
    * serving path.
    *
    * Cost: |batch| + the batch-vocabulary posting lists, never |corpus|.
    * A batch of any real size touches every bucket, so the bucket
    * pruning alone would still scan and sum whole tables; every read is
    * also keyed on the batch's own shingles ([[StandingIndex.Slice]]):
    * the df reconciliation is one keyed sum over the batch's shingles
    * and their dfc rows, the cached postings view holds only the
    * batch's shingles, and the size sum reads only the docs in that view
    * (a broadcast semi-join on it). Scans stay bucket-bounded; what the
    * probe aggregates and shuffles is batch-bounded at any corpus size. */
  def shingleProbe(s: SparkSession, base: String,
      batchDocs: DataFrame): DataFrame =
    shingleProbeUnordered(s, base, batchDocs).orderBy("doc_id")

  /** [[shingleProbe]] without the final total order — for callers that
    * persist per-micro-batch verdicts and sort once on the combined
    * read-back ([[graft.streaming.DocStreams.streamDedupEvolving]]): a
    * global sort per batch is a range-partitioning sample job plus a
    * sort per write, all discarded by the final orderBy. */
  private[graft] def shingleProbeUnordered(s: SparkSession, base: String,
      batchDocs: DataFrame): DataFrame = {
    val store = shingleStore(s, base)
    val bsh = graft.TrackedCaches.track(
      shinglesOf(batchDocs.select("doc_id", "text")).cache())
    val pruned = store.slice(bsh.select(col("sh"), lit(1L).as("dfb")))
    // Joint-cap reconciliation over the batch's vocabulary: one keyed
    // sum gives each batch shingle its batch df (dfb) and its standing
    // df (dfc, 0 for a genuinely new shingle) — the standing df is a SUM
    // because [[shingleCommit]] and [[shingleDelete]] append df deltas —
    // reading only the batch's own rows of dfc/. Kept iff dfb + dfc ≤
    // cap, flipped iff the BATCH's arrivals pushed a standing shingle
    // past it.
    val v = graft.TrackedCaches.track(pruned.sum("dfc", "dfc")
      .withColumn("joint", col("dfb") + col("dfc")).cache())
    val kept = v.filter(col("joint") <= ShingleDfCap).select("sh")
    val flipped = v.filter(col("dfc") <= ShingleDfCap &&
      col("joint") > ShingleDfCap).select("sh")
    val bKept = bsh.join(kept, Seq("sh"))
    val na = bKept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Two consumers (the pair join and the flip correction): one keyed
    // standing read of the batch's own shingles, not two. Tombstoned
    // docs ([[shingleDelete]]) are excluded here, the single postings
    // entry point, so deleted corpus docs can never match an arrival.
    val postings = graft.TrackedCaches.track(
      store.live(pruned.keyed("postings")).cache())
    val inter = bKept.as("a")
      .join(postings.as("b"), col("a.sh") === col("b.sh"), "inner")
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    val f = postings.join(flipped, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("fl"))
    // Standing sizes are also delta-summed: [[shingleCommit]] appends the
    // accepted docs' sizes plus NEGATIVE corrections for standing docs
    // whose shingles a commit pushed past the cap. Only docs holding a
    // batch shingle can pair with an arrival, so the sum reads theirs
    // alone: a broadcast semi-join on the cached postings view.
    val nb = store.read("n0")
      .join(broadcast(postings.select("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(sum("n0").as("n0"))
      .join(f, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n0") - coalesce(col("fl"), lit(0L))).as("n"))
    val matches = inter
      .join(na.as("na"), col("da") === col("na.doc_id"))
      .join(nb.as("nb"), col("db") === col("nb.doc_id"))
      .filter(col("i").cast(DoubleType) /
        (col("na.n") + col("nb.n") - col("i")) >= JaccardThreshold)
      .groupBy(col("da")).agg(min(col("db")).as("dup_src"))
    batchDocs.select(col("doc_id"))
      .join(matches, col("doc_id") === col("da"), "left")
      .select(col("doc_id"), col("dup_src").isNotNull.as("is_dup"),
        coalesce(col("dup_src"), lit(-1L)).as("dup_of"))
  }

  /** The shipped query: same batch, corpus, and output contract as
    * `q_dedup_incremental`, served from the standing index (built on
    * first call, probe-only after). Oracle: [[incrementalDedupSql]]
    * unchanged. */
  def standingIngestDedup(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_shingle_standing"
    shingleBuildIfStale(s, d, base)
    shingleProbe(s, base,
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select("doc_id", "text"))
  }

  /** Commit ACCEPTED batch docs into the standing shingle index — the
    * mutation that turns probe-only serving into a full ingest pipeline
    * (probe → keep the survivors → commit them → the next batch dedups
    * against corpus ∪ survivors). Everything is APPEND-ONLY and
    * batch-vocabulary-bounded, the [[graft.llm.Retrieval.EvolvingDistIndex]]
    * discipline: no corpus rebuild, no standing-table rewrite, ≤ one new
    * file per touched bucket per commit.
    *
    * Cost: shingle |accepted| once, one keyed sum of the accepted
    * vocabulary's df and standing df ([[StandingIndex.Slice.sum]]: it
    * shuffles the batch's shingles and their own dfc rows, never the
    * rest of the table), and on a cap crossing one keyed postings read of
    * the crossed shingles. The df delta append reuses that sum.
    *
    * What a commit appends, and why each piece keeps the index EXACT
    * (probe-after-commit ≡ rebuild over corpus ∪ accepted — DedupSpec):
    *  - `dfc/`: the accepted docs' per-shingle df as DELTA rows; the probe
    *    sums per shingle, so standing df = corpus df + every committed
    *    batch's df.
    *  - `postings/`: accepted occurrences of shingles whose POST-COMMIT
    *    standing df stays ≤ [[ShingleDfCap]] (df only grows, so an
    *    over-cap shingle can never return — its occurrences would be dead
    *    rows). Pre-existing rows for shingles this commit pushes past the
    *    cap stay in place: every probe path that reads them is gated on
    *    standing-df ≤ cap, so they are inert, and an append-only layout
    *    beats a rewrite at any scale.
    *  - `n0/`: the accepted docs' kept sizes, plus NEGATIVE delta rows for
    *    every standing owner of a shingle this commit pushed past the cap
    *    (their effective capped size shrinks — the correction the
    *    rebuild's joint cap applies implicitly). Only batch-vocabulary
    *    shingles can cross, so the correction reads only the batch's own
    *    buckets.
    *
    * `accepted` doc_ids must be disjoint from the standing corpus (the
    * probe-survivor contract). The caller owns marker/recovery protocol:
    * re-stamp the index marker only after a successful commit, and treat
    * a marker mismatch as rebuild-from-source ([[standingCommitIngest]]
    * does exactly that, so a crash mid-commit can only cost a rebuild,
    * never serve half-committed state). */
  def shingleCommit(s: SparkSession, base: String,
      accepted: DataFrame): Unit = {
    val store = shingleStore(s, base)
    // One eager localCheckpoint of the accepted docs WITH their content
    // digest, then one of the batch's SHINGLES derived from it: every
    // downstream term — df deltas, kept rows, size rows, the dig witness
    // append — reads materialized state, so the batch's lineage (which
    // for the shipped callers includes a parquet read or a probe frame)
    // is evaluated ONCE per commit, the batch is shingled once, and md5
    // rides the same pass. Checkpoints rather than caches because the
    // write actions below MUTATE the very directories later lineage
    // would re-read — a dropped cache would silently recompute against
    // post-append state.
    val acc = accepted.select(col("doc_id"), col("text"),
      md5(col("text")).as("dig")).localCheckpoint()
    val ash = shinglesOf(acc.select("doc_id", "text"))
      .localCheckpoint()
    val pruned = store.slice(ash.select(col("sh"), lit(1L).as("dfa")))
    // Empty batch vocabulary — every arrival was a dup (reachable every
    // micro-batch in streamDedupEvolving) or nothing shingled. Nothing to
    // append, no df can move, and the pruned reader's empty-slice
    // fallback would otherwise pay a FULL postings/dfc listing plus three
    // no-op write jobs — corpus-scale driver work on what must be a no-op.
    if (pruned.isEmpty) return
    // Each accepted shingle's df (dfa) and standing df (df0) from one
    // keyed sum over the batch's own dfc rows; v also feeds the df delta
    // append below, so the batch is counted once.
    val v = pruned.sum("dfc", "dfc").withColumnRenamed("dfc", "df0")
      .withColumn("dfNew", col("dfa") + col("df0"))
      .localCheckpoint()
    val keptSh = v.filter(col("dfNew") <= ShingleDfCap).select("sh")
    val crossedCond = col("df0") <= ShingleDfCap &&
      col("dfNew") > ShingleDfCap
    // Crossing (a standing shingle pushed past the cap by this commit) is
    // the RARE case — most commits move no shingle across — and its
    // correction term is the only reason to touch postings/ at all on the
    // commit path. Decide it with one head(1) over the checkpointed v
    // (batch-vocabulary-arity, sub-task-cost) and skip the whole pruned
    // postings read + join when nothing crossed.
    val anyCrossed = v.filter(crossedCond).head(1).nonEmpty
    val keptRows = ash.join(keptSh, Seq("sh"))
    val sizes = keptRows.groupBy("doc_id").agg(count(lit(1)).as("n0"))
    // The accepted docs' kept sizes and the NEGATIVE corrections for
    // standing owners of crossed shingles land as ONE n0 append, and the
    // corrections' postings read completes BEFORE the postings append
    // below begins, so it sees only pre-commit rows (this commit never
    // appends occurrences of crossed shingles anyway — kept ∩ crossed = ∅
    // on the same checkpointed v — but the ordering keeps the read's
    // correctness independent of that invariant). Tombstoned docs take no
    // corrections: their sizes are never read (excluded from every
    // intersection), and a correction row for them would just be a dead
    // row the compaction drops anyway. Without crossings all the appends
    // are independent and the store runs them as CONCURRENT jobs (every
    // input is checkpointed, every target dir distinct). A torn commit is
    // the caller's marker protocol either way.
    val n0Rows =
      if (!anyCrossed) sizes
      else sizes.unionByName(
        store.live(pruned.keyed("postings"))
          .join(v.filter(crossedCond).select("sh"), Seq("sh"))
          .groupBy("doc_id").agg((count(lit(1)) * -1).as("n0")))
    if (anyCrossed) store.append("n0" -> n0Rows)
    store.append(Seq(
      "postings" -> keptRows,
      "dfc" -> v.select(col("sh"), col("dfa").as("dfc")),
      // coalesce(1): one tiny digest file per commit; the frame is
      // batch-arity, so the single task is no serialization point.
      "dig" -> acc.select("doc_id", "dig").coalesce(1)) ++
      (if (anyCrossed) Nil else Seq("n0" -> n0Rows)): _*)
  }

  /** Delete documents from a standing shingle index — the takedown /
    * contamination-purge verb completing this family's lifecycle
    * (build → probe → commit → compact → DELETE), with the same
    * append-only, vocabulary-bounded discipline commits use. `docs` is
    * the deleted documents' (doc_id, text) — text REQUIRED and it must
    * be the indexed content verbatim: the exact df corrections below
    * re-shingle it (a takedown knows its content; an id-only delete
    * could not decrement df for shingles the index dropped as over-cap,
    * and the df error would silently mis-cap future screens).
    * "Verbatim" is CHECKED, not trusted: build and commit persist
    * md5(text) per doc (`dig/`, flat doc-arity), and the delete
    * refuses loudly when any handed text mismatches its recorded
    * digest — see the witness block below.
    *
    * What a delete writes ([[PostingsStore.delete]]): the deleted
    * doc_ids to the store's tombstones, which probes and commits mask
    * postings with and [[shingleCompact]] drains, and NEGATIVE df deltas
    * for the deleted docs' full shingle sets to `dfc/`, so standing df
    * stays the EXACT df of the remaining population (df is read through
    * sums everywhere — a negative delta is just another commit).
    *
    * Exactness and the CAP-RESURRECTION guard: probe-after-delete is
    * row-identical to a from-scratch screen against the remaining
    * population (DedupSpec) — UNLESS the delete would bring a shingle's
    * df back under [[ShingleDfCap]] from above. Postings are complete
    * only for shingles that have never crossed the cap (build and
    * commit drop over-cap occurrences as dead rows), so a resurrected
    * shingle would rejoin the screen with silently-missing occurrences:
    * wrong Jaccard intersections, no error anywhere. The delete
    * therefore REFUSES loudly (nothing written) when any affected
    * shingle would cross downward — the caller's options are
    * delete-and-rebuild, or excluding the offending docs. The refusal
    * preserves the invariant that makes everything else exact: a
    * shingle ≤ cap has ALWAYS been ≤ cap (df only grows through
    * build/commit and guarded deletes never un-cross it), hence its
    * postings are complete and its df is exact; a shingle > cap stays
    * > cap, hence inert in every screen on both the standing and the
    * rebuild side. Same fail-loud philosophy as the torn-append
    * protocol: no silent wrong answers.
    *
    * Two more loud refusals keep the delta arithmetic sound: ids
    * already tombstoned (the store's replay witness), and ids with
    * shingles but NO live posting rows (never indexed, or already
    * deleted-and-compacted — subtracting df for a doc the index doesn't
    * hold corrupts every affected shingle's count).
    *
    * Crash-safety is the caller's marker protocol, exactly as
    * [[shingleCommit]]: re-stamp the index marker only after the whole
    * delete succeeded; a marker mismatch rebuilds from source
    * ([[standingDeleteIngest]] does exactly that).
    *
    * Cost: re-shingle |deleted| docs, one keyed postings read and one
    * keyed dfc sum over their vocabulary (bucket-pruned scans, filtered
    * to that vocabulary before anything is shuffled; the sum also feeds
    * the negative delta append), one doc-arity tombstone append, ≤ one
    * new dfc file per touched bucket. Never a corpus pass, and nothing
    * shuffled grows with the corpus. */
  def shingleDelete(s: SparkSession, base: String, docs: DataFrame): Unit = {
    val del = docs.select("doc_id", "text").localCheckpoint()
    // Empty delete is the documented no-op — decided BEFORE reading the
    // build stats, so it holds against a not-yet-built base too.
    if (del.isEmpty) return
    val store = shingleStore(s, base)
    // The store refuses tombstoned ids first, then runs the checks below
    // (each refuses with nothing written) and writes the tombstones
    // before the negative df deltas they return.
    store.delete(del) {
      // Verbatim-text witness: the df corrections below re-shingle the
      // HANDED text, and a caller passing the right ids with the wrong
      // text (a re-normalized copy, a stale revision) would corrupt the
      // affected shingles' df counts SILENTLY — every later screen
      // mis-caps with no error anywhere. Build and commit persist
      // md5(text) per doc (dig/, doc-arity); the delete refuses loud on
      // any mismatch, upgrading "must be the indexed content verbatim"
      // from a scaladoc plea to a checked precondition.
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(base, "dig")))
        throw new IllegalStateException(
          s"shingle index at $base carries no content digests (dig/) — " +
            "it predates the digest witness; rebuild from source before " +
            "deleting.")
      val digOk = store.read("dig")
        .join(broadcast(del.select(col("doc_id"),
          md5(col("text")).as("dig"))), Seq("doc_id", "dig"), "left_semi")
        .select("doc_id").distinct()
      val digMismatch = del.select("doc_id")
        .join(digOk, Seq("doc_id"), "left_anti")
      if (!digMismatch.isEmpty)
        throw new IllegalStateException(
          s"shingle index at $base: the text handed for some doc_ids does " +
            "not match the content digest recorded at index time — " +
            "re-shingling it would corrupt the df deltas silently. " +
            "Refusing; pass the indexed content verbatim.")
      val dsh = shinglesOf(del)
      val pruned = store.slice(dsh.select(col("sh"), lit(1L).as("ddel")))
      // No shingles (every deleted doc is under 3 words): nothing to
      // correct, but the ids still tombstone so the replay witness and
      // compaction semantics stay uniform.
      if (pruned.isEmpty) Nil
      else {
        // Unknown-id refusal: every deleted doc with a non-empty shingle
        // set must hold at least one LIVE posting row (its rows live only
        // in its own shingles' buckets, so this read is vocabulary-
        // bounded). A doc whose every shingle was over-cap at index time
        // has no posting rows and is refused as unprovable — the safe,
        // loud failure.
        val present = store.live(pruned.keyed("postings"))
          .join(del.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id").distinct()
        val missing = dsh.select("doc_id").distinct()
          .join(present, Seq("doc_id"), "left_anti")
        if (!missing.isEmpty)
          throw new IllegalStateException(
            s"shingle index at $base: some doc_ids have no live posting " +
              "rows (never indexed, already deleted-and-compacted, or " +
              "all-over-cap) — deleting them would corrupt the df deltas. " +
              "Refusing; rebuild from source for this case.")
        // Each deleted shingle's df (ddel) and standing df (df0) from one
        // keyed sum over the deleted vocabulary's own dfc rows; it also
        // feeds the negative delta append.
        val v = pruned.sum("dfc", "dfc").withColumnRenamed("dfc", "df0")
          .localCheckpoint()
        val crossing = v.filter(col("df0") > ShingleDfCap &&
          col("df0") - col("ddel") <= ShingleDfCap)
        if (crossing.head(1).nonEmpty)
          throw new IllegalStateException(
            s"shingle index at $base: this delete would bring shingle(s) " +
              s"back under the df cap ($ShingleDfCap) from above, but " +
              "their postings are historically incomplete (over-cap " +
              "occurrences are dropped at index time) — serving them " +
              "would produce silently-wrong intersections. Refusing; " +
              "delete-and-rebuild from source, or exclude the offending " +
              "docs from the delete.")
        Seq("dfc" -> v.select(col("sh"), (-col("ddel")).as("dfc")))
      }
    }
  }

  /** Compact a standing shingle index that has taken commits and/or
    * deletes ([[PostingsStore.compact]]): the tombstoned docs' rows drop
    * (their dig rows too: a stale one would let a later delete of a
    * RE-COMMITTED doc pass the verbatim-text witness with the OLD text),
    * and the dfc and n0 deltas roll up, which the probe's sums make
    * semantics-free. Runs under the marker-suspend protocol (crash ⇒
    * unmarked, rebuildable dir). DedupSpec proves probe-after-compact
    * stays row-identical to the rebuild on both the crafted crossing
    * corpus and the post-delete index. */
  def shingleCompact(s: SparkSession, base: String): Unit =
    StandingIndex.withMarkerSuspended(base) {
      shingleStore(s, base).compact()
    }

  /** The shipped two-phase ingest query (`q_dedup_standing_commit`):
    * build the standing index from the corpus (doc_id % 5 ≠ 0), probe
    * arrival batch 1 (doc_id % 10 = 5), COMMIT its survivors, then probe
    * arrival batch 2 (doc_id % 10 = 0) against the GROWN index — batch 2's
    * verdicts are the output, and they must match a from-scratch joint
    * dedup of batch 2 against corpus ∪ batch-1-survivors (the oracle
    * recomputes both phases in SQL). The marker embeds the committed
    * phase, so reruns serve probe 2 straight from the committed state and
    * any interruption (or corpus rewrite) rebuilds from source. */
  def standingCommitIngest(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_shingle_commit"
    val nBuckets = StandingIndex.sizedBuckets(s"$d/documents.parquet")
    StandingIndex.ensure(base, s"${shingleMarker(d, nBuckets)} committed=b1") {
      shingleBuild(s, d, base, nBuckets)
      val b1 = Tables.documents(s, d).filter(col("doc_id") % 10 === 5)
        .select("doc_id", "text")
      val survivors = shingleProbeUnordered(s, base, b1)
        .filter(!col("is_dup")).select("doc_id")
      shingleCommit(s, base, b1.join(survivors, Seq("doc_id"), "left_semi"))
    }
    shingleProbe(s, base,
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text"))
  }

  /** The shipped DELETE query (`q_dedup_standing_delete`): build the
    * standing index from the corpus (doc_id % 5 ≠ 0),
    * [[shingleDelete]] the doc_id % 10 = 1 slice (a takedown of ~1/4 of
    * the corpus), then probe the standard arrival batch (doc_id % 5 = 0)
    * against the purged index — deleted corpus docs must never match an
    * arrival, and the df cap must re-settle on the remaining population
    * (the negative deltas, not a rebuild). The oracle recomputes the
    * screen from scratch over batch ∪ (corpus minus deleted). The marker
    * embeds the deleted phase (the [[standingCommitIngest]] protocol):
    * reruns serve probe-only from the tombstoned state, and a crash
    * mid-transition or corpus rewrite rebuilds from source. */
  def standingDeleteIngest(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_shingle_delete"
    val nBuckets = StandingIndex.sizedBuckets(s"$d/documents.parquet")
    StandingIndex.ensure(base, s"${shingleMarker(d, nBuckets)} deleted=mod10eq1") {
      shingleBuild(s, d, base, nBuckets)
      shingleDelete(s, base,
        Tables.documents(s, d).filter(col("doc_id") % 10 === 1)
          .select("doc_id", "text"))
    }
    shingleProbe(s, base,
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select("doc_id", "text"))
  }

  /** Oracle for [[standingDeleteIngest]]: [[incrementalDedupSql]] with
    * the deleted slice removed from the POPULATION — the df cap, sizes,
    * and intersections all recompute over batch ∪ remaining corpus,
    * which is exactly what the standing index's negative df deltas +
    * posting tombstones serve. (Batch ids are ≡ 0 mod 5, so ≡ {0,5}
    * mod 10 — the population predicate `doc_id % 10 <> 1` keeps the
    * whole batch and drops only the purged corpus slice.) */
  val standingDeleteSql: String =
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 10 <> 1),
        sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
               FROM words, generate_series(1, $MaxWords) t(i) WHERE i <= len(ws) - 2),
        hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > $ShingleDfCap),
        capped AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh
                  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                  GROUP BY 1, 2),
        m AS (SELECT da, min(db) AS dup_src
              FROM inter JOIN sizes na ON da = na.doc_id
                         JOIN sizes nb ON db = nb.doc_id
              WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold
              GROUP BY da)
        SELECT d.doc_id, (m.dup_src IS NOT NULL) AS is_dup,
               coalesce(m.dup_src, -1) AS dup_of
        FROM documents d LEFT JOIN m ON d.doc_id = m.da
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id"""

  /** Parameterized two-phase commit-ingest oracle: phase 1's joint-capped
    * screen of batch 1 against the corpus (doc_id % 5 ≠ 0) picks the
    * survivors; phase 2 screens batch 2 against corpus ∪ survivors with
    * the cap re-computed over THAT population. `b1`/`b2` render the batch
    * membership predicate for a given doc_id column reference (so the
    * standing-commit query's %-slices and the streaming gate's
    * chunk-boundary batches share one screen chain — structurally
    * incapable of drifting apart, the [[graft.streaming.DocStreams]]
    * evolvingScreenBlock discipline). `emitPhase1` additionally emits
    * batch 1's own verdicts (the streaming gate reports every arrival;
    * the standing-commit query reports only batch 2). */
  private[graft] def twoPhaseDedupSql(extraCtes: String,
      b1: String => String, b2: String => String,
      emitPhase1: Boolean): String = {
    val extra = if (extraCtes.isEmpty) "" else s"$extraCtes,\n        "
    val phase1Out =
      if (emitPhase1)
        s"""SELECT d.doc_id, (m1.dup_src IS NOT NULL) AS is_dup,
               coalesce(m1.dup_src, -1) AS dup_of
        FROM documents d LEFT JOIN m1 ON d.doc_id = m1.da
        WHERE ${b1("d.doc_id")}
        UNION ALL
        """
      else ""
    s"""WITH $shinglesSql,
        ${extra}p1 AS (SELECT * FROM sh
               WHERE doc_id % 5 <> 0 OR (${b1("doc_id")})),
        hot1 AS (SELECT sh FROM p1 GROUP BY sh
                 HAVING count(*) > $ShingleDfCap),
        c1 AS (SELECT * FROM p1 WHERE sh NOT IN (SELECT sh FROM hot1)),
        n1 AS (SELECT doc_id, count(*) AS n FROM c1 GROUP BY doc_id),
        i1 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
               FROM c1 a JOIN c1 b ON a.sh = b.sh
               WHERE (${b1("a.doc_id")}) AND b.doc_id % 5 <> 0
               GROUP BY 1, 2),
        m1 AS (SELECT da, min(db) AS dup_src
               FROM i1 JOIN n1 na ON da = na.doc_id
                       JOIN n1 nb ON db = nb.doc_id
               WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i)
                     >= $JaccardThreshold
               GROUP BY da),
        stand AS (SELECT doc_id FROM documents
                  WHERE doc_id % 5 <> 0
                     OR ((${b1("doc_id")})
                         AND doc_id NOT IN (SELECT da FROM m1))),
        p2 AS (SELECT * FROM sh WHERE (${b2("doc_id")})
                  OR doc_id IN (SELECT doc_id FROM stand)),
        hot2 AS (SELECT sh FROM p2 GROUP BY sh
                 HAVING count(*) > $ShingleDfCap),
        c2 AS (SELECT * FROM p2 WHERE sh NOT IN (SELECT sh FROM hot2)),
        n2 AS (SELECT doc_id, count(*) AS n FROM c2 GROUP BY doc_id),
        i2 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
               FROM c2 a JOIN c2 b ON a.sh = b.sh
               WHERE (${b2("a.doc_id")})
                 AND b.doc_id IN (SELECT doc_id FROM stand)
               GROUP BY 1, 2),
        m2 AS (SELECT da, min(db) AS dup_src
               FROM i2 JOIN n2 na ON da = na.doc_id
                       JOIN n2 nb ON db = nb.doc_id
               WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i)
                     >= $JaccardThreshold
               GROUP BY da)
        ${phase1Out}SELECT d.doc_id, (m2.dup_src IS NOT NULL) AS is_dup,
               coalesce(m2.dup_src, -1) AS dup_of
        FROM documents d LEFT JOIN m2 ON d.doc_id = m2.da
        WHERE ${b2("d.doc_id")}
        ORDER BY doc_id"""
  }

  /** Oracle for [[standingCommitIngest]]: the two-phase chain over the
    * %-sliced batches, batch-2 verdicts only. */
  val standingCommitIngestSql: String = twoPhaseDedupSql("",
    c => s"$c % 10 = 5", c => s"$c % 10 = 0", emitPhase1 = false)

  /** Window width for the duplicated-text-fraction signal: long enough that
    * a shared window means real copied text (the classic memorization-span
    * width from the exact-substring dedup literature), short enough that the
    * corpus's ~100-word docs carry a meaningful number of windows. */
  val DupN = 13

  /** The [[DupN]]-word window strings of a tokenized doc (`ws` column) as
    * a SQL expression — UNROLLED element accesses joined by concat_ws,
    * not `array_join(slice(ws, i + 1, DupN))`: the slice materializes a
    * 13-element collection per window position, and at the 30x ladder
    * that Scala-collection machinery (IndexedSeqOps.slice / toArray /
    * Vector copies inside the interpreted higher-order lambda) was the
    * single hottest frame family of the window queries — ~2x their
    * corpus-side cost. concat_ws over direct ArrayData accesses emits
    * the IDENTICAL string (both join with ' '; split() never yields null
    * elements), so the md5s and every downstream result are unchanged
    * and the DuckDB oracle keeps its array_to_string(slice) form. */
  // Retained as the spec-pinned reference formulation for
  // [[graft.functions.WordWindows]] (the ZExprFold precedent): the fused
  // codegen kernel below must stay window-for-window identical to this
  // HOF — TextFunctionsSpec proves it on the live corpus.
  private[graft] def dupWindowsExpr: String = {
    val parts = (0 until DupN).map(k => s"ws[i + $k]").mkString(", ")
    s"""CASE WHEN size(ws) >= $DupN
        THEN transform(sequence(0, size(ws) - $DupN),
                       i -> concat_ws(' ', $parts))
        ELSE array() END"""
  }

  /** Corpus-duplicated text fraction per document — the "how much of this
    * doc exists elsewhere" QUALITY signal that complements the pairwise
    * dedup family: for every [[DupN]]-word window (every position, not
    * distinct — a doc repeating a corpus-duplicated phrase is worse, not
    * better), count the windows whose text occurs in ANY other document,
    * and report the duplicated fraction. Distinct from q_repetition
    * (within-doc redundancy) and the Jaccard/MinHash pair finders (pairwise
    * verdicts): this is the per-doc aggregate used to score and filter.
    *
    * Scale shape: JOIN-FREE — the complement identity. A doc's total
    * window occurrences equal its n_grams (every position generates one
    * window), so n_dup = n_grams − n_uniq, where n_uniq counts the
    * occurrences of windows NO other document contains. And a df = 1
    * window's occurrences all belong to its single owner, so n_uniq needs
    * no occurrence join at all: one hash-arity aggregate over the window
    * stream (df via partial-distinct, owner via min(doc_id), occurrences
    * via count) is filtered to df = 1 and re-aggregated on the owner —
    * hash-arity in, doc-arity out. The previous formulation joined the
    * hash-arity df table back onto the (h, doc)-arity occurrence frame;
    * at the 100× ladder that occurrence-scale join was the query's
    * dominant term (+9.3 s of 20.8 — SCALING.md). This is [[ngramNovelty]]'s
    * owner-re-aggregation move applied to the occurrence-counted stream. */
  def dupNgramFraction(s: SparkSession, d: String): DataFrame =
    dupNgramFractionStages(s, d).last._2

  /** [[dupNgramFraction]] pipeline prefixes for `graft.Measure decompose` (same
    * convention as [[incrementalDedupStages]]: last stage is the query). */
  private[graft] def dupNgramFractionStages(
      s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val w = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val g = w.select(col("doc_id"),
      explode(graft.functions.TextFunctions.wordWindows(col("ws"), DupN)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    // Hash-arity rollup of the occurrence stream, ONE pass: df plans as a
    // partial distinct on (h, doc_id) before the single shuffle on h, and
    // when df = 1 min(doc_id) IS the unique owner and occ IS that owner's
    // occurrence count (every occurrence of the window is theirs).
    val hagg = g.groupBy("h").agg(
      countDistinct(col("doc_id")).as("df"),
      min(col("doc_id")).as("d0"),
      count(lit(1)).as("occ"))
    // Doc-arity unique-window mass, no join: each df = 1 hash contributes
    // its occurrences to exactly one document.
    val uniq = hagg.filter(col("df") === 1)
      .groupBy(col("d0").as("doc_id")).agg(sum("occ").as("n_uniq"))
    val full = w.select(col("doc_id"),
        greatest(size(col("ws")) - (DupN - 1), lit(0))
          .cast(LongType).as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      // n_dup = n_grams − n_uniq: dupWindowsExpr emits one window per
      // position (no cap, no distinct), so per-doc occurrences sum to
      // n_grams exactly and the complement is exact integer arithmetic.
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        when(col("n_grams") > 0,
          round(col("n_dup").cast(DoubleType) / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
      .orderBy("doc_id")
    Seq("window_stream" -> g, "hash_rollup" -> hagg,
      "uniq_owner" -> uniq, "full" -> full)
  }

  val dupNgramFractionSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT doc_id, md5(array_to_string(ws[i:i+${DupN - 1}], ' ')) AS h
              FROM w, generate_series(1, $MaxWords) t(i)
              WHERE i <= len(ws) - ${DupN - 1}),
        df AS (SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY h),
        dup AS (SELECT g.doc_id, count(*) AS n_dup
                FROM g JOIN df ON g.h = df.h AND df.df > 1 GROUP BY g.doc_id)
        SELECT w.doc_id,
          CAST(greatest(len(ws) - ${DupN - 1}, 0) AS BIGINT) AS n_grams,
          CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup,
          CASE WHEN len(ws) - ${DupN - 1} > 0
               THEN round(CAST(coalesce(dup.n_dup, 0) AS DOUBLE)
                          / (len(ws) - ${DupN - 1}), 4)
               ELSE 0.0 END AS dup_frac
        FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id
        ORDER BY w.doc_id"""

  /** First-occurrence n-gram novelty per document — the "keep the first
    * occurrence" exact-substring-dedup policy expressed as a per-doc SCORE:
    * of a document's distinct [[DupN]]-word windows, the share whose FIRST
    * corpus owner (minimum doc_id over all documents containing the window)
    * is the document itself. A verbatim late copy scores 0 (everything it
    * says was said before), the corpus's sources of copied text score high
    * — the ordering signal for dedup-aware curriculum and attribution.
    * Complements [[dupNgramFraction]]: that measures how much of a doc is
    * duplicated ANYWHERE; this says who was first.
    *
    * Scale shape: JOIN-FREE — both outputs are aggregations. n_windows is
    * a map-side-combined count per doc over the distinct (doc, hash)
    * stream; n_owned needs no occurrence join at all, because each hash
    * contributes its single "first owner" row to exactly one doc: the
    * hash-arity owner table (min doc_id per hash) re-aggregates by that
    * owner, and the two doc-arity frames join at output arity. The
    * previous formulation equi-joined the owner table back onto the FULL
    * occurrence stream and then re-shuffled occurrence-scale rows by
    * doc_id — on the 30x ladder that second occurrence-scale
    * shuffle+join was the query's dominant term (its 4.5x slope was the
    * dedup family's worst); this shape's only occurrence-scale exchanges
    * are the two map-side-combined aggregates. The score is one division
    * of exact integers (both engines bit-agree). */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyOf(Tables.documents(s, d))

  /** [[ngramNovelty]] over an explicit (doc_id, text) frame — exposed so
    * DedupSpec can prove the verbatim-late-copy case. */
  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val g = w.select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.wordWindows(col("ws"), DupN))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    val owner = g.groupBy("h").agg(min("doc_id").as("first_doc"))
    val nWindows = g.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val nOwned = owner.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_owned"))
    val owned = nWindows.join(nOwned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"))
    docs.select(col("doc_id"))
      .join(owned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"),
        when(col("n_windows") > 0,
          col("n_owned").cast(DoubleType) / col("n_windows"))
          .otherwise(lit(0.0)).as("novelty"))
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT DISTINCT doc_id,
                md5(array_to_string(ws[i:i+${DupN - 1}], ' ')) AS h
              FROM w, generate_series(1, $MaxWords) t(i)
              WHERE i <= len(ws) - ${DupN - 1}),
        own AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h),
        agg AS (SELECT g.doc_id, count(*) AS n_windows,
                  CAST(sum(CASE WHEN g.doc_id = own.first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_owned
                FROM g JOIN own ON g.h = own.h GROUP BY g.doc_id)
        SELECT d.doc_id,
          CAST(coalesce(agg.n_windows, 0) AS BIGINT) AS n_windows,
          CAST(coalesce(agg.n_owned, 0) AS BIGINT) AS n_owned,
          CASE WHEN agg.n_windows > 0
               THEN CAST(agg.n_owned AS DOUBLE) / agg.n_windows
               ELSE 0.0 END AS novelty
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        ORDER BY d.doc_id"""

  /** Maximal duplicated-span extraction — the span-level view the per-doc
    * [[dupNgramFraction]] aggregate summarizes: for each document, every
    * MAXIMAL run of consecutive word positions whose [[DupN]]-word windows
    * all occur in at least one other document. A run of k consecutive
    * duplicated windows covers k + DupN - 1 words, which is exactly the
    * substring an exact-substring deduper would cut — so this is the
    * "where to cut" report for span-level dedup (the memorization-span
    * literature's unit of removal), not just "how much".
    *
    * Scale shape: the window stream and its df aggregate are the same
    * LINEAR aggregation join as [[dupNgramFraction]]; the island grouping
    * (pos - row_number) is a doc-partitioned window, parallel in document
    * count. No pair joins anywhere. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    dupSpansOf(Tables.documents(s, d))

  /** [[dupSpans]] over an explicit (doc_id, text) frame — exposed so
    * DedupSpec can prove span maximality on crafted copies. */
  private[graft] def dupSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val g = w.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.wordWindows(col("ws"), DupN)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), md5(col("col")).as("h"))
    val df_ = g.groupBy("h").agg(countDistinct("doc_id").as("df"))
    val dup = g.join(df_.filter(col("df") > 1), "h")
      .select("doc_id", "pos")
    val island = dup.withColumn("rn",
      row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("grp", col("pos") - col("rn"))
    island.groupBy("doc_id", "grp")
      .agg(min("pos").cast(IntegerType).as("span_start"),
        (max("pos") - min("pos") + DupN).cast(IntegerType).as("span_words"))
      .select("doc_id", "span_start", "span_words")
      .orderBy("doc_id", "span_start")
  }

  val dupSpansSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT doc_id, i AS pos,
                md5(array_to_string(ws[i:i+${DupN - 1}], ' ')) AS h
              FROM w, generate_series(1, $MaxWords) t(i)
              WHERE i <= len(ws) - ${DupN - 1}),
        df AS (SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY h),
        dup AS (SELECT g.doc_id, g.pos FROM g
                JOIN df ON g.h = df.h AND df.df > 1),
        isl AS (SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM dup)
        SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
          CAST(max(pos) - min(pos) + $DupN AS INT) AS span_words
        FROM isl GROUP BY doc_id, grp
        ORDER BY doc_id, span_start"""

  /** Clusters reported by [[dedupSavings]]. */
  val SavingsTopK = 20

  /** Dedup ROI report: the [[SavingsTopK]] duplicate clusters ranked by
    * wasted tokens, under the keep-the-LARGEST-copy policy — THE number a
    * curation team asks for before paying for a dedup pass ("how many
    * training tokens does dedup buy?"), and the per-cluster view that
    * finds the one boilerplate document mirrored everywhere. Clusters come
    * from the [[fingerprintDedup]] digest (sorted distinct tokens —
    * order/repetition-invariant, so this corpus's permuted twins cluster;
    * the exact-text digest finds nothing here); the keeper IS the policy's
    * survivor — the cluster's largest member (tie-break min doc_id), so
    * kept_tokens is exactly the keeper's token count and wasted = cluster
    * token mass minus the keeper. (The rest of the dedup family keeps
    * min-doc_id; this report ranks by retainable mass, so its policy keeps
    * the copy that preserves the most tokens — the point of the ROI view.)
    * All integer arithmetic; ranking ties break on the digest. Scale
    * shape: one map pass (digest + token count), one map-side-combined
    * digest rollup (argmax via struct-min — no per-cluster sort),
    * TakeOrdered top-k — never a global sort of the cluster table. */
  def dedupSavings(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
          .as("fp"),
        size(split(col("text"), " ")).cast(LongType).as("toks"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"),
        // argmax(toks), ties to min doc_id, as one struct-min aggregate:
        // smallest (-toks, doc_id) is the largest copy with the lowest id.
        min(struct((-col("toks")).as("nt"), col("doc_id").as("id"))).as("m"),
        sum("toks").as("total_tokens"))
      .filter(col("n_copies") > 1)
      .select(col("fp"), col("m.id").as("keeper"), col("n_copies"),
        col("total_tokens"), (-col("m.nt")).as("kept_tokens"),
        (col("total_tokens") + col("m.nt")).as("wasted_tokens"))
      .orderBy(col("wasted_tokens").desc, col("fp"))
      .limit(SavingsTopK)

  val dedupSavingsSql: String =
    s"""WITH t AS (SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
               FROM documents),
        c AS (SELECT fp, count(*) AS n_copies,
                CAST(sum(toks) AS BIGINT) AS total_tokens
              FROM t GROUP BY fp),
        k AS (SELECT fp, doc_id AS keeper, toks AS kept_tokens FROM (
                SELECT fp, doc_id, toks,
                  row_number() OVER (PARTITION BY fp ORDER BY toks DESC, doc_id) AS rk
                FROM t) WHERE rk = 1)
        SELECT c.fp, k.keeper, c.n_copies, c.total_tokens, k.kept_tokens,
          c.total_tokens - k.kept_tokens AS wasted_tokens
        FROM c JOIN k USING (fp) WHERE c.n_copies > 1
        ORDER BY wasted_tokens DESC, c.fp LIMIT $SavingsTopK"""

  /** Connected components over the near-dup pair graph — the dedup DECISION
    * step: each document maps to its cluster (min doc_id reachable through
    * near-dup edges); keepers are cluster representatives. Spark side:
    * min-label propagation (one equi-join per iteration — the Pregel-lite
    * pattern that scales to billions of edges); fixpoint is exact for any
    * iteration count >= the min-node eccentricity (clusters here are tiny;
    * 15 is generous). Oracle: exact transitive closure via WITH RECURSIVE. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    minLabelComponents(ngramJaccardPairsUnordered(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")

  /** Min-label propagation over an undirected near-dup pair list (a, b):
    * returns (id, label) where label = the minimum id reachable through the
    * pair graph. One equi-join per iteration — the Pregel-lite pattern that
    * scales to billions of edges. Shared by [[dedupClusters]] (token-level
    * near-dups) and [[Similarity.semDedup]] (embedding-level near-dups). */
  private[graft] def minLabelComponents(rawPairs: DataFrame,
      localMaxEdges: Long = LocalComponentsMaxEdges): DataFrame = {
    val pairs = rawPairs.cache()
    // Size the propagation parallelism to the ACTUAL edge count (the count
    // also materializes the pair cache): near-dup pair graphs are orders of
    // magnitude smaller than their corpus, and running each of the ~2·rounds
    // jobs at full shuffle width schedules hundreds of near-empty tasks. One
    // partition per ~100k edges (clamped to the session's shuffle width)
    // keeps the same plan shape at every scale — a billion-edge graph still
    // fans out to the full width.
    val nEdges = pairs.count()
    if (nEdges == 0) {
      pairs.unpersist(blocking = false)
      return rawPairs.select(col("a").as("id"), col("a").as("label")).limit(0)
    }
    // Size-gated DRIVER union-find: near-dup pair graphs are orders of
    // magnitude smaller than their corpus, and at bench scale the
    // propagation loop's cost is pure fixed overhead — 2-4 rounds x
    // (checkpoint job + convergence-sum job) of sub-second tasks. Below
    // the gate (edge list provably driver-small — the count above is
    // already paid), collect the edges once and compute the identical
    // min-reachable-id labels with path-compressed union-find: exact,
    // deterministic, zero further Spark jobs. Above the gate the
    // Pregel-lite loop below remains the billions-of-edges shape.
    // (The r16 verdict's profile showed the pair join/agg dominating —
    // this takes out everything BUT that join.)
    if (nEdges <= localMaxEdges) {
      val edgeArr = pairs.select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      pairs.unpersist(blocking = false)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path-halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      edgeArr.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // Root by MIN id (the union above always parents larger roots to
      // smaller), so find(x) IS the min id reachable from x.
      val nodes = edgeArr.iterator.flatMap(e => Iterator(e._1, e._2))
        .toArray.distinct
      val out = nodes.map(n => (n, find(n))).toSeq
      import rawPairs.sparkSession.implicits._
      return out.toDF("id", "label")
    }
    val width = math.max(1, math.min(
      rawPairs.sparkSession.sessionState.conf.numShufflePartitions,
      (nEdges / 100000L).toInt + 1))
    val edges = pairs.union(
      pairs.select(col("b").as("a"), col("a").as("b")))
      .repartition(width, col("a")).cache()
    val init = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    // Label sums decrease monotonically and stabilize exactly at the
    // fixpoint, so they double as the halt test. Under 1M edges the sum job
    // costs less than one wasted propagation round (near-dup graphs
    // converge in 1-3 rounds), so check every round; at scale check every
    // OTHER round: a sum equal across rounds t-2 and t implies (by
    // monotonicity) round t-1 was already the fixpoint, so the late
    // detection costs one no-op round while each skipped check saves a
    // full scan-and-agg job over the labels.
    val checkEvery = if (nEdges < 1000000L) 1 else 2
    // Safety net for pathological path-shaped components.
    val cap = 30
    var prevSum = Long.MaxValue
    def settled(ls: DataFrame, i: Int): Boolean =
      (i % checkEvery == 0 || i > cap) && {
        val s = ls.agg(sum("label")).head().getLong(0)
        val same = s == prevSum
        prevSum = s
        same
      }
    // Round cap + 1 is the cap-exit fixpoint check, always summed: a
    // component with diameter > cap would otherwise silently ship wrong
    // cluster ids, so labels still moving there fail loudly.
    val run = graft.ops.Superstep.iterate(init, cap + 1, settled) { (ls, _) =>
      val viaNeighbor = edges
        .join(ls, edges("b") === ls("id"))
        .select(edges("a").as("id"), col("label"))
      ls.union(viaNeighbor).groupBy("id").agg(min("label").as("label"))
    }
    require(run.halted,
      s"minLabelComponents did not converge within $cap rounds " +
        "(a component's min-label eccentricity exceeds the cap); " +
        "raise the cap or pre-contract the pathological component")
    // The labels are checkpointed (already materialized); the pair and
    // edge caches have no remaining consumers.
    pairs.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    run.state
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $cappedShinglesSql,
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        jp AS (SELECT doc_a, doc_b
               FROM inter JOIN sizes na ON doc_a = na.doc_id
                          JOIN sizes nb ON doc_b = nb.doc_id
               WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold),
        edges AS (SELECT doc_a AS s, doc_b AS t FROM jp
                  UNION ALL SELECT doc_b, doc_a FROM jp),
        nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
        reach AS (SELECT doc_id, doc_id AS r FROM nodes
                  UNION
                  SELECT reach.doc_id, e.t FROM reach JOIN edges e ON reach.r = e.s)
        SELECT doc_id, min(r) AS cluster_id, (doc_id = min(r)) AS is_keeper
        FROM reach GROUP BY doc_id ORDER BY doc_id"""

  /** Quality-aware canonicalization — the KEEP DECISION a curation
    * pipeline runs after clustering: every document gets a verdict, and
    * each near-dup cluster keeps its highest-quality member (type-token
    * ratio, the cheap per-row quality signal; ties break to the smallest
    * doc_id) instead of [[dedupClusters]]' arbitrary min-id keeper —
    * "keep the best copy", not "keep the first copy". Documents with no
    * near-dup pair are their own singleton cluster and trivially
    * canonical, so the output covers the WHOLE corpus: (doc_id,
    * cluster_id, is_canonical).
    *
    * Scale shape: clusters ride the shared Pregel-lite min-label
    * propagation (edge-count-scale); TTR is per-row arithmetic on the
    * corpus scan; the per-cluster argmax is ONE aggregate of
    * max(struct(ttr, -doc_id)) — no WindowExec, no per-cluster sort —
    * and the canonical join-back is cluster-arity. Both engines compute
    * the same IEEE division from the same integers, so the double
    * compare is deterministic cross-engine. */
  def canonicalKeep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        (size(array_distinct(col("ws"))).cast(DoubleType) /
          size(col("ws"))).as("ttr"))
    val cl = minLabelComponents(ngramJaccardPairsUnordered(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("label").as("cl"))
    // Two consumers (the per-cluster argmax and the verdict join-back):
    // cache, or the corpus scan + cluster join run twice.
    val full = graft.TrackedCaches.track(
      docs.join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ttr"),
          coalesce(col("cl"), col("doc_id")).as("cluster_id"))
        .cache())
    val best = full.groupBy("cluster_id")
      .agg(max(struct(col("ttr"), (-col("doc_id")).as("negId"))).as("b"))
      .select(col("cluster_id"), (-col("b.negId")).as("canonical_id"))
    full.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  val canonicalKeepSql: String =
    s"""WITH RECURSIVE $cappedShinglesSql,
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        jp AS (SELECT doc_a, doc_b
               FROM inter JOIN sizes na ON doc_a = na.doc_id
                          JOIN sizes nb ON doc_b = nb.doc_id
               WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold),
        edges AS (SELECT doc_a AS s, doc_b AS t FROM jp
                  UNION ALL SELECT doc_b, doc_a FROM jp),
        nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
        reach AS (SELECT doc_id, doc_id AS r FROM nodes
                  UNION
                  SELECT reach.doc_id, e.t FROM reach JOIN edges e ON reach.r = e.s),
        clus AS (SELECT doc_id, min(r) AS cl FROM reach GROUP BY doc_id),
        q AS (SELECT doc_id,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                  len(string_split(text, ' ')) AS ttr
              FROM documents),
        f AS (SELECT q.doc_id, q.ttr, coalesce(clus.cl, q.doc_id) AS cluster_id
              FROM q LEFT JOIN clus ON q.doc_id = clus.doc_id),
        best AS (SELECT cluster_id, doc_id AS canonical_id
                 FROM (SELECT cluster_id, doc_id,
                         row_number() OVER (PARTITION BY cluster_id
                           ORDER BY ttr DESC, doc_id ASC) AS rk
                       FROM f) WHERE rk = 1)
        SELECT f.doc_id, f.cluster_id, f.doc_id = best.canonical_id AS is_canonical
        FROM f JOIN best ON f.cluster_id = best.cluster_id
        ORDER BY f.doc_id"""

  val ngramJaccardPairsSql: String =
    s"""WITH $cappedShinglesSql,
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
        FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
        WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= $JaccardThreshold
        ORDER BY doc_a, doc_b"""

  /** Directed-containment floor: C(A→B) = |S(A)∩S(B)| / |S(A)| ≥ 0.8 in at
    * least one direction. Deliberately ABOVE the Jaccard threshold: a pair
    * can clear 0.8 containment at Jaccard ~0.44 (small doc swallowed by a
    * doc twice its size), which is exactly the asymmetric case Jaccard
    * misses. */
  val ContainmentThreshold = 0.8

  /** Asymmetric n-gram containment pairs — the near-SUPERSET detector the
    * symmetric dedup family cannot express: a short document quoted whole
    * inside a much longer one has Jaccard |A∩B|/|A∪B| ≈ |A|/|B| (arbitrarily
    * small) but containment |A∩B|/|A| ≈ 1. Broder's containment coefficient
    * (the companion measure to resemblance in the original shingling paper)
    * is the standard screen for boilerplate inclusion, quote expansion, and
    * subset-republication in web corpora.
    *
    * Same machinery as [[ngramJaccardPairs]] — ONE df-capped inverted-index
    * self-join computes |A∩B| for unordered candidate pairs, set sizes join
    * back by doc_id — then each pair is scored in BOTH directions from the
    * single intersection row (i/|A| and i/|B|; no second join, the two
    * denominators are already on the row). Scores are a single division of
    * exact integers, so both engines agree bit-for-bit with no rounding.
    * Scale shape is identical to the Jaccard query: candidate cost is
    * bounded by the df cap (f² only below [[ShingleDfCap]]), everything else
    * is equi-joins + map-side-combined counts. */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    containmentPairsOf(
      graft.TrackedCaches.track(cappedShingles(s, d).cache()),
      broadcastSizes = sizesFit(s, d))

  /** [[containmentPairs]] pipeline prefixes for `graft.Measure decompose` (same
    * convention as [[incrementalDedupStages]]: last stage is the query).
    * The full stage passes the SAME sizes-broadcast gate decision
    * production [[containmentPairs]] makes — a decomposition that timed a
    * different verification-join plan than the ladder runs would attribute
    * the wrong term. */
  private[graft] def containmentPairsStages(
      s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val sh = graft.TrackedCaches.track(cappedShingles(s, d).cache())
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"), "inner")
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    Seq("capped_index" -> sh, "pair_agg" -> inter,
      "full" -> containmentPairsOf(sh,
        broadcastSizes = sizesFit(s, d)))
  }

  /** [[containmentPairs]] over an explicit df-capped shingle frame
    * (doc_id, sh) — exposed so DedupSpec can prove the asymmetric case on a
    * crafted superset pair that Jaccard misses. */
  private[graft] def containmentPairsOf(sh: DataFrame,
      broadcastSizes: Boolean = true): DataFrame = {
    val sizes0 = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sizes = if (broadcastSizes) broadcast(sizes0) else sizes0
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"), "inner")
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast(DoubleType) / col("na.n")).as("cont_a_in_b"),
        (col("i").cast(DoubleType) / col("nb.n")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a"))
        >= ContainmentThreshold)
      .orderBy("doc_a", "doc_b")
  }

  val containmentPairsSql: String =
    s"""WITH $cappedShinglesSql,
        sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          CAST(i AS DOUBLE) / na.n AS cont_a_in_b,
          CAST(i AS DOUBLE) / nb.n AS cont_b_in_a
        FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
        WHERE greatest(CAST(i AS DOUBLE) / na.n, CAST(i AS DOUBLE) / nb.n)
          >= $ContainmentThreshold
        ORDER BY doc_a, doc_b"""

  // =========================================================================
  // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
  // scheme): rolling k-gram hashes, keep the minimum of every window of
  // WinnowW consecutive hashes. Guarantee: two documents sharing a token run
  // of length >= WinnowW + k - 1 share at least one fingerprint, while the
  // selected set is ~2/(WinnowW+1) of all k-grams — a contiguity-sensitive
  // sketch (word order matters, unlike MinHash's bag-of-shingles).
  // =========================================================================
  val WinnowW = 4          // window width in k-grams (k = 3, the shingle size)
  val WinnowMinShared = 3  // shared fingerprints to become a candidate pair

  /** Positioned (non-distinct) word-3-gram shingles: (doc_id, pos, sh). */
  private def posShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        """CASE WHEN size(ws) >= 3
           THEN transform(sequence(0, size(ws) - 3),
                          i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))
           ELSE array() END""")))
      .select(col("doc_id"), col("pos"), col("col").as("sh"))

  /** Per-doc winnowed fingerprint set: (doc_id, fp), fp = 28-bit hash. The
    * sliding min is a doc-partitioned window (state bounded by WinnowW rows
    * per task), so the whole selection distributes by doc exactly like the
    * shingle stream; a doc shorter than WinnowW k-grams keeps its global
    * min as the single fingerprint. */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowFpSet(s, d).orderBy("doc_id", "fp")

  /** The fingerprint SET without the presentation sort — callers that feed
    * joins use this one: a global orderBy is optimizer-removable in an
    * uncached plan, but caching would freeze it into the materialized data
    * (one full range-exchange sort paid for nothing). */
  private[graft] def winnowFpSet(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = posShingles(s, d)
      .select(col("doc_id"), col("pos"), baseHash(col("sh")).as("h"))
    val slide = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val whole = Window.partitionBy("doc_id")
    h.withColumn("fp", min("h").over(slide))
      .withColumn("n", count(lit(1)).over(whole))
      .filter(col("pos") <= greatest(col("n") - WinnowW, lit(0)))
      .select("doc_id", "fp").distinct()
  }

  /** Shared winnowing CTE chain: positioned shingles -> hashes -> window
    * minima -> distinct fingerprint set, mirroring [[winnowFingerprints]]. */
  private val winnowFpsSql =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       psh AS (SELECT doc_id, i - 1 AS pos, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
               FROM words, generate_series(1, $MaxWords) t(i) WHERE i <= len(ws) - 2),
       ph AS (SELECT doc_id, pos, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS h FROM psh),
       mins AS (SELECT doc_id, pos,
                  min(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
                  count(*) OVER (PARTITION BY doc_id) AS n
                FROM ph),
       fps AS (SELECT DISTINCT doc_id, fp FROM mins
               WHERE pos <= greatest(n - $WinnowW, 0))"""

  val winnowFingerprintsSql: String =
    s"""WITH $winnowFpsSql
        SELECT doc_id, fp FROM fps ORDER BY doc_id, fp"""

  /** Near-dup candidates sharing >= WinnowMinShared fingerprints. Same scale
    * shape as the other banded schemes: equi-join on the fingerprint value
    * (df-capped against hot fingerprints), never all-pairs. */
  def winnowPairs(s: SparkSession, d: String): DataFrame = {
    // Cached: the fingerprint derivation (window minima over the positioned
    // shingle stream) is the expensive part and is consumed three times —
    // the df aggregate and both sides of the candidate self-join.
    val fps = graft.TrackedCaches.track(winnowFpSet(s, d).cache())
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select("fp")
    val capped = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"), "inner")
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("doc_a", "doc_b")
  }

  val winnowPairsSql: String =
    s"""WITH $winnowFpsSql,
        hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > $ShingleDfCap),
        capped AS (SELECT doc_id, fp FROM fps WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
        ORDER BY doc_a, doc_b"""

  /** Boundary modulus for content-defined chunking: a chunk break lands
    * before token i when the hash of the 3 tokens ending at i-1 is
    * 0 mod this — expected chunk length = modulus + the 3-token minimum. */
  val CdcModulus = 16L

  /** Content-defined chunking — the rsync/LBFS/restic dedup primitive:
    * chunk boundaries are decided by a rolling hash of the LOCAL tokens,
    * so an edit moves only the boundaries inside its own chunk; every
    * chunk after it re-aligns and keeps its fingerprint (a fixed-stride
    * chunker would shift every downstream chunk). That content-locality is
    * what makes delta storage and shared-chunk dedup work.
    *
    * Entirely array higher-order functions inside one projection — the
    * chunking itself is a shuffle-free map pass at any corpus scale; only
    * the presentation sort exchanges. Chunk ids, starts, and fingerprints
    * are derived per document. */
  private def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunksOf(Tables.documents(s, d))

  /** CDC chunker over any (doc_id, text) frame — split out so specs can
    * chunk edited copies and assert the content-locality property. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    // greatest() keeps element_at indices valid even when the i >= 4 guard
    // is false (no guaranteed short-circuit inside codegen'd lambdas), and
    // the sequence runs from 1 so it can never be descending for short docs.
    val boundaryHash =
      s"""cast(conv(substring(md5(concat_ws(' ',
            element_at(ws, cast(greatest(i - 3, 1L) as int)),
            element_at(ws, cast(greatest(i - 2, 1L) as int)),
            element_at(ws, cast(greatest(i - 1, 1L) as int)))), 1, 7), 16, 10)
          as bigint)"""
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast(LongType))
      // chunk START positions: 1, every boundary, and the n+1 sentinel
      .withColumn("bounds", expr(
        s"""concat(array(1L),
              filter(sequence(1L, n),
                i -> i >= 4 and $boundaryHash % $CdcModulus = 0),
              array(n + 1))"""))
      .select(col("doc_id"), col("ws"), col("bounds"),
        explode(expr("sequence(0L, cast(size(bounds) - 2 as bigint))")).as("chunk_id"))
      .withColumn("tok_start", expr("element_at(bounds, cast(chunk_id + 1 as int))"))
      .withColumn("n_toks",
        expr("element_at(bounds, cast(chunk_id + 2 as int))") - col("tok_start"))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"), col("n_toks"),
        md5(expr("concat_ws(' ', slice(ws, cast(tok_start as int), cast(n_toks as int)))"))
          .as("chunk_hash"))
  }

  /** The per-document chunk map (tok_start is 1-based). */
  def cdcChunkMap(s: SparkSession, d: String): DataFrame =
    cdcChunks(s, d).orderBy("doc_id", "chunk_id")

  /** Chunks shared across the corpus — the delta-storage estimate: every
    * chunk_hash held by more than one (doc, position) would be stored
    * once instead of n_copies times. One groupBy on the 32-hex hash. */
  def cdcSharedChunks(s: SparkSession, d: String): DataFrame =
    cdcChunks(s, d).groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct("doc_id").as("n_docs"))
      .filter(col("n_copies") > 1)
      .orderBy(col("n_copies").desc, col("chunk_hash"))

  /** Shared CTE: positions via the constant-range trick (memory: DuckDB
    * v1.0 generate_series cannot lateral-join a column bound), boundary
    * flags from lagged tokens, chunk ids as a running boundary count. */
  private val cdcChunksSql: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       p AS (SELECT doc_id, i, ws[i] AS tok, len(ws) AS n
             FROM w CROSS JOIN generate_series(1, 300) g(i)
             WHERE i <= len(ws)),
       b AS (SELECT doc_id, i, tok,
               CASE WHEN i >= 4 AND
                 CAST('0x' || substr(md5(
                     lag(tok, 3) OVER w2 || ' ' ||
                     lag(tok, 2) OVER w2 || ' ' ||
                     lag(tok, 1) OVER w2), 1, 7) AS BIGINT)
                   % $CdcModulus = 0
               THEN 1 ELSE 0 END AS bnd
             FROM p WINDOW w2 AS (PARTITION BY doc_id ORDER BY i)),
       c AS (SELECT doc_id, i, tok,
               sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS chunk_id
             FROM b),
       chunks AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                    CAST(min(i) AS BIGINT) AS tok_start,
                    CAST(count(*) AS BIGINT) AS n_toks,
                    md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_hash
                  FROM c GROUP BY doc_id, chunk_id)"""

  val cdcChunkMapSql: String =
    s"""WITH $cdcChunksSql
        SELECT doc_id, chunk_id, tok_start, n_toks, chunk_hash
        FROM chunks ORDER BY doc_id, chunk_id"""

  val cdcSharedChunksSql: String =
    s"""WITH $cdcChunksSql
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunks GROUP BY chunk_hash HAVING count(*) > 1
        ORDER BY n_copies DESC, chunk_hash"""
}
