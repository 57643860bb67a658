package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Text retrieval over the documents table — the lookup side of a curation
  * pipeline (decontamination probes against eval sets, quality-by-example
  * retrieval, near-query mining). Reference scope: the reference has no
  * retrieval; this extends the LLM-pipeline surface the same way the ANN
  * family does for vectors.
  *
  * Both rankers share one inverted-index shape: IMPACT postings (doc,
  * term, tf, imp) built in a single corpus pass, joined on term against
  * the (tiny, broadcast) query-side term lists. Three cost bounds stack:
  * query terms with df above [[Retrieval.MaxDfPct]]% of the corpus are
  * dropped before any join (their BM25 idf is ~0 anyway — the classic
  * stopword cut); every posting's score contribution is precomputed at
  * build time so scatter rows cost a codegen'd long add, not a
  * transcendental + BigDecimal round; and the batch top-k runs the
  * MaxScore term-partition (see the bounded-top-k block below), which
  * never joins the posting lists of provably non-competitive terms.
  * (Design note: WAND's document-at-a-time pivot bound is strictly
  * tighter than MaxScore's term-level bound, but it requires doc-ordered
  * cursor iteration over posting lists — inherently sequential state the
  * shuffle-relational shape can't express; MaxScore's partition maps
  * onto set-difference joins, which is why it is the bound used here.)
  *
  * Determinism for the oracle diff (file-wide discipline): every per-term
  * double is rounded to 6 dp and summed as exact micro-units — order-
  * independent — then the total is rounded back to 6 dp; ranking ties
  * break on doc_id. Arithmetic is written with EXPLICIT parentheses
  * mirrored token-for-token in the DuckDB SQL, because IEEE ops are only
  * reproducible if associated identically. */
object Retrieval {

  val TopK = 10
  val NumQueries = 5    // query set = doc_id < 5, the ANN-family idiom
  val K1 = 1.2          // BM25 term-frequency saturation
  val B = 0.75          // BM25 length normalization
  val RrfK = 60         // reciprocal-rank-fusion damping (the standard 60)
  // Stopword ceiling: query terms present in more than this percent of
  // documents are dropped before the postings join. 85% cuts the Zipfian
  // stopword head (the/of/and-class terms) whose posting lists are the
  // corpus-scale join risk while their idf contributes ~nothing; it is set
  // ABOVE the synthetic corpus's common-term plateau (df ~75-80% of docs —
  // 31-term vocabulary), where a typical 50% cut would silently drop the
  // entire vocabulary and return nothing.
  val MaxDfPct = 85
  val ListK = 30        // per-ranker candidate depth fed into the fusion

  /** One row per (doc, term) occurrence count, split on single spaces —
    * the tokenization every text operator in the library uses. */
  private[graft] def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** The standing corpus side of BM25: IMPACT postings — each (doc, term)
    * row carries tf, the doc length, the term df, AND `imp`, the term's
    * exact BM25 contribution to that doc in 6-dp micro-units. A query is a
    * term SET here (the short-query convention — query-side tf is
    * membership), so a pair's score is just the SUM of the shared terms'
    * precomputed impacts: the per-row ln/divide/round arithmetic is paid
    * ONCE per posting at build time (amortized across every query and
    * cached), and the scoring scatter becomes a codegen'd long-sum hash
    * aggregate with zero per-row BigDecimal work. This is the standard
    * impact-indexing move (Lucene's precomputed norms, impact-ordered
    * postings), and the per-term `max(imp)` ceilings it enables drive the
    * MaxScore bounded top-k below. Corpus stats are COLLECTED to scalars
    * (1-row aggregate — the trainCentroids discipline) so the df ceiling
    * can prune the QUERY side before the postings join ever runs. `cache`
    * pins tf/dft (via TrackedCaches) and materializes them eagerly for
    * callers that probe the index repeatedly — the streaming
    * decontamination gate builds it ONCE and scores every micro-batch
    * against it without another corpus pass; the raw postings used during
    * the build are unpersisted once the derived tables exist, so
    * steady-state memory is tf + dft only. */
  private[graft] case class Bm25Index(tf: DataFrame, dft: DataFrame,
      n: Long, avgLen: Double)

  /** One posting's BM25 contribution as EXACT 6-dp micro-units, over
    * (tf, df, len) columns: m = floor(ts * 1e6 + 0.5) — half-up rounding
    * of the exact binary product, pure codegen double arithmetic
    * (Robertson idf is strictly positive, so ts >= 0 and half-up needs no
    * sign case). The round-10 formulation went through Spark's
    * `round(ts, 6)`, whose BigDecimal.valueOf(double) calls
    * Double.toString — and that dtoa was the HOTTEST application frame of
    * the whole retrieval family in the round-11 sampling profile (~2 cpu-s
    * per index build at sf0.1, per-posting cost at any scale). Cross-engine
    * agreement is unchanged-or-better: DuckDB's numeric round(x, 6) also
    * rounds the binary product (half away from zero = half-up for
    * positives), while Spark's string-based round rounds the SHORTEST
    * DECIMAL REPR — either way a 1-ulp ln() difference between libm and
    * StrictMath can only flip a posting sitting within ~1e-9 of a .5
    * micro-unit boundary, and RetrievalSpec now pins that the live corpus
    * has NO posting within 1e-3 micro-units of a boundary (and that this
    * formulation is posting-for-posting identical to the string-round
    * one there). */
  /** The ONE definition of the per-posting BM25 term-score product ts —
    * idf(df) * tf*(k1+1) / (tf + k1*(1-b + b*len/avglen)) — shared by all
    * three builders below. Their whole contract (and RetrievalSpec's
    * floor-vs-round and boundary-distance pins) is that every formulation
    * evaluates the IDENTICAL Column expression tree; deriving them from
    * one builder makes token-identity structural instead of a discipline. */
  private def tsProduct(n: Long, avgLen: Double): Column =
    log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("len") / lit(avgLen))))

  private[graft] def impMicros(n: Long, avgLen: Double): Column =
    floor(tsProduct(n, avgLen) * lit(1000000.0) + lit(0.5)).cast(LongType)

  /** The round-10 string-round formulation of [[impMicros]], kept ONLY as
    * RetrievalSpec's cross-formulation oracle (posting-for-posting equality
    * on the live corpus each round). */
  private[graft] def impMicrosViaStringRound(n: Long, avgLen: Double): Column =
    (round(tsProduct(n, avgLen), 6) * lit(1000000.0) + lit(0.5)).cast(LongType)

  /** Distance of every posting's shifted micro-unit product
    * (ts * 1e6 + 0.5) from the nearest INTEGER — where floor() flips —
    * RetrievalSpec's empirical boundary-safety pin (the corpus minimum
    * must clear any plausible cross-engine ulp difference by orders of
    * magnitude). */
  private[graft] def impBoundaryDist(n: Long, avgLen: Double): Column = {
    val prod = tsProduct(n, avgLen) * lit(1000000.0) + lit(0.5)
    least(prod - floor(prod), floor(prod) + lit(1.0) - prod)
  }

  private[graft] def buildIndex(docs: DataFrame, cache: Boolean = false): Bm25Index = {
    val tf0 = postings(docs)
    if (cache) tf0.cache()
    val dl = tf0.groupBy("doc_id").agg(sum("tf").as("len"))
    val st = dl.agg(count(lit(1)).as("n"),
      (sum("len").cast(DoubleType) / count(lit(1))).as("avglen")).collect()(0)
    val (n, avgLen) = (st.getLong(0), st.getDouble(1))
    def pin(df: DataFrame): DataFrame =
      if (cache) graft.TrackedCaches.track(df.cache()) else df
    val dft = pin(tf0.groupBy("term").agg(count(lit(1)).as("df")))
    val tf = pin(tf0.join(dl, "doc_id").join(dft, "term")
      .withColumn("imp", impMicros(n, avgLen)))
    if (cache) { tf.count(); dft.count(); tf0.unpersist() }
    Bm25Index(tf, dft, n, avgLen)
  }

  /** Candidate (query, corpus-doc, ..., imp) rows: the df ceiling is
    * applied to the QUERY term list BEFORE the postings join — a
    * stopword-class term is dropped without its corpus-scale posting list
    * ever entering a join. The query side keeps only (term, query_id) so
    * the joined rows carry the INDEX's df/len/imp unambiguously. */
  private[graft] def candidates(ix: Bm25Index, queryTerms: DataFrame): DataFrame = {
    val qt = queryTerms.join(ix.dft, "term")
      .filter(col("df") * 100 <= lit(ix.n) * MaxDfPct)
      .select("term", "query_id")
    ix.tf.join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("query_id"))
  }

  /** (query_id, doc_id, score) of every (query, corpus-doc) pair sharing a
    * sub-ceiling term. `queryTerms` is (query_id, term) — distinct terms,
    * the short-query convention; df/length/stats all come from the INDEX
    * side only, so a score depends on nothing but the standing corpus and
    * the query's own terms (the invariance the streaming gate relies on). */
  private[graft] def scoreAgainst(ix: Bm25Index, queryTerms: DataFrame): DataFrame =
    scoreCandidateRows(candidates(ix, queryTerms))

  /** BM25 aggregation over an already-built candidate row set — split out
    * so a hybrid ranker can materialize [[candidates]] ONCE and feed both
    * its lexical scorer and this one instead of re-running the postings
    * probe per ranker. With impacts precomputed in the index this is a
    * pure long-sum hash aggregate (exact 6-dp micro-units — the long sum
    * IS the decimal sum), entirely inside whole-stage codegen: zero
    * per-row transcendentals, rounds, or BigDecimal allocations on the
    * scatter, which is millions of rows per query set on a
    * low-selectivity corpus and was the CPU owner of q_hybrid_rrf. */
  private def scoreCandidateRows(cand: DataFrame): DataFrame =
    cand
      .groupBy("query_id", "doc_id")
      .agg(round(sum("imp").cast(DoubleType) / lit(1000000.0), 6).as("score"))

  // ---- Bounded screening (the many-queries regime) -------------------------
  //
  // scoreAgainst is the right shape when queries are FEW (its cost is the
  // posting lists of every query term). A screening workload — every
  // arriving document is a query — needs a hard per-query bound instead:
  // measured on the 10x synthetic corpus (whose 31-term vocabulary makes
  // every posting list corpus-scale, the worst case for an inverted
  // index), unbounded screening was ~|arrivals| x |corpus| candidate pairs
  // and ground a 10-minute micro-batch. The standard IR-engine answer,
  // implemented here: candidates from the query's most SELECTIVE terms
  // only, capped per query, then FULL BM25 on just those candidates via a
  // forward index probe. A true near-copy shares its source's rare terms
  // and floods the match count, so detection survives the cut; per-query
  // cost is <= RareTerms posting-list probes + CandCap forward-row scores,
  // whatever the corpus looks like.

  /** Selective terms per screening query fed to candidate generation.
    * Cost lever: the stage-1 scatter is ~ sum of the rare terms' posting
    * lists per query, so this multiplies the screen's dominant cost. 4
    * measured ~2x cheaper than 8 on the selectivity-floor corpus with the
    * same candidate quality — a near-copy floods ALL its source's rare
    * terms, so detection needs few probes. */
  val RareTerms = 4
  /** Candidates per screening query that reach full scoring. 100 is NOT
    * arbitrary headroom — 50 was measured and rejected: on the
    * selectivity-floor corpus the shared-rare-term counts tie massively
    * (31-term vocabulary), the cap then truncates on the doc_id tiebreak,
    * and at sf0.01 that moved 56 arrivals' top match and FLIPPED one admit
    * verdict (a contamination suspect admitted). On a realistic Zipfian
    * vocabulary the counts break ties and 50 would be safe; the shipped
    * value pays ~2x stage-2 folds for verdict stability on the worst case. */
  val CandCap = 100

  /** Route-gate refinement window: the per-arrival provability bound (one
    * extra batch-vocabulary aggregate job) is only computed when the
    * batch's TOTAL selective mass is under RouteRefineFactor x CandCap —
    * past that, some arrival plausibly fills a cap and the kernel path is
    * the plan, so the refinement job would be pure added fixed cost in
    * exactly the regimes (30x/100x selective vocabularies) built to avoid
    * fixed cost. */
  val RouteRefineFactor = 16L

  /** Sub-ceiling (query term, df) rows — the shared input of BOTH screening
    * stages. Split out so a caller scoring many batches (the streaming
    * decontam gate) can materialize it ONCE per batch instead of paying the
    * tokenize + df join twice (the two stages live in one plan, and Spark
    * does not dedupe common subtrees). */
  private[graft] def subCeilingQueryDf(ix: Bm25Index, queryTerms: DataFrame): DataFrame =
    queryTerms.join(ix.dft, "term")
      .filter(col("df") * 100 <= lit(ix.n) * MaxDfPct)

  /** Stage 1: per query, docs sharing >= 1 of its [[RareTerms]] lowest-df
    * sub-ceiling terms, capped at [[CandCap]] by shared-rare-term count
    * (bounded heaps via TopKPerKey — never a per-query sort). The rare-term
    * rank window is per-query over its own term list: bounded. */
  private[graft] def screenCandidates(ix: Bm25Index, queryTerms: DataFrame,
      wavePrune: Boolean = true): DataFrame =
    screenCandidatesQd(ix, subCeilingQueryDf(ix, queryTerms), wavePrune)

  /** Wave-1 candidate oversupply factor: the doc-id prefix probed first is
    * sized to hold an ESTIMATED WaveCandFactor * [[CandCap]] all-rare-term
    * docs, so estimation error (the independence assumption, the
    * posting-weighted percentile, non-uniform doc-id layouts) rarely
    * forces the exact fallback. Correctness never depends on it. */
  val WaveCandFactor = 8.0
  /** An arrival is wave-prunable only when its estimated prefix is under
    * this fraction of the corpus — below that the two-wave bookkeeping
    * cannot pay for itself and the plain scatter runs. */
  val WaveMaxFrac = 0.25

  /** A rare-list term above this df fraction is COMMON: its posting list
    * is corpus-scale and must never be scattered per arrival. Commons are
    * folded back into the match count through the per-doc bitmask join
    * below. Zipf head terms are few by definition, so the <= 63 distinct
    * commons a batch's bitmask can carry is generous; a batch that still
    * overflows it falls back to the exact scatter. */
  val SelDfFrac = 0.05
  /** The per-doc common-term bitmask is hash-broadcast when its row bound
    * (min(corpus, sum of common dfs)) fits this; above it the mask joins
    * doc-keyed as an ordinary shuffle join — the 1000-executor shape. */
  val DocMaskBroadcastMaxRows = 4000000L
  /** Driver-footprint cap on the routing prelude's whole-rare-rows
    * collect (|batch| x RareTerms tuples ~ tens of bytes each, so the cap
    * bounds it near 20 MB). Batches past it keep the pre-r16 shape:
    * distinct (term, df) collect only, Spark-side q2k/refinement. */
  val RouteCollectMaxRows = 262144

  /** Broadcast slice for the class-A candidate kernel: the BATCH's
    * selective rare terms' posting lists (each bounded by [[SelDfFrac]] n
    * rows — that is what selective MEANS) plus the per-doc common-term
    * bitmask, laid out as flat sorted primitive arrays (the snapshot
    * layout rule: derived lookup structures are @transient and rebuild
    * lazily after deserialization). */
  private[graft] class SelSlice(
      val terms: Array[String],
      val postings: Array[Array[Long]], // ascending doc_id per term
      val maskDocs: Array[Long],        // ascending doc_id
      val masks: Array[Long]) extends Serializable {
    @transient lazy val termIdx: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](terms.length * 2)
      var i = 0
      while (i < terms.length) { m.put(terms(i), i); i += 1 }
      m
    }
    def maskOf(doc: Long): Long = {
      val i = java.util.Arrays.binarySearch(maskDocs, doc)
      if (i >= 0) masks(i) else 0L
    }
  }

  /** [[screenCandidates]] over a precomputed [[subCeilingQueryDf]].
    *
    * The naive stage-1 scatter is arrivals x sum-of-rare-posting-lists.
    * The 100x docs ladder killed it twice over: on the staged corpus an
    * arrival's 4 lowest-df terms usually include 1-2 SUB-CEILING-BUT-
    * COMMON terms (df ~60% of corpus), so the scatter was ~9 B rows and —
    * worse — the (query, doc) match-count hash aggregate held ~15 B
    * groups per micro-batch (OOM at 16 g, 65+ min at 48 g, spill-bound in
    * the thread profile). This is the distributed analogue of the
    * broadcast merge's early exit ([[screenOneLocal]]), split by TERM
    * CLASS instead of walked by doc_id:
    *
    *   - SELECTIVE rare terms (df <= [[SelDfFrac]] n) scatter as before —
    *     that stream is bounded by the data's own selectivity. When the
    *     batch's whole selective posting slice fits the broadcast budget
    *     (a [[SelSlice]] of flat sorted arrays), the scatter+aggregate is
    *     replaced outright by the per-arrival merge kernel of
    *     [[screenOneLocal]] run under `flatMapGroups` — same walk, flat
    *     arrays instead of a shuffle aggregate (the 100x probe measured
    *     the distributed aggregate at 264 s for work the kernel does in
    *     seconds); beyond the budget the distributed aggregate remains.
    *   - COMMON rare terms never scatter. The batch's distinct commons
    *     (<= 63, else exact fallback) get bit indexes; one pass over
    *     their postings builds a per-doc bitmask, and each candidate
    *     recovers its common matches as
    *     `nmatch = nsel + bit_count(dmask & qmask)` — a codegen integer
    *     op behind a (size-gated broadcast) doc-keyed join, never a
    *     per-arrival walk of a corpus-scale posting list.
    *   - An arrival with >= 1 selective term is PROVEN exact when its
    *     top-[[CandCap]] is full with min nmatch >= ncom + 1: every doc
    *     outside its candidate stream shares no selective term, so its
    *     nmatch <= ncom loses strictly to every kept row. With ncom == 0
    *     the stream IS the arrival's whole match universe and is exact
    *     even when not full.
    *   - An arrival whose rare terms are ALL common takes the doc-id
    *     PREFIX wave: probe postings with doc_id <= cutoff, the prefix
    *     sized (per-arrival density estimate p = prod(df_i/n), one
    *     percentile_approx over the cached postings) to hold
    *     [[WaveCandFactor]] x CandCap all-k docs; exact iff the in-prefix
    *     top-CandCap is full with every row at nmatch == k — the merge's
    *     early-exit argument verbatim (counts cap at k; ties break on the
    *     ascending doc_id the prefix already bounds). Arrivals whose
    *     estimated prefix exceeds [[WaveMaxFrac]] of the corpus skip
    *     straight to the fallback.
    *   - Anything unproven re-runs the original full scatter, so the
    *     estimates only ever cost performance, never exactness
    *     (RetrievalSpec A/Bs pruned-vs-flat row-for-row across all three
    *     routes; `wavePrune = false` forces the flat plan).
    *
    * On a pure-Zipf batch (no common rare terms) the one extra driver
    * aggregate short-circuits to the plain scatter — the cheap exact plan
    * there, the MaxScore-router argument. */
  private[graft] def screenCandidatesQd(ix: Bm25Index, qd: DataFrame,
      wavePrune: Boolean = true): DataFrame = {
    import qd.sparkSession.implicits._
    val wr = Window.partitionBy("query_id").orderBy(col("df"), col("term"))
    val rare = qd.withColumn("rrk", row_number().over(wr))
      .filter(col("rrk") <= RareTerms).select("query_id", "term", "df")
    // Rare-SET-deduplicated exact scatter: nmatch(query, doc) depends only
    // on the query's rare-term SET (and ties break on doc_id), so queries
    // sharing an identical set share one candidate ranking — the
    // corpus-side scatter and its (key, doc) aggregate run once per
    // DISTINCT set, and each query joins its set's list back afterwards.
    // On screening batches the dedup is large (the sf0.1 evolving screens
    // measure 103-174 distinct sets over 500-1000 arrivals — a 5-6x cut
    // of the scatter rows and aggregate groups, the stage-1 cost owner);
    // at worst every set is unique and the plan degenerates to the old
    // shape plus a batch-arity join. Per-set top-(CandCap + 1) is enough:
    // the only row the per-query re-key removes is the query's OWN doc
    // (the self-pair the old scatter filtered before aggregating), so the
    // surviving prefix always still holds the query's true top-CandCap.
    // Terms cannot contain ' ' (the tokenizer splits on it), so the
    // sorted space-join is a bijective set key — no hash-collision risk.
    def scatterKeyed(q2k: DataFrame, keyTerms: DataFrame): DataFrame = {
      val hits = ix.tf.select("doc_id", "term")
        .join(broadcast(keyTerms), "term")
        .groupBy("rkey", "doc_id").agg(count(lit(1)).as("nmatch"))
      val perKey = graft.plans.TopKPerKey.topKPerKey(hits, CandCap + 1,
        Seq("rkey"), Seq("nmatch" -> false, "doc_id" -> true))
      val perQuery = perKey.join(broadcast(q2k), "rkey")
        .filter(col("doc_id") =!= col("query_id"))
        .select("query_id", "doc_id", "nmatch")
      graft.plans.TopKPerKey.topKPerKey(perQuery, CandCap, Seq("query_id"),
        Seq("nmatch" -> false, "doc_id" -> true))
    }
    def scatter(rareSel: DataFrame): DataFrame = {
      val q2k = rareSel.groupBy("query_id")
        .agg(concat_ws(" ", sort_array(collect_list(col("term")))).as("rkey"))
      val keyTerms = q2k
        .select(col("rkey"), explode(split(col("rkey"), " ")).as("term"))
        .distinct()
      scatterKeyed(q2k, keyTerms)
    }
    val sess = qd.sparkSession
    // Routing breadcrumb (observability for RetrievalSpec's engagement
    // assert — the MaxScore plan does the same through its returned stats).
    def note(v: String): Unit = sess.conf.set("graft.retrieval.waveStats", v)
    def flat(reason: String): DataFrame = {
      note(reason)
      scatter(rare).select("query_id", "doc_id")
    }
    if (!wavePrune) return flat("forced-off")
    val comCeil = SelDfFrac * ix.n
    // ONE collect for the whole routing prelude: the per-query rare rows
    // are batch-arity (<= RareTerms per arrival — the same driver-data
    // class as the bucket-set collect and far under the broadcast twin's
    // whole-batch collect), and everything the router needs derives from
    // them on the driver with no further jobs: the distinct (term, df)
    // classes, the per-arrival selective masses that used to cost a
    // separate refinement aggregate job, and the rare-set keys that let
    // the flat routes hand scatterKeyed PRE-BUILT local q2k/keyTerms
    // relations (their broadcasts then build from driver rows instead of
    // running two more aggregate jobs over qd per screen).
    // SIZE-GATED (ADVICE r16): |batch| x RareTerms tuples is fine at the
    // shipped screens' batch arity but a real driver footprint at
    // 100k-arrival batches — so the collect happens through head(cap+1)
    // (same single driver action in the common case), and a batch that
    // overflows the cap keeps only the r15-shaped DISTINCT (term, df)
    // collect, with q2k/keyTerms built Spark-side by the flat routes and
    // the refinement mass aggregated Spark-side (the pre-r16 jobs return
    // exactly where the driver shortcut stops being safe).
    val rareRows: Option[Array[(Long, String, Long)]] = {
      val h = rare.head(RouteCollectMaxRows + 1)
      if (h.length <= RouteCollectMaxRows)
        Some(h.map(r => (r.getLong(0), r.getString(1), r.getLong(2))))
      else None
    }
    val termDf: Array[(String, Long)] = (rareRows match {
      case Some(a) => a.map(t => (t._2, t._3)).distinct
      case None => rare.select("term", "df").distinct().collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }).sortBy(_._1)
    def flatLocal(reason: String): DataFrame = rareRows match {
      case None => flat(reason) // over-cap batch: Spark-side q2k
      case Some(rareArr) =>
        note(reason)
        // Driver-side rkeys sort by UTF-8 BYTE order (utf8Lt), matching
        // scatter's sort_array exactly, so the two routes' key formats
        // stay interchangeable even for supplementary-plane terms
        // (ADVICE r16 — Scala's String ordering is UTF-16 code-unit).
        val pairs = rareArr.groupBy(_._1).toSeq.map { case (q, rows) =>
          (q, rows.map(_._2).sortWith(utf8Lt).mkString(" "))
        }
        val q2k = pairs.toDF("query_id", "rkey")
        val keyTerms = pairs.map(_._2).distinct
          .flatMap(k => k.split(" ").map(t => (k, t))).toDF("rkey", "term")
        scatterKeyed(q2k, keyTerms).select("query_id", "doc_id")
    }
    val commons: Array[(String, Long)] = termDf.filter(_._2 > comCeil)
    if (commons.isEmpty) return flatLocal("commons=0")
    if (commons.length > 63)
      return flatLocal(s"commons=${commons.length},overflow")
    // Degenerate-selectivity route gate: an arrival with >= 1 common term
    // is provable only by filling CandCap candidates from its selective
    // posting lists, and every arrival's candidate count is bounded by
    // the batch's WHOLE selective posting mass — so when that mass cannot
    // fill even one cap, the kernel/bitmask/wave machinery is guaranteed
    // dead weight (ncom = 0 arrivals it would prove cheaply are re-proven
    // by the scatter at selRows-bounded cost) and the batch routes
    // straight to the exact flat scatter. This is the bench-scale (1x)
    // profile of the synthetic corpus — a flat near-ceiling vocabulary
    // where proof coverage measured 0-5% while the machinery cost
    // ~2-3 s/screen; at 30x/100x the copy-local token forms are selective,
    // selRows is large, and this gate never trips.
    val selMass = termDf.collect { case (_, df) if df <= comCeil => df }.sum
    if (selMass < CandCap) return flatLocal(s"selRows=$selMass,underCap")
    // Per-arrival refinement of the same bound (round 14): the batch-total
    // mass is a loose proxy — an arrival with >= 1 common term is provable
    // only by filling CandCap candidates from ITS OWN selective posting
    // lists, so per-arrival selective mass >= CandCap is NECESSARY for a
    // proof, and the count of arrivals clearing it is an UPPER BOUND on
    // kernel proof coverage. The cost asymmetry that makes a low bound
    // decisive: unproven arrivals fall through to the exact scatter
    // ANYWAY, so at low coverage the kernel's machinery (docMask, qstats,
    // the slice kernel, the bitmask merge — measured ~7 s/screen at the
    // bench-scale degenerate profile, census proven=0-5%) is near-pure
    // added cost regardless of how expensive the scatter is. Route flat
    // when at most a quarter of the batch could possibly be proven. The
    // refinement costs one batch-scale aggregate job, so it is only
    // priced when the batch total is within RouteRefineFactor of the cap
    // — genuinely selective regimes (30x/100x, where coverage is high and
    // the kernel carries the batch) skip it entirely. Routing flat is
    // always EXACT (the scatter is the reference plan; the kernel exists
    // only to bound cost) — RetrievalSpec proves route equality and gate
    // engagement.
    if (selMass < CandCap.toLong * RouteRefineFactor) {
      // Driver-derived from the rare rows already collected — the
      // refinement used to cost one batch-scale aggregate job per screen.
      // Over-cap batches (rareRows = None) pay that one aggregate again:
      // per-arrival masses roll up Spark-side to a single driver row.
      val (nq, npossible) = rareRows match {
        case Some(rareArr) =>
          val masses = rareArr.groupBy(_._1).view.mapValues(
            _.collect { case (_, _, df) if df <= comCeil => df }.sum)
          (masses.size.toLong, masses.count(_._2 >= CandCap).toLong)
        case None =>
          val r = rare.groupBy("query_id")
            .agg(sum(when(col("df") <= comCeil, col("df"))
              .otherwise(lit(0L))).as("m"))
            .agg(count(lit(1)).as("nq"),
              sum(when(col("m") >= CandCap, 1L).otherwise(0L)).as("np"))
            .head()
          (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      }
      if (npossible * 4 < nq)
        return flatLocal(s"selRows=$selMass,provableUB=$npossible/$nq,lowCoverage")
    }
    val comDF = broadcast(
      commons.zipWithIndex.map { case ((t, _), i) => (t, i) }.toSeq
        .toDF("term", "bit"))
    val bitCol = expr("shiftleft(CAST(1 AS BIGINT), bit)")
    val maskRows = math.min(ix.n, commons.map(_._2).sum)
    val docMask0 = ix.tf.select("doc_id", "term").join(comDF, "term")
      .groupBy("doc_id").agg(sum(bitCol).as("dmask"))
    val docMask = if (maskRows <= DocMaskBroadcastMaxRows) broadcast(docMask0)
      else docMask0
    val rareB = rare.join(comDF, Seq("term"), "left")
    val qstats = rareB.groupBy("query_id").agg(
      count(lit(1)).as("k"),
      sum(when(col("bit").isNotNull, 1L).otherwise(0L)).as("ncom"),
      coalesce(sum(when(col("bit").isNotNull, bitCol)), lit(0L)).as("qmask"),
      sum(log(col("df").cast("double"))).as("sld"))
      .withColumn("nsel", col("k") - col("ncom"))
    // ---- class A: >= 1 selective term — scatter (or locally merge)
    // selectives only, fold commons back through the bitmask.
    // Route choice: when the batch's whole selective posting slice fits
    // the broadcast budget, the per-arrival merge kernel (the broadcast
    // screen's own algorithm, [[screenOneLocal]]) replaces the
    // distributed (query, doc) count aggregate — the 100x probe measured
    // that aggregate at 264 s (~600 M groups, spill-bound) vs seconds for
    // the same walk in flat arrays. Selective lists are <= SelDfFrac n
    // rows EACH by definition, so the per-arrival walk is bounded; the
    // slice-size gate bounds the whole broadcast.
    val selTerms: Array[(String, Long)] = termDf.filter(_._2 <= comCeil)
    val selRows = selTerms.map(_._2).sum
    val useSlice = selTerms.nonEmpty &&
      selRows * 16L + maskRows * 16L <= BroadcastScreenMaxBytes
    val sliceTag = if (useSlice) s",sliceRows=$selRows" else ",slice=off"
    val (outA, satA) = if (useSlice) {
      val termsArr = selTerms.map(_._1)
      val byTerm = ix.tf
        .join(broadcast(termsArr.toSeq.toDF("term")), "term")
        .select("term", "doc_id").collect()
        .groupBy(_.getString(0))
      val postArr = termsArr.map(t => byTerm.get(t)
        .map(_.map(_.getLong(1)).sorted).getOrElse(Array.empty[Long]))
      val maskPairs = docMask0.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val slice = new SelSlice(termsArr, postArr,
        maskPairs.map(_._1), maskPairs.map(_._2))
      val bSlice = graft.TrackedCaches.trackBroadcast(
        sess.sparkContext.broadcast(slice))
      val selQ = rareB.filter(col("bit").isNull).select("query_id").distinct()
      val kin = rareB.join(broadcast(selQ), "query_id")
        .select(col("query_id"), col("term"),
          coalesce(col("bit"), lit(-1)).as("bit"))
        .as[(Long, String, Int)]
      val kout = graft.TrackedCaches.track(
        kin.groupByKey(_._1).flatMapGroups { (q, it) =>
          val s = bSlice.value
          val rows = it.toArray
          var qmask = 0L
          var ncom = 0
          val listsB = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          rows.foreach { r =>
            if (r._3 >= 0) { qmask |= (1L << r._3); ncom += 1 }
            else {
              val ti = s.termIdx.get(r._2)
              require(ti != null, s"selective term ${r._2} missing from slice")
              listsB += s.postings(ti.intValue())
            }
          }
          val k = rows.length
          val lists = listsB.toArray
          val kk = lists.length
          val pos = new Array[Int](kk)
          // Exact-nmatch buckets, each filling in ascending doc order —
          // the screenOneLocal merge with the common-term count coming
          // from the bitmask instead of walked posting lists. Early exit
          // the moment CandCap all-k docs are out: nothing later can
          // outrank them, and k = ncom + nsel >= ncom + 1 makes the
          // strictness bound hold automatically.
          val buckets = Array.fill(k + 1)(
            scala.collection.mutable.ArrayBuffer.empty[Long])
          var filled = false
          var exhausted = false
          while (!filled && !exhausted) {
            var m = Long.MaxValue
            var i = 0
            while (i < kk) {
              if (pos(i) < lists(i).length && lists(i)(pos(i)) < m)
                m = lists(i)(pos(i))
              i += 1
            }
            if (m == Long.MaxValue) exhausted = true
            else {
              var c = 0
              i = 0
              while (i < kk) {
                if (pos(i) < lists(i).length && lists(i)(pos(i)) == m) {
                  c += 1; pos(i) += 1
                }
                i += 1
              }
              if (m != q) {
                val nm = c + java.lang.Long.bitCount(s.maskOf(m) & qmask)
                buckets(nm) += m
                if (nm == k && buckets(k).length >= CandCap) filled = true
              }
            }
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Boolean)]
          var minKept = Int.MaxValue
          var ci = k
          while (ci >= 1 && out.length < CandCap) {
            val b = buckets(ci)
            var i = 0
            while (i < b.length && out.length < CandCap) {
              out += ((q, b(i), ci.toLong, true)); minKept = ci; i += 1
            }
            ci -= 1
          }
          val ok = filled || ncom == 0 ||
            (out.length == CandCap && minKept >= ncom + 1)
          if (!ok) Iterator((q, -1L, -1L, false))
          else if (out.isEmpty) Iterator((q, -1L, -1L, true))
          else out.iterator
        }.toDF("query_id", "doc_id", "nmatch", "ok").cache())
      (kout.filter(col("ok") && col("doc_id") >= 0L)
        .select("query_id", "doc_id", "nmatch"),
        kout.filter(col("ok")).select("query_id").distinct())
    } else {
      val hitsA = ix.tf.select("doc_id", "term")
        .join(broadcast(rareB.filter(col("bit").isNull)
          .select("query_id", "term")), "term")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nsel_m"))
      val candA = hitsA.join(docMask, Seq("doc_id"), "left")
        .join(broadcast(qstats.select("query_id", "qmask", "ncom")), "query_id")
        .withColumn("nmatch", col("nsel_m") + expr(
          "CAST(bit_count(coalesce(dmask, CAST(0 AS BIGINT)) & qmask) AS BIGINT)"))
        .select("query_id", "doc_id", "nmatch")
      val topA = graft.TrackedCaches.track(
        graft.plans.TopKPerKey.topKPerKey(candA, CandCap, Seq("query_id"),
          Seq("nmatch" -> false, "doc_id" -> true)).cache())
      val satDf = qstats.filter(col("nsel") >= 1L)
        .join(topA.groupBy("query_id")
          .agg(count(lit(1)).as("nc"), min("nmatch").as("mn")),
          Seq("query_id"), "left")
        .filter(col("ncom") === 0L ||
          (col("nc") === lit(CandCap.toLong) && col("mn") >= col("ncom") + 1L))
        .select("query_id")
      (topA.join(broadcast(satDf), "query_id"), satDf)
    }
    // ---- class B: all rare terms common — the doc-id prefix wave.
    // log R_q = log(WaveCandFactor * CandCap) - sum(log(df_i/n)); prunable
    // iff R_q <= WaveMaxFrac * n. exp() only after the prunable filter, so
    // a tiny p cannot overflow.
    val qB = qstats.filter(col("nsel") === 0L)
      .withColumn("logr", lit(math.log(WaveCandFactor * CandCap)) -
        (col("sld") - col("k") * log(lit(ix.n.toDouble))))
      .withColumn("prunable", col("logr") <= lit(math.log(WaveMaxFrac * ix.n)))
    val rstat = qB.filter(col("prunable"))
      .agg(max(exp(col("logr"))).as("rmax"), count(lit(1)).as("np")).head()
    val waveB: Option[(DataFrame, DataFrame)] =
      if (rstat.getLong(1) == 0L) None
      else {
        // Posting-weighted percentile — biased toward long docs, which
        // only shifts the prefix a little; WaveCandFactor and the
        // fallback absorb it.
        val frac = math.min(1.0, rstat.getDouble(0) / ix.n)
        val cutoff = ix.tf.agg(
          expr(s"percentile_approx(doc_id, $frac, 1000)")).head().getLong(0)
        note(s"commons=${commons.length},prunableB=${rstat.getLong(1)},cutoff=$cutoff$sliceTag")
        val rareP = rare.join(broadcast(qB.filter(col("prunable"))
          .select("query_id")), "query_id")
        val hitsP = ix.tf.select("doc_id", "term")
          .filter(col("doc_id") <= lit(cutoff))
          .join(broadcast(rareP.select("query_id", "term")), "term")
          .filter(col("doc_id") =!= col("query_id"))
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nmatch"))
        val topB = graft.TrackedCaches.track(
          graft.plans.TopKPerKey.topKPerKey(hitsP, CandCap, Seq("query_id"),
            Seq("nmatch" -> false, "doc_id" -> true)).cache())
        val satB = topB.groupBy("query_id")
          .agg(count(lit(1)).as("nc"), min("nmatch").as("mn"))
          .join(broadcast(qB.select("query_id", "k")), "query_id")
          .filter(col("nc") === lit(CandCap.toLong) && col("mn") === col("k"))
          .select("query_id")
        Some((topB, satB))
      }
    if (waveB.isEmpty)
      note(s"commons=${commons.length},prunableB=0$sliceTag")
    val sat = waveB.map { case (_, satB) => satA.unionByName(satB) }
      .getOrElse(satA)
    val out = waveB match {
      case Some((topB, satB)) => outA.unionByName(topB.join(broadcast(satB), "query_id"))
      case None => outA
    }
    val rareF = rare.join(broadcast(sat), Seq("query_id"), "left_anti")
    out.unionByName(scatter(rareF)).select("query_id", "doc_id")
  }

  /** Stage 2: full BM25 of explicit (query, doc) pairs — identical VALUES
    * to [[scoreAgainst]] for every pair, computed without touching posting
    * lists: the (batch x CandCap)-bounded candidate list joins the query
    * term->df maps and BROADCASTS into the cached forward index, and each
    * doc's term array folds to its score in place. Per-term contributions
    * round to 6 dp and accumulate as DECIMAL inside the fold, so the sum
    * is order-independent and the DuckDB oracle (a plain unnest join)
    * reproduces it exactly. n/avgLen are embedded as literals —
    * Double.toString round-trips exactly, so both engines see the same
    * constants. */
  private[graft] def scoreCandidates(ix: Bm25Index, fwd: DataFrame,
      queryTerms: DataFrame, cand: DataFrame): DataFrame =
    scoreCandidatesQd(ix, fwd, subCeilingQueryDf(ix, queryTerms), cand)

  /** [[scoreCandidates]] over a precomputed [[subCeilingQueryDf]]. The
    * fold accumulates exact 6-dp MICRO-UNITS in a BIGINT rather than a
    * DECIMAL(38,6), and each per-term contribution is
    * floor(ts * 1e6 + 0.5) — the [[impMicros]] formulation token for
    * token, so a fold-scored pair equals the impact-index sum exactly.
    * Long adds instead of the BigDecimal allocations that owned the
    * round-9 stack profile of the streaming gate's batch loop — and since
    * round 11, no string-based round() inside the fold either: the
    * per-element dtoa (Double.toString inside BigDecimal.valueOf) cost
    * ~|pairs| x |terms| conversions per decontam micro-batch, the
    * dominant per-arrival CPU term of the distributed kernel. */
  private[graft] def scoreCandidatesQd(ix: Bm25Index, fwd: DataFrame,
      qd: DataFrame, cand: DataFrame): DataFrame = {
    val qarrs = qd.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("term"), col("df")))).as("qarr"))
    // TWO batch-bounded broadcasts, not one of their product: embedding
    // each candidate's query map before broadcasting multiplied the
    // payload ~25x (CandCap rows per query x a ~24-entry map each) and
    // hit Spark's 8 GB broadcast hard cap at a 100k-arrival batch. Bare
    // (query, doc) candidates + the |batch|-arity query-term table
    // broadcast separately; the forward index is still probed in place —
    // no corpus-side shuffle (PlanShapeSpec pins both broadcasts and the
    // absence of a sort-merge join).
    //
    // The fold itself is the fused codegen merge
    // [[graft.functions.Bm25FoldMicros]] since round 16: the previous
    // `aggregate(filter(terms, e -> qmap[e.term] IS NOT NULL), ...)`
    // higher-order composition is interpreted per ELEMENT (the round-16
    // sampling profile of the decontam family put its UnsafeArrayData.get
    // + linear map-probe frames at the top), where the merge walks the
    // two term-sorted arrays once per pair. Per-match arithmetic is
    // [[impMicrosLocal]] — the spec-verified bit-identical mirror of the
    // old in-plan expression — and a BIGINT sum is order-independent, so
    // scores are unchanged (RetrievalSpec's fold-vs-impact equality and
    // every decontam oracle hash gate it).
    fwd.join(broadcast(cand), "doc_id")
      .join(broadcast(qarrs), "query_id")
      .withColumn("smicro", graft.functions.VectorFunctions.bm25FoldMicros(
        col("terms"), col("qarr"), col("len"), ix.n, ix.avgLen))
      .select(col("query_id"), col("doc_id"),
        round(col("smicro").cast(DoubleType) / lit(1000000.0), 6).as("score"))
  }

  /** Forward index for stage-2 scoring: one row per doc — length + the
    * term-sorted (term, tf) array, restricted to SUB-CEILING terms: the
    * query side of every scoring path is df-capped, so a super-ceiling
    * (stopword-class) term can never match a qmap entry and folding over
    * it is pure waste — on a Zipfian corpus stopwords are a large share of
    * distinct-term mass, so the cut shrinks both the per-pair fold and the
    * cached index (RetrievalSpec's pair-for-pair equality gate proves no
    * score moves). `len` keeps the FULL document length (folded into tf
    * before this filter) — BM25 length normalization sees every token even
    * though ceiling terms never score. `cache` pins + materializes it (the
    * streaming gate's once-per-run build). */
  private[graft] def forwardIndex(ix: Bm25Index, cache: Boolean = false): DataFrame = {
    val fwd = ix.tf
      .filter(col("df") * 100 <= lit(ix.n) * MaxDfPct)
      .groupBy("doc_id", "len")
      .agg(sort_array(collect_list(struct(col("term"), col("tf")))).as("terms"))
    if (cache) {
      val pinned = graft.TrackedCaches.track(fwd.cache())
      pinned.count()
      pinned
    } else fwd
  }

  // ---- Broadcast screening (the small-index regime) ------------------------
  //
  // The distributed two-stage screen above is the 100 TB shape: corpus
  // postings and forward index stay partitioned, arrival sides broadcast
  // into them. But when the WHOLE index fits comfortably in one executor's
  // memory, that shape pays for its generality: per micro-batch it runs a
  // window, two broadcast joins, a 2M-group hash aggregate, and two
  // bounded-heap operators across 6-8 stage barriers — measured 15-45
  // process-cpu-seconds per 500-arrival batch at sf0.1, dominated by the
  // per-pair interpreted DECIMAL fold and per-stage fixed costs, on an
  // index that is ~3 MB. So, exactly like Spark's own size-based
  // broadcast-join selection, the screen picks its physical strategy by
  // INDEX SIZE: corpora whose text payload is under
  // [[BroadcastScreenMaxBytes]] are screened by a single mapPartitions
  // pass over the arrivals probing a broadcast (df, postings, forward)
  // snapshot — zero shuffles, zero per-batch re-planning of a deep plan —
  // and anything larger keeps the distributed kernel. Verdicts are
  // BIT-IDENTICAL by construction (RetrievalSpec proves it pair-for-pair):
  // the local scorer mirrors the Catalyst fold's arithmetic token for
  // token, including Spark round()'s BigDecimal.valueOf HALF_UP semantics
  // and the exact 6-dp micro-unit accumulation.

  /** Ceiling (bytes of corpus text) under which the screen broadcasts its
    * index instead of probing it distributed. Postings + forward-index
    * mass are both bounded by the tokenized text size, so 64 MB of text
    * caps the broadcast at well under typical executor headroom — the same
    * order as production autoBroadcastJoinThreshold settings. At 100 TB the
    * standing corpus blows past this immediately and the distributed
    * kernel runs; the tiny-but-hot regime (screening against an eval set /
    * benchmark suite, which IS megabytes) gets the zero-shuffle path. */
  val BroadcastScreenMaxBytes: Long = 64L << 20

  /** Immutable driver-built snapshot of the screening index — the IMPACT
    * postings idea applied to the broadcast regime: each (doc, term)
    * entry's exact 6-dp BM25 contribution is computed ONCE at snapshot
    * build by the SAME Catalyst expression the batch index uses, so the
    * local fold is an array-stamp probe + long add per candidate term
    * with zero per-score transcendentals or BigDecimal rounds, and
    * bit-identity with the distributed kernel holds by construction
    * rather than by a hand-mirrored arithmetic replica.
    *
    * Layout is FLAT parallel arrays with vocab-coded term indexes, not
    * nested Maps of tuples: the broadcast must java-serialize the whole
    * object graph per run, and the Map[Long, Array[(String, Long)]]
    * formulation measured ~20 s of (de)serialization at the 30x ladder's
    * 36 MB corpus — 30x the 0.7 s the screen itself costs over every
    * arrival. Primitive arrays serialize in block writes; the two lookup
    * hash maps are @transient and rebuilt lazily per deserialization
    * (one linear pass). Bounded by [[BroadcastScreenMaxBytes]] of source
    * text by construction of its only builder. */
  private[graft] class ScreenSnapshot(
      val n: Long, val avgLen: Double,
      val terms: Array[String],          // sub-ceiling vocabulary, sorted
      val termDf: Array[Long],           // parallel: df
      val postings: Array[Array[Long]],  // parallel: sorted doc ids
      val docIds: Array[Long],           // docs holding >= 1 sub-ceiling term
      val docTermIdx: Array[Array[Int]], // per doc: term indexes
      val docImp: Array[Array[Long]])    // per doc: impact micro-units
      extends Serializable {
    @transient lazy val termIndex: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](terms.length * 2)
      var i = 0
      while (i < terms.length) { m.put(terms(i), i); i += 1 }
      m
    }
    @transient lazy val docIndex: java.util.HashMap[java.lang.Long, Integer] = {
      val m = new java.util.HashMap[java.lang.Long, Integer](docIds.length * 2)
      var i = 0
      while (i < docIds.length) { m.put(docIds(i), i); i += 1 }
      m
    }
  }

  /** Build the [[ScreenSnapshot]] — the impact index ([[buildIndex]],
    * CACHED for the duration of the build: the term-side and doc-side
    * collects below would otherwise each re-run the whole
    * tokenize + aggregate + join pipeline, and at the 30x ladder that
    * repeated corpus pass was the snapshot build's dominant term — the
    * cache is released before returning, so steady-state memory is the
    * flat arrays only) collapsed to flat driver arrays by two aggregate
    * jobs (term-side: df + sorted posting list; doc-side: sub-ceiling
    * (term, imp) pairs, vocab-coded on the driver). */
  private[graft] def buildScreenSnapshot(corpus: DataFrame): ScreenSnapshot = {
    val ix = buildIndex(corpus, cache = true)
    val subTf = ix.tf.filter(col("df") * 100 <= lit(ix.n) * MaxDfPct)
    val termRows = ix.dft
      .filter(col("df") * 100 <= lit(ix.n) * MaxDfPct)
      .join(subTf.groupBy("term").agg(
        sort_array(collect_list(col("doc_id"))).as("docs")), "term")
      .collect()
      .sortBy(_.getAs[String]("term"))
    val terms = termRows.map(_.getAs[String]("term"))
    val termDf = termRows.map(_.getAs[Long]("df"))
    val postingArr = termRows.map(r => r.getSeq[Long](r.fieldIndex("docs")).toArray)
    val tIdx = terms.iterator.zipWithIndex.toMap
    val docRows = subTf
      .groupBy("doc_id")
      .agg(collect_list(struct(col("term"), col("imp"))).as("terms"))
      .collect()
    val docIds = docRows.map(_.getAs[Long]("doc_id"))
    val docTermIdx = new Array[Array[Int]](docRows.length)
    val docImp = new Array[Array[Long]](docRows.length)
    var i = 0
    while (i < docRows.length) {
      val rows = docRows(i).getSeq[org.apache.spark.sql.Row](
        docRows(i).fieldIndex("terms"))
      docTermIdx(i) = rows.iterator.map(t => tIdx(t.getAs[String]("term"))).toArray
      docImp(i) = rows.iterator.map(_.getAs[Long]("imp")).toArray
      i += 1
    }
    // The build cache (tf + dft) served its two collects; the snapshot is
    // self-contained from here. Unpersist the specific frames (they stay
    // harmlessly in the TrackedCaches queue for the caller's release).
    ix.tf.unpersist(blocking = false)
    ix.dft.unpersist(blocking = false)
    new ScreenSnapshot(ix.n, ix.avgLen, terms, termDf, postingArr,
      docIds, docTermIdx, docImp)
  }

  /** Local mirror of [[impMicros]] — IDENTICAL functions and op order to
    * the Catalyst expression (Spark's UnaryLogExpression codegen emits
    * `java.lang.StrictMath.log`, verified against the 4.1.2 jars; every
    * add, multiply and divide below associates exactly as the Column
    * expression does, with the same Long→Double promotion points), so a
    * driver-maintained index
    * stamps bit-identical impacts. RetrievalSpec pins append-vs-rebuild
    * snapshot equality on the live corpus every round. */
  private[graft] def impMicrosLocal(n: Long, avgLen: Double,
      tf: Long, df: Long, len: Long): Long =
    impMicrosOfIdf(idfLocal(n, df), avgLen, tf, len)

  /** The idf factor of [[impMicrosLocal]], for callers that hoist it out
    * of a per-posting loop. */
  private def idfLocal(n: Long, df: Long): Double =
    StrictMath.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))

  /** [[impMicrosLocal]] given its idf factor: the same operations in the
    * same order, so a hoisted idf stamps bit-identical impacts. */
  private def impMicrosOfIdf(idf: Double, avgLen: Double, tf: Long,
      len: Long): Long =
    math.floor(idf * (tf.toDouble * (K1 + 1.0)) /
        (tf.toDouble + K1 * ((1.0 - B) + B * (len.toDouble / avgLen)))
      * 1000000.0 + 0.5).toLong

  /** Driver-side incrementally-maintained screening index — the
    * production shape of the decontam gate's standing corpus in the
    * broadcast regime. Holds the RAW corpus statistics (full-vocabulary
    * df + posting lists, per-doc term/tf/len — NOT the ceiling-filtered
    * projection: appending documents moves n, avgLen and every df, which
    * re-prices every impact and can move terms across the df ceiling in
    * either direction, so the raw tables are the only representation an
    * append can maintain exactly). [[append]] costs |batch| local
    * tokenization; [[snapshot]] projects the current stats to a
    * [[ScreenSnapshot]] in one index-linear in-memory pass (ceiling
    * filter + [[impMicrosLocal]] stamping) — vs the corpus-linear Spark
    * passes a from-scratch [[buildScreenSnapshot]] pays per micro-batch.
    * Bounded by the broadcast screen's own size gate; the distributed
    * regime's analogue is bucketed posting appends, out of scope here. */
  private[graft] final class IncrementalScreenIndex private[Retrieval] () {
    private var n = 0L
    private var totalLen = 0L
    private val dfOf = scala.collection.mutable.HashMap.empty[String, Long]
    private val postingsOf = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    private val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val docLen = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val docTerms = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    private val docTfs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]

    /** Ingest one doc's (term -> tf) stats. Tokenization must mirror
      * [[postings]]: split on single spaces, KEEPING empty tokens
      * (Spark's split has limit -1 semantics). */
    private[Retrieval] def add(id: Long, len: Long,
        terms: Array[String], tfs: Array[Long]): Unit = {
      var i = 0
      while (i < terms.length) {
        dfOf.update(terms(i), dfOf.getOrElse(terms(i), 0L) + 1L)
        postingsOf.getOrElseUpdate(terms(i),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
        i += 1
      }
      docIds += id; docLen += len
      docTerms += terms; docTfs += tfs
      n += 1; totalLen += len
    }

    /** Append an arrival batch: local tokenize + stats update, no Spark
      * jobs, no corpus re-scan. */
    def append(batch: Seq[(Long, String)]): Unit = batch.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val counts = new java.util.LinkedHashMap[String, Long]()
      toks.foreach(t => counts.merge(t, 1L, (a, b) => a + b))
      val terms = new Array[String](counts.size)
      val tfs = new Array[Long](counts.size)
      var i = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        terms(i) = e.getKey; tfs(i) = e.getValue; i += 1
      }
      add(id, toks.length.toLong, terms, tfs)
    }

    /** Project the current stats to an immutable [[ScreenSnapshot]] —
      * content-identical to `buildScreenSnapshot(corpus-so-far)`
      * (RetrievalSpec compares field-for-field up to the row orders the
      * distributed build leaves arbitrary). The idf factor is hoisted out
      * of the per-posting loop (vocab-arity StrictMath.log calls instead
      * of one per posting): [[idfLocal]] and [[impMicrosOfIdf]] are the
      * two halves of [[impMicrosLocal]], so the stamped impacts are
      * bit-identical. Term lookups go through a plain
      * java HashMap (no per-term Option allocation). */
    def snapshot(): ScreenSnapshot = {
      val avgLen = totalLen.toDouble / n.toDouble
      val subTerms = dfOf.iterator
        .filter { case (_, df) => df * 100 <= n * MaxDfPct }
        .map(_._1).toArray.sorted
      val termDf = subTerms.map(dfOf)
      val postArr = subTerms.map(t => postingsOf(t).toArray.sorted)
      val tIdx = new java.util.HashMap[String, Integer](subTerms.length * 2)
      val idfOf = new Array[Double](subTerms.length)
      var k = 0
      while (k < subTerms.length) {
        tIdx.put(subTerms(k), k)
        idfOf(k) = idfLocal(n, termDf(k))
        k += 1
      }
      val outIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val outTermIdx = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val outImp = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      var d = 0
      while (d < docIds.length) {
        val terms = docTerms(d); val tfs = docTfs(d)
        var nSub = 0
        var i = 0
        while (i < terms.length) { if (tIdx.containsKey(terms(i))) nSub += 1; i += 1 }
        if (nSub > 0) {
          val len = docLen(d)
          val ti = new Array[Int](nSub)
          val im = new Array[Long](nSub)
          var j = 0
          i = 0
          while (i < terms.length) {
            val boxed = tIdx.get(terms(i))
            if (boxed != null) {
              val idx = boxed.intValue()
              ti(j) = idx
              im(j) = impMicrosOfIdf(idfOf(idx), avgLen, tfs(i), len)
              j += 1
            }
            i += 1
          }
          outIds += docIds(d); outTermIdx += ti; outImp += im
        }
        d += 1
      }
      new ScreenSnapshot(n, avgLen, subTerms, termDf, postArr,
        outIds.toArray, outTermIdx.toArray, outImp.toArray)
    }
  }

  /** Seed an [[IncrementalScreenIndex]] from a corpus frame: ONE
    * distributed postings pass collapsed to per-doc stat rows (the same
    * arithmetic [[buildIndex]] runs — df/len derive from the collected tf
    * rows, so the seeded index and a Spark-built one cannot disagree). */
  private[graft] def incrementalIndexOf(corpus: DataFrame): IncrementalScreenIndex = {
    // Parallel primitive arrays, not an array of structs — per-term Row
    // decoding owned the seed collect's profile at the 30x ladder.
    val rows = postings(corpus)
      .groupBy("doc_id")
      .agg(sum("tf").as("len"),
        collect_list(col("term")).as("terms"),
        collect_list(col("tf")).as("tfs"))
      .collect()
    val ix = new IncrementalScreenIndex()
    rows.foreach { r =>
      val terms = r.getSeq[String](r.fieldIndex("terms")).toArray
      val tfs = r.getSeq[Long](r.fieldIndex("tfs")).toArray
      ix.add(r.getAs[Long]("doc_id"), r.getAs[Long]("len"), terms, tfs)
    }
    ix
  }

  /** DISTRIBUTED evolving screen index — the bucketed-posting-append
    * analogue of [[IncrementalScreenIndex]], for standing corpora past the
    * broadcast budget (the true-100 TB regime the broadcast-only evolving
    * gate `require`s away). Its standing state is a [[PostingsStore]] of
    * three append-only tables (plus the store's tombstones and this
    * index's own `stats/` directory), so ingesting a batch NEVER rebuilds
    * or re-scans the corpus:
    *
    *  - `postings/` (doc_id, term, tf), hash-PARTITIONED into
    *    [[EvolvingDistIndex.NumBuckets]] term buckets — a screen only ever
    *    probes the posting lists of the arrival batch's own terms, so the
    *    batch's bucket set prunes the scan at the FILE level (Spark
    *    partition pruning), reading ~|batch buckets|/NumBuckets of the
    *    standing postings instead of all of them;
    *  - `dfd/` (term, df-delta), same bucketing — term df is the SUM of a
    *    term's deltas across appends, aggregated lazily per screen over the
    *    pruned bucket slice (delta rows are |append's distinct terms|, so
    *    the dir stays far smaller than postings);
    *  - `fwd/` (doc_id, len, sorted (term, tf) array) — the stage-2 forward
    *    table, probed in place by a broadcast of the (batch x CandCap)-
    *    bounded candidate list, exactly like the static distributed gate's
    *    cached forward index. It deliberately OMITS the static build's
    *    sub-ceiling df filter: ceilings move as the corpus grows, and the
    *    filter is a fold-cost optimization, not semantics — the score fold
    *    drops non-query terms via the qmap probe, so scores are identical
    *    (the forwardIndex scaladoc's own argument, proven by RetrievalSpec
    *    pair-for-pair on the static twins).
    *
    * Corpus stats (n, Σlen) are exact driver scalars updated from each
    * append's own batch-scale aggregate — `avgLen = Σlen.toDouble / n`,
    * the same longs and the same one double division [[buildIndex]] and
    * [[IncrementalScreenIndex.snapshot]] compute, so all three regimes
    * screen with bit-identical BM25 constants. Screening reuses the
    * class-split stage-1 kernel ([[screenCandidatesQd]]) and the stage-2
    * fold ([[scoreCandidatesQd]]) unchanged over views of the directories:
    * exactness there is route-invariant and proven per arrival, so the
    * verdicts equal the evolving gate's broadcast regime row-for-row
    * (StreamingSpec replays both regimes end-to-end and asserts it). */
  private[graft] final class EvolvingDistIndex(s: SparkSession, base: String) {
    private val store = new PostingsStore(s, base, "term",
      EvolvingDistIndex.NumBuckets, EvolvingDistIndex.Tables)
    private val statsDir = java.nio.file.Paths.get(base, "stats")
    // Corpus stats are DURABLE alongside the three data dirs: each append
    // drops a tiny driver-written delta file (nd, sl) and construction
    // sums whatever deltas exist, so reopening an existing base dir
    // yields BM25 constants consistent with the on-disk index instead of
    // a silent avgLen = NaN. Appends are not atomic (four writes;
    // production would wrap them in a transactional table format), so the
    // protocol makes a torn append DETECTABLE instead: an `intent_<id>`
    // marker lands in stats/ BEFORE any data write and is removed only
    // after the matching `delta_<id>` stats file lands — a crash anywhere
    // inside leaves the marker orphaned, and both reopen and every screen
    // refuse loudly (see [[requireNoTornAppend]]) rather than serve BM25
    // constants inconsistent with partially-appended postings. Recovery
    // is delete-and-reseed (partial batch rows may sit in postings/dfd,
    // so a blind rerun of the append could double them).
    @volatile private var nDocs = 0L
    @volatile private var lenSum = 0L
    requireNoTornAppend()
    statsFiles("delta_").foreach { p =>
      val Array(nd, sl) =
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.split(" ")
      nDocs += nd.toLong; lenSum += sl.toLong
    }
    def n: Long = nDocs
    def avgLen: Double = lenSum.toDouble / nDocs

    /** The files of stats/ whose names start with `prefix`. */
    private def statsFiles(prefix: String): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(statsDir)) Nil
      else {
        val ds = java.nio.file.Files.list(statsDir)
        try ds.toList.asScala.toSeq.filter(_.getFileName.toString.startsWith(prefix))
        finally ds.close()
      }

    /** Fail-loud gate on the append protocol: any orphaned intent marker
      * means a previous append died between its first data write and its
      * stats delta — the on-disk postings/dfd/fwd may hold a partial
      * batch the stats don't count, and any screen against them would
      * score with silently-wrong BM25 constants. One tiny directory
      * listing (#appends files), so it runs on every reopen AND every
      * screen — the in-process path where this object's own failed
      * append() left the same inconsistency. */
    private def requireNoTornAppend(): Unit = {
      val torn = statsFiles("intent_").map(_.getFileName.toString)
      if (torn.nonEmpty)
        throw new IllegalStateException(
          s"evolving index at $base has ${torn.size} interrupted " +
            s"append/delete mutation(s) (${torn.take(3).mkString(", ")}): " +
            "on-disk postings may hold partial rows the corpus stats do " +
            "not count (or masks the stats still count). Refusing to serve " +
            "inconsistent BM25 constants — delete-and-reseed the index dir " +
            "(mutations are not atomic; see the stats scaladoc).")
    }

    /** Ingest a (doc_id, text) frame: batch-scale tokenize, three appends
      * — cost is |batch|, never |corpus|. Corpus stats ride the fwd write
      * as [[org.apache.spark.sql.Observation]] metrics (the fwd aggregate
      * already computes per-doc len), so stats cost no job of their own. */
    def append(docs: DataFrame): Unit = {
      // Appending onto a dir someone else's append already tore would
      // compound the damage (and a caller blindly retrying ITS OWN torn
      // append would double the partial rows) — same loud refusal the
      // screens give.
      requireNoTornAppend()
      mutate {
        // postings() analyzes the input frame EAGERLY at construction
        // (Catalyst resolves columns when the Dataset is built), so a bad
        // input — e.g. a missing text column — throws here. Construction
        // therefore sits INSIDE the mutation: the failure reaches the
        // clean-failure recovery, which retires the intent it just staked
        // (nothing was committed), instead of orphaning it and bricking
        // the index into delete-and-reseed.
        val tf = postings(docs).cache()
        try {
          // The postings write goes FIRST and alone: it materializes the
          // tf cache once, so the concurrent dfd and fwd appends read
          // cached blocks instead of racing the aggregate.
          store.append("postings" -> tf)
          val obs = org.apache.spark.sql.Observation()
          store.append(
            "dfd" -> tf.groupBy("term").agg(count(lit(1)).as("df")),
            "fwd" -> tf.groupBy("doc_id").agg(sum("tf").as("len"),
                sort_array(collect_list(struct(col("term"), col("tf"))))
                  .as("terms"))
              .observe(obs, count(lit(1)).as("nd"), sum(col("len")).as("sl")))
          val m = obs.get
          (m("nd").asInstanceOf[Long],
            m("sl") match { case l: Long => l; case _ => 0L })
        } finally { tf.unpersist(); () }
      }
    }

    /** Delete documents from the evolving index by id — EXACT, unlike
      * the frozen-impact standing BM25 index's live-docs mask: every
      * statistic here is read through sums at screen time (df via dfd
      * deltas, n/avgLen via stats deltas), so deletion is just more
      * deltas — negative ones — and a screen after a delete is
      * row-identical to a screen against an index that never held the
      * docs (RetrievalSpec; the shipped query's oracle recomputes the
      * screen over the purged population). Id-only by design: `fwd/`
      * stores every indexed doc's full (term, tf) vector, so the
      * negative df deltas and the stats delta derive from the index
      * itself — no text needed (contrast [[Dedup.shingleDelete]], whose
      * over-cap posting drops force a text re-shingle and a resurrection
      * guard; here nothing is ever dropped, so no guard is needed).
      *
      * Writes, under the SAME intent-marker protocol as [[append]] (the
      * store's tombstones are part of [[dataCensus]], so the
      * clean-failure recovery only retires the intent when truly nothing
      * landed): the ids to the store's tombstones ([[PostingsStore.delete]]),
      * −1 per (term, deleted doc holding it) to `dfd/`, from fwd, and a
      * negative (nd, sl) `stats/delta_<id>`.
      *
      * Refusals (loud, nothing written): ids with no fwd row (never
      * indexed, or already deleted-and-drained — subtracting their stats
      * would corrupt the corpus constants) and, in the store, ids already
      * tombstoned (a re-delete would double-subtract the deltas — the
      * tombs list is the replay witness). An empty delete is a hard
      * no-op. */
    def delete(ids: DataFrame): Unit = {
      requireNoTornAppend()
      val del = ids.select("doc_id").distinct().localCheckpoint()
      if (del.isEmpty) return
      // The deleted docs' term vectors, from the index's own forward
      // table. localCheckpoint: multi-consumer (membership count, stats
      // aggregate, df deltas) AND the writes below mutate dirs its
      // lineage reads.
      val fw = store.read("fwd")
        .join(broadcast(del), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      // Membership by anti-join, not by count comparison: a doc_id that
      // was ever appended twice holds two fwd rows, and a count check
      // would let a never-indexed id in the same delete batch hide
      // behind the duplicate — leaving a stale tombstone that masks a
      // later legitimate append of that id.
      if (!del.join(fw.select("doc_id"), Seq("doc_id"), "left_anti")
            .isEmpty)
        throw new IllegalStateException(
          s"evolving index at $base: some doc_ids have no forward-index " +
            "row (never appended, or already deleted-and-drained) — " +
            "deleting them would corrupt the corpus stats. Refusing.")
      val agg = fw.agg(count(lit(1)).as("nd"), sum("len").as("sl")).head()
      val (nd, sl) = (agg.getLong(0), agg.getLong(1))
      mutate {
        store.delete(del)(Seq("dfd" ->
          fw.select(explode(col("terms")).as("t"))
            .groupBy(col("t.term").as("term"))
            .agg((-count(lit(1))).as("df"))))
        (-nd, -sl)
      }
    }

    /** The torn-intent protocol every mutation runs under (see the stats
      * scaladoc): stake `intent_<id>` BEFORE any data write, run `body`
      * (its data writes), fold the (nd, sl) stats delta it returns into
      * the live scalars, land `delta_<id>`, and only then retire the
      * intent — a crash anywhere inside leaves the intent orphaned and
      * every later reopen/screen fails loudly. An IN-PROCESS failure is
      * cheaper to recover when provably clean: the intent is retired iff
      * the data census (committed parquet files) is byte-for-byte where
      * it started — a transient job failure that committed nothing must
      * not brick the index into a delete-and-reseed (the same
      * restore-iff-unchanged refinement withMarkerSuspended carries). */
    private def mutate(body: => (Long, Long)): Unit = {
      val census0 = dataCensus()
      val id = java.util.UUID.randomUUID().toString
      val intentPath = statsDir.resolve(s"intent_$id.txt")
      try {
        java.nio.file.Files.createDirectories(statsDir)
        java.nio.file.Files.write(intentPath, "pending".getBytes("UTF-8"))
        val (nd, sl) = body
        nDocs += nd; lenSum += sl
        java.nio.file.Files.write(statsDir.resolve(s"delta_$id.txt"),
          s"$nd $sl".getBytes("UTF-8"))
        java.nio.file.Files.delete(intentPath)
        ()
      } catch {
        case e: Throwable =>
          // The recovery itself may fail (a census walk racing executor
          // cleanup, a filesystem error on the delete) — that must not
          // REPLACE the original exception, which is the one that says
          // what actually broke. Suppress secondary failures onto it;
          // the intent stays staked, which is the safe (loud) state.
          try {
            if (dataCensus() == census0)
              java.nio.file.Files.deleteIfExists(intentPath)
          } catch { case e2: Throwable => e.addSuppressed(e2) }
          throw e
      }
    }

    /** Sorted (relative path, size) census of the COMMITTED parquet data
      * files under the data dirs (including `tombs/` — a half-landed
      * DELETE must keep its torn intent exactly as a half-landed append
      * does) — the "did any data land" witness
      * for the in-process transient-failure recovery above. Committer
      * scratch (`_temporary`) is excluded: a failed job may leave scratch
      * behind, which is not committed data; any COMMITTED file appearing
      * or changing keeps the torn-intent marker in place. File-count
      * scale (bounded by the bucketed appends + compaction), no Spark
      * job. */
    private def dataCensus(): Seq[String] = {
      val b = Seq.newBuilder[String]
      store.dirs.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.isDirectory(p)) {
          val st = java.nio.file.Files.walk(p)
          try st.forEach { q =>
            val rel = p.relativize(q).toString
            if (q.toString.endsWith(".parquet") &&
                !rel.contains("_temporary") &&
                java.nio.file.Files.isRegularFile(q))
              b += s"$d/$rel:${java.nio.file.Files.size(q)}"
          } finally st.close()
        }
      }
      b.result().sorted
    }

    /** Compact the append-only state ([[PostingsStore.compact]]):
      * postings rewritten to one file per bucket, df DELTAS rolled up to
      * one row per term (semantics-free — the screen already reads dfd
      * through a per-term sum, and reads the dropped df = 0 rows of
      * fully-deleted terms as absent), fwd rewritten to bounded file
      * count, the tombstoned docs' rows ([[delete]]) dropped physically
      * (their deltas were applied at delete time) and the tombstone list
      * retired last. Same atomicity caveat as [[append]]: the rewrite-and-swap is
      * not crash-atomic — a crash between a delete and its move loses a
      * dir and the next screen fails LOUDLY (no silent wrong answers;
      * production wraps state transitions in a transactional table
      * format). Every OTHER interleaving is safe by construction: each
      * table's compaction is row-equivalent (postings repartitioned,
      * dfd deltas rolled up under the sum the screen already applies,
      * fwd repartitioned), so a crash that leaves SOME tables swapped
      * and others not still serves exact answers — loss-or-loud is the
      * complete failure model, and RetrievalSpec exercises the loud arm
      * (torn-swap spec) alongside screen-identity before/after. Stats
      * deltas are deliberately NOT merged, because any crash ordering
      * there could double-count or zero the corpus stats silently, and
      * one tiny text file per append is never the bottleneck. */
    def compact(): Unit = {
      // A corpus-scale rewrite over a dir holding a torn append's partial
      // rows would fold the inconsistency into the rolled-up deltas of a
      // dir that must be delete-and-reseeded anyway — refuse first.
      requireNoTornAppend()
      // A crash between the fwd swap and the tombstone retire leaves
      // surviving tombstones whose anti-joins are now no-ops — harmless,
      // drained by the next compaction.
      store.compact()
    }

    /** (doc_id, top_match, top_score) of each arrival against the standing
      * index AS CURRENTLY APPENDED — callers order screen-before-append to
      * get the screen-then-ingest evolving semantics. */
    def screen(arrivals: DataFrame): DataFrame = {
      requireNoTornAppend()
      val qt = postings(arrivals)
        .select(col("doc_id").as("query_id"), col("term"))
      // The batch's terms: their routing hashes are |batch|-bounded driver
      // data (the same bound the broadcast twin's append collect takes),
      // and the handle that turns both standing-side scans into
      // path-pruned reads and the df view into a keyed sum.
      val pruned = store.slice(qt.select("term"))
      // CACHE the pruned views for the batch: stage 1 drives several
      // driver actions (term-class collects, the doc-mask, the wave
      // percentile, the kernel slice) and each would otherwise re-read
      // the bucket slice and re-aggregate the df deltas from parquet —
      // the exact role ix.tf/ix.dft's caches play in the static gate.
      // Batch-scoped: the gate releases TrackedCaches after each write.
      // Tombstoned docs ([[delete]]) are masked here, the one postings
      // entry point: fwd reads are candidate-driven, and a masked doc can
      // never become a candidate.
      val tfV = graft.TrackedCaches.track(
        store.live(pruned.read("postings")).cache())
      // The df view's one consumer joins it to the batch's terms (qd),
      // so it is the keyed sum over those terms alone, never the whole
      // bucket slice of dfd. (tfV stays the whole slice: the wave cutoff
      // takes a percentile over every posting in it.) df > 0: a
      // fully-deleted term's rolled-up df is zero, and a zero-df row must
      // read as ABSENT (exactly as a rebuild without the deleted docs
      // would have it) — kept, it would enter qd with df 0 and win a
      // rare-term slot (rare sorts df ASCENDING) that a term with live
      // postings should hold, silently moving verdicts. The keyed sum's
      // 0 for a term with no df row drops the same way.
      val dftV = graft.TrackedCaches.track(
        pruned.sum("dfd", "df").filter(col("df") > 0L).cache())
      val bix = Bm25Index(tfV, dftV, nDocs, avgLen)
      // qd is multi-consumer (stage 1's collects + stage 2's qmaps) so it
      // caches, but NOT eagerly — stage 1's first driver action fills it.
      // cand feeds exactly one consumer (the stage-2 candidate broadcast),
      // so it neither caches nor counts: the expensive stage-1 internals
      // (kout / topA / topB) carry their own caches.
      val qd = graft.TrackedCaches.track(subCeilingQueryDf(bix, qt).cache())
      val cand = screenCandidatesQd(bix, qd)
      val scores = scoreCandidatesQd(bix, store.read("fwd"), qd, cand)
      val top = graft.plans.TopKPerKey.topKPerKey(scores, 1, Seq("query_id"),
          Seq("score" -> false, "doc_id" -> true))
        .select(col("query_id").as("doc_id"), col("doc_id").as("top_match"),
          col("score").as("top_score"))
      arrivals.select(col("doc_id"))
        .join(top, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("top_match"), lit(-1L)).as("top_match"),
          coalesce(col("top_score"), lit(0.0)).as("top_score"))
    }
  }

  private[graft] object EvolvingDistIndex {
    /** Term-hash partition count for the append dirs: coarse enough that a
      * batch touching V terms reads ~min(V, 64)/64 of the standing
      * postings, fine enough that per-append file counts stay sane. */
    val NumBuckets = 64

    /** The tables the class scaladoc describes. */
    val Tables = Seq(
      PostingsStore.Table("postings", keyed = true,
        Seq("doc_id" -> LongType, "term" -> StringType, "tf" -> LongType)),
      PostingsStore.Table("dfd", keyed = true,
        Seq("term" -> StringType, "df" -> LongType), sum = Some("df")),
      PostingsStore.Table("fwd", keyed = false,
        Seq("doc_id" -> LongType, "len" -> LongType, "terms" -> ArrayType(
          StructType(Seq(StructField("term", StringType),
            StructField("tf", LongType)))))))
  }

  /** Unsigned-UTF-8 term comparison — the binary ordering Spark's
    * UTF8String sort and DuckDB's collation both use, so the rare-term
    * tiebreak matches the distributed window's `ORDER BY df, term` even on
    * non-ASCII vocabularies. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The whole two-stage screen of one arrival against a [[ScreenSnapshot]]:
    * rare-term selection, posting-list candidate counting capped at
    * [[CandCap]] by (match count DESC, doc_id), then the full BM25 fold of
    * the survivors — value-identical to
    * [[screenCandidatesQd]] + [[scoreCandidatesQd]] + top-1. Returns
    * (top_match, top_score micro-units) or null when nothing retrieves. */
  private[graft] def screenOneLocal(ss: ScreenSnapshot, qid: Long,
      text: String, mark: Array[Int], gen: Int): Option[(Long, Long)] = {
    val qIdx = text.split(" ", -1).distinct.flatMap { t =>
      val i = ss.termIndex.get(t)
      if (i == null) None else Some(i.intValue())
    }
    if (qIdx.isEmpty) return None
    // Stage 1: candidates from the RareTerms lowest-(df, term) terms —
    // top-CandCap by (shared-rare-count DESC, doc_id ASC), computed as ONE
    // ascending k-way merge over the sorted posting lists with an EARLY
    // EXIT: the moment CandCap docs carrying the maximum possible count
    // (all k rare terms) have been emitted, no later doc can outrank them
    // (counts are capped at k and ties break on the ascending doc_id the
    // merge already follows), so the remaining posting mass is never
    // walked. On a duplication-heavy corpus the all-k intersection is
    // dense and the merge stops after a few hundred entries per list —
    // the 30x ladder measured the previous full-walk formulation at
    // arrivals x posting-list cost (94 s at 30x, slope ~31x) vs this
    // one's bounded walk; on a selective corpus the lists themselves are
    // short and the full merge IS the bound. Result is verdict-identical
    // by construction (same (count, doc_id) order, same cap).
    val rare = qIdx.sortWith((a, b) =>
      ss.termDf(a) < ss.termDf(b) ||
        (ss.termDf(a) == ss.termDf(b) && utf8Lt(ss.terms(a), ss.terms(b))))
      .take(RareTerms)
    val lists = rare.map(ss.postings)
    val k = lists.length
    val pos = new Array[Int](k)
    val buckets = Array.fill(k + 1)(new scala.collection.mutable.ArrayBuffer[Long]())
    var filled = false
    var exhaustedLists = false
    while (!filled && !exhaustedLists) {
      var m = Long.MaxValue
      var i = 0
      while (i < k) {
        if (pos(i) < lists(i).length && lists(i)(pos(i)) < m) m = lists(i)(pos(i))
        i += 1
      }
      if (m == Long.MaxValue) exhaustedLists = true
      else {
        var c = 0
        i = 0
        while (i < k) {
          if (pos(i) < lists(i).length && lists(i)(pos(i)) == m) { c += 1; pos(i) += 1 }
          i += 1
        }
        if (m != qid) {
          buckets(c) += m
          if (c == k && buckets(k).size >= CandCap) filled = true
        }
      }
    }
    // Drain buckets high-to-low; each is already in ascending doc order.
    val cand = new scala.collection.mutable.ArrayBuffer[Long](CandCap)
    var c = k
    while (c >= 1 && cand.size < CandCap) {
      val b = buckets(c)
      var i = 0
      while (i < b.length && cand.size < CandCap) { cand += b(i); i += 1 }
      c -= 1
    }
    if (cand.isEmpty) return None
    // Stage 2: exact BM25 of the candidates — precomputed impact
    // micro-units (built by the same Catalyst expression as the batch
    // index), folded via the generation-stamped query-term mark array
    // (allocated once per partition): one array read + long add per
    // candidate term, no hashing; the micro-unit sum is the DECIMAL sum.
    var qi = 0
    while (qi < qIdx.length) { mark(qIdx(qi)) = gen; qi += 1 }
    var bestDoc = -1L
    var bestMicros = Long.MinValue
    cand.foreach { doc =>
      val di = ss.docIndex.get(doc).intValue()
      val tis = ss.docTermIdx(di)
      val imps = ss.docImp(di)
      var micros = 0L
      var j = 0
      while (j < tis.length) {
        if (mark(tis(j)) == gen) micros += imps(j)
        j += 1
      }
      if (micros > bestMicros || (micros == bestMicros && doc < bestDoc)) {
        bestDoc = doc; bestMicros = micros
      }
    }
    Some((bestDoc, bestMicros))
  }

  /** Verdicts for an arrival frame via the broadcast screen — the zero-
    * shuffle physical strategy for a sub-[[BroadcastScreenMaxBytes]] index.
    * Output schema and values are identical to the distributed kernel's
    * (doc_id, top_match, top_score, admit) with `admit` left to the caller
    * (the gate applies its own ceiling), so this returns top-1 rows only. */
  private[graft] def screenBatchLocal(s: SparkSession,
      snap: org.apache.spark.broadcast.Broadcast[ScreenSnapshot],
      batch: DataFrame): DataFrame = {
    import s.implicits._
    batch.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ss = snap.value
        val mark = new Array[Int](ss.terms.length)
        var gen = 0
        it.map { case (qid, text) =>
          gen += 1
          screenOneLocal(ss, qid, text, mark, gen) match {
            case Some((doc, micros)) =>
              (qid, doc, java.math.BigDecimal.valueOf(micros, 6).doubleValue())
            case None => (qid, -1L, 0.0)
          }
        }
      }
      .toDF("doc_id", "top_match", "top_score")
  }

  // ---- MaxScore bounded top-k (the batch exact-retrieval scale path) -------
  //
  // scoreAgainst's scatter is queries x (the posting lists of every query
  // term) — and when no query term is selective (this corpus's 30-of-31
  // terms sit at df ~77%, deliberately under the 85% ceiling), that is
  // queries x ~0.8N rows: the classic unbounded-postings join, the one
  // corpus-product term the round-9 audit flagged. The standard exact
  // answer is MaxScore (Turtle & Flood 1995; the same per-term score
  // ceilings WAND refines): split each query's terms into ESSENTIAL and
  // NON-ESSENTIAL sets such that the non-essential ceilings sum below the
  // running k-th score — then a doc containing no essential term provably
  // cannot reach the top k, and its posting rows are never joined. Batch
  // (two-phase) formulation here:
  //
  //   ub(t)  = max posting impact of t (exact, from the impact index)
  //   seed   = each query's SeedTerms highest-ub terms; their posting
  //            lists generate phase-1 candidates, CAPPED at SeedCandCap
  //            by shared-seed-term count and scored EXACTLY via a
  //            candidate-bounded probe of the impact index
  //   theta  = the k-th best phase-1 score (a lower bound on the final
  //            k-th best — phase-1 pairs are scored exactly and the final
  //            candidate set is a superset)
  //   P      = the maximal ub-ascending prefix of the query's terms with
  //            cumulative ub STRICTLY below theta; E = the rest. A doc
  //            sharing only P-terms scores <= sum ub(P) < theta <= final
  //            k-th, so it can neither enter the top k nor tie into it
  //            (ties break on doc_id, but exclusion is strict).
  //   phase2 = candidates of ALL essential posting lists not already
  //            scored in phase 1 (the seed lists are rescanned — the
  //            phase-1 cap can evict a doc that still beats theta),
  //            scored the same way; top-k of both phases is the EXACT
  //            global top-k: every doc sharing an essential term is
  //            scored by one phase or the other.
  //
  // Per-query row bound on the bounded route: sum of the ESSENTIAL terms'
  // posting lists (candidate generation) + candidate-count x doc-length
  // (exact scoring) — the non-essential lists are never joined. On a
  // Zipfian corpus E is the rare tail and that bound is a small fraction
  // of the corpus. But term-partition pruning is only as good as the
  // corpus's selectivity: on this synthetic selectivity-floor corpus
  // (30 of 31 terms at df ~77%) E degenerates to nearly every term, and
  // the bounded route would pay candidate-gen + forward-probe + extra
  // stage barriers to score what the plain scatter scores in ONE
  // broadcast-join pass (measured: an always-bounded build of this
  // operator was 3.7 s vs the scatter's 1.8 s isolated at sf0.1). So,
  // like the screen's broadcast-vs-distributed choice, the route is
  // COST-BASED per query on exact statistics, at two levels: (a) the
  // SelectivePruneDfPct gate sends queries with no selective rare term
  // straight to the scatter from the df statistics alone — no theta
  // phase, no extra jobs; (b) queries that do seed a theta are still
  // re-checked after the partition — when the essential posting mass is
  // at least MaxScoreScatterFrac of the whole scatter, pruning cannot
  // pay and the query keeps the single-pass scatter plan (still exact by
  // construction). The theta/term-partition bookkeeping is driver-side
  // and QUERY-ARITY (NumQueries x ~30 terms and one k-th-score row per
  // query — the batch op's contract is few queries; the many-queries
  // regime is the bounded screen above).

  /** Phase-1 candidate-generation terms per query: the SeedTerms
    * highest-ceiling (= rarest, highest-idf) terms seed theta. 4 mirrors
    * RareTerms — enough that the k-th seed score is a tight bound on a
    * corpus with any selective terms, cheap when there are none. */
  val SeedTerms = 4
  /** Phase-1 candidates kept per query (by shared-seed-term count desc,
    * doc_id — the screen's cap discipline). Theta only needs the k-th
    * best of SOME exactly-scored subset; 256 >> TopK keeps it tight
    * while bounding phase 1 at 256 forward-probe rows per query even
    * when a seed term's posting list is corpus-scale. */
  val SeedCandCap = 256
  /** Scatter-vs-bounded routing threshold: a query whose essential terms
    * hold at least this fraction of its total sub-ceiling posting mass
    * (exact dfs, known driver-side) takes the one-pass scatter — the
    * bounded route's candidate-gen alone would scan almost as many rows
    * and then pay the forward probe and barriers on top. */
  val MaxScoreScatterFrac = 0.5
  /** A-priori gate on the theta phase itself: a query enters MaxScore
    * seeding only if its rarest term matches at most this percent of the
    * corpus. Above it no selective head exists — seed candidates are
    * corpus-scale, theta degenerates, and the partition keeps ~every term
    * essential — so the query goes straight to the scatter without paying
    * phase-1 jobs (measured on the selectivity-floor bench corpus:
    * always-running the theta phase cost 3.6 s vs 1.9 s isolated). */
  val SelectivePruneDfPct = 25

  /** The routed plan plus its pruning evidence (what the spec gates):
    * per-query essential-term lists and which queries actually took the
    * bounded route. */
  private[graft] case class MaxScorePlan(result: DataFrame,
      essential: Map[Long, Seq[String]], nTerms: Map[Long, Int],
      boundedQueries: Set[Long])

  /** Exact BM25 scores of explicit (query_id, doc_id) pairs via a
    * candidate-bounded probe of the impact index: rows touched =
    * sum over candidate docs of doc length, never a posting-list scatter.
    * The candidate side carries no broadcast hint — phase 1 is
    * SeedCandCap-bounded and auto-broadcasts; a phase-2 candidate set on
    * a low-selectivity corpus can be wide and AQE picks the join. */
  private def scorePairs(ix: Bm25Index, qtSub: DataFrame,
      cand: DataFrame): DataFrame =
    ix.tf.select("doc_id", "term", "imp")
      .join(cand, "doc_id")
      .join(broadcast(qtSub), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id").agg(sum("imp").as("smicro"))

  private[graft] def maxScoreTopK(s: SparkSession, ix: Bm25Index,
      queryTerms: DataFrame, k: Int): MaxScorePlan = {
    import s.implicits._
    val qtSub = subCeilingQueryDf(ix, queryTerms)
      .select("query_id", "term", "df")
    // (query, term, df) — driver-side, query-arity (see block comment).
    val qd = qtSub.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("term"),
        r.getAs[Long]("df")))
    // per query: (term, df)
    val byQdf: Map[Long, Array[(String, Long)]] =
      qd.groupBy(_._1).map { case (q, ts) => q -> ts.map(t => (t._2, t._3)) }
    val nTerms = byQdf.map { case (q, ts) => q -> ts.length }
    // A-priori selectivity gate: MaxScore's premise is a selective rare
    // term — theta comes from a small seed candidate set, and P can only
    // absorb the common tail when the rare head scores well above it. A
    // query whose RAREST term still matches more than SelectivePruneDfPct%
    // of the corpus has no such head: every candidate set is corpus-scale,
    // theta degenerates to an average-doc score, and the partition keeps
    // nearly every term essential — so the theta phase would spend jobs to
    // conclude "scatter". Route those queries to the scatter directly on
    // the df statistics alone (exactness is route-invariant; only cost
    // moves).
    val selective: Set[Long] = byQdf.iterator.collect {
      case (q, ts) if ts.iterator.map(_._2).min * 100 <=
        ix.n * SelectivePruneDfPct => q
    }.toSet
    val qtPairs = qtSub.select("query_id", "term")
    // (term -> max impact) for the selective queries' terms only — the
    // collect stays query-arity even on a web-scale vocabulary.
    val ubOf: Map[String, Long] =
      if (selective.isEmpty) Map.empty
      else {
        val terms = byQdf.iterator.filter(t => selective(t._1))
          .flatMap(_._2.iterator.map(_._1)).toSeq.distinct
        ix.tf.filter(col("term").isin(terms: _*))
          .groupBy("term").agg(max("imp").as("ub")).collect()
          .map(r => r.getAs[String]("term") -> r.getAs[Long]("ub")).toMap
      }
    // Phase 1 (selective queries only): capped seed candidates + exact
    // scores + per-query theta.
    val seed: Map[Long, Seq[String]] = byQdf.collect {
      case (q, ts) if selective(q) =>
        q -> ts.map(t => (t._1, ubOf(t._1)))
          .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
          .take(SeedTerms).map(_._1).toSeq
    }
    val phase1: Option[(DataFrame, DataFrame, Map[Long, Long])] =
      if (selective.isEmpty) None
      else {
        val seedHits = ix.tf.select("doc_id", "term")
          .join(broadcast(seed.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }
            .toDF("query_id", "term")), Seq("term"))
          .filter(col("doc_id") =!= col("query_id"))
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nmatch"))
        val cand1 = graft.TrackedCaches.track(
          graft.plans.TopKPerKey.topKPerKey(seedHits, SeedCandCap, Seq("query_id"),
            Seq("nmatch" -> false, "doc_id" -> true))
            .select("query_id", "doc_id").cache())
        val score1 = graft.TrackedCaches.track(
          scorePairs(ix, qtPairs, cand1).cache())
        val theta = graft.plans.TopKPerKey
          .topKPerKey(score1, k, Seq("query_id"), Seq("smicro" -> false, "doc_id" -> true))
          .groupBy("query_id").agg(min("smicro").as("theta"), count(lit(1)).as("nc"))
          .collect().iterator
          .filter(_.getAs[Long]("nc") == k)
          .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("theta")).toMap
        Some((cand1, score1, theta))
      }
    val theta: Map[Long, Long] = phase1.map(_._3).getOrElse(Map.empty)
    // Term partition: P = maximal ub-asc prefix with cum sum < theta.
    // Non-selective queries keep every term essential by definition.
    val essential: Map[Long, Seq[String]] = byQdf.map { case (q, ts) =>
      if (!selective(q)) q -> ts.map(_._1).toSeq
      else {
        val asc = ts.map(t => (t._1, ubOf(t._1)))
          .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
        q -> (theta.get(q) match {
          case None => asc.map(_._1).toSeq // under k seed candidates: no bound
          case Some(th) =>
            var cum = 0L
            var i = 0
            while (i < asc.length && cum + asc(i)._2 < th) { cum += asc(i)._2; i += 1 }
            asc.drop(i).map(_._1).toSeq
        })
      }
    }
    // Cost-based route per query: essential posting mass vs total.
    val bounded: Set[Long] = selective.filter { q =>
      val ess = essential(q).toSet
      val dfOf = byQdf(q).iterator.toMap
      val total = dfOf.valuesIterator.sum
      val essMass = ess.iterator.map(dfOf).sum
      total > 0 && essMass < MaxScoreScatterFrac * total
    }
    val scatterQs = byQdf.keySet -- bounded
    // Degenerate input — no query has any sub-ceiling term (every term
    // above the df ceiling, or an empty query set): neither route has
    // anything to score, and the unionByName reduce below would throw on
    // an empty Seq. Return the empty result frame with the exact output
    // schema instead (the old scatter path's behavior).
    if (byQdf.isEmpty) {
      val empty = Seq.empty[(Long, Int, Long, Double)]
        .toDF("query_id", "rk", "doc_id", "score")
      return MaxScorePlan(empty, Map.empty, Map.empty, Set.empty)
    }
    // Bounded route: phase-2 candidates from ALL essential posting lists,
    // minus the already-scored phase-1 candidates; union with phase-1
    // scores. The seed lists MUST be rescanned here: phase 1 caps its
    // candidate set at SeedCandCap by (shared-seed-count, doc_id), and a
    // doc evicted by that cap — few shared seed terms but, say, one
    // huge-tf posting — can still outscore theta; exactness requires
    // every doc sharing >= 1 essential term to be scored, and the
    // anti-join below already dedupes the phase-1 overlap, so the extra
    // cost stays inside the documented essential-posting-mass bound
    // (the eviction-regression spec in RetrievalSpec pins this case).
    val boundedScores: Option[DataFrame] = phase1.collect {
      case (cand1, score1, _) if bounded.nonEmpty =>
        val s1 = score1.filter(col("query_id").isin(bounded.toSeq: _*))
        val e2 = essential.toSeq.filter(q => bounded(q._1)).flatMap { case (q, ts) =>
          ts.map(q -> _)
        }
        if (e2.isEmpty) s1
        else {
          val c2 = ix.tf.select("doc_id", "term")
            .join(broadcast(e2.toDF("query_id", "term")), Seq("term"))
            .filter(col("doc_id") =!= col("query_id"))
            .select("query_id", "doc_id").distinct()
            .join(cand1, Seq("query_id", "doc_id"), "left_anti")
          s1.unionByName(scorePairs(ix, qtPairs, c2))
        }
    }
    // Scatter route: the one-pass broadcast postings join, exact scores of
    // every matching pair for the routed queries.
    val scatterScores: Option[DataFrame] =
      if (scatterQs.isEmpty) None
      else Some(
        candidates(ix, queryTerms.filter(col("query_id").isin(scatterQs.toSeq: _*)))
          .groupBy("query_id", "doc_id").agg(sum("imp").as("smicro")))
    val scoresAll = (boundedScores.toSeq ++ scatterScores.toSeq)
      .reduce(_ unionByName _)
    val top = graft.plans.TopKPerKey.topKPerKey(scoresAll, k, Seq("query_id"),
      Seq("smicro" -> false, "doc_id" -> true))
    val w = Window.partitionBy("query_id").orderBy(col("smicro").desc, col("doc_id"))
    // Ranking on exact micro-units; the reported 6-dp double is a monotone
    // injective image of them (6-dp decimals this small are exact in
    // double), so the oracle's ORDER BY rounded-score agrees rank-for-rank.
    val result = top
      .withColumn("rk", row_number().over(w).cast(IntegerType))
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("smicro").cast(DoubleType) / lit(1000000.0), 6).as("score"))
    MaxScorePlan(result, essential, nTerms, bounded)
  }

  /** BM25 top-k: score = sum over shared terms of
    * ln(1 + (N - df + 0.5)/(df + 0.5)) * (tf*(k1+1)) / (tf + k1*(1 - b + b*len/avglen))
    * — the Robertson/Lucene formulation (always-positive idf), evaluated
    * once per posting into the impact index and ranked through the
    * MaxScore bounded path above (exact; see the block comment for the
    * pruning bound and RetrievalSpec for the equality + pruning gates). */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val ix = buildIndex(docs, cache = true)
    val qt = ix.tf.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    maxScoreTopK(s, ix, qt, TopK).result.orderBy("query_id", "rk")
  }

  /** The BM25 oracle parameterized over a candidate predicate (on the
    * posting alias `f`): `TRUE` is the full-corpus top-k; the standing
    * DELETE query passes the live-docs mask while every statistic (n,
    * avglen, df) deliberately stays full-corpus — the frozen-stats
    * serving semantics [[bm25Delete]] documents. */
  private def bm25SqlOver(candPred: String): String =
    s"""WITH toks AS (SELECT doc_id, u.t AS term
                      FROM documents, unnest(string_split(text, ' ')) u(t)),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
        stats AS (SELECT count(*) AS n,
                    CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM dl),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < $NumQueries),
        sc AS (SELECT q.query_id, f.doc_id,
                 CAST(round(ln(1.0 + (CAST(s.n AS BIGINT) - d.df + 0.5) / (d.df + 0.5))
                   * (f.tf * ${K1 + 1.0})
                   / (f.tf + $K1 * (${1.0 - B} + $B * (CAST(l.len AS DOUBLE) / s.avglen))),
                   6) AS DECIMAL(20, 6)) AS ts
               FROM qt q
               JOIN dft d USING (term)
               JOIN tf f USING (term)
               JOIN dl l ON l.doc_id = f.doc_id, stats s
               WHERE f.doc_id <> q.query_id AND d.df * 100 <= s.n * $MaxDfPct
                 AND ($candPred)),
        agg AS (SELECT query_id, doc_id,
                  round(CAST(sum(ts) AS DOUBLE), 6) AS score
                FROM sc GROUP BY 1, 2)
        SELECT query_id, rk, doc_id, score FROM (
          SELECT query_id, doc_id, score,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS INT) AS rk
          FROM agg) WHERE rk <= $TopK
        ORDER BY query_id, rk"""

  val bm25Sql: String = bm25SqlOver("TRUE")

  // ── Standing BM25 impact index: the serving regime ──────────────────
  //
  // [[bm25TopK]] rebuilds the impact index on every call — right for a
  // one-shot curation query, wrong for serving (index once, query
  // repeatedly). The standing form persists buildIndex's IMPACT postings
  // (tf, len, df, imp — the per-posting BM25 contribution frozen at
  // build time, which is exactly the static index's semantics) term-
  // bucketed on disk, so a probe partition-prunes both standing scans to
  // the query's own buckets and scores by a pure long-sum aggregate over
  // precomputed impacts: per-probe cost is ~|query-term posting lists|,
  // never |corpus|. This is the static sibling of [[EvolvingDistIndex]]
  // (same xxhash64 bucketing, same pruned-read idiom): that class
  // re-scores raw postings against EVOLVING stats because its corpus
  // grows; here the corpus is fixed at build, so impacts freeze and a
  // probe's answer is row-identical to [[bm25TopK]] — `q_bm25_standing`
  // reuses [[bm25Sql]] unchanged (persistence moves the cost regime,
  // never the semantics; RetrievalSpec proves probe ≡ rebuild).

  /** Build the standing index at `base` unless its marker shows it was
    * built from this corpus (same dir, same corpus-file content
    * signature — an in-place rewrite with the same doc count still
    * rebuilds — and same bucket count). One write task per bucket dir
    * ([[PostingsStore.write]]), so the layout is ≤ nBuckets
    * files per table at any corpus scale. A probe reads the buckets its
    * query terms hash into, so the count follows the corpus, not the
    * query: it is sized from the corpus bytes
    * ([[StandingIndex.bucketsFor]] — few buckets for a small corpus,
    * where a probe naming more than 32 bucket paths would pay a
    * distributed listing job; 64 from 16 MB up). The count is recorded
    * as a build stat beside n and avgLen, so probes always hash with the
    * layout that built the index. */
  def bm25BuildIfStale(s: SparkSession, d: String, base: String): Boolean =
    bm25BuildIfStale(s, d, base,
      StandingIndex.sizedBuckets(s"$d/documents.parquet"))

  /** [[bm25BuildIfStale]] with a caller-pinned bucket count. */
  def bm25BuildIfStale(s: SparkSession, d: String, base: String,
      nBuckets: Int): Boolean =
    StandingIndex.ensure(base, bm25Marker(d, nBuckets)) {
      bm25Build(s, d, base, nBuckets)
    }

  /** The build body of [[bm25BuildIfStale]] into an empty `base`. */
  private def bm25Build(s: SparkSession, d: String, base: String,
      nBuckets: Int): Unit = {
    val ix = buildIndex(Tables.documents(s, d).select("doc_id", "text"),
      cache = true)
    StandingIndex.recordStats(base,
      "n" -> ix.n, "avgLen" -> ix.avgLen, "buckets" -> nBuckets)
    val store = bm25Store(s, base)
    store.write("postings", ix.tf)
    store.write("dft", ix.dft)
  }

  /** Build marker of a BM25 index over corpus dir `d`; the delete query
    * extends it with the phase it reached. */
  private def bm25Marker(d: String, nBuckets: Int): String =
    s"dir=$d ${StandingIndex.layoutMarker(s"$d/documents.parquet", nBuckets)}"

  /** The BM25 index's tables: the frozen impact `postings/` and the
    * per-term `dft/`, both written once by the build. */
  private val Bm25Tables = Seq(
    PostingsStore.Table("postings", keyed = true,
      Seq("term" -> StringType, "doc_id" -> LongType, "tf" -> LongType,
        "len" -> LongType, "df" -> LongType, "imp" -> LongType)),
    PostingsStore.Table("dft", keyed = true,
      Seq("term" -> StringType, "df" -> LongType)))

  /** The store of the BM25 index at `base`, routed with the bucket count
    * it was built with. */
  private def bm25Store(s: SparkSession, base: String): PostingsStore =
    new PostingsStore(s, base, "term", StandingIndex.stat(base, "buckets").toInt,
      Bm25Tables)

  /** Probe-only ranked top-k against a standing index: tokenize the query
    * docs, prune BOTH standing scans to the query's term buckets (the
    * bucket-set collect is |query terms|-bounded — the same bound as the
    * broadcast the candidates join takes), and rank by the frozen
    * impacts. No index build, no corpus pass. */
  def bm25Probe(s: SparkSession, base: String, queryDocs: DataFrame,
      k: Int = TopK): DataFrame = {
    // Two consumers (the bucket-set collect and the candidates
    // broadcast): cache the query-side term frame so the tokenize +
    // groupBy run once per probe.
    val qt = graft.TrackedCaches.track(postings(queryDocs)
      .select(col("doc_id").as("query_id"), col("term")).cache())
    val store = bm25Store(s, base)
    val pruned = store.slice(qt)
    // Tombstoned docs ([[bm25Delete]]) are masked here, the index's one
    // postings entry point; dft and the frozen stats pass through
    // untouched — the live-docs serving semantics.
    val ix = Bm25Index(store.live(pruned.read("postings")),
      pruned.read("dft"), StandingIndex.stat(base, "n").toLong,
      StandingIndex.stat(base, "avgLen").toDouble)
    graft.plans.TopKPerKey.ensureRegistered(s)
    val scores = candidates(ix, qt)
      .groupBy("query_id", "doc_id").agg(sum("imp").as("smicro"))
    val top = graft.plans.TopKPerKey.topKPerKey(scores, k, Seq("query_id"),
      Seq("smicro" -> false, "doc_id" -> true))
    val w = Window.partitionBy("query_id")
      .orderBy(col("smicro").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast(IntegerType))
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("smicro").cast(DoubleType) / lit(1000000.0), 6).as("score"))
      .orderBy("query_id", "rk")
  }

  /** The shipped query: same query set and semantics as `q_bm25_topk`,
    * served from the standing index (built on first call, probe-only
    * after). Oracle: [[bm25Sql]] unchanged. */
  def bm25TopKStanding(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_standing"
    bm25BuildIfStale(s, d, base)
    bm25Probe(s, base,
      Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") < NumQueries))
  }

  /** Delete documents from a standing BM25 impact index — the live-docs
    * model every static inverted index serves deletes with (Lucene's:
    * deleted docs are masked from results IMMEDIATELY; the scoring
    * statistics keep their build-time values until the next merge):
    * masking is exact for the candidate set — a deleted doc can never
    * rank — while df, N, and avgLen stay FROZEN, so surviving docs'
    * scores do not move. Frozen stats are the only coherent choice for
    * an impact-ordered index: the per-posting impacts bake df in, so a
    * stats correction would invalidate every posting of every shared
    * term — that is a rebuild, not a delete. The oracle
    * ([[bm25DeleteSql]]) encodes exactly this: full-corpus statistics,
    * candidates minus the deleted slice.
    *
    * Mechanics: the ids append to the store's tombstones, which probes
    * mask ([[PostingsStore.live]]) and [[bm25Compact]] drains. No deltas,
    * so the delete is pure-mask: IDEMPOTENT, re-runnable after a crash,
    * and a no-op for ids the index never held. An EMPTY delete is a hard
    * no-op. */
  def bm25Delete(s: SparkSession, base: String, ids: DataFrame): Unit = {
    val d = ids.select("doc_id").distinct().localCheckpoint()
    if (!d.isEmpty) bm25Store(s, base).delete(d)(Nil)
  }

  /** Physically drop the tombstoned docs' posting rows and retire the
    * tombstone list ([[PostingsStore.compact]]) — compaction's ONLY job
    * here, since this index takes no appends (its growth regime is
    * [[EvolvingDistIndex]]). Impacts, dft and stats are untouched, so
    * probe answers are identical before and after (RetrievalSpec). Runs
    * under the marker-suspend protocol (crash ⇒ unmarked, rebuildable
    * dir). */
  def bm25Compact(s: SparkSession, base: String): Unit =
    StandingIndex.withMarkerSuspended(base) {
      bm25Store(s, base).compact()
    }

  /** The shipped DELETE query (`q_bm25_standing_delete`): build the
    * standing impact index over the full corpus, [[bm25Delete]] the
    * doc_id % 9 = 4 slice, probe the standard query set — deleted docs
    * must never rank (the top-k refills from survivors) while every
    * score keeps its build-time value (frozen stats). Query doc 4 is
    * itself deleted and still queries: probes rank BY external text,
    * masking only the candidate side. The marker embeds the deleted
    * phase; reruns serve probe-only and a crash mid-transition or a
    * corpus rewrite rebuilds from source. */
  def bm25TopKStandingDelete(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_delete"
    val nBuckets = StandingIndex.sizedBuckets(s"$d/documents.parquet")
    StandingIndex.ensure(base, s"${bm25Marker(d, nBuckets)} deleted=mod9eq4") {
      bm25Build(s, d, base, nBuckets)
      bm25Delete(s, base,
        Tables.documents(s, d).filter(col("doc_id") % 9 === 4)
          .select("doc_id"))
    }
    bm25Probe(s, base,
      Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") < NumQueries))
  }

  /** Oracle for [[bm25TopKStandingDelete]]: [[bm25Sql]] with the
    * live-docs mask on the candidate side only — statistics stay
    * full-corpus (the frozen-stats contract [[bm25Delete]] documents). */
  val bm25DeleteSql: String = bm25SqlOver("f.doc_id % 9 <> 4")

  /** Hybrid retrieval by reciprocal-rank fusion: each query's BM25 ranking
    * and its token-set Jaccard ranking (two genuinely different signals —
    * weighted term overlap vs set overlap) are cut at [[ListK]], and every
    * candidate scores sum(1/(RrfK + rank)) over the lists it appears in.
    * RRF needs only RANKS, so the fusion is immune to the scorers' scale
    * difference — the reason it is the standard first hybrid. Both
    * per-ranker lists route per query through the same cost-based bounded
    * machinery as [[maxScoreTopK]] (see [[hybridTopK]]): on a corpus with
    * selective terms neither ranker joins the posting lists the bounds
    * prove non-competitive; when nothing prunes, both rankers share ONE
    * cached candidate scatter, which is the optimal single-pass plan. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val ix = buildIndex(docs, cache = true)
    val qt = ix.tf.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    hybridTopK(s, ix, qt).result
  }

  /** The routed hybrid plan plus its pruning evidence (what the spec
    * gates): per-query essential-term lists for BOTH rankers and which
    * queries actually took the bounded route. */
  private[graft] case class HybridPlan(result: DataFrame,
      bmEssential: Map[Long, Seq[String]], jacEssential: Map[Long, Seq[String]],
      nTerms: Map[Long, Int], boundedQueries: Set[Long])

  /** Rounded Jaccard in exact micro-units over (inter, qterms, nterms)
    * columns — jac >= 0, so the `+0.5` + truncating long cast recovers the
    * 6-dp decimal exactly (the [[impMicros]] argument). Ranking on jmicro
    * is tie-identical to ranking on the rounded double the scatter path
    * and the oracle use: 6-dp decimals this small are exact in double, so
    * the map between them is a monotone bijection. */
  private def jacMicros: Column =
    (round(col("inter").cast(DoubleType) /
      (col("qterms") + col("nterms") - col("inter")).cast(DoubleType), 6)
      * lit(1000000.0) + lit(0.5)).cast(LongType)

  /** One candidate-bounded probe scoring BOTH rankers' signals of explicit
    * (query, doc) pairs: the exact BM25 micro-unit sum AND the shared
    * sub-ceiling term count (the Jaccard numerator). Rows touched = sum of
    * candidate doc lengths — never a posting-list scatter. */
  private def scoreHybridPairs(ix: Bm25Index, qtSub: DataFrame,
      cand: DataFrame): DataFrame =
    ix.tf.select("doc_id", "term", "imp")
      .join(cand, "doc_id")
      .join(broadcast(qtSub), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(sum("imp").as("smicro"), count(lit(1)).as("inter"))

  /** The one-pass scatter route shared by both rankers: ONE cached
    * (query term × posting) candidate set feeds the BM25 long-sum and the
    * Jaccard intersection count, each cut to its top [[ListK]] ranks.
    * Factored out so the routed plan's spec can build its brute-force
    * reference from the exact same list constructor. */
  private[graft] def hybridScatterLists(ix: Bm25Index, queryTerms: DataFrame,
      nd: DataFrame, qn: DataFrame): (DataFrame, DataFrame) = {
    // ONE (query, doc) aggregate computes BOTH rankers' signals off the
    // scatter in a single streaming pass — sum(imp) is the BM25 micro-sum
    // (scoreCandidateRows' aggregate verbatim) and count(*) the Jaccard
    // intersection — so the wide candidate rows are never materialized:
    // what caches is the aggregate's (query, doc)-arity output, which
    // both rank consumers read. The previous shape cached the raw scatter
    // and ran two full hash aggregates over it; the profile showed those
    // two hashAgg passes plus the columnar cache build as q_hybrid_rrf's
    // cpu owners (guide §2.3 aggregate-before-shuffle, §5 cache pressure).
    val sc = graft.TrackedCaches.track(
      candidates(ix, queryTerms)
        .groupBy("query_id", "doc_id")
        .agg(sum("imp").as("smicro"), count(lit(1)).as("inter"))
        .cache())
    val bm = sc.select(col("query_id"), col("doc_id"),
      round(col("smicro").cast(DoubleType) / lit(1000000.0), 6).as("score"))
    val wb = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val bmRanks = bm.withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= ListK).select("query_id", "doc_id", "rk")
    // Token-SET Jaccard: |q ∩ d| / (|q| + |d| - |q ∩ d|), integer-exact
    // until the one division, rounded before ranking. Shares the fused
    // aggregate's intersection count with the BM25 side.
    val jac = sc
      .join(nd, "doc_id").join(broadcast(qn), "query_id")
      .withColumn("jac", round(
        col("inter").cast(DoubleType) /
          (col("qterms") + col("nterms") - col("inter")).cast(DoubleType), 6))
    val wj = Window.partitionBy("query_id").orderBy(col("jac").desc, col("doc_id"))
    val jacRanks = jac.withColumn("rk", row_number().over(wj))
      .filter(col("rk") <= ListK).select("query_id", "doc_id", "rk")
    (bmRanks, jacRanks)
  }

  /** RRF fusion of the two per-ranker (query_id, doc_id, rk) lists —
    * shared by every route combination. */
  private[graft] def fuseLists(bmRanks: DataFrame, jacRanks: DataFrame): DataFrame = {
    val fused = bmRanks.unionByName(jacRanks)
      .withColumn("contrib", round(lit(1.0) / (lit(RrfK) + col("rk")), 6)
        .cast(DecimalType(20, 6)))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("contrib").cast(DoubleType), 6).as("rrf"),
        count(lit(1)).cast(IntegerType).as("n_lists"))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w).cast(IntegerType))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf"), col("n_lists"))
      .orderBy("query_id", "rk")
  }

  /** Cost-based routed hybrid — the [[maxScoreTopK]] discipline applied to
    * BOTH rankers at once. Per query, ONE capped seed-candidate probe
    * ([[SeedTerms]] lowest-df terms, [[SeedCandCap]] candidates — theta
    * from ANY exactly-scored subset is a valid lower bound, so one seed
    * set serves both rankers) scores the BM25 micro-sum and the Jaccard
    * intersection together, yielding each ranker's theta = its ListK-th
    * best phase-1 score. Term partitions:
    *
    *   - BM25: the MaxScore ub-ascending prefix with cum ub < theta_bm is
    *     non-essential (a doc sharing only those terms scores strictly
    *     below the final ListK-th — ties break on doc_id but exclusion is
    *     strict).
    *   - Jaccard: the PREFIX-FILTER bound. jac = i/(|q|+|d|-i) with
    *     |d| >= i gives jac <= i/|q|, so a doc whose ROUNDED jac can reach
    *     theta_j needs i >= m = ceil((theta_j - 1 ulp) * |q|) shared
    *     sub-ceiling terms (one 6-dp ulp of slack absorbs the HALF_UP
    *     rounding boundary) — hence it must share at least one of ANY
    *     (nSub - m + 1)-subset of the query's sub-ceiling terms; the
    *     rarest such subset is the essential set.
    *
    * A query routes bounded only when BOTH rankers' essential posting
    * mass sits under [[MaxScoreScatterFrac]] of its total — if either
    * ranker needs the scatter, the other rides the same cached rows for
    * free, so partial pruning can't pay. Phase 2 scores the UNION of both
    * essential sets' posting hits (seed lists rescanned — the phase-1 cap
    * can evict a doc that still beats theta; extra scored pairs can only
    * rank below theta, so the union costs nothing in exactness), and each
    * ranker's top-[[ListK]] over phase-1 ∪ phase-2 is its EXACT list. */
  private[graft] def hybridTopK(s: SparkSession, ix: Bm25Index,
      queryTerms: DataFrame): HybridPlan = {
    import s.implicits._
    val nd = ix.tf.groupBy("doc_id").agg(count(lit(1)).as("nterms"))
    val qn = queryTerms.groupBy("query_id").agg(count(lit(1)).as("qterms"))
    val qtSub = subCeilingQueryDf(ix, queryTerms)
      .select("query_id", "term", "df")
    val qtPairs = qtSub.select("query_id", "term")
    // Driver-side stats: query-arity (the maxScoreTopK discipline).
    val qd = qtSub.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("term"),
        r.getAs[Long]("df")))
    val byQdf: Map[Long, Array[(String, Long)]] =
      qd.groupBy(_._1).map { case (q, ts) => q -> ts.map(t => (t._2, t._3)) }
    val nTerms = byQdf.map { case (q, ts) => q -> ts.length }
    val selective: Set[Long] = byQdf.iterator.collect {
      case (q, ts) if ts.iterator.map(_._2).min * 100 <=
        ix.n * SelectivePruneDfPct => q
    }.toSet
    // Full-query term counts feed only the Jaccard prefix-filter bound of
    // SELECTIVE queries — skip the collect (one whole Spark job) when the
    // df stats already routed everything to the scatter (the isolated A/B
    // measured the routed build's entire overhead as ~5 cpu-s of exactly
    // these driver-stat jobs).
    val qFull: Map[Long, Long] =
      if (selective.isEmpty) Map.empty
      else qn.collect()
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("qterms")).toMap
    val ubOf: Map[String, Long] =
      if (selective.isEmpty) Map.empty
      else {
        val terms = byQdf.iterator.filter(t => selective(t._1))
          .flatMap(_._2.iterator.map(_._1)).toSeq.distinct
        ix.tf.filter(col("term").isin(terms: _*))
          .groupBy("term").agg(max("imp").as("ub")).collect()
          .map(r => r.getAs[String]("term") -> r.getAs[Long]("ub")).toMap
      }
    // Phase 1 (selective queries only): one capped seed probe, both
    // rankers' exact scores, both thetas.
    val seed: Map[Long, Seq[String]] = byQdf.collect {
      case (q, ts) if selective(q) =>
        q -> ts.sortWith((a, b) => a._2 < b._2 ||
          (a._2 == b._2 && utf8Lt(a._1, b._1))).take(SeedTerms).map(_._1).toSeq
    }
    val phase1: Option[(DataFrame, DataFrame, Map[Long, Long], Map[Long, Long])] =
      if (selective.isEmpty) None
      else {
        val seedHits = ix.tf.select("doc_id", "term")
          .join(broadcast(seed.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }
            .toDF("query_id", "term")), Seq("term"))
          .filter(col("doc_id") =!= col("query_id"))
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nmatch"))
        val cand1 = graft.TrackedCaches.track(
          graft.plans.TopKPerKey.topKPerKey(seedHits, SeedCandCap, Seq("query_id"),
            Seq("nmatch" -> false, "doc_id" -> true))
            .select("query_id", "doc_id").cache())
        val score1 = graft.TrackedCaches.track(
          scoreHybridPairs(ix, qtPairs, cand1).cache())
        def kth(scored: DataFrame, metric: String): Map[Long, Long] =
          graft.plans.TopKPerKey
            .topKPerKey(scored, ListK, Seq("query_id"),
              Seq(metric -> false, "doc_id" -> true))
            .groupBy("query_id").agg(min(metric).as("th"), count(lit(1)).as("nc"))
            .collect().iterator
            .filter(_.getAs[Long]("nc") == ListK)
            .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("th")).toMap
        val thB = kth(score1, "smicro")
        val thJ = kth(score1.join(nd, "doc_id").join(broadcast(qn), "query_id")
          .withColumn("jmicro", jacMicros), "jmicro")
        Some((cand1, score1, thB, thJ))
      }
    val thB: Map[Long, Long] = phase1.map(_._3).getOrElse(Map.empty)
    val thJ: Map[Long, Long] = phase1.map(_._4).getOrElse(Map.empty)
    def ascByDf(ts: Array[(String, Long)]): Array[(String, Long)] =
      ts.sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
    val bmEssential: Map[Long, Seq[String]] = byQdf.map { case (q, ts) =>
      if (!selective(q)) q -> ts.map(_._1).toSeq
      else q -> (thB.get(q) match {
        case None => ts.map(_._1).toSeq
        case Some(th) =>
          val asc = ts.map(t => (t._1, ubOf(t._1)))
            .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1)))
          var cum = 0L
          var i = 0
          while (i < asc.length && cum + asc(i)._2 < th) { cum += asc(i)._2; i += 1 }
          asc.drop(i).map(_._1).toSeq
      })
    }
    val jacEssential: Map[Long, Seq[String]] = byQdf.map { case (q, ts) =>
      if (!selective(q)) q -> ts.map(_._1).toSeq
      else q -> (thJ.get(q) match {
        case None => ts.map(_._1).toSeq
        case Some(th) =>
          val m = (((th - 1L) max 0L) * qFull(q) + 999999L) / 1000000L
          if (m <= 1L) ts.map(_._1).toSeq
          else ascByDf(ts).take((ts.length - m.toInt + 1) max 0).map(_._1).toSeq
      })
    }
    // Route: bounded only when BOTH rankers prune well (see scaladoc).
    val bounded: Set[Long] = selective.filter { q =>
      val dfOf = byQdf(q).iterator.toMap
      val total = dfOf.valuesIterator.sum
      def mass(ess: Seq[String]) = ess.iterator.map(dfOf).sum
      total > 0 && mass(bmEssential(q)) < MaxScoreScatterFrac * total &&
        mass(jacEssential(q)) < MaxScoreScatterFrac * total
    }
    val scatterQs = byQdf.keySet -- bounded
    val scatterLists: Option[(DataFrame, DataFrame)] =
      if (scatterQs.isEmpty) None
      else Some(hybridScatterLists(ix,
        queryTerms.filter(col("query_id").isin(scatterQs.toSeq: _*)), nd, qn))
    val boundedLists: Option[(DataFrame, DataFrame)] = phase1.collect {
      case (cand1, score1, _, _) if bounded.nonEmpty =>
        val s1 = score1.filter(col("query_id").isin(bounded.toSeq: _*))
        val e2 = bounded.toSeq.flatMap { q =>
          (bmEssential(q) ++ jacEssential(q)).distinct.map(q -> _)
        }
        val scored =
          if (e2.isEmpty) s1
          else {
            val c2 = ix.tf.select("doc_id", "term")
              .join(broadcast(e2.toDF("query_id", "term")), Seq("term"))
              .filter(col("doc_id") =!= col("query_id"))
              .select("query_id", "doc_id").distinct()
              .join(cand1, Seq("query_id", "doc_id"), "left_anti")
            s1.unionByName(scoreHybridPairs(ix, qtPairs, c2))
          }
        val pinned = graft.TrackedCaches.track(scored.cache())
        val wb = Window.partitionBy("query_id")
          .orderBy(col("smicro").desc, col("doc_id"))
        val bmRanks = graft.plans.TopKPerKey
          .topKPerKey(pinned, ListK, Seq("query_id"),
            Seq("smicro" -> false, "doc_id" -> true))
          .withColumn("rk", row_number().over(wb))
          .select("query_id", "doc_id", "rk")
        val jacScored = pinned.join(nd, "doc_id").join(broadcast(qn), "query_id")
          .withColumn("jmicro", jacMicros)
        val wj = Window.partitionBy("query_id")
          .orderBy(col("jmicro").desc, col("doc_id"))
        val jacRanks = graft.plans.TopKPerKey
          .topKPerKey(jacScored, ListK, Seq("query_id"),
            Seq("jmicro" -> false, "doc_id" -> true))
          .withColumn("rk", row_number().over(wj))
          .select("query_id", "doc_id", "rk")
        (bmRanks, jacRanks)
    }
    val lists = scatterLists.toSeq ++ boundedLists.toSeq
    // Degenerate input (no sub-ceiling query term anywhere): both route
    // Options are empty — return the empty result frame with the fusion
    // output schema rather than throwing on an empty reduce.
    val result =
      if (lists.isEmpty)
        Seq.empty[(Long, Int, Long, Double, Int)]
          .toDF("query_id", "rk", "doc_id", "rrf", "n_lists")
      else fuseLists(
        lists.map(_._1).reduce(_ unionByName _),
        lists.map(_._2).reduce(_ unionByName _))
    HybridPlan(result, bmEssential, jacEssential, nTerms, bounded)
  }

  val hybridRrfSql: String =
    s"""WITH toks AS (SELECT doc_id, u.t AS term
                      FROM documents, unnest(string_split(text, ' ')) u(t)),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
        stats AS (SELECT count(*) AS n,
                    CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM dl),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT doc_id, count(*) AS nterms FROM tf GROUP BY 1),
        qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < $NumQueries),
        qn AS (SELECT doc_id AS query_id, nterms AS qterms FROM nd
               WHERE doc_id < $NumQueries),
        base AS (SELECT q.query_id, f.doc_id, f.tf, d.df
                 FROM qt q JOIN dft d USING (term) JOIN tf f USING (term), stats s
                 WHERE f.doc_id <> q.query_id AND d.df * 100 <= s.n * $MaxDfPct),
        bm AS (SELECT b.query_id, b.doc_id,
                 round(CAST(sum(
                   CAST(round(ln(1.0 + (CAST(s.n AS BIGINT) - b.df + 0.5) / (b.df + 0.5))
                     * (b.tf * ${K1 + 1.0})
                     / (b.tf + $K1 * (${1.0 - B} + $B * (CAST(l.len AS DOUBLE) / s.avglen))),
                     6) AS DECIMAL(20, 6))) AS DOUBLE), 6) AS score
               FROM base b JOIN dl l ON l.doc_id = b.doc_id, stats s
               GROUP BY 1, 2),
        bmr AS (SELECT query_id, doc_id, rk FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id) AS rk
                  FROM bm) WHERE rk <= $ListK),
        jac AS (SELECT i.query_id, i.doc_id,
                  round(CAST(i.inter AS DOUBLE)
                    / CAST(q.qterms + n.nterms - i.inter AS DOUBLE), 6) AS jac
                FROM (SELECT query_id, doc_id, count(*) AS inter
                      FROM base GROUP BY 1, 2) i
                JOIN nd n ON n.doc_id = i.doc_id
                JOIN qn q ON q.query_id = i.query_id),
        jr AS (SELECT query_id, doc_id, rk FROM (
                 SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY jac DESC, doc_id) AS rk
                 FROM jac) WHERE rk <= $ListK),
        fused AS (SELECT query_id, doc_id,
                    round(CAST(sum(CAST(round(1.0 / ($RrfK + rk), 6)
                      AS DECIMAL(20, 6))) AS DOUBLE), 6) AS rrf,
                    CAST(count(*) AS INT) AS n_lists
                  FROM (SELECT * FROM bmr UNION ALL SELECT * FROM jr)
                  GROUP BY 1, 2)
        SELECT query_id, rk, doc_id, rrf, n_lists FROM (
          SELECT query_id, doc_id, rrf, n_lists,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf DESC, doc_id) AS INT) AS rk
          FROM fused) WHERE rk <= $TopK
        ORDER BY query_id, rk"""
}
