package graft

import graft.llm.Retrieval
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Text-retrieval invariants beyond the oracle hash gate (which proves
  * Spark and DuckDB agree, not that the ranking is sane) — plus the plan
  * shape that keeps the postings join corpus-linear. */
class RetrievalSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def ranked(df: org.apache.spark.sql.DataFrame, score: String) = {
    val rows = df.collect()
    // Full result: every query present, exactly top-k rows, ranks 1..k.
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.size == Retrieval.NumQueries,
      s"expected ${Retrieval.NumQueries} queries, got ${perQuery.keySet}")
    perQuery.foreach { case (q, g) =>
      assert(g.length == Retrieval.TopK, s"query $q: ${g.length} rows")
      assert(g.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to Retrieval.TopK),
        s"query $q: ranks not 1..${Retrieval.TopK}")
      // Scores non-increasing in rank; self never retrieved.
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      val ss = byRk.map(_.getAs[Double](score))
      assert(ss.zip(ss.tail).forall { case (a, b) => a >= b },
        s"query $q: $score not non-increasing: ${ss.toSeq}")
      assert(g.forall(_.getAs[Long]("doc_id") != q), s"query $q retrieved itself")
    }
    rows
  }

  test("bm25 returns a full, sane, self-free top-k per query") {
    val rows = ranked(Retrieval.bm25TopK(spark, Sf), "score")
    // Robertson idf is strictly positive, so every reported score is > 0.
    assert(rows.forall(_.getAs[Double]("score") > 0), "non-positive BM25 score")
  }

  test("hybrid RRF fuses both rankers and bounds contributions") {
    val rows = ranked(Retrieval.hybridRrf(spark, Sf), "rrf")
    // Every fused doc came from 1 or 2 lists; its score is bounded by the
    // best possible contribution of that many lists and is at least the
    // worst (rank=ListK) contribution of one.
    rows.foreach { r =>
      val nl = r.getAs[Int]("n_lists")
      assert(nl == 1 || nl == 2, s"n_lists $nl")
      val v = r.getAs[Double]("rrf")
      assert(v <= nl * (1.0 / (Retrieval.RrfK + 1)) + 1e-9, s"rrf $v too high for $nl lists")
      assert(v >= 1.0 / (Retrieval.RrfK + Retrieval.ListK) - 1e-9, s"rrf $v below floor")
    }
    // Fusion must actually mix: across the result, docs backed by both
    // lists exist (the two rankers agree on SOME strong hits).
    assert(rows.exists(_.getAs[Int]("n_lists") == 2),
      "no doc was ranked by both BM25 and Jaccard — fusion degenerated")
    // hybridRrf pins its candidate scatter; a cached fragment DOWNSTREAM
    // of the postings probe would be plan-matched into the later
    // plan-shape test's bm25TopK run and swallow the broadcast join it
    // asserts on — drop it before any plan-sensitive test runs.
    graft.TrackedCaches.release()
  }

  test("forward-index scoring equals inverted-index scoring pair-for-pair") {
    // The streaming gate's stage 2 (scoreCandidates: broadcast candidate
    // list folding each doc's term array) must produce the SAME score as
    // the batch path (scoreAgainst: postings join + DECIMAL sum) for every
    // pair — the DECIMAL discipline makes both order-independent, so any
    // difference is an arithmetic divergence bug.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val full = Retrieval.scoreAgainst(ix, qt)
    val viaFwd = Retrieval.scoreCandidates(ix, Retrieval.forwardIndex(ix), qt,
      full.select("query_id", "doc_id"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (a, b) = (asMap(full), asMap(viaFwd))
    assert(a.nonEmpty && a == b,
      s"score divergence: ${(a.toSet diff b.toSet).take(3)} vs ${(b.toSet diff a.toSet).take(3)}")
  }

  test("fused bm25 fold merge equals the interpreted higher-order fold pair-for-pair") {
    // Round 16 replaced stage 2's interpreted
    // `aggregate(filter(terms, e -> qmap[e.term] IS NOT NULL), ...)`
    // composition with the fused codegen merge Bm25FoldMicros (guide §4:
    // per-ELEMENT interpreted eval + a linear map probe per lambda owned
    // the decontam family's sampling profile). Same discipline as the
    // round-11 floor-vs-string-round pin below: the REPLACED formulation
    // stays in the test verbatim and the live corpus must score
    // pair-for-pair identical through both, so any arithmetic or
    // matched-set divergence in the merge fails loudly here rather than
    // surfacing as an oracle hash flip.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val qd = Retrieval.subCeilingQueryDf(ix, qt)
    val cand = Retrieval.screenCandidates(ix, qt)
    val fwd = Retrieval.forwardIndex(ix)
    val fused = Retrieval.scoreCandidatesQd(ix, fwd, qd, cand)
    val qmaps = qd.groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("df"))))
        .as("qmap"))
    val interp = fwd.join(broadcast(cand), "doc_id")
      .join(broadcast(qmaps), "query_id")
      .withColumn("smicro", expr(s"""
        aggregate(
          filter(terms, e -> qmap[e.term] IS NOT NULL),
          CAST(0 AS BIGINT),
          (acc, e) -> acc + CAST(floor(
            ln(1.0D + (CAST(${ix.n} AS BIGINT) - qmap[e.term] + 0.5D)
                      / (qmap[e.term] + 0.5D))
            * (e.tf * ${Retrieval.K1 + 1.0}D)
            / (e.tf + ${Retrieval.K1}D * (${1.0 - Retrieval.B}D
                 + ${Retrieval.B}D * (CAST(len AS DOUBLE) / ${ix.avgLen}D)))
            * 1000000.0D + 0.5D) AS BIGINT))"""))
      .select(col("query_id"), col("doc_id"),
        round(col("smicro").cast("double") / lit(1000000.0), 6).as("score"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (a, b) = (asMap(fused), asMap(interp))
    assert(a.nonEmpty && a == b,
      s"fused merge diverges from the interpreted fold: " +
        s"${(a.toSet diff b.toSet).take(3)} vs ${(b.toSet diff a.toSet).take(3)}")
  }

  test("floor-based impact micros: formulation-identical and boundary-safe") {
    // Round 11 replaced the string-based round(ts,6) in the impact
    // computation (BigDecimal.valueOf -> Double.toString dtoa — the
    // hottest frame of the retrieval-family profile) with
    // floor(ts*1e6 + 0.5), half-up on the exact binary product. Two
    // empirical pins, re-run every round on the live corpora: (1) the two
    // formulations agree posting-for-posting; (2) no posting's shifted
    // product sits anywhere near an integer boundary, so a 1-ulp ln()
    // difference between engines (StrictMath vs libm) cannot flip any
    // floor — the cross-engine-agreement argument is corpus-verified, not
    // assumed.
    import org.apache.spark.sql.functions._
    Seq(Sf, "/root/testdata/sf0.01").foreach { sf =>
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      val tf0 = Retrieval.postings(docs)
      val dl = tf0.groupBy("doc_id").agg(sum("tf").as("len"))
      val st = dl.agg(count(lit(1)).as("n"),
        (sum("len").cast("double") / count(lit(1))).as("avglen")).head()
      val (n, avgLen) = (st.getLong(0), st.getDouble(1))
      val joined = tf0.join(dl, "doc_id")
        .join(tf0.groupBy("term").agg(count(lit(1)).as("df")), "term")
      val diverged = joined.filter(
        Retrieval.impMicros(n, avgLen) =!=
          Retrieval.impMicrosViaStringRound(n, avgLen)).count()
      assert(diverged == 0, s"$sf: $diverged postings diverge between " +
        "floor-based and string-round impact formulations")
      // A 1-ulp ln() difference perturbs the ~1e7-magnitude shifted
      // product by ~2e-9 per op (relative 2^-52), call it ~1e-8 through
      // the whole chain; 1e-6 demands two orders of magnitude of slack
      // (the sf0.001 corpus minimum measures ~6e-5).
      val minDist = joined.agg(min(Retrieval.impBoundaryDist(n, avgLen)))
        .head().getDouble(0)
      assert(minDist > 1e-6, s"$sf: a posting sits $minDist micro-units " +
        "from a floor boundary — too close to rely on cross-engine ulp slack")
    }
  }

  test("incremental screen index append equals a from-scratch rebuild") {
    // The evolving gate's driver-maintained index must be bit-identical
    // to rebuilding the snapshot from the grown corpus: appending docs
    // moves n/avgLen/df (re-pricing every impact, possibly moving terms
    // across the df ceiling), and the local impact mirror must reproduce
    // the Catalyst expression exactly (StrictMath.log + identical op
    // order). Compared content-wise — the distributed build's row orders
    // are arbitrary where the screen is order-invariant.
    import org.apache.spark.sql.functions.col
    val all = Tables.documents(spark, Sf).select("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    val inc = Retrieval.incrementalIndexOf(corpus)
    inc.append(batch)
    val viaInc = inc.snapshot()
    val rebuilt = Retrieval.buildScreenSnapshot(all)
    def content(ss: Retrieval.ScreenSnapshot) = (
      ss.n, ss.avgLen,
      ss.terms.toSeq.zip(ss.termDf.toSeq),
      ss.terms.indices.map(i => ss.terms(i) -> ss.postings(i).toSeq).toMap,
      ss.docIds.indices.map { d =>
        ss.docIds(d) -> ss.docTermIdx(d).indices
          .map(j => ss.terms(ss.docTermIdx(d)(j)) -> ss.docImp(d)(j)).toMap
      }.toMap)
    assert(content(viaInc) == content(rebuilt),
      "incremental snapshot diverged from the from-scratch rebuild")
    assert(viaInc.n == all.count(), "snapshot lost documents")
  }

  test("evolving-dist index reopened on an existing base dir rebuilds exact stats") {
    // The distributed evolving index's standing state is durable parquet;
    // its corpus scalars (n, avgLen) must be durable WITH it — a second
    // instance constructed over the same base dir screens with
    // bit-identical BM25 constants (they are rebuilt from the per-append
    // stats delta files, not recomputed from the data dirs).
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodist_reopen_").toString
    try {
      val all = Tables.documents(spark, Sf).select("doc_id", "text")
      val ix = new Retrieval.EvolvingDistIndex(spark, base)
      ix.append(all.filter(col("doc_id") % 5 =!= 0))
      ix.append(all.filter(col("doc_id") % 5 === 0))
      val reopened = new Retrieval.EvolvingDistIndex(spark, base)
      assert(reopened.n == ix.n, "reopened index lost documents")
      assert(reopened.avgLen == ix.avgLen,
        "reopened index's avgLen is not bit-identical")
      assert(ix.n == all.count(), "stats deltas disagree with the corpus")
    } finally graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("evolving-dist torn append fails loudly on reopen AND on screen — " +
      "never serves inconsistent BM25 constants") {
    // Appends are four writes with no transaction (documented caveat).
    // The intent-marker protocol makes the caveat ENFORCED: a crash
    // between the first data write and the stats delta leaves an
    // orphaned intent_<id> marker, and both a reopen and the live
    // instance's next screen must refuse — the failure mode being
    // excluded is data rows in postings/ that the corpus stats (n,
    // avgLen) silently do not count.
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodist_torn_").toString
    try {
      val all = Tables.documents(spark, Sf).select("doc_id", "text")
      val ix = new Retrieval.EvolvingDistIndex(spark, base)
      ix.append(all.filter(col("doc_id") % 5 =!= 0))
      // Simulate the crash: the marker an interrupted append leaves when
      // it dies after staking intent (its data writes may be partial).
      java.nio.file.Files.write(
        java.nio.file.Paths.get(base, "stats", "intent_crashed.txt"),
        "pending".getBytes("UTF-8"))
      val batch = all.filter(col("doc_id") % 5 === 0).limit(3)
      val onScreen = intercept[IllegalStateException] {
        ix.screen(batch).collect()
      }
      assert(onScreen.getMessage.contains("interrupted append"),
        s"wrong failure: ${onScreen.getMessage}")
      val onReopen = intercept[IllegalStateException] {
        new Retrieval.EvolvingDistIndex(spark, base)
      }
      assert(onReopen.getMessage.contains("interrupted append"))
      // Recovery: remove the torn marker (delete-and-reseed stands in for
      // it here since no partial data actually landed) — serving resumes.
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(base, "stats", "intent_crashed.txt"))
      assert(new Retrieval.EvolvingDistIndex(spark, base).n == ix.n)
      assert(ix.screen(batch).count() == 3)
      graft.TrackedCaches.release()
    } finally graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("a transient append failure that commits nothing retires its own " +
      "intent — the index stays serviceable") {
    // The cheap-recovery arm of the torn-append protocol: a job that
    // fails BEFORE any parquet commits (task exception in the first
    // write) must not brick the index into a delete-and-reseed — the
    // catch verifies the committed-data census is unchanged and retires
    // the intent it staked. Contrast with the torn-append spec above,
    // where data DID land and the orphan must stay.
    import org.apache.spark.sql.functions.{col, udf}
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodist_clean_fail_").toString
    try {
      val all = Tables.documents(spark, Sf).select("doc_id", "text")
      val ix = new Retrieval.EvolvingDistIndex(spark, base)
      ix.append(all.filter(col("doc_id") % 5 =!= 0))
      val boom = udf { (_: Long) =>
        if (true) throw new RuntimeException("transient task failure")
        "unreachable"
      }
      val bad = all.limit(2).select(col("doc_id"), boom(col("doc_id")).as("text"))
      intercept[Exception] { ix.append(bad) }
      // No orphaned intent: screening and reopening both still serve.
      val batch = all.filter(col("doc_id") % 5 === 0).limit(3)
      assert(ix.screen(batch).count() == 3,
        "a commits-nothing failure must not poison the live instance")
      assert(new Retrieval.EvolvingDistIndex(spark, base).n == ix.n,
        "reopen must succeed after a clean transient failure")
      graft.TrackedCaches.release()
    } finally graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("evolving-dist compaction crash (lost dir mid-swap) fails the next " +
      "screen loudly") {
    // compact()'s documented contract: the rewrite-and-swap is not
    // crash-atomic — a crash between a deleteRec and its move loses a
    // dir, and the next screen must fail LOUDLY (path-not-found), never
    // quietly score against partial state. Simulate the torn swap: the
    // dfd dir deleted, its compacted replacement still stranded at the
    // tmp path.
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodist_tornswap_").toString
    try {
      val all = Tables.documents(spark, Sf).select("doc_id", "text")
      val ix = new Retrieval.EvolvingDistIndex(spark, base)
      ix.append(all.filter(col("doc_id") % 5 =!= 0))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(base, "dfd"),
        java.nio.file.Paths.get(base, "_compact_dfd"))
      val boom = intercept[Exception] {
        ix.screen(all.filter(col("doc_id") % 5 === 0).limit(3)).collect()
      }
      assert(boom.getMessage != null &&
        (boom.getMessage.contains("PATH_NOT_FOUND") ||
          boom.getMessage.toLowerCase.contains("path does not exist")),
        s"expected a loud path failure, got: ${boom.getMessage}")
      graft.TrackedCaches.release()
    } finally graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("screening candidates stay capped per query") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    // Screen ALL docs as queries — the streaming regime this bound exists for.
    val qt = ix.tf.select(col("doc_id").as("query_id"), col("term"))
    val perQuery = Retrieval.screenCandidates(ix, qt)
      .groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty)
    val worst = perQuery.map(_.getLong(1)).max
    assert(worst <= Retrieval.CandCap,
      s"a query exceeded CandCap: $worst > ${Retrieval.CandCap}")
  }

  // MaxScore gates: the routed top-k must EQUAL the full scatter on any
  // corpus (route choice is cost-only), and on a corpus with genuinely
  // selective terms the bounded route must actually engage and actually
  // shrink the essential term set — the pruning-evidence analogue of a
  // plan-shape assert.
  private def bruteTopK(ix: graft.llm.Retrieval.Bm25Index,
      qt: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    Retrieval.scoreAgainst(ix, qt)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= Retrieval.TopK)
      .select("query_id", "rk", "doc_id", "score")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
  }

  test("maxscore routed top-k equals the full scatter exactly") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val plan = Retrieval.maxScoreTopK(spark, ix, qt, Retrieval.TopK)
    val routed = plan.result.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(routed == bruteTopK(ix, qt), "routed top-k diverged from full scatter")
    graft.TrackedCaches.release()
  }

  test("maxscore prunes non-essential posting lists on a selective corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // Crafted corpus, 200 docs: 8 common terms at df=150 (75% — under the
    // 85% ceiling, over the 25% selectivity gate) and one rare term per
    // query at df=13 (6.5%). Rare idf ~2.7 dominates the 6-common ub mass
    // ~1.7, so theta from the rare-sharing cluster absorbs EVERY common
    // term into the non-essential set: E should collapse to the rare term.
    val docs = (0L until 200L).map { i =>
      val commons = (0 until 8).collect { case j if (i + j) % 4 != 0 => s"c$j" }
      val rare =
        if (i < 5) Seq(s"r$i")
        else (0 until 5).collect { case q if i >= 5 + q * 12 && i < 17 + q * 12 => s"r$q" }
      (i, (commons ++ rare).mkString(" "))
    }.toDF("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val plan = Retrieval.maxScoreTopK(spark, ix, qt, Retrieval.TopK)
    val routed = plan.result.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    // Every query routes bounded, and pruning is real: the essential set
    // is a strict subset of the query's terms (here: the rare term alone).
    assert(plan.boundedQueries == (0L until 5L).toSet,
      s"expected all queries bounded, got ${plan.boundedQueries}")
    (0L until 5L).foreach { q =>
      assert(plan.essential(q).size < plan.nTerms(q),
        s"query $q: essential ${plan.essential(q)} did not shrink below ${plan.nTerms(q)}")
      assert(plan.essential(q).contains(s"r$q"),
        s"query $q: rare term not essential: ${plan.essential(q)}")
    }
    // And the bounded result is still the exact top-k.
    assert(routed == bruteTopK(ix, qt), "bounded top-k diverged from full scatter")
    graft.TrackedCaches.release()
  }

  test("maxscore phase 2 rescans seed lists: cap-evicted docs still surface") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 2000 docs. Query 0 = {r, c0..c3}; r at df=401 (20% — passes the
    // selectivity gate), commons at df=1401 (70% — sub-ceiling). Docs
    // 1-300 duplicate the query text, so phase 1's (shared-seed-count,
    // doc_id) cap keeps docs 1-256 and EVICTS everything else —
    // including doc 399, which shares ONLY r but with tf=50 is the
    // corpus's single best BM25 hit, while theta absorbs every common
    // term into the non-essential set (E = {r}). Exactness therefore
    // requires phase 2 to rescan the SEED term's posting list for the
    // evicted tail — the regression this spec pins is phase 2 skipping
    // seed lists and silently dropping doc 399 from the top k.
    val docs = (0L until 2000L).map { i =>
      val t =
        if (i <= 300L) "r c0 c1 c2 c3"
        else if (i == 399L) Seq.fill(50)("r").mkString(" ")
        else if (i <= 400L) "r"
        else if (i <= 1500L) "c0 c1 c2 c3"
        else "z"
      (i, t)
    }.toDF("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_id"), col("term"))
    val plan = Retrieval.maxScoreTopK(spark, ix, qt, Retrieval.TopK)
    val routed = plan.result.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    // The claim only bites if the route is genuinely bounded with E={r}.
    assert(plan.boundedQueries == Set(0L),
      s"query not routed bounded: ${plan.boundedQueries}")
    assert(plan.essential(0L) == Seq("r"),
      s"essential set not collapsed to the rare term: ${plan.essential(0L)}")
    assert(routed == bruteTopK(ix, qt),
      "routed top-k diverged from the full scatter on the eviction corpus")
    assert(routed.exists(t => t._3 == 399L && t._2 == 1),
      s"cap-evicted doc 399 missing from rank 1: $routed")
    graft.TrackedCaches.release()
  }

  // Hybrid routing gates — same discipline as the MaxScore gates: the
  // routed fusion must EQUAL the all-scatter fusion on any corpus (route
  // choice is cost-only), and on a selective corpus BOTH rankers'
  // essential sets must actually shrink. The brute reference is built
  // from the same list-constructor + fusion helpers the routed plan's
  // scatter route uses, so any divergence isolates to the bounded lists.
  private def hybridSides(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val ix = Retrieval.buildIndex(docs)
    val qt = ix.tf.filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val nd = ix.tf.groupBy("doc_id").agg(count(lit(1)).as("nterms"))
    val qn = qt.groupBy("query_id").agg(count(lit(1)).as("qterms"))
    (ix, qt, nd, qn)
  }

  private def asFusedSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
      r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"),
      r.getAs[Int]("n_lists"))).toSet

  test("hybrid routed fusion equals the all-scatter fusion exactly") {
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val (ix, qt, nd, qn) = hybridSides(docs)
    val routed = asFusedSet(Retrieval.hybridTopK(spark, ix, qt).result)
    val (bm, jac) = Retrieval.hybridScatterLists(ix, qt, nd, qn)
    val brute = asFusedSet(Retrieval.fuseLists(bm, jac))
    assert(routed.nonEmpty && routed == brute,
      "routed hybrid diverged from the all-scatter fusion")
    graft.TrackedCaches.release()
  }

  test("hybrid prunes both rankers on a selective corpus") {
    import spark.implicits._
    // The maxscore fixture corpus: 8 commons at df=150 (75%), one rare
    // term per query at df=13 (6.5%). The BM25 partition collapses to the
    // rare term; the Jaccard prefix-filter bound (theta_j ~ the 0.75-0.86
    // identical-pattern plateau, |q| = 7 distinct terms) forces m >= 6
    // shared terms, leaving 2 essential terms of 7.
    val docs = (0L until 200L).map { i =>
      val commons = (0 until 8).collect { case j if (i + j) % 4 != 0 => s"c$j" }
      val rare =
        if (i < 5) Seq(s"r$i")
        else (0 until 5).collect { case q if i >= 5 + q * 12 && i < 17 + q * 12 => s"r$q" }
      (i, (commons ++ rare).mkString(" "))
    }.toDF("doc_id", "text")
    val (ix, qt, nd, qn) = hybridSides(docs)
    val plan = Retrieval.hybridTopK(spark, ix, qt)
    val routed = asFusedSet(plan.result)
    assert(plan.boundedQueries == (0L until 5L).toSet,
      s"expected all queries bounded, got ${plan.boundedQueries}")
    (0L until 5L).foreach { q =>
      assert(plan.bmEssential(q).size < plan.nTerms(q),
        s"query $q: bm essential ${plan.bmEssential(q)} did not shrink")
      assert(plan.jacEssential(q).size < plan.nTerms(q),
        s"query $q: jac essential ${plan.jacEssential(q)} did not shrink")
      assert(plan.jacEssential(q).contains(s"r$q"),
        s"query $q: rare term not jac-essential: ${plan.jacEssential(q)}")
    }
    val (bm, jac) = Retrieval.hybridScatterLists(ix, qt, nd, qn)
    assert(routed == asFusedSet(Retrieval.fuseLists(bm, jac)),
      "bounded hybrid diverged from the all-scatter fusion")
    graft.TrackedCaches.release()
  }

  test("class-split screening candidates equal the full scatter exactly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // One corpus, all three pruned routes plus the fallback, checked
    // row-for-row against the flat scatter. 16384 docs over a 30-token
    // pool, each token in ~80% of docs — far above SelDfFrac, so pool
    // terms are COMMON. Three query populations:
    //   - docs 1000..1063: plain pool docs — every rare term common →
    //     class B, and the all-k density p ~ (0.8)^4 sizes the doc-id
    //     prefix at ~2k docs, well under WaveMaxFrac*n = 4k → the prefix
    //     wave engages and satisfies (CandCap all-k docs in prefix).
    //   - docs 2..63: members of a 300-doc cluster sharing the SELECTIVE
    //     token "sel0" (df=300 < 5% of n) → class A: only sel0's posting
    //     list scatters; the 3 common rare terms fold back through the
    //     bitmask; ~0.8^3 * 299 ~ 150 >= CandCap cluster docs match all 4
    //     → proven exact (min kept nmatch = 4 >= ncom+1 = 4).
    //   - docs 0,1: share the df=2 token "rarepair" → class A with 1
    //     candidate — cannot fill CandCap → MUST take the exact fallback.
    // "base" is in every doc (df = n, above the 85% ceiling): guarantees
    // non-empty text without entering the screen.
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0L until 16384L).map { d =>
      val toks = vocab.filter(t => ((d * 31 + t.drop(1).toInt * 17) % 5) != 0L)
      val extra = if (d < 2) " rarepair"
        else if (d >= 2 && d < 302) " sel0" else ""
      (d, ("base " + toks.mkString(" ") + extra).trim)
    }.toDF("doc_id", "text")
    val ix = Retrieval.buildIndex(docs, cache = true)
    val qt = ix.tf
      .filter(col("doc_id") < 64 ||
        (col("doc_id") >= 1000 && col("doc_id") < 1064))
      .select(col("doc_id").as("query_id"), col("term"))
    def cands(): Set[(Long, Long)] =
      Retrieval.screenCandidates(ix, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val waved = cands()
    val stats = spark.conf.get("graft.retrieval.waveStats")
    spark.conf.set("graft.retrieval.wavePrune", "off")
    val flat =
      try cands()
      finally spark.conf.unset("graft.retrieval.wavePrune")
    assert(waved == flat, "class-split candidates diverged from the scatter")
    // Engagement evidence: the commons bitmask was built (the pool dfs
    // tie at two values, so lexicographic tie-breaks concentrate every
    // arrival's rare-4 onto a handful of distinct pool terms) and the
    // class-B prefix wave pruned the 64 pure-pool arrivals.
    val nc = "commons=(\\d+)".r.findFirstMatchIn(stats).map(_.group(1).toInt)
    assert(nc.exists(c => c >= 4 && c <= 30), s"expected pool commons, got $stats")
    val np = "prunableB=(\\d+)".r.findFirstMatchIn(stats).map(_.group(1).toInt)
    assert(np.exists(n => n >= 32 && n <= 64),
      s"expected the 64 pure-pool arrivals to wave-prune, got $stats")
    graft.TrackedCaches.release()
  }

  test("degenerate selective mass routes the whole batch to the exact scatter") {
    // A batch whose entire selective posting mass cannot fill one CandCap
    // has no provable ncom>0 arrival — the class-split kernel is dead
    // weight by construction and the screen must route flat (same rows,
    // five fewer driver jobs). Corpus: 4096 docs over an all-common pool
    // (every pool term in ~80% of docs, far above SelDfFrac) plus one
    // df=2 selective token — selMass = 2 < CandCap.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0L until 4096L).map { d =>
      val toks = vocab.filter(t => ((d * 31 + t.drop(1).toInt * 17) % 5) != 0L)
      val extra = if (d < 2) " rarepair" else ""
      (d, ("base " + toks.mkString(" ") + extra).trim)
    }.toDF("doc_id", "text")
    val ix = Retrieval.buildIndex(docs, cache = true)
    val qt = ix.tf.filter(col("doc_id") < 64)
      .select(col("doc_id").as("query_id"), col("term"))
    def cands(): Set[(Long, Long)] =
      Retrieval.screenCandidates(ix, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = cands()
    val stats = spark.conf.get("graft.retrieval.waveStats")
    assert(stats.contains("underCap"),
      s"expected the degenerate-selectivity flat route, got $stats")
    spark.conf.set("graft.retrieval.wavePrune", "off")
    val flat =
      try cands()
      finally spark.conf.unset("graft.retrieval.wavePrune")
    assert(routed == flat, "underCap route diverged from the scatter")
    graft.TrackedCaches.release()
  }

  test("low provable coverage routes the whole batch to the exact scatter") {
    // The round-14 refinement: batch-total selective mass CLEARS the cap
    // (so the round-13 underCap gate misses) but per-arrival provability
    // — an arrival's own selective lists filling CandCap — holds for
    // almost no arrival, so the kernel's machinery is near-pure added
    // cost (unproven arrivals fall through to the scatter anyway; the
    // in-suite census measured proven=0-5% while the kernel cost
    // ~7 s/screen). Corpus: an all-common pool plus a selective token
    // family where each QUERY doc holds exactly one df=8 selective term —
    // selMass = 32*8 = 256 >= CandCap, per-arrival mass = 8 < CandCap,
    // coverage UB = 0.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0L until 4096L).map { d =>
      val toks = vocab.filter(t => ((d * 31 + t.drop(1).toInt * 17) % 5) != 0L)
      // 32 selective families, df=8 each (docs 0-255 carry one apiece).
      val sel = if (d < 256) s" sel${d % 32}" else ""
      (d, ("base " + toks.mkString(" ") + sel).trim)
    }.toDF("doc_id", "text")
    val ix = Retrieval.buildIndex(docs, cache = true)
    val qt = ix.tf.filter(col("doc_id") < 64)
      .select(col("doc_id").as("query_id"), col("term"))
    def cands(): Set[(Long, Long)] =
      Retrieval.screenCandidates(ix, qt).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = cands()
    val stats = spark.conf.get("graft.retrieval.waveStats")
    assert(stats.contains("lowCoverage"),
      s"expected the low-coverage flat route, got $stats")
    spark.conf.set("graft.retrieval.wavePrune", "off")
    val flat =
      try cands()
      finally spark.conf.unset("graft.retrieval.wavePrune")
    assert(routed == flat, "lowCoverage route diverged from the scatter")
    graft.TrackedCaches.release()
  }

  test("postings join broadcasts the query side and never goes quadratic") {
    val df = Retrieval.bm25TopK(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"query-term side must broadcast:\n$plan")
    val cart = collectWithSubqueries(plan) { case j: CartesianProductExec => j }
    assert(cart.isEmpty, s"no cartesian product in a retrieval plan:\n$plan")
  }

  // ── Standing BM25 index: the serving-regime contract ──
  // The oracle gate proves q_bm25_standing matches DuckDB — but it would
  // also pass if the "standing" path quietly rebuilt per call. Pin the
  // parts the oracle can't see: probe ≡ rebuild row-identical, the
  // second build is a no-op, and the probe's standing scans carry the
  // term-bucket partition filter (reads ~|query buckets|, not corpus).

  test("standing BM25 probe is row-identical to the rebuild-every-time bm25TopK") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_spec").toString
    assert(Retrieval.bm25BuildIfStale(spark, Sf, base), "first call builds")
    val queries = Tables.documents(spark, Sf)
      .select("doc_id", "text").filter(col("doc_id") < Retrieval.NumQueries)
    val standing = Retrieval.bm25Probe(spark, base, queries)
      .collect().map(_.toString).toSeq
    val rebuild = Retrieval.bm25TopK(spark, Sf)
      .collect().map(_.toString).toSeq
    assert(standing.nonEmpty)
    assert(standing == rebuild, "standing probe diverged from bm25TopK")
    assert(!Retrieval.bm25BuildIfStale(spark, Sf, base),
      "unchanged corpus must not rebuild")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("standing BM25 delete: live-docs mask with frozen stats, identical " +
      "across compaction, idempotent") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, round, row_number, sum}
    // Wipe the shipped query's standing dir so every run exercises the
    // build + delete transition.
    val qbase = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_delete"
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
    val got = Retrieval.bm25TopKStandingDelete(spark, Sf)
      .collect().map(_.toString).toSeq
    // Independent frozen-stats reference WITHOUT the standing dirs: the
    // full-corpus index's candidates (full-corpus df/N/avgLen baked into
    // the impacts), MASKED to the live docs, ranked by the same top-k —
    // i.e. Lucene's deleted-doc semantics computed from first principles.
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val ix = Retrieval.buildIndex(docs)
    val queries = docs.filter(col("doc_id") < Retrieval.NumQueries)
    val qt = Retrieval.postings(queries)
      .select(col("doc_id").as("query_id"), col("term"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("smicro").desc, col("doc_id"))
    val expected = Retrieval.candidates(ix, qt)
      .filter(col("doc_id") % 9 =!= 4)
      .groupBy("query_id", "doc_id").agg(sum("imp").as("smicro"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= Retrieval.TopK)
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("smicro").cast("double") / lit(1000000.0), 6).as("score"))
      .orderBy("query_id", "rk")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty)
    assert(got == expected,
      "post-delete probe diverged from the masked frozen-stats reference")
    // The mask is decisive: the undeleted top-k differs (some deleted doc
    // ranked before the purge).
    val undeleted = Retrieval.bm25TopKStanding(spark, Sf)
      .collect().map(_.toString).toSeq
    assert(undeleted != got,
      "fixture corpus makes the delete vacuous — pick a different slice")
    // Idempotency: re-deleting the same slice is a pure-mask no-op, and
    // an EMPTY delete is a hard no-op (a zero-row write could strand a
    // data-less tombs dir the mask's read can't infer a schema from).
    Retrieval.bm25Delete(spark, qbase,
      docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
    Retrieval.bm25Delete(spark, qbase, docs.filter(lit(false)).select("doc_id"))
    assert(Retrieval.bm25TopKStandingDelete(spark, Sf)
      .collect().map(_.toString).toSeq == got,
      "re-delete moved the probe answer")
    // Compaction drops the rows physically, retires the tombstones, and
    // must not move the answer (frozen impacts survive the rewrite).
    Retrieval.bm25Compact(spark, qbase)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$qbase/tombs")),
      "compaction must retire the tombstone list")
    assert(spark.read.parquet(s"$qbase/postings")
        .filter(col("doc_id") % 9 === 4).count() == 0,
      "compaction left physically-deleted posting rows")
    assert(Retrieval.bm25TopKStandingDelete(spark, Sf)
      .collect().map(_.toString).toSeq == got,
      "compaction moved the post-delete answer")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
  }

  test("standing BM25 probe partition-prunes both scans to the query buckets") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_prune").toString
    // Pinned to 64 buckets (the fixture corpus would size one): one query
    // doc with few terms then hashes into a strict subset of them, so an
    // unpruned scan is distinguishable from a pruned one.
    Retrieval.bm25BuildIfStale(spark, Sf, base, nBuckets = 64)
    val one = Tables.documents(spark, Sf)
      .select("doc_id", "text").filter(col("doc_id") === 0L)
    val plan = Retrieval.bm25Probe(spark, base, one)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"standing scans lost their bucket partition filter:\n$plan")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("evolving-dist delete: screen equals the purged rebuild, a " +
      "fully-deleted term vanishes from the rare cut, refusals fire, " +
      "compaction drains") {
    import spark.implicits._
    def mk() = java.nio.file.Files
      .createTempDirectory("graft_evodel_spec").toString
    // Crafted so the ZERO-DF hazard is decisive, not latent (the sf0.01
    // oracle passes with or without the dftV `df > 0` filter — verified
    // by A/B — so this spec is the gate): doc 200 is the ONLY owner of
    // "zzz", which the arrival also holds. After deleting doc 200, a
    // kept zero-df "zzz" row would win the FIRST rare-term slot (rare
    // sorts df ASCENDING) and evict "link" — the arrival's only path to
    // doc 204, its true best match (tf(link)=3 beats every single-term
    // df-1 score) — flipping top_match 204 → 201. A rebuild never sees
    // the term; the delete must not either.
    val corpus = Seq(
      (200L, "zzz z1 z2 z3"),
      (201L, "a p1 p2 p3"),
      (202L, "b q1 q2 q3"),
      (203L, "c r1 r2 r3"),
      (204L, "link link link s1")
    ).toDF("doc_id", "text")
    val arrivals = Seq((9L, "zzz a b c link w1 w2")).toDF("doc_id", "text")
    def screened(ix: Retrieval.EvolvingDistIndex): Seq[String] = {
      val v = ix.screen(arrivals).collect().map(_.toString).sorted.toSeq
      graft.TrackedCaches.release(); spark.catalog.clearCache()
      v
    }
    val b1 = mk()
    val ix1 = new Retrieval.EvolvingDistIndex(spark, b1)
    ix1.append(corpus)
    val before = screened(ix1)
    ix1.delete(Seq(200L).toDF("doc_id"))
    val got = screened(ix1)
    // The purged-rebuild reference: a fresh index that never held doc 200.
    val b2 = mk()
    val ix2 = new Retrieval.EvolvingDistIndex(spark, b2)
    ix2.append(corpus.filter(col("doc_id") =!= 200L))
    val want = screened(ix2)
    assert(got == want,
      s"post-delete screen diverged from the purged rebuild:\n$got\n$want")
    assert(got != before, "the crafted delete must be decisive")
    assert(got.head.contains("204"),
      s"arrival must reach doc 204 through 'link' — the rare slot the " +
        s"zero-df hazard would steal: $got")
    // Refusals: re-delete (double-subtraction) and unknown id (stats
    // corruption) — loud, nothing written.
    intercept[IllegalStateException] { ix1.delete(Seq(200L).toDF("doc_id")) }
    intercept[IllegalStateException] { ix1.delete(Seq(999L).toDF("doc_id")) }
    // An orphaned intent (torn append OR delete) blocks deletes too.
    val intent = java.nio.file.Paths.get(b1, "stats", "intent_spec.txt")
    java.nio.file.Files.write(intent, "pending".getBytes("UTF-8"))
    intercept[IllegalStateException] { ix1.delete(Seq(201L).toDF("doc_id")) }
    java.nio.file.Files.delete(intent)
    // Compaction drops the masked rows physically, retires the tombstone
    // list, and must not move the screen.
    ix1.compact()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$b1/tombs")),
      "compaction must retire the tombstone list")
    assert(spark.read.parquet(s"$b1/postings")
        .filter(col("doc_id") === 200L).count() == 0,
      "compaction left physically-deleted posting rows")
    assert(spark.read.parquet(s"$b1/fwd")
        .filter(col("doc_id") === 200L).count() == 0,
      "compaction left physically-deleted forward rows")
    assert(screened(ix1) == want, "compaction moved the post-delete screen")
    // Drained ids are no longer provable members — a re-delete refuses
    // through the forward-index check now that the tombs witness is gone.
    intercept[IllegalStateException] { ix1.delete(Seq(200L).toDF("doc_id")) }
    graft.Fs.deleteRec(java.nio.file.Paths.get(b1))
    graft.Fs.deleteRec(java.nio.file.Paths.get(b2))
  }

  test("evolving dist index: compaction is screen-identical and shrinks the file census") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodist_compact").toString
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val inc = new Retrieval.EvolvingDistIndex(spark, base)
    inc.append(docs.filter(col("doc_id") % 5 =!= 0))
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
    // Grow the state past the seed so the rollup has deltas to fold.
    inc.append(arrivals.filter(col("doc_id") % 10 === 0))
    val probe = arrivals.filter(col("doc_id") % 10 === 5)
    val before = inc.screen(probe).collect().map(_.toString).toSeq
    graft.TrackedCaches.release()
    spark.catalog.clearCache()
    def files(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(p)
      try st.filter(q => q.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(q)).count()
      finally st.close()
    }
    val censusBefore = files(s"$base/postings") + files(s"$base/dfd")
    inc.compact()
    val censusAfter = files(s"$base/postings") + files(s"$base/dfd")
    assert(censusAfter < censusBefore,
      s"compaction did not shrink the census ($censusBefore -> $censusAfter)")
    // The dfd rollup really folded: one row per term.
    val dup = spark.read.parquet(s"$base/dfd")
      .groupBy("term").count().filter(col("count") > 1).count()
    assert(dup == 0, "dfd rollup left multiple rows for one term")
    val after = inc.screen(probe).collect().map(_.toString).toSeq
    assert(before.nonEmpty && after == before,
      "compaction moved the screen verdicts")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("evolving-dist delete: a never-indexed id refuses even when another " +
      "id's duplicate fwd rows match the batch size") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_evodel_dup").toString
    val ix = new Retrieval.EvolvingDistIndex(spark, base)
    val doc = Seq((1L, "a b c")).toDF("doc_id", "text")
    ix.append(doc)
    ix.append(doc) // duplicate append: doc 1 now holds TWO fwd rows
    // A count-based membership check (fw rows >= deleted ids) is blind
    // here: 2 fwd rows vs 2 deleted ids, one of which was never indexed
    // — the stale tombstone it would write permanently masks a later
    // legitimate append of id 999. The anti-join refusal is not.
    val ex = intercept[IllegalStateException] {
      ix.delete(Seq(1L, 999L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("no forward-index row"))
    // The refusal wrote nothing: deleting the genuinely-held id alone
    // still succeeds (a leaked tombstone would trip the re-delete guard).
    ix.delete(Seq(1L).toDF("doc_id"))
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }
}
