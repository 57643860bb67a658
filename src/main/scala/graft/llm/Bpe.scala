package graft.llm

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding merge TRAINING over the documents corpus — the
  * subword-tokenizer-construction step of an LLM data pipeline, run as a
  * distributed iterative corpus operator (the reference has no tokenizer
  * surface; this extends the text-analysis family the way the dedup/ANN
  * families extend documents/embeddings).
  *
  * Word-level BPE (Sennrich et al., the standard formulation, applied at
  * whitespace-token granularity rather than characters so the synthetic
  * corpus yields meaningful merges — [[CorpusStats.bpePairs]] is the
  * complementary single-round CHARACTER-pair statistic; this is the
  * multi-round TRAINER): each round counts every ADJACENT UNIT PAIR
  * occurrence corpus-wide, merges the most frequent pair into one unit
  * (ties break on the pair string ascending), rewrites the corpus, and
  * repeats for [[MergeRounds]] rounds. Overlapping occurrences count
  * individually ("a a a" holds two (a,a) pairs) but APPLY leftmost-first
  * non-overlapping — true BPE application order.
  *
  * Application is a plain string `replace`, made EXACT by the unit
  * encoding: every unit is self-delimited as `(unit)`, so a pair pattern
  * `(t1)(t2)` shares no characters with an adjacent occurrence and
  * leftmost non-overlapping replace IS leftmost-greedy BPE ("(a)(a)(a)(a)"
  * merges units 1-2 then 3-4 in one pass; a space-delimited encoding
  * would consume the shared delimiter and silently skip every other
  * occurrence in a run — BpeSpec pins this with a crafted chain). Both
  * engines' `replace` scan leftmost non-overlapping, which is what makes
  * the oracle an unrolled-CTE replay. '_' joins merged units; the corpus
  * vocabulary is clean lowercase words, so neither the joiner nor the
  * parens can collide (BpeSpec asserts both).
  *
  * Scale shape (100 TB): per round, ONE map-side-combined pair-count
  * aggregate over the corpus (the winner is a 1-row TakeOrdered — never a
  * global sort), one scalar unit-count aggregate, and a pure map rewrite;
  * the rewritten corpus materializes via eager localCheckpoint each round
  * (the PageRank-rounds discipline — round r never re-executes rounds
  * 1..r-1, so total work is MergeRounds x one corpus pass). The driver
  * holds only the K winning pairs. This is the textbook distributed BPE
  * trainer shape; the production refinement — delta pair-count
  * maintenance instead of a full recount per round — is implemented as
  * [[Bpe.bpeMergesDeltaOf]], spec-proven merge-table-identical, and
  * documented there with the measured reason the shipped queries keep
  * the recounting baseline on this corpus. */
object Bpe {

  /** Merge rounds learned/reported. Enough to exercise chained merges
    * (winners that contain earlier merged units) at every test SF. */
  val MergeRounds = 8

  /** Unit bound for the oracle's constant-range pair expansion (DuckDB
    * cannot lateral-join generate_series on a column) — same role and
    * value as [[Dedup.MaxWords]]; BpeSpec asserts the corpus stays under
    * it (unit count per doc only shrinks across rounds). */
  val MaxUnits = 300

  /** Unit list of the paren-encoded corpus column `u` (Spark side). */
  private def unitsOfU =
    split(expr("trim(BOTH '()' FROM u)"), "[)][(]")

  /** The learned merge table: one row per round — (rank, left_unit,
    * right_unit, n_occurrences of the winning pair when it won,
    * units_after = corpus unit count after applying that merge). */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMergesOf(s, Tables.documents(s, d).select("doc_id", "text"))

  /** Per-document tokenization report under the trained merges — the
    * APPLY step and the number a pipeline sizes its token budget with:
    * (doc_id, units_before = whitespace tokens, units_after = BPE units,
    * saved_pct = 4-dp percentage shrink). Trains the merge table and
    * reports unit counts from the trainer's OWN final rewritten corpus
    * (the join below) — the replay path ([[bpeApplyWith]] over raw text)
    * is exercised end-to-end by `q_bpe_standing`, and BpeSpec proves
    * bpeApplyWith ≡ this output under the corpus's own trained table.
    * The query's cost stays trainer-dominated because the table must
    * come from THIS corpus under the bench's per-query isolation; a real
    * pipeline trains once on a sample and pays only [[bpeApplyWith]]'s
    * single pass everywhere else. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // The trainer's own final rewritten corpus IS the applied corpus —
    // report per-doc unit counts from it directly instead of collecting
    // the merge table and replaying the whole replace chain over the raw
    // text a second time (one in-memory join vs a full re-tokenize pass;
    // the replay path stays exercised end-to-end by q_bpe_standing, and
    // BpeSpec still proves bpeApplyWith ≡ this output under the corpus's
    // own trained table, which is now a genuine replay-vs-trainer check).
    val fin = trainOn(s, docs)._2
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("units_before"))
      .join(fin.select(col("doc_id"), size(unitsOfU).as("units_after")),
        Seq("doc_id"))
      .select(col("doc_id"), col("units_before"), col("units_after"),
        round(lit(100.0) * (col("units_before") - col("units_after"))
          .cast("double") / col("units_before"), 4).as("saved_pct"))
      .orderBy("doc_id")
  }

  /** PRODUCTION apply: tokenize a corpus under an ALREADY-TRAINED,
    * rank-ordered merge table without re-running the trainer. The whole
    * merge chain is ONE fused projection — the rank-ordered `replace`s
    * compose left-to-right on the paren encoding, which replays the
    * trainer's per-round leftmost-greedy rewrites exactly (each trainer
    * round IS a single replace of the winner over the previous round's
    * corpus) — so this is a single map pass with no aggregates, no
    * checkpoints and no shuffles, vs the trainer's MergeRounds corpus
    * passes. The merge table is driver-side by design: a tokenizer is
    * KB-scale however big the corpus it was trained on. BpeSpec proves
    * row-for-row equality with [[bpeApply]] under the corpus's own
    * trained table. */
  def bpeApplyWith(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val enc = concat(lit("("),
      org.apache.spark.sql.functions.replace(col("text"), lit(" "), lit(")(")),
      lit(")"))
    val applied = merges.foldLeft(enc) { case (c, (t1, t2)) =>
      org.apache.spark.sql.functions.replace(c,
        lit("(" + t1 + ")(" + t2 + ")"), lit("(" + t1 + "_" + t2 + ")"))
    }
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("units_before"), applied.as("u"))
      .select(col("doc_id"), col("units_before"), size(unitsOfU).as("units_after"))
      .select(col("doc_id"), col("units_before"), col("units_after"),
        round(lit(100.0) * (col("units_before") - col("units_after"))
          .cast("double") / col("units_before"), 4).as("saved_pct"))
      .orderBy("doc_id")
  }

  /** The merge table as [[bpeMerges]] writes it. */
  private val MergesSchema = StructType(Seq(StructField("rank", IntegerType),
    StructField("left_unit", StringType), StructField("right_unit", StringType),
    StructField("n_occurrences", LongType), StructField("units_after", LongType)))

  /** STANDING tokenizer (`q_bpe_standing`) — the fourth standing index,
    * and the smallest: the trained merge table persisted once under a
    * content-signature marker ([[StandingIndex]] discipline), apply-only
    * serving after. The trainer is [[MergeRounds]] sequential corpus
    * passes; the table it produces is KB-scale however big the corpus —
    * exactly the asset a pipeline trains once and ships everywhere — so
    * the standing form converts every subsequent tokenization call into
    * [[bpeApplyWith]]'s single fused map pass (no aggregates, no
    * shuffles). The rank column preserves merge ORDER, which is the
    * tokenizer's semantics: the read sorts on it before composing the
    * replace chain. Oracle: [[bpeApplySql]] unchanged — persistence moves
    * the cost regime, never the semantics (BpeSpec proves standing apply
    * ≡ [[bpeApply]] row-for-row, and that the second call serves without
    * retraining). */
  def bpeStandingApply(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bpe_standing"
    val sig = StandingIndex.sourceSig(s"$d/documents.parquet")
    StandingIndex.ensure(base, s"dir=$d sig=$sig rounds=$MergeRounds") {
      bpeMerges(s, d).write.mode("overwrite").parquet(s"$base/merges")
    }
    val merges = s.read.schema(MergesSchema).parquet(s"$base/merges").orderBy("rank")
      .select("left_unit", "right_unit")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    bpeApplyWith(Tables.documents(s, d).select("doc_id", "text"), merges)
  }

  /** [[bpeMerges]] over an explicit (doc_id, text) frame — exposed so
    * BpeSpec can prove the overlap/greedy semantics on crafted corpora;
    * `rounds` genuinely bounds the loop (BpeSpec's crafted runs rely on
    * it, not on the corpus happening to exhaust). */
  private[graft] def bpeMergesOf(s: SparkSession, docs: DataFrame,
      rounds: Int = MergeRounds): DataFrame =
    trainOn(s, docs, rounds)._1

  /** Adjacent-unit pair rows of a paren-encoded corpus frame — the
    * explode both trainers count over. */
  private def pairRows(df: DataFrame): DataFrame =
    df.select(unitsOfU.as("us"))
      .select(explode(expr(
        """CASE WHEN size(us) >= 2
           THEN transform(sequence(0, size(us) - 2),
                          i -> concat(us[i], ' ', us[i + 1]))
           ELSE array() END""")).as("p"))

  /** DELTA-MAINTAINED trainer — the production refinement the baseline's
    * scaladoc names: the standing pair-count table is built ONCE (round
    * 1's full count, unavoidable) and every later round updates it from
    * the CHANGED DOCUMENTS ONLY — subtract the old pair rows of docs
    * containing the winner pattern, add their rewritten pair rows, merge
    * into the table (pair-arity, vocab²-bounded), and pick the next
    * winner from the maintained table. Per-round aggregate cost is
    * O(docs containing the winner), not O(corpus); the corpus itself is
    * still re-checkpointed per round (the rewrite is the same either
    * way). units_after is maintained arithmetically: every applied
    * replacement shrinks the encoding by EXACTLY one character
    * ("(a)(b)" → "(a_b)"), so the per-round char-shrink sum over changed
    * docs IS the applied-replacement count, and units decrease by it —
    * BpeSpec asserts full-table equality with the recounting baseline,
    * which cross-checks this arithmetic against the baseline's
    * next-round-pair-sum derivation. Shipped queries keep the baseline:
    * on the synthetic corpus every winner occurs in most docs, so
    * "changed docs only" is still corpus-scale and the table maintenance
    * is pure overhead (measured at sf0.1, best-of-2 warm: delta 3.53 s
    * vs baseline 3.31 s); the delta path wins when winners localize,
    * which is how Zipfian corpora behave at real vocabulary sizes and
    * round counts. */
  private[graft] def bpeMergesDeltaOf(s: SparkSession, docs: DataFrame,
      rounds: Int = MergeRounds): DataFrame = {
    import s.implicits._
    var cur = docs.select(col("doc_id"), concat(lit("("),
        org.apache.spark.sql.functions.replace(col("text"), lit(" "), lit(")(")),
        lit(")")).as("u"))
      .localCheckpoint(true)
    val nDocs = cur.count()
    var counts = pairRows(cur).groupBy("p").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // corpus units = total pairs + nDocs (pairs_per_doc = units - 1).
    val cnt0 = counts.agg(sum("cnt")).head()
    var units = (if (cnt0.isNullAt(0)) 0L else cnt0.getLong(0)) + nDocs
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      val top = counts.orderBy(col("cnt").desc, col("p")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val p = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(t1, t2) = p.split(" ", 2)
        val pat = "(" + t1 + ")(" + t2 + ")"
        val merged = "(" + t1 + "_" + t2 + ")"
        val changed = cur.filter(col("u").contains(pat)).cache()
        val rewritten = changed.select(col("doc_id"),
          org.apache.spark.sql.functions.replace(
            col("u"), lit(pat), lit(merged)).as("u")).cache()
        // Invariant made explicit (a maintained count > 0 implies at least
        // one doc contains the winner pattern): if counts-maintenance ever
        // drifts, fail loudly here instead of NPE-unboxing a null sum.
        val lenOldRow = changed.agg(sum(length(col("u")))).head()
        require(!lenOldRow.isNullAt(0),
          s"delta trainer invariant broken: winner '$p' (count $cnt) " +
            "matched no document — the maintained pair table has drifted")
        val lenOld = lenOldRow.getLong(0)
        val lenNew = rewritten.agg(sum(length(col("u")))).head().getLong(0)
        units -= lenOld - lenNew // one char per applied replacement
        counts = counts.select(col("p"), col("cnt").as("d"))
          .unionByName(pairRows(changed).groupBy("p")
            .agg((-count(lit(1))).as("d")))
          .unionByName(pairRows(rewritten).groupBy("p")
            .agg(count(lit(1)).as("d")))
          .groupBy("p").agg(sum("d").as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint(true)
        cur = cur.filter(!col("u").contains(pat)).unionByName(rewritten)
          .localCheckpoint(true)
        changed.unpersist(blocking = false)
        rewritten.unpersist(blocking = false)
        out += ((r, t1, t2, cnt, units))
      }
    }
    out.toSeq
      .toDF("rank", "left_unit", "right_unit", "n_occurrences", "units_after")
      .orderBy("rank")
  }

  /** The shared training loop: returns (merge table, final rewritten
    * corpus (doc_id, u)). */
  private def trainOn(s: SparkSession, docs: DataFrame,
      rounds: Int = MergeRounds): (DataFrame, DataFrame) = {
    import s.implicits._
    var cur = docs.select(col("doc_id"), concat(lit("("),
        org.apache.spark.sql.functions.replace(col("text"), lit(" "), lit(")(")),
        lit(")")).as("u"))
      .localCheckpoint(true)
    // units_after(r) is derived, not re-scanned: corpus units = total pair
    // occurrences + doc count (each doc holds pairs_per_doc + 1 units), so
    // round r+1's pair table — needed anyway for its winner — also prices
    // round r's result, and only the FINAL round pays a direct unit count.
    // Both aggregates of a round act on the one cached vocab-arity pair
    // table, so each round is a single corpus pass at any scale.
    val nDocs = cur.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    // (rank, left, right, cnt) awaiting its units_after from the next round
    var pending: Option[(Int, String, String, Long)] = None
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      // ONE aggregate job per round yields BOTH the winner — min over
      // (-cnt, p) IS "max count, ties to the ascending pair", the
      // orderBy(cnt desc, p).limit(1) ordering struct-compared field by
      // field — and the total pair count that prices the PREVIOUS
      // round's units_after. The old shape ran the winner collect and
      // the sum as two separate jobs over a cached pair table (plus the
      // cache fill/unpersist); the trainer is serial-job-latency-bound
      // at 3 jobs x rounds, so halving the aggregate jobs is wall time.
      val st = pairRows(cur)
        .groupBy("p").agg(count(lit(1)).as("cnt"))
        .agg(min(struct((-col("cnt")).as("nc"), col("p"))).as("w"),
          sum(col("cnt")).as("tot"))
        .head()
      pending.foreach { case (pr, t1, t2, cnt) =>
        val unitsNow = (if (st.isNullAt(1)) 0L else st.getLong(1)) + nDocs
        out += ((pr, t1, t2, cnt, unitsNow))
        pending = None
      }
      if (st.isNullAt(0)) {
        // Every document is a single unit — nothing left to merge. The
        // merge table simply ends early (a corpus property, not an error).
        exhausted = true
      } else {
        val w = st.getStruct(0)
        val p = w.getString(1)
        val cnt = -w.getLong(0)
        val Array(t1, t2) = p.split(" ", 2)
        // Eager checkpoint: lazy (eager=false) was measured SLOWER here
        // (9.0 vs 8.2 s for the query pair) — deferring materialization
        // into the next round's first action serializes what the eager
        // job overlaps across cores.
        cur = cur.select(col("doc_id"),
          org.apache.spark.sql.functions.replace(
            col("u"), lit("(" + t1 + ")(" + t2 + ")"),
            lit("(" + t1 + "_" + t2 + ")")).as("u"))
          .localCheckpoint(true)
        pending = Some((r, t1, t2, cnt))
      }
    }
    // The last applied merge has no successor pair table — price it with
    // the one direct unit count of the whole run.
    pending.foreach { case (pr, t1, t2, cnt) =>
      val unitsAfter = cur.agg(sum(size(unitsOfU))).head().getLong(0)
      out += ((pr, t1, t2, cnt, unitsAfter))
    }
    (out.toSeq
      .toDF("rank", "left_unit", "right_unit", "n_occurrences", "units_after")
      .orderBy("rank"),
      cur)
  }

  /** Shared merges-table tail (rank/left/right/count/units_after over the
    * union of all round rows) — ONE definition so the exhaustion oracle can
    * never drift from the merges oracle's output shape. */
  private val mergesTailSql: String =
    (1 to MergeRounds).map(i => s"SELECT * FROM s$i")
      .mkString("\n        UNION ALL ") match {
      case sel =>
        s"""SELECT CAST(rank AS INT) AS rank, left_unit, right_unit,
               n_occurrences, units_after
        FROM ($sel) ORDER BY rank"""
    }

  /** Oracle: [[MergeRounds]] unrolled CTE rounds with the same
    * count/tie-break/replace arithmetic over the same paren encoding. */
  val bpeMergesSql: String = sqlWithRounds(mergesTailSql)

  /** Oracle of [[bpeApply]]: the same chain's FINAL corpus, reported
    * per document. */
  val bpeApplySql: String = sqlWithRounds(
    s"""SELECT d.doc_id,
          CAST(len(string_split(text, ' ')) AS INT) AS units_before,
          CAST(len(string_split(trim(f.u, '()'), ')(')) AS INT) AS units_after,
          round(CAST(100 AS DOUBLE)
                * CAST(len(string_split(text, ' '))
                       - len(string_split(trim(f.u, '()'), ')(')) AS DOUBLE)
                / len(string_split(text, ' ')), 4) AS saved_pct
        FROM documents d JOIN d$MergeRounds f ON d.doc_id = f.doc_id
        ORDER BY d.doc_id""")

  /** Early-exhaustion probe — the oracle's fallback guard exercised at the
    * ENGINE level, not just in a Scala spec: a corpus derived from the
    * documents table (first two words of doc_id < 3 — at most three
    * distinct pairs, so it fully merges within ~3 rounds) trains for the
    * full [[MergeRounds]]. The Spark trainer ends its table early
    * (`top.isEmpty` → exhausted); the DuckDB oracle keeps unrolling all
    * eight CTE rounds and survives only because of the
    * `LEFT JOIN w$$i ON TRUE` + `CASE WHEN w$$i.p IS NULL THEN u` fallback
    * in [[sqlWithRounds]] (an inner join would EMPTY d$$i and every round
    * after it). The driver's hash gate on this query is therefore a
    * standing engine-level proof of the guard on every round's corpus —
    * closing the round-10 note that only the live (non-exhausting) corpus
    * pinned it. BpeSpec carries the in-memory twin on a crafted corpus. */
  def bpeExhaustion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 3)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 2), " ").as("text"))
    bpeMergesOf(s, docs)
  }

  val bpeExhaustionSql: String = sqlWithRounds(mergesTailSql,
    source = """(SELECT doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS text
                 FROM documents WHERE doc_id < 3)""")

  private def sqlWithRounds(tail: String, source: String = "documents"): String = {
    def round(prev: String, i: Int): String =
      s"""p$i AS (SELECT us[j] || ' ' || us[j + 1] AS p, count(*) AS cnt
               FROM (SELECT string_split(trim(u, '()'), ')(') AS us FROM $prev),
                    generate_series(1, $MaxUnits) t(j)
               WHERE j <= len(us) - 1
               GROUP BY 1),
         w$i AS (SELECT p, cnt FROM p$i ORDER BY cnt DESC, p LIMIT 1),
         d$i AS (SELECT doc_id,
                   CASE WHEN w$i.p IS NULL THEN u
                        ELSE replace(u, '(' || replace(w$i.p, ' ', ')(') || ')',
                                     '(' || replace(w$i.p, ' ', '_') || ')') END AS u
                 FROM $prev LEFT JOIN w$i ON TRUE),
         s$i AS (SELECT $i AS rank,
                   split_part(p, ' ', 1) AS left_unit,
                   split_part(p, ' ', 2) AS right_unit,
                   CAST(cnt AS BIGINT) AS n_occurrences,
                   (SELECT CAST(sum(len(string_split(trim(u, '()'), ')('))) AS BIGINT)
                    FROM d$i) AS units_after
                 FROM w$i)"""
    val rounds = (1 to MergeRounds)
      .map(i => round(if (i == 1) "d0" else s"d${i - 1}", i))
      .mkString(",\n        ")
    s"""WITH d0 AS (SELECT doc_id, '(' || replace(text, ' ', ')(') || ')' AS u
                    FROM $source),
        $rounds
        $tail"""
  }
}
