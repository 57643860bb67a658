package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the dedup operators (scalacheck generators over small
  * in-memory docs; sampled deterministically — the scalatest/scalacheck
  * bridge artifact is not in the offline cache). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.oneOf(
    "spark", "scan", "join", "group", "sort", "hash", "merge", "filter")
  private val docGen = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, wordGen))

  test("exact dedup is idempotent and conserves rows") {
    val df = Dedup.exactDedup(spark, Sf).cache()
    val total = df.agg(sum("n_copies")).head().getLong(0)
    val docs = Tables.documents(spark, Sf).count()
    assert(total == docs, "every doc lands in exactly one cluster")
    assert(df.groupBy("text_hash").count().filter(col("count") > 1).count() == 0)
    df.unpersist()
  }

  test("fingerprint is invariant under word permutation (property)") {
    val rnd = new scala.util.Random(42)
    val samples = (0 until 40).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(samples.nonEmpty)
    val pairs = samples.zipWithIndex.flatMap { case (words, i) =>
      val doc = words.mkString(" ")
      val perm = rnd.shuffle(words).mkString(" ")
      Seq((i.toLong, 0, doc), (i.toLong, 1, perm))
    }
    val fps = pairs.toDF("pair_id", "side", "text")
      .select(col("pair_id"), md5(concat_ws(" ",
        sort_array(array_distinct(split(col("text"), " "))))).as("fp"))
      .groupBy("pair_id").agg(countDistinct("fp").as("nfp"))
      .filter(col("nfp") =!= 1)
    assert(fps.count() == 0, "permuted doc produced a different fingerprint")
  }

  test("duplicated-text fraction is bounded and exactly 1.0 for identical twins") {
    val frac = Dedup.dupNgramFraction(spark, Sf).cache()
    assert(frac.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    // A doc whose full text occurs verbatim in another doc shares EVERY
    // 13-word window with it, so its duplicated fraction must be exactly 1.
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), md5(col("text")).as("dg"),
        size(split(col("text"), " ")).as("nw"))
    val twins = docs.as("a").join(docs.as("b"),
        col("a.dg") === col("b.dg") && col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("a.nw") >= Dedup.DupN)
      .select(col("a.doc_id").as("doc_id")).distinct()
    val n = twins.count()
    if (n > 0) {
      assert(twins.join(frac, "doc_id").filter(col("dup_frac") =!= 1.0).count() == 0,
        s"all $n identical twins must have dup_frac == 1.0")
    }
    frac.unpersist()
  }

  test("minhash pair scores are bounded by the signature length") {
    val df = Dedup.minhashPairs(spark, Sf)
    val bad = df.filter(col("n_sig_eq") < Dedup.MinhashMatchThreshold ||
      col("n_sig_eq") > Dedup.NumHashes)
    assert(bad.count() == 0)
  }

  test("jaccard pairs are canonical (a < b) and within (0, 1]") {
    val df = Dedup.ngramJaccardPairs(spark, Sf)
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
  }

  test("simhash hamming bound respected") {
    val df = Dedup.simhashPairs(spark, Sf)
    assert(df.filter(col("hamming") > Dedup.HammingMax).count() == 0)
  }

  test("winnowing recovers the planted near-dup pairs") {
    // the corpus plants 25 pairs at jaccard >= 0.8 — contiguity-preserving
    // edits, so the winnowing guarantee (shared run >= W+k-1 tokens -> shared
    // fingerprint) must surface the same pair set the exact-Jaccard join does
    val winnow = Dedup.winnowPairs(spark, Sf).select("doc_a", "doc_b")
    val jac = Dedup.ngramJaccardPairs(spark, Sf).select("doc_a", "doc_b")
    assert(jac.exceptAll(winnow).count() == 0,
      "every exact near-dup pair must be a winnowing candidate")
  }

  test("winnowing selects a small fraction of k-gram hashes") {
    // expected density is ~2/(W+1) of all positions; allow generous slack
    val fps = Dedup.winnowFingerprints(spark, Sf).count()
    val docs = Tables.documents(spark, Sf)
    val grams = docs.select(greatest(
        size(split(col("text"), " ")) - 2, lit(0)).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(fps > 0 && fps.toDouble / grams < 2.5 / (Dedup.WinnowW + 1),
      s"$fps fingerprints for $grams k-grams is not a sparse selection")
  }

  test("df-cap suppresses a synthetic hot shingle's O(f^2) candidates") {
    // 60 near-identical docs share every shingle (df = 60 > cap = 50);
    // without the cap they'd emit C(60,2) = 1770 high-jaccard pairs. Two
    // extra docs share below-cap shingles and must still pair (the cap must
    // not kill real candidates).
    val hotDocs = (0L until 60L).map(i =>
      (1000L + i, s"alpha beta gamma delta epsilon zeta u$i"))
    val okDocs = Seq(
      (2000L, "pine oak elm fir cedar birch maple"),
      (2001L, "pine oak elm fir cedar birch aspen"))
    val dir = "/tmp/graft_hot_shingle"
    (hotDocs ++ okDocs).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(spark, dir).cache()
    assert(pairs.filter(col("doc_a") >= 1000 && col("doc_a") < 2000).count() == 0,
      "hot-shingle docs must produce no candidate pairs")
    // shared shingles "pine oak elm".."cedar birch" have df = 2: jaccard 4/6
    assert(pairs.filter(col("doc_a") === 2000 && col("doc_b") === 2001).count() == 1,
      "below-cap near-dup pair must survive the cap")
    pairs.unpersist()
  }

  test("corpus word counts stay under the oracle's series bound") {
    // The oracle SQL expands word positions over a constant range
    // (generate_series can't take a column bound in DuckDB): a document
    // longer than MaxWords would make the oracle silently drop shingles.
    // Gate the SFs the driver actually queries.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .foreach { sf =>
        val maxWords = Tables.documents(spark, sf)
          .select(max(size(split(col("text"), " "))))
          .head().getInt(0)
        assert(maxWords <= Dedup.MaxWords,
          s"$sf has a $maxWords-word doc > bound ${Dedup.MaxWords}")
      }
  }

  test("MinHashSigAgg sketch equals the column-wise min signature") {
    val h = Dedup.shingleHashes(spark, Sf).cache()
    val viaAgg = h.groupBy("doc_id")
      .agg(graft.functions.MinHashAggregate.minhashSig(col("h")).as("sig"))
    val viaCols = {
      val mins = (0 until Dedup.NumHashes).map { i =>
        min((lit(Dedup.HashA(i)) * col("h") + lit(Dedup.HashB(i))) % lit(Dedup.Prime))
          .as(s"s_$i")
      }
      h.groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until Dedup.NumHashes).map(i => col(s"s_$i")): _*).as("sig"))
    }
    assert(viaAgg.exceptAll(viaCols).count() == 0)
    assert(viaCols.exceptAll(viaAgg).count() == 0)
    h.unpersist()
  }

  test("dup spans are maximal and cover exactly the copied words") {
    // doc 2 copies words 21..40 of doc 1 verbatim (its own words elsewhere),
    // so both docs carry exactly one maximal 20-word duplicated span.
    val shared = (21 to 40).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ") + " " + shared),
      (2L, shared + " " + (1 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))  // no copies -> no spans
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpansOf(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // 20 shared words = 8 consecutive DupN=13 windows; span covers 8+12=20
    assert(spans.toSeq == Seq((1L, 21, 20), (2L, 1, 20)),
      s"unexpected spans: ${spans.toSeq}")
    // maximality cross-check vs the per-doc aggregate: total span window
    // count equals dupNgramFraction's n_dup for these docs
    val frac = Dedup.dupSpansOf(docs)  // spans -> windows per doc
      .groupBy("doc_id")
      .agg(sum(col("span_words") - (Dedup.DupN - 1)).as("win"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frac == Map(1L -> 8L, 2L -> 8L))
  }

  test("novelty credits the first occurrence and zeroes a verbatim late copy") {
    val original = (1 to 20).map(i => s"w$i").mkString(" ")
    val unrelated = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (10L, original),   // first owner of its windows
      (20L, original),   // verbatim late copy — owns nothing
      (30L, unrelated),  // disjoint — owns everything
      (40L, "too short") // under DupN words — zero windows
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNoveltyOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out(10L) == ((8L, 1.0)), "20 words = 8 distinct 13-gram windows, all first-owned")
    assert(out(20L) == ((8L, 0.0)), "verbatim late copy owns nothing")
    assert(out(30L) == ((8L, 1.0)))
    assert(out(40L) == ((0L, 0.0)), "sub-window doc scores 0 with 0 windows")
  }

  test("savings clusters agree with the dedup map and the keep-largest policy") {
    val savings = Dedup.dedupSavings(spark, Sf).collect()
    assert(savings.nonEmpty && savings.length <= Dedup.SavingsTopK)
    val fps = Dedup.fingerprintDedup(spark, Sf).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("n_docs")).toMap
    // Recompute each cluster's membership from the raw documents: the
    // keeper must BE the policy's survivor — the largest member, ties to
    // the smallest doc_id — and kept/total/wasted its real token ledger.
    val byFp = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
          .as("fp"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .collect()
      .map(r => (r.getAs[String]("fp"), r.getAs[Long]("doc_id"), r.getAs[Long]("toks")))
      .groupBy(_._1)
    savings.foreach { r =>
      val members = byFp(r.getAs[String]("fp"))
      val maxToks = members.map(_._3).max
      val expectKeeper = members.filter(_._3 == maxToks).map(_._2).min
      assert(r.getAs[Long]("keeper") == expectKeeper,
        "keeper is the largest member, ties to min doc_id")
      assert(r.getAs[Long]("kept_tokens") == maxToks,
        "kept_tokens is the keeper's own token count")
      assert(r.getAs[Long]("total_tokens") == members.map(_._3).sum)
      assert(r.getAs[Long]("n_copies") == fps(r.getAs[String]("fp")),
        "cluster size matches the dedup map")
      assert(r.getAs[Long]("n_copies") >= 2)
      assert(r.getAs[Long]("wasted_tokens") ==
        r.getAs[Long]("total_tokens") - r.getAs[Long]("kept_tokens"))
      assert(r.getAs[Long]("wasted_tokens") > 0)
    }
  }

  test("containment flags a near-superset pair that Jaccard misses") {
    // doc 1 = 20 distinct words; doc 2 = doc 1 verbatim + 30 more words.
    // Shingle sets: |S(1)| = 18, S(1) ⊂ S(2) (the quote survives whole, plus
    // 2 boundary shingles and 28 suffix shingles) — so containment(1→2) = 1
    // while Jaccard = 18/48 = 0.375, under the pair-finder threshold. This
    // is exactly the asymmetric near-superset case the operator exists for.
    val short = (1 to 20).map(i => s"a$i").mkString(" ")
    val long = short + " " + (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val rows = Dedup.containmentPairsOf(Dedup.shinglesOf(docs)).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, "short doc fully contained in long doc")
    val jaccard = 18.0 / 48.0
    assert(math.abs(r.getDouble(3) - jaccard) < 1e-12,
      "reverse containment equals |S(1)|/|S(2)|")
    assert(jaccard < Dedup.JaccardThreshold,
      "the pair is invisible to the symmetric Jaccard finder")
  }

  test("containment broadcast-sizes route equals the shuffle-join fallback") {
    // Past SizesBroadcastMaxDocBytes the doc-arity sizes frame stops
    // broadcasting into the verification joins; the two routes must be
    // row-identical — only the physical join strategy may differ.
    val sh = Dedup.shinglesOf(Tables.documents(spark, Sf))
    val b = Dedup.containmentPairsOf(sh, broadcastSizes = true).collect()
    val f = Dedup.containmentPairsOf(sh, broadcastSizes = false).collect()
    assert(b.nonEmpty, "gate corpus must produce containment pairs")
    assert(b.toSeq == f.toSeq, "broadcast and shuffle verify routes diverge")
  }

  // ── Standing shingle index: the ingestion-serving contract ──
  // The oracle gate proves q_dedup_standing matches DuckDB — but not
  // that the probe actually served from standing state, nor that the
  // joint-df-cap reconciliation (the part a corpus-only index cannot
  // bake in) is exact. Pin both.

  test("standing shingle probe is row-identical to incrementalDedup") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_spec").toString
    assert(Dedup.shingleBuildIfStale(spark, Sf, base), "first call builds")
    val batch = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    val standing = Dedup.shingleProbe(spark, base, batch)
      .collect().map(_.toString).toSeq
    val rebuild = Dedup.incrementalDedup(spark, Sf)
      .collect().map(_.toString).toSeq
    assert(standing.nonEmpty)
    assert(standing == rebuild,
      "standing probe diverged from incrementalDedup")
    assert(!Dedup.shingleBuildIfStale(spark, Sf, base),
      "unchanged corpus must not rebuild")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("standing probe reconciles the joint df cap exactly (crafted flip)") {
    import spark.implicits._
    // Corpus: ShingleDfCap docs sharing one 3-gram ("x y z"), each padded
    // unique; its corpus df == cap, so it SURVIVES the standing build.
    // The batch adds one more doc with that 3-gram → joint df = cap + 1
    // → the rebuild-every-time cap drops it. If the probe failed to
    // reconcile, the shared shingle would make the batch doc a candidate
    // against every corpus doc AND corpus sizes would over-count.
    val cap = Dedup.ShingleDfCap
    // doc ids ≡ 1 (mod 5) → corpus slice; batch doc id ≡ 0 (mod 5).
    val corpus = (0 until cap).map { i =>
      (i * 5L + 1, s"x y z u$i v$i w$i")
    }.toDF("doc_id", "text")
    val batch = Seq((0L, "x y z p q r")).toDF("doc_id", "text")
    val all = corpus.unionByName(batch)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_flip").toString
    all.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_flip_ix").toString
    Dedup.shingleBuildIfStale(spark, dir, base)
    val standing = Dedup.shingleProbe(spark, base,
        all.filter(col("doc_id") % 5 === 0))
      .collect().map(_.toString).toSeq
    val rebuild = Dedup.incrementalDedup(spark, dir)
      .collect().map(_.toString).toSeq
    assert(standing == rebuild,
      "joint-cap reconciliation diverged on the crafted flip corpus")
    // And the flip is real: the batch doc must NOT be a dup (its only
    // shared shingle crossed the cap; the unique tails don't match).
    assert(rebuild.size == 1 && rebuild.head.contains("false"),
      s"crafted corpus must make the flip decisive, got $rebuild")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("standing probe equals incrementalDedup on random corpora (property)") {
    // Fuzz the joint-cap reconciliation across regimes the crafted cases
    // can't enumerate: a TINY vocabulary over many docs puts shingle dfs
    // on BOTH sides of ShingleDfCap (=50), with batch arrivals flipping
    // an arbitrary subset — and heavy cross-doc duplication makes real
    // jaccard matches, so the sizes arithmetic (na, n0 − flipped) is
    // exercised on rows that actually decide is_dup. 3 seeds × ~160 docs.
    val tinyVocab = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val tinyDoc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, tinyVocab))
    (1 to 3).foreach { seed =>
      val docs = (0 until 160).flatMap { i =>
        tinyDoc.apply(Gen.Parameters.default, Seed(seed * 1000L + i))
          .map(ws => (i.toLong, ws.mkString(" ")))
      }.toDF("doc_id", "text")
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_shingle_prop_$seed").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_shingle_prop_ix_$seed").toString
      Dedup.shingleBuildIfStale(spark, dir, base)
      val standing = Dedup.shingleProbe(spark, base,
          docs.filter(col("doc_id") % 5 === 0))
        .collect().map(_.toString).toSeq
      val rebuild = Dedup.incrementalDedup(spark, dir)
        .collect().map(_.toString).toSeq
      assert(standing == rebuild,
        s"seed $seed: standing probe diverged from incrementalDedup")
      // The fuzz must actually exercise the interesting rows.
      assert(rebuild.exists(_.contains("true")),
        s"seed $seed: corpus produced no dup matches — fuzz too weak")
      graft.TrackedCaches.release()
      graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
      graft.Fs.deleteRec(java.nio.file.Paths.get(base))
    }
  }

  // ── Standing shingle index: the COMMIT path (append-only growth) ──
  // The oracle gate recomputes both phases in SQL; these specs pin the
  // exactness claim directly — probe-after-commit ≡ a from-scratch joint
  // dedup against corpus ∪ survivors — plus the one correction a naive
  // append would miss (negative size deltas when a commit pushes a
  // standing shingle past the df cap).

  test("commit: probe after commit equals rebuild over corpus ∪ survivors") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_commit_spec").toString
    Dedup.shingleBuildIfStale(spark, Sf, base)
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val b1 = docs.filter(col("doc_id") % 10 === 5)
    val b2 = docs.filter(col("doc_id") % 10 === 0)
    val v1 = Dedup.shingleProbe(spark, base, b1)
    // The frames API is the rebuild reference — prove it agrees with the
    // probe BEFORE the commit too.
    assert(v1.collect().map(_.toString).toSeq ==
      Dedup.incrementalDedupOf(corpus, b1).collect().map(_.toString).toSeq,
      "incrementalDedupOf diverged from the standing probe pre-commit")
    val accepted = b1.join(v1.filter(!col("is_dup")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    Dedup.shingleCommit(spark, base, accepted)
    val after = Dedup.shingleProbe(spark, base, b2)
      .collect().map(_.toString).toSeq
    val rebuild = Dedup.incrementalDedupOf(
        corpus.unionByName(accepted), b2)
      .collect().map(_.toString).toSeq
    assert(after.nonEmpty)
    assert(after == rebuild,
      "probe after commit diverged from the corpus ∪ survivors rebuild")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  // ── Standing shingle index: the DELETE path (takedown / purge) ──
  // Deletion is negative df deltas + posting tombstones; exactness rests
  // on the cap-resurrection guard (shingleDelete scaladoc). These specs
  // pin the rebuild equivalence, the compaction drain, and all three
  // loud refusals.

  test("delete: probe equals the purged rebuild; compaction drains the " +
      "tombstones; replays and unknown ids are refused") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_delete_spec").toString
    Dedup.shingleBuildIfStale(spark, Sf, base)
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val deleted = docs.filter(col("doc_id") % 10 === 1)
    val remaining = corpus.filter(col("doc_id") % 10 =!= 1)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.shingleDelete(spark, base, deleted)
    val after = Dedup.shingleProbe(spark, base, batch)
      .collect().map(_.toString).toSeq
    val rebuild = Dedup.incrementalDedupOf(remaining, batch)
      .collect().map(_.toString).toSeq
    assert(after.nonEmpty)
    assert(after == rebuild,
      "probe after delete diverged from the corpus-minus-deleted rebuild")
    // The purge must be DECISIVE on this corpus (some arrival's verdict
    // changes), or the equality above proves nothing about exclusion.
    val full = Dedup.incrementalDedupOf(corpus, batch)
      .collect().map(_.toString).toSeq
    assert(full != rebuild,
      "fixture corpus makes the delete vacuous — pick a different slice")
    // Replay refusal: tombstoned ids must not double-subtract df.
    intercept[IllegalStateException] {
      Dedup.shingleDelete(spark, base, deleted)
    }
    // Compaction physically drops the rows, retires the tombstone list,
    // and must not move the answer.
    Dedup.shingleCompact(spark, base)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/tombs")),
      "compaction must retire the tombstone list")
    assert(spark.read.parquet(s"$base/postings")
        .filter(col("doc_id") % 10 === 1).count() == 0,
      "compaction left physically-deleted posting rows")
    assert(spark.read.parquet(s"$base/n0")
        .filter(col("doc_id") % 10 === 1).count() == 0,
      "compaction left physically-deleted size rows")
    assert(Dedup.shingleProbe(spark, base, batch)
        .collect().map(_.toString).toSeq == rebuild,
      "compaction moved the post-delete answer")
    // Unknown-id refusal: the compacted-away docs are no longer provable
    // members — deleting them again would corrupt the df deltas.
    intercept[IllegalStateException] {
      Dedup.shingleDelete(spark, base, deleted.limit(1))
    }
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("delete: the verbatim-text witness refuses non-indexed text, and " +
      "compaction purges drained digests so a re-committed doc's OLD " +
      "text cannot pass") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_dig_spec").toString
    Dedup.shingleBuildIfStale(spark, Sf, base)
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val victim = docs.filter(col("doc_id") % 10 === 1)
    // Right ids, wrong text (a re-normalized copy): re-shingling it
    // would corrupt df deltas silently — the witness must refuse loud
    // and write NOTHING.
    intercept[IllegalStateException] {
      Dedup.shingleDelete(spark, base,
        victim.withColumn("text", concat(col("text"), lit(" edited"))))
    }
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/tombs")),
      "a refused delete must leave no tombstones")
    // The verbatim text still deletes cleanly after the refusal.
    Dedup.shingleDelete(spark, base, victim)
    // Drain, then RE-COMMIT one drained doc with revised text. The
    // compaction must have purged the drained digests — otherwise the
    // stale row would let a delete with the OLD text pass the witness
    // against an index that now holds the NEW text's shingles.
    Dedup.shingleCompact(spark, base)
    val one = victim.orderBy("doc_id").limit(1)
    val revised = one
      .withColumn("text", concat(lit("revised edition "), col("text")))
      .localCheckpoint()
    Dedup.shingleCommit(spark, base, revised)
    intercept[IllegalStateException] {
      Dedup.shingleDelete(spark, base, one)
    }
    // The currently-indexed text is the one the witness admits.
    Dedup.shingleDelete(spark, base, revised)
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("a torn shingle delete (tombs landed, deltas missing) heals " +
      "through the marker protocol") {
    // shingleDelete is a two-write mutation under the CALLER's marker
    // protocol (its scaladoc): a crash between the tombstone append and
    // the df deltas leaves an index that masks docs whose df the stats
    // still count — silently wrong if served. The shipped query's marker
    // never reached its deleted=... form, so the next call must detect
    // the mismatch, reset, and rebuild to the exact purged answer. This
    // spec simulates exactly that torn state by hand and proves the
    // healing end-to-end.
    val qbase =
      s"${System.getProperty("java.io.tmpdir")}/graft_shingle_delete"
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
    val expected = Dedup.standingDeleteIngest(spark, Sf)
      .collect().map(_.toString).toSeq
    // Rebuild fresh to the PRE-delete state (marker = the build marker),
    // then land only the tombstones — the torn-crash fossil.
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
    Dedup.shingleBuildIfStale(spark, Sf, qbase)
    Tables.documents(spark, Sf).filter(col("doc_id") % 10 === 1)
      .select("doc_id").write.mode("append").parquet(s"$qbase/tombs")
    assert(Dedup.standingDeleteIngest(spark, Sf)
        .collect().map(_.toString).toSeq == expected,
      "the marker protocol must heal a torn delete into the exact " +
        "purged answer, never serve the masked-but-uncorrected state")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
  }

  test("delete refuses a cap resurrection and writes nothing (crafted " +
      "over-cap shingle)") {
    // ShingleDfCap + 1 corpus docs (ids ≡ 1 mod 5, so the %5≠0 build
    // keeps them all) share the trigram "h0 h1 h2" — df = cap+1 > cap,
    // so its occurrences were dropped at build time as dead rows.
    // Deleting one owner would bring df back to the cap exactly: the
    // shingle would rejoin the screen with 50 silently-missing
    // occurrences. The delete must refuse loudly and leave the index
    // byte-identical (no tombstones, no deltas).
    import spark.implicits._
    val cap = Dedup.ShingleDfCap
    val docs = ((0 to cap).map { i =>
      val id = 5L * i + 1
      (id, s"h0 h1 h2 u${i}a u${i}b u${i}c u${i}d")
    } :+ ((5L * (cap + 1) + 1, "q0 q1 q2 q3 q4"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_resurrect").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_resurrect_idx").toString
    Dedup.shingleBuildIfStale(spark, dir, base)
    val dfcRows = spark.read.parquet(s"$base/dfc").count()
    val boom = intercept[IllegalStateException] {
      Dedup.shingleDelete(spark, base, docs.filter(col("doc_id") === 1L))
    }
    assert(boom.getMessage.contains("under the df cap"),
      s"wrong refusal fired: ${boom.getMessage}")
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/tombs")),
      "a refused delete must not tombstone")
    assert(spark.read.parquet(s"$base/dfc").count() == dfcRows,
      "a refused delete must not write df deltas")
    // The boundary the other way: deleting the NON-owner doc (its
    // shingles all sit at df 1) succeeds on the same index — the guard
    // fires only on a downward crossing from ABOVE the cap, never on
    // ordinary sub-cap deletions.
    Dedup.shingleDelete(spark, base,
      docs.filter(col("doc_id") === (5L * (cap + 1) + 1)))
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("canonical keep prefers the higher-quality cluster member over the min id") {
    // Cluster {10, 11}: doc 10 (the SMALLER id — dedupClusters' arbitrary
    // keeper) is doc 11 plus a repeated-word tail, so its TTR is lower;
    // shared shingles put the pair at jaccard 18/21 ≥ 0.5. canonicalKeep
    // must keep doc 11 — quality beats arrival order. Doc 12 shares
    // nothing: a singleton, trivially canonical, covered in the output.
    import spark.implicits._
    val base = (0 until 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base + " w0 w0 w0"),
      (11L, base),
      (12L, (0 until 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_canonical_spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.canonicalKeep(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(10L) == ((10L, false)),
      s"low-quality min-id member must NOT be canonical: ${out(10L)}")
    assert(out(11L) == ((10L, true)),
      "the higher-TTR member must be the cluster's canonical")
    assert(out(12L) == ((12L, true)), "singletons are their own canonical")
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("driver union-find components equal the distributed propagation " +
      "(both sides of the size gate)") {
    // The r17 gate routes small edge lists to a driver union-find; the
    // two paths must stay label-identical on arbitrary graphs — chains
    // (worst-case diameter), stars, triangles, singleton-free ids, and a
    // self-contained random mix, all in one pair list.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val chain = (0 until 30).map(i => (100L + i, 101L + i))
    val star = (0 until 10).map(i => (500L, 600L + i))
    val mix = (0 until 60).map(_ =>
      (1000L + rnd.nextInt(40), 1000L + rnd.nextInt(40)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val pairs = (chain ++ star ++ mix).toDF("a", "b")
    def labelsOf(gate: Long): Map[Long, Long] =
      Dedup.minLabelComponents(pairs, localMaxEdges = gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsOf(Long.MaxValue) // force the union-find path
    val dist = labelsOf(0L)             // force the Pregel-lite path
    assert(local == dist,
      s"union-find and propagation disagree: ${
        (local.toSet diff dist.toSet) ++ (dist.toSet diff local.toSet)}")
    // Spot-invariants: a chain's every node labels to its min endpoint.
    assert((0 until 31).forall(i => local(100L + i) == 100L))
    assert((0 until 10).forall(i => local(600L + i) == 500L))
  }

  test("commit with an empty accepted batch is a no-op (no reads, no writes)") {
    // Reachable every micro-batch in streamDedupEvolving when all arrivals
    // are dups. Must not touch the standing tables at all — the pruned-read
    // empty-values fallback would otherwise list the FULL postings/dfc
    // layout and run three no-op write jobs.
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_commit_empty").toString
    Dedup.shingleBuildIfStale(spark, Sf, base)
    def allFiles(): Seq[String] = {
      val p = java.nio.file.Paths.get(base)
      val st = java.nio.file.Files.walk(p)
      try {
        val b = Seq.newBuilder[String]
        st.filter(q => java.nio.file.Files.isRegularFile(q))
          .forEach(q => b += s"$q:${java.nio.file.Files.size(q)}")
        b.result().sorted
      } finally st.close()
    }
    val before = allFiles()
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.shingleCommit(spark, base, empty)
    assert(allFiles() == before,
      "empty commit must leave the standing layout byte-identical")
    val probe = Dedup.shingleProbe(spark, base,
      Tables.documents(spark, Sf).select("doc_id", "text").limit(5))
    assert(probe.count() == 5)
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("commit writes exact negative size deltas on a cap crossing") {
    // Corpus: exactly ShingleDfCap docs sharing "x y z" (df == cap →
    // survives the build). Committing one survivor that also carries it
    // pushes standing df to cap + 1: the commit must decrement all 50
    // owners' standing sizes, or doc 46's post-commit size is 4 instead
    // of 3 and the crafted batch-2 doc Q lands at jaccard 2/5 < 0.5
    // instead of 2/4 — is_dup flips. Engineered decisive.
    val cap = Dedup.ShingleDfCap
    val corpus = (0 until cap).map { i =>
      (i * 5L + 1, s"x y z u$i v$i w$i")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_commit_cross").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_commit_cross_ix").toString
    // Pinned to 64 buckets: the file-count witness below needs the
    // batch's shingles spread over several buckets, which the tiny
    // corpus would not size.
    Dedup.shingleBuildIfStale(spark, dir, base, nBuckets = 64)
    val b1 = Seq((0L, "x y z p0 q0 r0")).toDF("doc_id", "text")
    val v1 = Dedup.shingleProbe(spark, base, b1).collect()
    assert(v1.length == 1 && !v1.head.getBoolean(1),
      "crafted batch-1 doc must survive (its only shared shingle flips)")
    def parquetFiles(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(p)
      try st.filter(q => q.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(q)).count()
      finally st.close()
    }
    val filesBefore = parquetFiles(s"$base/postings")
    Dedup.shingleCommit(spark, base, b1)
    // Append discipline: ≤ one new file per bucket the batch touches —
    // the batch's 4 shingles land in ≤ 4 bucket files, never a
    // task-count × bucket-count storm.
    assert(parquetFiles(s"$base/postings") <= filesBefore + 4,
      "commit small-file-stormed the postings layout")
    // The crossing correction: 50 standing owners, one −1 row each.
    val neg = spark.read.parquet(s"$base/n0")
      .filter(col("n0") < 0).collect()
    assert(neg.length == cap && neg.forall(_.getLong(1) == -1L),
      s"expected $cap −1 size deltas, got ${neg.length}")
    // Q shares 2 of doc 46's 3 post-crossing kept shingles: dup iff the
    // deltas landed (2/4 = 0.5 with them, 2/5 without).
    val b2 = Seq((10L, "z u9 v9 w9 t9")).toDF("doc_id", "text")
    val after = Dedup.shingleProbe(spark, base, b2)
      .collect().map(_.toString).toSeq
    val rebuild = Dedup.incrementalDedupOf(
        corpus.unionByName(b1), b2)
      .collect().map(_.toString).toSeq
    assert(after == rebuild,
      "post-crossing probe diverged from the union rebuild")
    assert(after.head.contains("true") && after.head.contains("46"),
      s"Q must match doc 46 at exactly-threshold jaccard, got $after")
    // Compaction is semantics-free: the delta tables roll up (one row
    // per shingle / per doc — the −1 crossing corrections fold into the
    // owners' sums) and the probe answer must not move.
    Dedup.shingleCompact(spark, base)
    val n0 = spark.read.parquet(s"$base/n0")
    assert(n0.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "compaction left multiple n0 rows for one doc")
    assert(n0.filter(col("n0") < 0).count() == 0,
      "crossing corrections must fold into the rolled-up sums")
    val compacted = Dedup.shingleProbe(spark, base, b2)
      .collect().map(_.toString).toSeq
    assert(compacted == rebuild, "compaction moved the probe answer")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("commit equals union rebuild on random corpora (property)") {
    // Same tiny-vocabulary fuzz as the probe property — dfs land on both
    // sides of the cap, commits cross shingles over it, and real dup
    // verdicts exercise the size arithmetic end to end.
    val tinyVocab = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val tinyDoc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, tinyVocab))
    (1 to 2).foreach { seed =>
      val docs = (0 until 160).flatMap { i =>
        tinyDoc.apply(Gen.Parameters.default, Seed(seed * 7000L + i))
          .map(ws => (i.toLong, ws.mkString(" ")))
      }.toDF("doc_id", "text")
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_commit_prop_$seed").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_commit_prop_ix_$seed").toString
      Dedup.shingleBuildIfStale(spark, dir, base)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val b1 = docs.filter(col("doc_id") % 10 === 5)
      val b2 = docs.filter(col("doc_id") % 10 === 0)
      val accepted = b1.join(
        Dedup.shingleProbe(spark, base, b1)
          .filter(!col("is_dup")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      Dedup.shingleCommit(spark, base, accepted)
      val after = Dedup.shingleProbe(spark, base, b2)
        .collect().map(_.toString).toSeq
      val rebuild = Dedup.incrementalDedupOf(
          corpus.unionByName(accepted), b2)
        .collect().map(_.toString).toSeq
      assert(after == rebuild,
        s"seed $seed: post-commit probe diverged from union rebuild")
      assert(rebuild.exists(_.contains("true")),
        s"seed $seed: no dup verdicts — fuzz too weak")
      graft.TrackedCaches.release()
      graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
      graft.Fs.deleteRec(java.nio.file.Paths.get(base))
    }
  }

  test("commit-compact-commit equals sequential rebuild (property)") {
    // The interleaving the single-shot specs can't see: a SECOND commit
    // lands its deltas on ROLLED-UP state (compaction collapsed the
    // first commit's df/size rows), and cap crossings span three index
    // generations. Each probe must still equal the from-scratch joint
    // rebuild over everything accepted so far.
    val tinyVocab = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val tinyDoc = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, tinyVocab))
    val seed = 31
    val docs = (0 until 160).flatMap { i =>
      tinyDoc.apply(Gen.Parameters.default, Seed(seed * 9000L + i))
        .map(ws => (i.toLong, ws.mkString(" ")))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ccc_prop").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_ccc_prop_ix").toString
    Dedup.shingleBuildIfStale(spark, dir, base)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    def acceptedOf(batch: org.apache.spark.sql.DataFrame,
        verdicts: Seq[org.apache.spark.sql.Row]) = {
      val ids = verdicts.filter(!_.getBoolean(1)).map(_.getLong(0))
      batch.join(ids.toDF("doc_id"), Seq("doc_id"), "left_semi")
    }
    // Generation 1: commit batch-1 survivors, then COMPACT.
    val b1 = docs.filter(col("doc_id") % 10 === 5)
    val v1 = Dedup.shingleProbe(spark, base, b1).collect()
    val acc1 = acceptedOf(b1, v1.toSeq)
    Dedup.shingleCommit(spark, base, acc1)
    Dedup.shingleCompact(spark, base)
    // Generation 2: a second commit ON the compacted state.
    val b2a = docs.filter(col("doc_id") % 20 === 0)
    val v2a = Dedup.shingleProbe(spark, base, b2a).collect()
    val ref2a = Dedup.incrementalDedupOf(
      corpus.unionByName(acc1), b2a).collect()
    assert(v2a.map(_.toString).toSeq == ref2a.map(_.toString).toSeq,
      "post-compact probe diverged from the rebuild")
    val acc2 = acceptedOf(b2a, v2a.toSeq)
    Dedup.shingleCommit(spark, base, acc2)
    // Generation 3: probe against corpus ∪ s1 ∪ s2a.
    val b2b = docs.filter(col("doc_id") % 20 === 10)
    val v2b = Dedup.shingleProbe(spark, base, b2b)
      .collect().map(_.toString).toSeq
    val ref2b = Dedup.incrementalDedupOf(
        corpus.unionByName(acc1).unionByName(acc2), b2b)
      .collect().map(_.toString).toSeq
    assert(v2b.nonEmpty && v2b == ref2b,
      "commit-on-compacted-state diverged from the sequential rebuild")
    assert((v1.map(_.toString) ++ v2b).exists(_.contains("true")),
      "fuzz produced no dup verdicts — too weak")
    graft.TrackedCaches.release()
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("empty shingle delete against a not-yet-built base is the " +
      "documented no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shingle_nobase")
    // Decided before any index file is touched — must not throw on the
    // missing _stats of a base that was never built.
    try Dedup.shingleDelete(spark, s"$dir/nothere",
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    finally graft.Fs.deleteRec(dir)
  }

  // ── Standing shingle index: what one operation costs ──
  // Probe, commit and delete reconcile the batch's df against the
  // standing delta tables; these specs pin that the reconciliation reads
  // and shuffles the batch's own keys, not the corpus, and that none of
  // the three gains a Spark job unnoticed.

  /** A corpus dir of `nCorpus` docs over a 40-word vocabulary plus
    * `nExtra` docs whose words occur nowhere else, and a 40-doc arrival
    * batch over the corpus vocabulary (every fourth arrival a verbatim
    * copy of a corpus doc). Corpus ids are ≢ 0 (mod 5), arrival ids ≡ 0. */
  private def costFixture(nCorpus: Int, nExtra: Int)
      : (String, org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(40)}").mkString(" ")
    val corpus = (0 until nCorpus).map(i => (i * 5L + 1, words(8 + i % 7)))
    val extra = (0 until nExtra).map { i =>
      (i * 5L + 2, (0 until 8 + i % 7).map(j => s"x${i}y$j").mkString(" "))
    }
    val batch = (1 to 40).map { i =>
      (i * 5L, if (i % 4 == 0) corpus(i * 3)._2 else words(8 + i % 7))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_cost").toString
    (corpus ++ extra).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, batch.toDF("doc_id", "text"))
  }

  /** Jobs and shuffle bytes of probe (with its write), commit and delete
    * of `batch` against a freshly built 4-bucket index over `dir`. */
  private def operationCosts(dir: String,
      batch: org.apache.spark.sql.DataFrame): Seq[(String, (Int, Long))] = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_shingle_cost_ix").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_shingle_cost_out").toString
    try {
      Dedup.shingleBuildIfStale(spark, dir, base, nBuckets = 4)
      val probe = metered(Dedup.shingleProbe(spark, base, batch)
        .write.mode("overwrite").parquet(out))
      graft.TrackedCaches.release()
      val commit = metered(Dedup.shingleCommit(spark, base, batch))
      val delete = metered(Dedup.shingleDelete(spark, base, batch))
      Seq("probe" -> probe, "commit" -> commit, "delete" -> delete)
    } finally {
      graft.TrackedCaches.release()
      graft.Fs.deleteRec(java.nio.file.Paths.get(base))
      graft.Fs.deleteRec(java.nio.file.Paths.get(out))
    }
  }

  test("reconciliation is batch-bounded: probe, commit and delete shuffle " +
      "the same bytes over a corpus grown by disjoint-vocabulary docs") {
    val (small, batch) = costFixture(200, 0)
    val (grown, _) = costFixture(200, 1200)
    try {
      val a = operationCosts(small, batch)
      val b = operationCosts(grown, batch)
      // The grown index holds 6x the corpus's docs, and every bucket of
      // its delta tables, postings and sizes holds rows the batch never
      // names. Summing whole tables shuffled about 5x the bytes there
      // (probe 40 → 231 KB); keyed sums shuffle the batch's own rows,
      // the same on both (probe 19.9 KB, commit 26.5 KB, delete 26.6 KB
      // when this was written). 5% leaves room for the shuffle files'
      // compression, nothing for a term that grows with the corpus.
      a.zip(b).foreach { case ((op, (_, x)), (_, (_, y))) =>
        info(s"$op: $x shuffle bytes over the corpus, $y over corpus + 1200")
        assert(x > 0L, s"$op shuffled nothing: the fixture measures nothing")
        assert(math.abs(y - x) <= x / 20,
          s"$op shuffled $x bytes over the corpus but $y over the grown " +
            "corpus: some sum still reads rows the batch does not name")
      }
    } finally {
      graft.Fs.deleteRec(java.nio.file.Paths.get(small))
      graft.Fs.deleteRec(java.nio.file.Paths.get(grown))
    }
  }

  test("jobs per standing shingle operation are pinned (AQE off)") {
    val (dir, batch) = costFixture(200, 200)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // Jobs with AQE off (adaptive execution adds one per shuffle stage,
      // and their number follows thread timing). The probe counts its
      // write. Every read passes its declared schema, so none runs a
      // schema-inference job. Before the keyed sums: probe 10, commit 14,
      // delete 18; before the declared schemas: 10, 13, 17.
      val pinned = Map("probe" -> 7, "commit" -> 12, "delete" -> 14)
      operationCosts(dir, batch).foreach { case (op, (jobs, _)) =>
        info(s"$op: $jobs jobs")
        assert(jobs <= pinned(op),
          s"$op ran $jobs Spark jobs, pinned at ${pinned(op)}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
    }
  }
}
