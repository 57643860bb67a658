package graft

import org.apache.spark.sql.functions._

import graft.llm.{AnnIndex, Similarity}

/** The standing-index contract: persistence moves the cost regime, never
  * the semantics.
  *
  * The oracle gate already proves `q_ann_ivf_standing` matches DuckDB
  * running the same k-means + probe — but it would also pass if the
  * "standing" path quietly retrained per call. This spec pins the parts
  * the oracle can't see: the probe answer is ROW-IDENTICAL to the
  * rebuild-every-time [[Similarity.annIvf]], a second build call against
  * the same corpus is a no-op (the serving regime), and a changed corpus
  * is detected as stale instead of served from the old index.
  */
class AnnIndexSpec extends SparkSpec {

  private def freshBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ivf_spec_$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("standing probe is row-identical to the rebuild-every-time annIvf") {
    val base = freshBase("ident")
    assert(AnnIndex.buildIfStale(spark, Sf, base), "first call must build")
    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < Similarity.NumQueries)
    val standing = rows(AnnIndex.probe(spark, base, queries))
    val rebuild = rows(Similarity.annIvf(spark, Sf))
    assert(standing.nonEmpty)
    assert(standing == rebuild,
      s"standing probe diverged from annIvf: ${standing.size} vs ${rebuild.size} rows")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("second build against the same corpus is a no-op; probe still exact") {
    val base = freshBase("noop")
    assert(AnnIndex.buildIfStale(spark, Sf, base))
    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < Similarity.NumQueries)
    val first = rows(AnnIndex.probe(spark, base, queries))
    assert(!AnnIndex.buildIfStale(spark, Sf, base),
      "unchanged corpus must not rebuild")
    assert(rows(AnnIndex.probe(spark, base, queries)) == first)
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("a changed corpus is stale — the marker guards against serving old cells") {
    val base = freshBase("stale")
    assert(AnnIndex.buildIfStale(spark, Sf, base))
    // Simulate an in-place corpus rewrite: the marker's content
    // signature (file name/length/mtime digest) no longer matches ⇒
    // rebuild — the exact hole a row-count-only marker would miss.
    val meta = java.nio.file.Paths.get(s"$base/_meta")
    val stamped = graft.llm.StandingIndex.marker(base).get
    assert(stamped.contains(" sig="), s"marker must carry a content sig: $stamped")
    // The probe budget's input is a build stat, not a marker tail.
    assert(graft.llm.StandingIndex.stat(base, "n").toLong ==
      Tables.embeddings(spark, Sf).count())
    java.nio.file.Files.write(meta,
      stamped.replaceFirst(" sig=[0-9a-f]+", " sig=deadbeef").getBytes("UTF-8"))
    assert(AnnIndex.buildIfStale(spark, Sf, base),
      "content-signature mismatch must trigger a rebuild")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("probe reads only probed cell partitions (pruned scan, no training)") {
    val base = freshBase("prune")
    AnnIndex.buildIfStale(spark, Sf, base)
    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < Similarity.NumQueries)
    val plan = AnnIndex.probe(spark, base, queries)
      .queryExecution.executedPlan.toString
    // The cells scan must carry a partition-column IN filter — the static
    // pruning that makes a probe O(probed cells), not O(corpus).
    assert(plan.contains("PartitionFilters: [cell"),
      s"cells scan lost its partition filter:\n$plan")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("append: probe equals the frozen-centroid union reference") {
    import graft.functions.VectorFunctions.floatCosine
    // Wipe the query's standing dir first so EVERY run exercises the
    // build + append transition, not just the first on a fresh host
    // (the marker would otherwise serve probe-only forever).
    val qbase = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append"
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
    val emb = Tables.embeddings(spark, Sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    val got = graft.llm.AnnIndex.annIvfAppendStanding(spark, Sf)
    // Independent reference computed WITHOUT the standing dirs: the
    // index's centroids (frozen at build), every union vector assigned
    // to its argmin cell, queries routed with the BUILD-time probe
    // budget, exact cosine over probed candidates.
    val cents = spark.read.parquet(s"$qbase/centroids")
    val nprobe = Similarity.probesFor(Similarity.centroidsFor(corpus.count()))
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
    val q = Similarity.probeCells(Similarity.scaledOf(queries), cents, nprobe)
      .withColumnRenamed("vec_id", "query_id")
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), "query_id")
    val union = corpus.unionByName(arrivals)
    val expected = Similarity.assignCells(Similarity.scaledOf(union), cents)
      .join(union.select("vec_id", "embedding"), "vec_id")
      .join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
    assert(rows(got).nonEmpty)
    assert(rows(got) == rows(expected),
      "post-append probe diverged from the frozen-centroid union")
    // Arrivals really are IN the index: some neighbor must be an
    // arrival id (vec_id % 5 == 0, excluding the query itself).
    assert(got.filter(col("neighbor_id") % 5 === 0).count() > 0,
      "no arrival ever surfaced as a neighbor — append landed nothing")
    // Compaction (one file per cell dir) must not move the probe answer;
    // the marker survives the suspend/restore protocol, so the rerun
    // serves probe-only from the compacted layout.
    graft.llm.AnnIndex.compact(spark, qbase)
    val again = graft.llm.AnnIndex.annIvfAppendStanding(spark, Sf)
    assert(rows(again) == rows(expected), "compaction moved the probe answer")
    val cellFiles = {
      val p = java.nio.file.Paths.get(s"$qbase/cells")
      val st = java.nio.file.Files.walk(p)
      try st.filter(q => q.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(q)).count()
      finally st.close()
    }
    val nCells = spark.read.parquet(s"$qbase/cells")
      .select("cell").distinct().count()
    assert(cellFiles == nCells,
      s"compaction left $cellFiles files over $nCells cells")
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
  }

  test("delete: probe equals the frozen-centroid reference minus the deleted " +
      "rows, is idempotent, and compaction drains the tombstones") {
    import graft.functions.VectorFunctions.floatCosine
    // Wipe the query's standing dir so every run exercises the
    // build + delete transition (the marker would otherwise serve
    // probe-only forever).
    val qbase = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_delete"
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
    val emb = Tables.embeddings(spark, Sf)
    val got = graft.llm.AnnIndex.annIvfDeleteStanding(spark, Sf)
    // Independent reference computed WITHOUT the standing dirs: the
    // index's centroids (frozen at build over the FULL corpus), the
    // UNDELETED slice assigned to its argmin cell, queries routed with
    // the build-time probe budget, exact cosine over probed candidates —
    // i.e. a rebuild-without-the-deleted-rows under the same geometry.
    val cents = spark.read.parquet(s"$qbase/centroids")
    val nprobe = Similarity.probesFor(Similarity.centroidsFor(emb.count()))
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
    val q = Similarity.probeCells(Similarity.scaledOf(queries), cents, nprobe)
      .withColumnRenamed("vec_id", "query_id")
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), "query_id")
    val kept = emb.filter(col("vec_id") % 7 =!= 3)
    val expected = Similarity.assignCells(Similarity.scaledOf(kept), cents)
      .join(kept.select("vec_id", "embedding"), "vec_id")
      .join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
    assert(rows(got).nonEmpty)
    assert(rows(got) == rows(expected),
      "post-delete probe diverged from the frozen-centroid purged reference")
    assert(got.filter(col("neighbor_id") % 7 === 3).count() == 0,
      "a deleted vector surfaced as a neighbor")
    // The purge was not vacuous: tombstones landed, and the UNPURGED
    // index would have answered differently (some deleted id was a
    // candidate somewhere).
    val tombs = spark.read.parquet(s"$qbase/tombstones")
    assert(tombs.count() == emb.filter(col("vec_id") % 7 === 3).count(),
      "tombstone rows must cover exactly the deleted slice")
    // Idempotency: re-deleting the same slice changes nothing a probe
    // can see (tombstones are duplicate-tolerant).
    graft.llm.AnnIndex.delete(spark, qbase,
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
    assert(rows(graft.llm.AnnIndex.annIvfDeleteStanding(spark, Sf)) ==
      rows(expected), "re-delete of the same ids moved the probe answer")
    // Compaction physically drops the tombstoned rows, retires the
    // tombstone table, and must not move the probe answer.
    graft.llm.AnnIndex.compact(spark, qbase)
    assert(rows(graft.llm.AnnIndex.annIvfDeleteStanding(spark, Sf)) ==
      rows(expected), "compaction moved the post-delete probe answer")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$qbase/tombstones")),
      "compaction must retire the tombstone table")
    assert(spark.read.parquet(s"$qbase/cells")
        .filter(col("vec_id") % 7 === 3).count() == 0,
      "compaction left physically-deleted rows in the cells layout")
    graft.Fs.deleteRec(java.nio.file.Paths.get(qbase))
  }

  test("delete of absent ids is a no-op and probes keep serving") {
    val base = freshBase("delnoop")
    AnnIndex.buildIfStale(spark, Sf, base)
    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < Similarity.NumQueries)
    val before = rows(AnnIndex.probe(spark, base, queries))
    import spark.implicits._
    AnnIndex.delete(spark, base, Seq(-1L, -2L).toDF("vec_id"))
    assert(rows(AnnIndex.probe(spark, base, queries)) == before,
      "deleting ids absent from the index moved the probe answer")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("append lands every arrival in its argmin cell") {
    val base = freshBase("appendcells")
    val emb = Tables.embeddings(spark, Sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 5 === 0)
    graft.llm.AnnIndex.buildFrom(spark, corpus, base)
    def parquetFiles(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(p)
      try st.filter(q => q.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(q)).count()
      finally st.close()
    }
    val filesBefore = parquetFiles(s"$base/cells")
    graft.llm.AnnIndex.append(spark, base, arrivals)
    val cents = spark.read.parquet(s"$base/centroids")
    // Append discipline: ≤ one new file per cell the arrivals touch.
    val touched = graft.llm.Similarity
      .assignCells(graft.llm.Similarity.scaledOf(arrivals), cents)
      .select("cell").distinct().count()
    assert(parquetFiles(s"$base/cells") <= filesBefore + touched,
      "append small-file-stormed the cells layout")
    val gotCells = spark.read.parquet(s"$base/cells")
      .select("vec_id", "cell")
    val wantCells = Similarity.assignCells(
        Similarity.scaledOf(corpus.unionByName(arrivals)), cents)
      .select("vec_id", "cell")
    assert(gotCells.exceptAll(wantCells).isEmpty &&
      wantCells.exceptAll(gotCells).isEmpty,
      "cells layout diverged from the frozen-centroid assignment")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("full purge: deleting every vector, compacting to empty, and " +
      "re-appending stays readable and exact") {
    val base = freshBase("purgeall")
    assert(AnnIndex.buildIfStale(spark, Sf, base))
    val emb = Tables.embeddings(spark, Sf)
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
    val want = rows(AnnIndex.probe(spark, base, queries))
    AnnIndex.delete(spark, base, emb.select("vec_id"))
    assert(AnnIndex.probe(spark, base, queries).count() == 0,
      "every candidate is tombstoned — the probe must serve empty")
    // Compaction physically drops ALL rows: the cells table becomes a
    // data-less dir, which the probe reads as empty through its declared
    // schema.
    AnnIndex.compact(spark, base)
    assert(AnnIndex.probe(spark, base, queries).count() == 0,
      "the drained-empty index must serve empty, not error")
    // The empty state stays append-compatible, and re-adding the corpus
    // under the frozen centroids restores the exact original answers
    // (assignment is deterministic against the same centroids).
    AnnIndex.append(spark, base, emb)
    assert(rows(AnnIndex.probe(spark, base, queries)) == want,
      "probe after purge-then-reappend diverged from the original")
    graft.Fs.deleteRec(java.nio.file.Paths.get(base))
  }

  test("jobs per standing IVF operation are pinned (AQE off)") {
    val base = freshBase("jobs")
    val emb = Tables.embeddings(spark, Sf)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // A marked index, so compact runs its body under the suspension.
      graft.llm.StandingIndex.ensure(base, "jobs spec") {
        AnnIndex.buildFrom(spark, emb.filter(col("vec_id") % 5 =!= 0), base)
        ()
      }
      val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      // Jobs with AQE off (adaptive execution adds one per shuffle stage,
      // and their number follows thread timing). The probe counts its
      // collect, and runs against tombstones so both pruned reads run.
      val costs = Seq(
        "append" -> metered(AnnIndex.append(spark, base,
          emb.filter(col("vec_id") % 5 === 0))),
        "delete" -> metered(AnnIndex.delete(spark, base,
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"))),
        "probe" -> metered(AnnIndex.probe(spark, base, queries).collect()),
        "compact" -> metered(AnnIndex.compact(spark, base)))
      // Pinned at the counts before the IVF tables declared their read
      // schemas; those reads' inference jobs are gone now.
      val pinned = Map("append" -> 5, "delete" -> 3, "probe" -> 10, "compact" -> 4)
      costs.foreach { case (op, (jobs, _)) =>
        info(s"$op: $jobs jobs")
        assert(jobs <= pinned(op), s"$op ran $jobs Spark jobs, pinned at ${pinned(op)}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      graft.TrackedCaches.release()
      graft.Fs.deleteRec(java.nio.file.Paths.get(base))
    }
  }
}
