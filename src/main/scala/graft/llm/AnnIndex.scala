package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorFunctions.floatCosine

/** Standing (persisted) IVF ANN index: build ONCE into bucketed parquet,
  * then answer every future top-k query with a probe-only plan that reads
  * just the probed cell partitions.
  *
  * [[Similarity.annIvf]] is the right QUERY shape (never all-pairs,
  * broadcast-centroid training, multi-probe equi-join) but it re-trains
  * and re-assigns the whole corpus on every call — fine for a one-shot
  * curation query, wrong for the serving pattern the reference's notebook
  * implies (load once, query repeatedly: transform-data.py materializes
  * its dimension tables once and reuses them across queries). At 100 TB
  * the economics are stark: training + assignment is the N·√N kernel and
  * a full-corpus pass, while a probe touches ~nprobe of the √N cells —
  * an O(nprobe·√N)-row read IF the storage layout lets the scan skip the
  * other cells. This class makes the layout do exactly that:
  *
  *   base/centroids/   k = √N trained centroid rows (integer grid —
  *                     [[Similarity.trainCentroids]]' exact arithmetic,
  *                     so a rebuild reproduces them bit-for-bit)
  *   base/cells/       the corpus hive-partitioned BY CELL
  *                     (`cell=<id>/part-*.parquet`, one file per cell:
  *                     the build repartitions on the partition column
  *                     first, so appends never small-file-storm)
  *   base/tombstones/  deleted vec_ids, cell-partitioned ([[delete]]),
  *                     absent until a delete, retired by [[compact]]
  *   marker + stats    [[StandingIndex]]'s: the marker holds corpus
  *                     dir + content signature (a probe against a
  *                     changed corpus rebuilds instead of serving a
  *                     stale index); the stats hold the build's n
  *
  * The probe plan filters the cells scan with a static partition-column
  * predicate (`cell IN (probed…)`), so the FileSourceScan's
  * PartitionFilters prune every unprobed directory BEFORE any rows are
  * read — the 100 TB move; PlanShapeSpec asserts it. Collecting the
  * probed-cell set to the driver is bounded by construction: it is a
  * projection of the query-probe frame the plan broadcasts into the join
  * anyway (≤ |queries|·nprobe rows), so the collect can never exceed the
  * broadcast the query already requires.
  *
  * The probe tail (exact float cosine over probed candidates, rounded
  * 4 dp) is the SAME code as [[Similarity.annIvf]]'s, and training is
  * deterministic integer k-means — so a standing-index answer is
  * row-identical to the rebuild-every-time answer (AnnIndexSpec proves
  * it) and `q_ann_ivf_standing` reuses [[Similarity.annIvfSql]] verbatim:
  * persistence moves the cost regime, never the semantics.
  */
object AnnIndex {
  import Similarity.{centroidsFor, probesFor, scaledOf, assignCells,
    probeCells, seedCentroidsOf, trainCentroids, NumQueries}

  private def centroidsDir(base: String) = s"$base/centroids"
  private def cellsDir(base: String)     = s"$base/cells"
  private def tombsDir(base: String)     = s"$base/tombstones"

  /** The declared schemas every read of the three tables passes; `cell`
    * is typed as partition discovery infers it. */
  private val CentroidsSchema = StructType(Seq(
    StructField("cent_id", IntegerType), StructField("carr", ArrayType(LongType))))
  private val CellsSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("cell", IntegerType)))
  private val TombstonesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", IntegerType)))

  /** The tombstones read by `read`, None before any delete; an empty
    * delete's data-less table reads as empty. */
  private def tombstones(base: String)(read: String => DataFrame): Option[DataFrame] =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tombsDir(base))))
      Some(read(tombsDir(base)))
    else None

  /** Build the index at `base` unless its marker shows it was already
    * built from this corpus (same dir, same corpus-file content signature
    * — name/length/mtime of every file, so an in-place rewrite with the
    * same row count still rebuilds). Returns true iff a build ran. The
    * build is the amortized one-time cost: train (on the
    * [[Similarity.SamplePerCell]]-bounded slice), assign every vector to
    * its cell (the unavoidable full-corpus pass), and lay the corpus out
    * cell-partitioned so probes can skip. */
  def buildIfStale(s: SparkSession, d: String, base: String): Boolean =
    StandingIndex.ensure(base, corpusMarker(d)) {
      buildFrom(s, Tables.embeddings(s, d), base)
    }

  /** Marker of an index over corpus dir `d`; the phase queries extend it
    * with the phase they reached. */
  private def corpusMarker(d: String): String =
    s"dir=$d sig=${StandingIndex.sourceSig(s"$d/embeddings.parquet")}"

  /** The build body over an arbitrary (vec_id, embedding) corpus frame,
    * into an empty `base`: train, lay out cell-partitioned, and record
    * the corpus count n as the build stat [[probe]] derives its budget
    * from — probesFor(centroidsFor(n)), NOT the stored centroid row
    * count, which can be smaller when training empties a cell (ties
    * break to one seed; the other's cell drops out of the groupBy) and
    * would silently diverge from [[Similarity.annIvf]]'s budget. Returns
    * n. Stamps no marker: callers run it inside [[StandingIndex.ensure]],
    * which stamps one only once the whole state transition succeeded. */
  private[graft] def buildFrom(s: SparkSession, emb: DataFrame,
      base: String): Long = {
    val n = emb.count()
    val sx = graft.TrackedCaches.track(scaledOf(emb).cache())
    val k = centroidsFor(n)
    val cents = trainCentroids(sx, seedCentroidsOf(emb, sx, k), n, k)
    cents.write.mode("overwrite").parquet(centroidsDir(base))
    assignCells(sx, cents)
      .join(emb, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"))
      // One write task per cell dir: repartition ON the partition column
      // so each cell's rows land in exactly one task → one file per
      // `cell=<id>/` directory at any corpus scale (k = √N directories).
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(cellsDir(base))
    StandingIndex.recordStats(base, "n" -> n)
    n
  }

  /** Append new vectors into a standing index under FROZEN centroids —
    * the IVF serving mutation (Faiss `add` after `train`): each arrival
    * is assigned to its argmin cell against the centroids the index was
    * built with and appended into that cell's partition directory
    * (repartition on the partition column → ≤ one new file per touched
    * cell per append, batch-scale work — the assignment is a broadcast
    * argmin over |arrivals|, never a corpus pass). The probe budget (k,
    * nprobe) is part of the frozen index geometry and does NOT move with
    * appends — the recorded build stat n stays the build-time corpus
    * count, exactly as IVF serving freezes its cell count until the next
    * retrain (recall under distribution drift is the retrain trigger, not
    * a correctness condition: probe results stay exact over whatever the
    * cells contain, spec-proven against a frozen-centroid union
    * reference). Arrival vec_ids must be disjoint from the standing
    * corpus. */
  def append(s: SparkSession, base: String, arrivals: DataFrame): Unit = {
    val cents = s.read.schema(CentroidsSchema).parquet(centroidsDir(base))
    // Materialize the arrival slice ONCE: it fans out to two consumers
    // (the quantize/argmin branch and the embedding join-back), and when
    // the caller passes a filter over the corpus table an uncut lineage
    // would re-scan the corpus per consumer — two corpus passes for a
    // batch-scale mutation. The checkpoint bounds both reads to
    // |arrivals|.
    val a = arrivals.select("vec_id", "embedding").localCheckpoint()
    assignCells(scaledOf(a), cents)
      .join(a, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(cellsDir(base))
  }

  /** Delete vectors from a standing index by id — the serving-lifecycle
    * verb the family's build/probe/append/compact set lacked: a takedown
    * or contamination purge against a 100 TB standing corpus cannot
    * afford delete-and-reseed (a full retrain + corpus relayout for a
    * handful of rows). Tombstone model (the LSM idiom): each deleted id
    * lands as a (cell, vec_id) row under `tombstones/cell=<id>/`,
    * written with [[append]]'s repartition-on-the-partition-column
    * discipline (≤ one new file per touched cell per delete). [[probe]]
    * anti-joins the tombstones path-pruned to the probed cells —
    * exclusion costs O(tombstones in probed cells), broadcast, never a
    * corpus pass — and [[compact]] physically drops tombstoned rows and
    * retires the tombstones.
    *
    * Resolving ids to cells takes ONE column-pruned scan of the cells
    * layout — (vec_id, cell) only, two dictionary-encoded integer
    * columns, never the embedding bytes; the ids side broadcasts
    * (takedown batches are small by nature, and anything too big to
    * broadcast is a rebuild-sized event anyway).
    *
    * Contract:
    *  - idempotent + re-runnable: tombstones are duplicate-tolerant and
    *    carry no side stats, so a crashed or repeated delete is safely
    *    re-run (no intent marker to orphan — contrast the BM25 append
    *    protocol, whose stats deltas would double-count);
    *  - ids absent from the index resolve to no cell → no tombstone;
    *  - the probe budget (k, nprobe) is FROZEN index geometry and does
    *    not shrink with deletes, exactly as [[append]] leaves it — the
    *    recorded n stays the build-time corpus count;
    *  - a tombstoned id stays excluded until [[compact]] retires the
    *    tombstones, so re-appending a previously deleted id requires a
    *    compact first (standard tombstone semantics);
    *  - tombstones purge the INDEX: a rebuild from a source corpus that
    *    still contains the rows resurrects them, so a durable takedown
    *    must also purge the source table. */
  def delete(s: SparkSession, base: String, ids: DataFrame): Unit = {
    s.read.schema(CellsSchema).parquet(cellsDir(base))
      .select(col("cell"), col("vec_id"))
      .join(broadcast(ids.select("vec_id").distinct()), "vec_id")
      .select(col("cell"), col("vec_id"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(tombsDir(base))
  }

  /** Probe-only top-candidate query against a standing index: no
    * training, no corpus assignment — read k centroid rows, route each
    * query to its [[Similarity.probesFor]] nearest cells, and scan ONLY
    * those cell partitions for exact-cosine scoring; tombstoned rows
    * (see [[delete]]) are excluded by a broadcast anti-join against the
    * tombstone slice of the SAME probed cells. `queries` is any
    * (vec_id, embedding) frame; output matches [[Similarity.annIvf]]'s
    * (query_id, neighbor_id, cos) contract. */
  def probe(s: SparkSession, base: String, queries: DataFrame): DataFrame = {
    val n = StandingIndex.stat(base, "n").toLong
    val cents = s.read.schema(CentroidsSchema).parquet(centroidsDir(base))
    // The annIvf-identical budget: from the corpus count the index was
    // built over, never from surviving centroid rows (scaladoc above).
    val nprobe = probesFor(centroidsFor(n))
    // Two consumers (the probed-cells collect and the broadcast join):
    // cache the query-routing frame so the centroid cross-join + window
    // run once per probe.
    val q = graft.TrackedCaches.track(
      probeCells(scaledOf(queries), cents, nprobe)
        .withColumnRenamed("vec_id", "query_id")
        .join(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("qe")), "query_id").cache())
    // The probed-cell set is a projection of the frame broadcast into
    // the join below, so this collect is bounded by the same budget as
    // that broadcast (≤ |queries|·nprobe ints). Path-level pruning (the
    // StandingIndex idiom): only the probed cell directories are listed
    // and read; the isin filter stays as the plan-visible
    // PartitionFilters witness.
    val probed = q.select("cell").distinct()
      .collect().map(_.getInt(0).toLong).sorted
    // Tombstone exclusion through the shared mask, with the tombs side
    // path-pruned to the probed cells like the data itself — the
    // exclusion reads O(tombstones in probed cells), broadcast.
    val candidates = StandingIndex.liveRows(
      StandingIndex.prunedRead(s, cellsDir(base), "cell", probed, CellsSchema),
      Seq("cell", "vec_id"),
      tombstones(base)(StandingIndex.prunedRead(s, _, "cell", probed, TombstonesSchema)))
    candidates
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Compact the cells layout back to one file per cell directory — the
    * maintenance pass a steady [[append]] stream needs (each append adds
    * a file per touched cell; the 100× ladder measured ~447 files per 1%
    * arrival, and scan cost eventually tracks file count). When
    * tombstones exist (see [[delete]]), the rewrite also PHYSICALLY
    * drops the tombstoned rows (left_anti on (cell, vec_id) — the
    * compaction is a full cells rewrite anyway, so the anti-join rides
    * the pass it was already paying for) and then retires the tombstone
    * table, restoring re-append eligibility for the deleted ids. Runs
    * under the marker-suspend protocol: a crash mid-compaction — before
    * the swap, between the swap and the tombstone retire, anywhere —
    * leaves an unmarked (rebuildable) dir, never a fresh-marked partial
    * one. Probe results are IDENTICAL before and after (AnnIndexSpec:
    * with and without tombstones) — compaction moves bytes and drains
    * tombstones whose exclusions probes already honored, never
    * semantics. */
  def compact(s: SparkSession, base: String): Unit =
    StandingIndex.withMarkerSuspended(base) {
      StandingIndex.compactTable(s, base, "cells", "cell", CellsSchema,
        StandingIndex.liveRows(_, Seq("cell", "vec_id"),
          tombstones(base)(s.read.schema(TombstonesSchema).parquet(_))))
      graft.Fs.deleteRec(java.nio.file.Paths.get(tombsDir(base)))
    }

  /** The shipped query: same query set and semantics as `q_ann_ivf`, via
    * the standing index (built on first call, probe-only after — a bench
    * rerun measures the serving regime, which is the feature). Oracle:
    * [[Similarity.annIvfSql]] unchanged. */
  def annIvfStanding(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_standing"
    buildIfStale(s, d, base)
    probe(s, base,
      Tables.embeddings(s, d).filter(col("vec_id") < NumQueries))
  }

  /** The shipped APPEND query (`q_ann_ivf_append`): build the standing
    * index from the corpus slice (vec_id % 5 ≠ 0), [[append]] the arrival
    * slice (vec_id % 5 = 0) under the frozen centroids, then probe the
    * standard query set against the grown index — neighbors come from
    * corpus AND arrivals through one cell-pruned plan. The oracle
    * recomputes both phases in SQL (train on the corpus slice, assign
    * arrivals to the trained centroids, probe the union — the
    * [[graft.streaming.VecStreams]] frozen-centroid idiom). The marker
    * embeds the appended phase, so reruns serve probe-only and a crash
    * mid-transition (or a corpus rewrite) rebuilds from source. */
  def annIvfAppendStanding(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_append"
    val emb = Tables.embeddings(s, d)
    StandingIndex.ensure(base,
        s"${corpusMarker(d)} corpus=mod5ne0 appended=mod5eq0") {
      buildFrom(s, emb.filter(col("vec_id") % 5 =!= 0), base)
      append(s, base, emb.filter(col("vec_id") % 5 === 0))
    }
    probe(s, base, emb.filter(col("vec_id") < NumQueries))
  }

  /** Oracle for [[annIvfAppendStanding]]: k-means over the corpus slice
    * only, arrivals assigned to those FROZEN centroids, probes over the
    * union. */
  val annIvfAppendSql: String = {
    import Similarity.{KmIters, NumProbes, ProbePct, ScaleQ}
    s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
        ${Similarity.kmeansCellsSqlOver("corpus")},
        ax AS (SELECT vec_id, i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * $ScaleQ + 0.5) AS BIGINT) AS v
               FROM embeddings, generate_series(1, 64) t(i)
               WHERE vec_id % 5 = 0),
        da AS (SELECT x.vec_id, c.cent_id, sum((x.v - c.c) * (x.v - c.c)) AS d
               FROM ax x JOIN cent$KmIters c ON x.i = c.i GROUP BY 1, 2),
        acells AS (SELECT vec_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rk
                     FROM da) WHERE rk = 1),
        allcells AS (SELECT vec_id, cell FROM cells
                     UNION ALL SELECT vec_id, cell FROM acells),
        qdist AS (SELECT vec_id, cent_id, d FROM dfin WHERE vec_id < $NumQueries
                  UNION ALL
                  SELECT vec_id, cent_id, d FROM da WHERE vec_id < $NumQueries),
        probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rk
                     FROM qdist)
                   WHERE rk <= (SELECT greatest($NumProbes,
                                  ($ProbePct * k + 50) // 100) FROM kk)),
        q AS (SELECT p.query_id, p.cell, e.embedding AS qe
              FROM probes p JOIN embeddings e ON p.query_id = e.vec_id)
        SELECT q.query_id, k.vec_id AS neighbor_id,
          round(sum(CAST(q.qe[i] * e.embedding[i] AS DOUBLE))
            / (sqrt(sum(CAST(q.qe[i] * q.qe[i] AS DOUBLE)))
               * sqrt(sum(CAST(e.embedding[i] * e.embedding[i] AS DOUBLE)))), 4) AS cos
        FROM q JOIN allcells k ON k.cell = q.cell AND k.vec_id <> q.query_id
        JOIN embeddings e ON e.vec_id = k.vec_id,
             generate_series(1, 64) t(i)
        GROUP BY 1, 2 ORDER BY query_id, neighbor_id"""
  }

  /** The shipped DELETE query (`q_ann_ivf_delete`): build the standing
    * index over the FULL corpus, [[delete]] the vec_id % 7 = 3 slice,
    * then probe the standard query set against the purged index —
    * deleted vectors must never surface as neighbors, while query
    * routing and the probe budget keep the build-time (full-corpus)
    * frozen geometry, exactly as an IVF `remove_ids` leaves a served
    * index (no retrain). Queries whose own vec_id was deleted still
    * route and score — they probe BY their external embedding; only the
    * candidate side is purged. The marker embeds the deleted phase, so
    * reruns serve probe-only (the tombstone anti-join regime — the
    * bench row prices exactly the serving cost a purge adds) and a
    * crash mid-transition or a corpus rewrite rebuilds from source. */
  def annIvfDeleteStanding(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_delete"
    val emb = Tables.embeddings(s, d)
    StandingIndex.ensure(base, s"${corpusMarker(d)} deleted=mod7eq3") {
      buildFrom(s, emb, base)
      delete(s, base, emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
    }
    probe(s, base, emb.filter(col("vec_id") < NumQueries))
  }

  /** Oracle for [[annIvfDeleteStanding]]: [[Similarity.annIvfSql]] with
    * the candidate set minus the deleted slice — training, routing, and
    * the probe budget all stay full-corpus (the frozen geometry the
    * Spark side serves). */
  val annIvfDeleteSql: String = {
    import Similarity.{NumProbes, ProbePct}
    s"""WITH ${Similarity.kmeansCellsSqlOver("embeddings")},
        probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rk
                     FROM dfin WHERE vec_id < $NumQueries)
                   WHERE rk <= (SELECT greatest($NumProbes,
                                  ($ProbePct * k + 50) // 100) FROM kk)),
        q AS (SELECT p.query_id, p.cell, e.embedding AS qe
              FROM probes p JOIN embeddings e ON p.query_id = e.vec_id)
        SELECT q.query_id, k.vec_id AS neighbor_id,
          round(sum(CAST(q.qe[i] * e.embedding[i] AS DOUBLE))
            / (sqrt(sum(CAST(q.qe[i] * q.qe[i] AS DOUBLE)))
               * sqrt(sum(CAST(e.embedding[i] * e.embedding[i] AS DOUBLE)))), 4) AS cos
        FROM q JOIN cells k ON k.cell = q.cell AND k.vec_id <> q.query_id
          AND k.vec_id % 7 <> 3
        JOIN embeddings e ON e.vec_id = k.vec_id,
             generate_series(1, 64) t(i)
        GROUP BY 1, 2 ORDER BY query_id, neighbor_id"""
  }
}
