package graft.streaming

import graft.Tables
import graft.functions.VectorFunctions.floatCosine
import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming vector-ingest gate — the embedding twin of
  * [[DocStreams.streamIngestDedup]] (SURVEY.md §2.9 extension x the
  * similarity family).
  *
  * A production embedding store is not deduped once: new vectors arrive
  * continuously and each must be screened against the EXISTING corpus
  * before admission (SemDeDup-style near-duplicate suppression at ingest
  * time, not as a batch afterthought). This query runs that shape end to
  * end: the arriving slice (vec_id % 5 == 0, the same synthetic arrival
  * split as the doc streams) lands as a file stream; the standing corpus
  * (vec_id % 5 != 0) trains the exact-integer IVF index ONCE
  * ([[Similarity.trainCentroids]] — k-means over the corpus subset only);
  * each micro-batch routes its vectors to their [[Similarity.probesFor]]
  * nearest cells, scores exact cosine against just those cells' members,
  * and admits a vector iff its nearest corpus neighbor is below
  * [[AdmitCosMax]] — too-similar vectors are rejected as semantic dups.
  *
  * Semantics: verdicts are against the PRE-EXISTING corpus only (arrival-
  * vs-arrival dups are the post-ingest batch pass's job, exactly the
  * [[DocStreams]] contract). Each vector's verdict depends only on the
  * static corpus index, so results are micro-batch-partitioning-invariant
  * and a batch DuckDB oracle gates the streaming run bit-for-bit.
  *
  * Scale shape (100 TB): centroids train once on the corpus (broadcast
  * k x dim table, ~16 MB even at 10^9 vectors) and the cell-assigned
  * corpus is cached (in production: persisted, bucketed on `cell`). Each
  * micro-batch pays |batch| x nprobe probe rows broadcast into the
  * corpus-cell equi-join — the corpus is probed in place, never
  * re-shuffled and never re-scanned beyond the probed cells
  * (nprobe/k of the corpus, a falling fraction as k ~ sqrt(N) grows).
  */
object VecStreams {

  /** Streaming-source schema for the staged arrival slice. */
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Admission ceiling: an arriving vector whose nearest corpus neighbor
    * scores cosine >= this is rejected as a semantic near-duplicate. Sits
    * at the arrival-slice nn-cosine median at sf0.01 (~0.3625 on the
    * uniform-random corpus — real embedding spaces cluster far tighter and
    * deployments tune this against their own dup tolerance) so both
    * verdicts are exercised (the [[DocStreams.PplAdmitMax]] discipline). */
  val AdmitCosMax = 0.36

  /** One micro-batch's screening: nearest-corpus-neighbor verdicts for an
    * arrival frame against the standing IVF index. Factored out of the
    * stream so PlanShapeSpec can audit its physical plan: the ARRIVAL side
    * (batch-scale probe rows) is explicitly broadcast into the corpus-cell
    * equi-join — the corpus-scale cell table is probed in place, never
    * shuffled per micro-batch. Ties on the rounded cosine break to the
    * smallest neighbor id (max over (cos, -nid) structs), which the oracle
    * reproduces with ORDER BY cos DESC, nid. */
  private[graft] def screenBatch(batch: DataFrame, cents: DataFrame,
      cells: DataFrame, nprobe: Int): DataFrame = {
    val probes = Similarity.probeCells(Similarity.scaledOf(batch), cents, nprobe)
      .withColumnRenamed("vec_id", "arr_id")
      .join(batch.select(col("vec_id").as("arr_id"), col("embedding").as("qe")),
        "arr_id")
    val nn = cells.join(broadcast(probes), Seq("cell"))
      .select(col("arr_id"), col("vec_id").as("nid"),
        round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
      .groupBy("arr_id")
      .agg(max(struct(col("cos"), (-col("nid")).as("negid"))).as("m"))
      .select(col("arr_id"), (-col("m.negid")).as("nn_id"),
        col("m.cos").as("nn_cos"))
    // Left join: an arrival whose probed cells are all empty has no corpus
    // candidate at all — sentinel neighbor -1 / cosine -2, admitted.
    batch.select(col("vec_id"))
      .join(nn, col("vec_id") === col("arr_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nn_id"), lit(-1L)).as("nn_id"),
        coalesce(col("nn_cos"), lit(-2.0)).as("nn_cos"),
        (coalesce(col("nn_cos"), lit(-2.0)) < lit(AdmitCosMax)).as("admit"))
  }

  /** Driver-built snapshot of the standing IVF index for the broadcast
    * screening strategy: trained centroid grid + cell-assigned corpus
    * vectors. Bounded by the corpus embedding payload (n x dims x 4 bytes),
    * which is what the size gate checks before building. Layout is FLAT
    * primitive arrays (the family-wide round-10 snapshot discipline — see
    * [[graft.llm.Retrieval.ScreenSnapshot]]): embeddings live in one
    * float matrix and centroids in one long matrix, so broadcast
    * serialization is block writes rather than a boxed-tuple object
    * graph; the cell->members index is derived transiently after
    * deserialization. */
  private[graft] class VecScreenSnapshot(
      val nprobe: Int, val dims: Int,
      val centIds: Array[Int],
      val centFlat: Array[Long],  // centIds.length * dims, row-major
      val vecIds: Array[Long],    // corpus vectors
      val cellOf: Array[Int],     // parallel: assigned cell
      val embFlat: Array[Float])  // vecIds.length * dims, row-major
      extends Serializable {
    @transient lazy val cellMembers: java.util.HashMap[
        Integer, scala.collection.mutable.ArrayBuffer[Int]] = {
      val m = new java.util.HashMap[Integer,
        scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < cellOf.length) {
        var buf = m.get(cellOf(i))
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[Int]()
          m.put(cellOf(i), buf)
        }
        buf += i
        i += 1
      }
      m
    }
  }

  /** Mirror of [[graft.functions.VectorFunctions.floatCosine]]'s exact
    * arithmetic (float multiplies, sequential double accumulation) — the
    * broadcast screen must reproduce the Catalyst expression bit-for-bit. */
  private def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += (x * y).toDouble
      na += (x * x).toDouble
      nb += (y * y).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosLocal]] with the first vector read from a flat row-major matrix
    * at `off` — value-identical (per-index float multiplies are
    * commutative bitwise and the norm product is a commutative double
    * multiply, so operand roles don't affect the result). */
  private def cosLocalAt(flat: Array[Float], off: Int, d: Int,
      b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < d) {
      val x = flat(off + i); val y = b(i)
      dot += (x * y).toDouble
      na += (x * x).toDouble
      nb += (y * y).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The whole per-arrival screen against a [[VecScreenSnapshot]]:
    * integer scaling (floor(x*S + 0.5)), exact-integer squared-L2 routing
    * to the nprobe nearest cells (ties on cent_id), exact 4-dp cosine over
    * those cells' members, best neighbor by (cos DESC, nid ASC) — value-
    * identical to [[screenBatch]]'s distributed kernel per its own
    * determinism discipline (every step is exact integers or mirrored
    * IEEE arithmetic; StreamingSpec replays both modes end-to-end). */
  private[graft] def screenOneLocal(ss: VecScreenSnapshot,
      emb: Array[Float]): Option[(Long, Double)] = {
    val sarr = new Array[Long](emb.length)
    var i = 0
    while (i < emb.length) {
      sarr(i) = math.floor(emb(i).toDouble * Similarity.ScaleQ.toDouble + 0.5).toLong
      i += 1
    }
    def sqDistAt(ci: Int): Long = {
      val base = ci * ss.dims
      var d = 0L; var j = 0
      while (j < sarr.length) { val t = sarr(j) - ss.centFlat(base + j); d += t * t; j += 1 }
      d
    }
    val ranked = new Array[(Long, Int)](ss.centIds.length)
    var ci = 0
    while (ci < ss.centIds.length) {
      ranked(ci) = (sqDistAt(ci), ss.centIds(ci))
      ci += 1
    }
    java.util.Arrays.sort(ranked, Ordering.Tuple2[Long, Int])
    var bestNid = -1L
    var bestCos = Double.NegativeInfinity
    ranked.take(ss.nprobe).foreach { case (_, cid) =>
      val members = ss.cellMembers.get(cid)
      if (members != null) members.foreach { vi =>
        val nid = ss.vecIds(vi)
        val cos = java.math.BigDecimal.valueOf(
            cosLocalAt(ss.embFlat, vi * ss.dims, ss.dims, emb))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        if (cos > bestCos || (cos == bestCos && nid < bestNid)) {
          bestCos = cos; bestNid = nid
        }
      }
    }
    if (bestNid < 0) None else Some((bestNid, bestCos))
  }

  /** Verdicts for an arrival frame via the broadcast screen — the
    * zero-shuffle strategy for a corpus whose embedding payload fits the
    * broadcast gate (the decontam-gate discipline applied to vectors). */
  private[graft] def screenBatchLocal(s: SparkSession,
      snap: org.apache.spark.broadcast.Broadcast[VecScreenSnapshot],
      batch: DataFrame): DataFrame = {
    import s.implicits._
    batch.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = snap.value
        it.map { case (vid, emb) =>
          screenOneLocal(ss, emb) match {
            case Some((nid, cos)) => (vid, nid, cos, cos < AdmitCosMax)
            case None => (vid, -1L, -2.0, true)
          }
        }
      }
      .toDF("vec_id", "nn_id", "nn_cos", "admit")
  }

  /** Per-vector admission verdict for every arriving embedding: nearest
    * corpus neighbor (by exact cosine over the probed IVF cells) and
    * admit/reject against [[AdmitCosMax]].
    *
    * Screening strategy is selected by INDEX SIZE ([[Zone.broadcastable]],
    * the [[DocStreams.streamDecontam]] rule): a corpus whose embedding
    * payload is under [[graft.llm.Retrieval.BroadcastScreenMaxBytes]]
    * broadcasts its trained index and screens each micro-batch in one
    * mapPartitions pass; larger corpora keep the distributed probed-cells
    * kernel. Verdicts are identical either way (StreamingSpec replays
    * both sides through [[streamVecIngestUnder]]). */
  def streamVecIngest(s: SparkSession, d: String): DataFrame =
    streamVecIngestUnder(s, d, graft.llm.Retrieval.BroadcastScreenMaxBytes)

  /** Stage the arriving slice (vec_id % 5 == 0) as a [[Zone]] chunked on
    * vec_id. */
  def stageVecs(s: SparkSession, d: String): String =
    Zone.stage(s, d, "embeddings", "vec_id",
      Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"))

  /** [[streamVecIngest]] with the broadcast ceiling (corpus embedding
    * bytes) as a parameter: `Long.MaxValue` forces the broadcast screen,
    * `0L` the distributed one. */
  private[graft] def streamVecIngestUnder(s: SparkSession, d: String,
      screenMaxBytes: Long): DataFrame = {
    val dir = stageVecs(s, d)
    val corpus = Tables.embeddings(s, d).filter(col("vec_id") % 5 =!= 0)
    // The standing IVF index, built once and reused by every micro-batch:
    // exact-integer k-means centroids + cell-assigned corpus vectors.
    val sx = graft.TrackedCaches.track(Similarity.scaledOf(corpus).cache())
    val nVec = sx.count()
    val k = Similarity.centroidsFor(nVec)
    val nprobe = Similarity.probesFor(k)
    val cents = Similarity.trainCentroids(sx,
      Similarity.seedCentroidsOf(corpus, sx, k), nVec, k)

    val (screen, snap): (DataFrame => DataFrame, Option[Zone.Snapshot[_]]) =
      // Embedding payload, 4 bytes per dimension, over the cached vectors.
      if (Zone.broadcastable(sx, size(col("sarr")).cast("long") * 4, screenMaxBytes)) {
        val cellRows = Similarity.assignCells(sx, cents).join(corpus, "vec_id")
          .select(col("vec_id"), col("embedding"), col("cell")).collect()
        val centRows = cents.collect()
        val dimsI = cellRows.headOption
          .fold(0)(r => r.getSeq[Float](r.fieldIndex("embedding")).length)
        val centIds = centRows.map(_.getAs[Number]("cent_id").intValue())
        val centFlat = new Array[Long](centRows.length * dimsI)
        var i = 0
        while (i < centRows.length) {
          val carr = centRows(i).getSeq[Long](centRows(i).fieldIndex("carr"))
          var j = 0
          while (j < dimsI) { centFlat(i * dimsI + j) = carr(j); j += 1 }
          i += 1
        }
        val vecIds = new Array[Long](cellRows.length)
        val cellOf = new Array[Int](cellRows.length)
        val embFlat = new Array[Float](cellRows.length * dimsI)
        i = 0
        while (i < cellRows.length) {
          vecIds(i) = cellRows(i).getAs[Long]("vec_id")
          cellOf(i) = cellRows(i).getAs[Number]("cell").intValue()
          val e = cellRows(i).getSeq[Float](cellRows(i).fieldIndex("embedding"))
          var j = 0
          while (j < dimsI) { embFlat(i * dimsI + j) = e(j); j += 1 }
          i += 1
        }
        val snap = Zone.snapshot(s, new VecScreenSnapshot(nprobe, dimsI, centIds,
          centFlat, vecIds, cellOf, embFlat))
        ((batch: DataFrame) => screenBatchLocal(s, snap.get, batch), Some(snap))
      } else {
        val cells = graft.TrackedCaches.track(
          Similarity.assignCells(sx, cents).join(corpus, "vec_id")
            .select(col("vec_id"), col("embedding"), col("cell")).cache())
        ((batch: DataFrame) => screenBatch(batch, cents, cells, nprobe), None)
      }
    Zone.gate(s, dir, vecSchema, "vec_id", Zone.tmp("graft_stream_vec_ingest"),
      Zone.Static, snap, Zone.SliceShuffles)(screen)
  }

  /** Batch oracle: the identical corpus-trained index probed by the same
    * arrival slice — valid because verdicts depend only on the static
    * corpus index, so micro-batch chunking cannot change them. */
  val streamVecIngestSql: String =
    s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
        ${Similarity.kmeansCellsSqlOver("corpus")},
        ax AS (SELECT vec_id, i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * ${Similarity.ScaleQ} + 0.5) AS BIGINT) AS v
               FROM embeddings, generate_series(1, 64) t(i)
               WHERE vec_id % 5 = 0),
        dq AS (SELECT x.vec_id, c.cent_id, sum((x.v - c.c) * (x.v - c.c)) AS d
               FROM ax x JOIN cent${Similarity.KmIters} c ON x.i = c.i
               GROUP BY 1, 2),
        probes AS (SELECT vec_id AS arr_id, cent_id AS cell FROM (
                     SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rk
                     FROM dq)
                   WHERE rk <= (SELECT greatest(${Similarity.NumProbes},
                                  (${Similarity.ProbePct} * k + 50) // 100) FROM kk)),
        q AS (SELECT p.arr_id, p.cell, e.embedding AS qe
              FROM probes p JOIN embeddings e ON p.arr_id = e.vec_id),
        cand AS (SELECT q.arr_id, k.vec_id AS nid,
                   round(sum(CAST(q.qe[i] * e.embedding[i] AS DOUBLE))
                     / (sqrt(sum(CAST(q.qe[i] * q.qe[i] AS DOUBLE)))
                        * sqrt(sum(CAST(e.embedding[i] * e.embedding[i] AS DOUBLE)))), 4) AS cos
                 FROM q JOIN cells k ON k.cell = q.cell
                 JOIN embeddings e ON e.vec_id = k.vec_id,
                      generate_series(1, 64) t(i)
                 GROUP BY 1, 2),
        nn AS (SELECT arr_id, nid AS nn_id, cos AS nn_cos FROM (
                 SELECT arr_id, nid, cos,
                   row_number() OVER (PARTITION BY arr_id ORDER BY cos DESC, nid) AS rk
                 FROM cand) WHERE rk = 1)
        SELECT a.vec_id,
          coalesce(nn.nn_id, CAST(-1 AS BIGINT)) AS nn_id,
          coalesce(nn.nn_cos, -2.0) AS nn_cos,
          coalesce(nn.nn_cos, -2.0) < $AdmitCosMax AS admit
        FROM embeddings a LEFT JOIN nn ON a.vec_id = nn.arr_id
        WHERE a.vec_id % 5 = 0
        ORDER BY vec_id"""
}
