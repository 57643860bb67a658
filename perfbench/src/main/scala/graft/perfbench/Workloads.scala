package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Fs, SparkEntry, Tables, TrackedCaches}
import graft.functions.VectorFunctions.floatCosine
import graft.llm.{AnnIndex, Dedup, Retrieval, Similarity}
import graft.streaming.DocStreams

/** One timed unit of a workload pass. `run` is the timed call into the
  * library; `digest` reads its output back afterwards, outside the timing,
  * and returns the order-insensitive digest compared against the checked
  * one. `call` marks the units whose latency a caller waits on. */
final case class Step(name: String, layer: String, call: Boolean,
    run: () => Any, digest: Any => String)

/** Outcome of the once-per-run check pass: the checked digest per step,
  * check failures, and the steps whose written output the DuckDB oracle
  * compares (`<checkDir>/<step>/`). */
final case class Checked(digests: Map[String, String], errors: Seq[String],
    oracleSteps: Seq[String])

trait Workload {
  def name: String
  def steps: Seq[Step]
  /** Set-up on full-size inputs (pristine indexes); part of set-up time. */
  def prepare(): Unit = ()
  /** Runs after the timed passes: checks what the last pass wrote and
    * returns the digests the timed passes had to reproduce. */
  def check(checkDir: String): Checked
  /** Bytes of the workload's input files. */
  def inputBytes: Long
  /** Steps of the tiny-input warm-up run in set-up: the first call, enough
    * to load the session's classes and compile the shared scan paths. */
  def warmupSteps: Seq[Step] = steps.filter(_.call).take(1)
  /** Extra end-of-pass measurements (index sizes); untimed, traced passes. */
  def passStats(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, s: SparkSession, data: String, tmp: String,
      checkDir: String): Workload = name match {
    case "etl_star" => new RegistryWorkload(name, s, data, tmp, checkDir, "ops", EtlStar.entries)
    case "curate_batch" => new RegistryWorkload(name, s, data, tmp, checkDir, "llm", CurateBatch.entries)
    case "ingest_stream" => new IngestStream(s, data, tmp, checkDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Bytes of the files under `p` written at or after `sinceMs`. */
  def bytesSince(p: Path, sinceMs: Long): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(q => Files.isRegularFile(q) &&
        Files.getLastModifiedTime(q).toMillis >= sinceMs).map(Files.size).sum
      finally st.close()
    }

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(q => Files.isRegularFile(q) &&
        !q.getFileName.toString.startsWith(".")).toLong
      finally st.close()
    }

  def release(s: SparkSession): Unit = { TrackedCaches.release(); s.catalog.clearCache() }
}

/** The reference star-schema build: dimension and fact tables written as
  * partitioned parquet (the reference's partitionBy layout), then the
  * relational analytics rows. */
object EtlStar {
  val entries: Seq[(String, Option[Seq[String]])] = Seq(
    "q_songs_dim" -> Some(Seq("p_type")),
    "q_artists_dim" -> Some(Seq("location")),
    "q_users_dim" -> Some(Seq("level")),
    "q_time_dim" -> Some(Seq("year", "month")),
    "q_user_level_listen" -> Some(Nil),
    "q_fact_songplays" -> Some(Seq("year", "month")),
    "q1_agg" -> None, "q5_shape" -> None, "q_cube" -> None,
    "q_window_running" -> None, "q_sessionize" -> None, "q_event_funnel" -> None,
    "q_cohort_retention" -> None, "q_equidepth_hist" -> None, "q_zorder_layout" -> None,
    "q_dpp_join" -> None, "q_basket_pairs" -> None, "q_pagerank" -> None,
    "q_reach_bfs" -> None)
}

/** One curation pass over a document corpus and its embeddings. */
object CurateBatch {
  val entries: Seq[(String, Option[Seq[String]])] = Seq(
    "q_gopher_rules", "q_word_entropy", "q_text_quality", "q_pii_scrub",
    "q_dedup_minhash", "q_dedup_ngram_jaccard", "q_dedup_canonical", "q_dup_spans",
    "q_contamination", "q_bm25_topk", "q_hybrid_rrf", "q_ann_ivf", "q_semdedup",
    "q_bpe_merges", "q_seq_pack").map(_ -> None)
}

/** Registry rows run over the generated directory. Each call writes its
  * output as parquet: a row with partition columns in that layout, the
  * others into the check directory, where the oracle reads them. */
final class RegistryWorkload(val name: String, s: SparkSession, data: String, tmp: String,
    checkDir: String, layer: String, entries: Seq[(String, Option[Seq[String]])]) extends Workload {

  private val registry = SparkEntry.queries
  private def frame(q: String): DataFrame = registry(q)(s, data)
  private def partitioned(q: String) = s"$tmp/etl_out/$q"
  /** The written output, columns in the query's own order. */
  private def written(q: String, parts: Option[Seq[String]]): DataFrame = parts match {
    case Some(_) => s.read.parquet(partitioned(q)).select(frame(q).columns.toSeq.map(c => col(s"`$c`")): _*)
    case None => s.read.parquet(s"$checkDir/$q")
  }

  val steps: Seq[Step] = entries.map { case (q, parts) =>
    Step(q, layer, call = true,
      () => parts match {
        case Some(p) => frame(q).write.mode("overwrite").partitionBy(p: _*).parquet(partitioned(q))
        case None => frame(q).write.mode("overwrite").parquet(s"$checkDir/$q")
      },
      _ => Digest.of(written(q, parts), q))
  }

  /** Partitioned outputs get a flat copy for the oracle. Every pass's
    * digests were already compared with the first pass's as it ran. */
  def check(checkDir: String): Checked = {
    val errors = entries.collect { case (q, parts @ Some(_)) =>
      try { written(q, parts).write.mode("overwrite").parquet(s"$checkDir/$q"); None }
      catch { case e: Exception => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }.flatten
    Checked(Map.empty, errors, steps.map(_.name))
  }

  def inputBytes: Long = Workload.dirBytes(Paths.get(data))
}

/** Continuous ingest against the three standing-index families. Each pass
  * starts from a hard-link clone of the pristine indexes built in set-up,
  * runs the seeded arrival cycles (shingle probe + commit, IVF probe +
  * append, BM25 decontamination probe), deletes the takedown slice from
  * every index, compacts every index, then runs one streaming dedup pass
  * over the generated directory. */
final class IngestStream(s: SparkSession, data: String, tmp: String, checkDir: String)
    extends Workload {
  val name = "ingest_stream"
  private val corpusDir = s"$data/corpus"
  private val allDir = s"$data/all"
  private val pristine = s"$tmp/pristine"
  private val work = s"$tmp/work"
  private val out = s"$tmp/ingest_out"
  private val families = Seq("shingle", "ivf", "bm25")
  /** Bucket count of the term-bucketed indexes, sized to the corpus the
    * way the library's build scaladoc asks (its 64 default is sized for
    * the sf0.1 corpus). Probes read it back from the index's `_stats`. */
  private val Buckets = 8

  // Inputs load in [[prepare]], so a warm-up instance that never runs a
  // step reads nothing.
  private lazy val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$data/arrivals.json"))
  private def ids(n: com.fasterxml.jackson.databind.JsonNode): Seq[Long] =
    n.elements().asScala.map(_.asLong).toSeq
  private def batch(n: com.fasterxml.jackson.databind.JsonNode) = (ids(n.get("docs")), ids(n.get("vecs")))
  private lazy val cycles: Seq[(Seq[Long], Seq[Long])] =
    plan.get("cycles").elements().asScala.map(batch).toSeq
  private lazy val heldOut = batch(plan.get("held_out"))
  private lazy val takedownDocs = ids(plan.get("takedown_docs"))
  private lazy val takedownVecs = ids(plan.get("takedown_vecs"))

  // Arrival payloads live in memory: a batch reaches the library as
  // a local relation, the way a receiving service would hand it over.
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private lazy val docRows: Map[Long, Row] = s.read.parquet(s"$data/arrival_docs.parquet")
    .select("doc_id", "text").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val vecRows: Map[Long, Row] = s.read.parquet(s"$data/arrival_vecs.parquet")
    .select("vec_id", "embedding").collect().map(r => r.getLong(0) -> r).toMap
  private lazy val takedownRows: Seq[Row] = Tables.documents(s, corpusDir)
    .filter(col("doc_id").isin(takedownDocs: _*)).select("doc_id", "text").collect().toSeq

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema)
  private def docs(b: (Seq[Long], Seq[Long])): DataFrame = local(b._1.map(docRows), docSchema)
  private def vecs(b: (Seq[Long], Seq[Long])): DataFrame = local(b._2.map(vecRows), vecSchema)
  private def idFrame(name: String, xs: Seq[Long]): DataFrame =
    local(xs.map(Row(_)), StructType(Seq(StructField(name, LongType))))

  private def dir(root: String, family: String) = s"$root/$family"
  private def cycleName(c: Int) = f"cycle_$c%02d"

  /** Per-pass index-operation timings, kept for the end-of-run report. */
  val ops = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Double)]
  var rec: Recorder = _
  /** Bytes each index operation added under the working indexes; measured
    * only when `measureBytes` is set (traced passes). */
  val opBytes = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
  var measureBytes = false
  private var tombstoneRows = 0L

  private def op[T](kind: String, family: String)(body: => T): T = {
    val since = System.currentTimeMillis()
    val t0 = rec.nowMs()
    val r = rec.span(s"$kind.$family", "index_op")(body)
    ops += ((rec.pass, kind, family, rec.nowMs() - t0))
    if (measureBytes) opBytes += ((rec.pass, kind, Workload.bytesSince(Paths.get(work), since)))
    r
  }

  override def prepare(): Unit = {
    val _ = (docRows.size, vecRows.size, takedownRows.size)
    Dedup.shingleBuildIfStale(s, corpusDir, dir(pristine, "shingle"), Buckets)
    AnnIndex.buildIfStale(s, corpusDir, dir(pristine, "ivf"))
    Retrieval.bm25BuildIfStale(s, corpusDir, dir(pristine, "bm25"), Buckets)
    // The stream's landing zone and pristine index, which its first call in
    // a process would otherwise build inside the timed step (the library
    // keeps both under java.io.tmpdir, keyed to the input directory).
    DocStreams.stageDocs(s, allDir)
    Dedup.shingleBuildIfStale(s, allDir,
      s"${System.getProperty("java.io.tmpdir")}/graft_shingle_stream_pristine")
    Workload.release(s)
  }

  private def cloneIndexes(): Unit = {
    Fs.deleteRec(Paths.get(work))
    Fs.deleteRec(Paths.get(out))
    families.foreach(f => Fs.linkRec(Paths.get(dir(pristine, f)), Paths.get(dir(work, f))))
  }

  private def runCycle(c: Int): String = {
    val b = docs(cycles(c))
    val v = vecs(cycles(c))
    val o = s"$out/${cycleName(c)}"
    op("probe", "shingle")(Dedup.shingleProbe(s, dir(work, "shingle"), b)
      .write.mode("overwrite").parquet(s"$o/shingle"))
    op("commit", "shingle") {
      val survivors = s.read.parquet(s"$o/shingle").filter(!col("is_dup")).select("doc_id")
      Dedup.shingleCommit(s, dir(work, "shingle"), b.join(survivors, Seq("doc_id"), "left_semi"))
    }
    op("probe", "ivf")(AnnIndex.probe(s, dir(work, "ivf"), v)
      .write.mode("overwrite").parquet(s"$o/ivf"))
    op("append", "ivf")(AnnIndex.append(s, dir(work, "ivf"), v))
    op("probe", "bm25")(Retrieval.bm25Probe(s, dir(work, "bm25"), b)
      .write.mode("overwrite").parquet(s"$o/bm25"))
    o
  }

  /** The takedown: one slice of the standing corpus leaves every index. */
  private def takedown(): Unit = {
    op("delete", "shingle")(Dedup.shingleDelete(s, dir(work, "shingle"), local(takedownRows, docSchema)))
    op("delete", "ivf")(AnnIndex.delete(s, dir(work, "ivf"), idFrame("vec_id", takedownVecs)))
    op("delete", "bm25")(Retrieval.bm25Delete(s, dir(work, "bm25"), idFrame("doc_id", takedownDocs)))
    if (measureBytes) tombstoneRows = Seq("shingle/tombs", "ivf/tombstones", "bm25/tombs")
      .map(t => s.read.parquet(s"$work/$t").count()).sum
  }

  private def cycleDigest(o: String): String =
    families.map(f => s"$f=" + Digest.of(s.read.parquet(s"$o/$f"), f)).mkString(" ")

  private def compactAll(): Unit = {
    op("compact", "shingle")(Dedup.shingleCompact(s, dir(work, "shingle")))
    op("compact", "ivf")(AnnIndex.compact(s, dir(work, "ivf")))
    op("compact", "bm25")(Retrieval.bm25Compact(s, dir(work, "bm25")))
  }

  val steps: Seq[Step] =
    Seq(Step("clone", "index", call = false, () => cloneIndexes(), _ => "")) ++
      cycles.indices.map { c =>
        Step(cycleName(c), "index", call = true, () => runCycle(c), o => cycleDigest(o.toString))
      } ++ Seq(
        Step("takedown", "index", call = false, () => takedown(), _ => ""),
        Step("compact", "index", call = false, () => compactAll(), _ => ""),
        Step("q_stream_dedup_evolving", "streaming", call = false,
          () => DocStreams.streamDedupEvolving(s, allDir).write.mode("overwrite").parquet(streamOut),
          _ => Digest.of(s.read.parquet(streamOut), "stream")))
  private def streamOut = s"$checkDir/q_stream_dedup_evolving"

  /** The pristine builds in [[prepare]] are this workload's warm-up. */
  override def warmupSteps: Seq[Step] = Nil

  // ── check: every probe the timed pass wrote against its rebuild ──────

  /** Replays the last timed pass's cycles against the rebuild references
    * the specs pin: `Dedup.incrementalDedupOf` over the live corpus, the
    * frozen-centroid IVF assignment of the live vectors, and the
    * full-corpus BM25 impacts masked to the live documents. Live sets are
    * rebuilt from the pass's own written verdicts, never from the index. */
  def check(checkDir: String): Checked = {
    val errors = Seq.newBuilder[String]
    val digests = Map.newBuilder[String, String]
    val corpusDocs = Tables.documents(s, corpusDir).select("doc_id", "text")
    val corpusVecs = Tables.embeddings(s, corpusDir).select("vec_id", "embedding")
    val cents = s.read.parquet(s"${dir(pristine, "ivf")}/centroids").localCheckpoint()
    val nprobe = Similarity.probesFor(Similarity.centroidsFor(corpusVecs.count()))
    val bmIndex = Retrieval.buildIndex(corpusDocs)
    var committed = local(Nil, docSchema)
    var appended = local(Nil, vecSchema)
    var deletedDocs = Seq.empty[Long]
    var deletedVecs = Seq.empty[Long]
    def ivfReference(queries: DataFrame): DataFrame = {
      val live = corpusVecs.unionByName(appended).filter(!col("vec_id").isin(deletedVecs: _*))
      val q = Similarity.probeCells(Similarity.scaledOf(queries), cents, nprobe)
        .withColumnRenamed("vec_id", "query_id")
        .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      Similarity.assignCells(Similarity.scaledOf(live), cents)
        .join(live, "vec_id").join(q, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
    }
    def bm25Reference(queries: DataFrame): DataFrame = {
      val qt = Retrieval.postings(queries).select(col("doc_id").as("query_id"), col("term"))
      val w = Window.partitionBy("query_id").orderBy(col("smicro").desc, col("doc_id"))
      Retrieval.candidates(bmIndex, qt)
        .filter(!col("doc_id").isin(deletedDocs: _*))
        .groupBy("query_id", "doc_id").agg(sum("imp").as("smicro"))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= Retrieval.TopK)
        .select(col("query_id"), col("rk"), col("doc_id"),
          round(col("smicro").cast(DoubleType) / lit(1000000.0), 6).as("score"))
    }
    def expect(what: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (Digest.of(got, what), Digest.of(want, s"$what-ref"))
      if (g != w) errors += s"$what: probe digest $g != rebuild reference $w"
    }
    def liveDocs = corpusDocs.unionByName(committed).filter(!col("doc_id").isin(deletedDocs: _*))
    try {
      cycles.indices.foreach { c =>
        val (b, v) = (docs(cycles(c)), vecs(cycles(c)))
        val o = s"$out/${cycleName(c)}"
        expect(s"${cycleName(c)} shingle", s.read.parquet(s"$o/shingle"), Dedup.incrementalDedupOf(liveDocs, b))
        expect(s"${cycleName(c)} ivf", s.read.parquet(s"$o/ivf"), ivfReference(v))
        expect(s"${cycleName(c)} bm25", s.read.parquet(s"$o/bm25"), bm25Reference(b))
        digests += cycleName(c) -> cycleDigest(o)
        val survivors = s.read.parquet(s"$o/shingle").filter(!col("is_dup")).select("doc_id")
        committed = committed.unionByName(b.join(survivors, Seq("doc_id"), "left_semi"))
          .localCheckpoint()
        appended = appended.unionByName(v).localCheckpoint()
        Workload.release(s)
      }
      // The final state — every commit, append and delete, then compaction —
      // probed with the held-out batch.
      deletedDocs = takedownDocs
      deletedVecs = takedownVecs
      val (hb, hv) = (docs(heldOut), vecs(heldOut))
      expect("final shingle", Dedup.shingleProbe(s, dir(work, "shingle"), hb),
        Dedup.incrementalDedupOf(liveDocs, hb))
      expect("final ivf", AnnIndex.probe(s, dir(work, "ivf"), hv), ivfReference(hv))
      expect("final bm25", Retrieval.bm25Probe(s, dir(work, "bm25"), hb), bm25Reference(hb))
      digests += "q_stream_dedup_evolving" -> Digest.of(s.read.parquet(streamOut), "stream")
    } catch {
      case e: Exception => errors += s"ingest check: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    Workload.release(s)
    Checked(digests.result() ++ Seq("clone", "takedown", "compact").map(_ -> ""), errors.result(),
      Seq("q_stream_dedup_evolving"))
  }

  def inputBytes: Long = Workload.dirBytes(Paths.get(corpusDir)) +
    Workload.dirBytes(Paths.get(s"$data/arrival_docs.parquet")) +
    Workload.dirBytes(Paths.get(s"$data/arrival_vecs.parquet"))

  /** Index bytes on disk after the pass's compaction, over the bytes of
    * the live documents' text; the file count of the compacted indexes;
    * tombstone rows the takedown wrote before compaction drained them. */
  override def passStats(): Map[String, Double] = {
    val indexBytes = Workload.dirBytes(Paths.get(work)).toDouble
    val liveIds = Tables.documents(s, corpusDir).select("doc_id", "text")
      .filter(!col("doc_id").isin(takedownDocs: _*))
    val committedText = cycles.indices.map { c =>
      val surv = s.read.parquet(s"$out/${cycleName(c)}/shingle").filter(!col("is_dup"))
        .select("doc_id").collect().map(_.getLong(0))
      surv.map(id => docRows(id).getString(1).getBytes("UTF-8").length.toLong).sum
    }.sum
    val corpusText = liveIds.agg(sum(octet_length(col("text")))).head().getLong(0)
    Map("index.space_amp" -> indexBytes / (corpusText + committedText),
      "index.files" -> Workload.dirFiles(Paths.get(work)).toDouble,
      "index.tombstone_rows" -> tombstoneRows.toDouble)
  }
}
