package graft

import java.nio.file.{Files, Paths}

import graft.llm.StandingIndex
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Recovery-protocol properties of the standing-index shared machinery
  * that the per-index suites (AnnIndexSpec, RetrievalSpec, DedupSpec)
  * exercise only on the happy path: the marker-suspend exception
  * contract, and linkRec's metadata-vs-data cloning split. Also the
  * layout-sizing rule: default bucket counts follow the source bytes,
  * and the count never changes an answer. */
class StandingIndexSpec extends SparkSpec {

  private def mkIndex(): java.nio.file.Path = {
    val base = Files.createTempDirectory("graft_standing_spec")
    StandingIndex.ensure(base.toString, "sig v1") {
      Files.createDirectories(base.resolve("cells"))
      Files.write(base.resolve("cells/part-0.parquet"),
        "livebytes".getBytes("UTF-8"))
      ()
    }
    base
  }

  private def marked(base: java.nio.file.Path, want: String): Boolean =
    StandingIndex.marker(base.toString).contains(want)

  test("marker-suspend: pre-destructive failure restores the marker") {
    val base = mkIndex()
    // Body fails BEFORE touching any live file — the compactTable tmp-
    // write failure mode. Scratch under _compact_* must not read as
    // live-state divergence.
    val boom = intercept[RuntimeException] {
      StandingIndex.withMarkerSuspended(base.toString) {
        Files.createDirectories(base.resolve("_compact_cells"))
        Files.write(base.resolve("_compact_cells/part-0.parquet"),
          "halfwritten".getBytes("UTF-8"))
        throw new RuntimeException("tmp write failed")
      }
    }
    assert(boom.getMessage == "tmp write failed")
    assert(marked(base, "sig v1"),
      "a transient pre-destructive failure must not cost a full rebuild")
    Fs.deleteRec(base)
  }

  test("marker-suspend: failure after live mutation stays unmarked") {
    val base = mkIndex()
    intercept[RuntimeException] {
      StandingIndex.withMarkerSuspended(base.toString) {
        // The destructive phase started: the live table is gone.
        Fs.deleteRec(base.resolve("cells"))
        throw new RuntimeException("swap failed")
      }
    }
    assert(StandingIndex.marker(base.toString).isEmpty,
      "a half-rewritten index must stay unmarked (rebuildable)")
    Fs.deleteRec(base)
  }

  test("marker-suspend: success restores the marker over a mutated tree") {
    val base = mkIndex()
    StandingIndex.withMarkerSuspended(base.toString) {
      Files.write(base.resolve("cells/part-1.parquet"),
        "compacted".getBytes("UTF-8"))
      ()
    }
    assert(marked(base, "sig v1"))
    Fs.deleteRec(base)
  }

  test("concurrency contract: the tree reads STALE while maintenance is " +
      "suspended, and serves again after") {
    // The single-writer contract (StandingIndex object scaladoc) rests on
    // exactly this observable: withMarkerSuspended unmarks the tree for
    // the duration of the body, so a build-if-stale probe from a second
    // session inside that window would read "stale" and start a rebuild
    // into the live tree — a second unserialized writer. This spec pins
    // the window's boundaries: stale INSIDE the body (the documented
    // hazard, not an accident a refactor may silently remove), served
    // again immediately after.
    val base = mkIndex()
    var staleInside = false
    StandingIndex.withMarkerSuspended(base.toString) {
      staleInside = StandingIndex.marker(base.toString).isEmpty
      ()
    }
    assert(staleInside,
      "a concurrent prober inside the maintenance window must read the " +
        "tree as stale — if this starts failing, the suspension protocol " +
        "changed and the documented concurrency contract must be rewritten")
    assert(marked(base, "sig v1"),
      "the marker must be restored the moment maintenance completes")
    Fs.deleteRec(base)
  }

  test("linkRec byte-copies metadata files so a clone re-stamp cannot " +
      "corrupt the pristine marker") {
    val src = mkIndex()
    val dst = Files.createTempDirectory("graft_standing_clone")
    Fs.deleteRec(dst); // linkRec creates the root itself via walk order
    Fs.linkRec(src, dst)
    // Data file: hard-linked (same inode) — the metadata-scale clone.
    val srcIno = Files.getAttribute(
      src.resolve("cells/part-0.parquet"), "unix:ino")
    val dstIno = Files.getAttribute(
      dst.resolve("cells/part-0.parquet"), "unix:ino")
    assert(srcIno == dstIno, "data files must be hard-linked")
    // Marker: independent bytes — re-stamping the clone with a
    // truncate-in-place write leaves the pristine index's marker intact.
    Files.write(dst.resolve("_meta"), "sig v2 (clone)".getBytes("UTF-8"))
    assert(marked(src, "sig v1"),
      "re-stamping the clone corrupted the pristine marker")
    assert(marked(dst, "sig v2 (clone)"))
    Fs.deleteRec(src); Fs.deleteRec(dst)
  }

  test("full purge through compactTable leaves a readable, " +
      "append-compatible table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val base = Files.createTempDirectory("graft_standing_purge").toString
    val rows = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "v")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("v", LongType), StructField("bucket", IntegerType)))
    StandingIndex.writeBucketed(rows, col("doc_id"), 4, s"$base/t")
    // The all-rows-deleted rewrite (a purge of the whole population)
    // swaps in a data-less dir (only _SUCCESS), which no read can infer a
    // schema from; read with its declared schema it serves empty.
    StandingIndex.compactTable(spark, base, "t", "bucket", schema,
      _.filter(lit(false)))
    val empty = spark.read.schema(schema).parquet(s"$base/t")
    assert(empty.count() == 0, "the purged table must serve empty")
    assert(empty.columns.toSet == Set("doc_id", "v", "bucket"),
      s"schema lost: ${empty.columns.toList}")
    // prunedRead's full-read fallback path must serve too.
    assert(StandingIndex.prunedRead(spark, s"$base/t", "bucket", Seq(9L), schema)
      .count() == 0)
    // Later partitioned appends must land in the same (uniform) layout.
    StandingIndex.appendBucketed(rows, col("doc_id"), 4, s"$base/t")
    assert(spark.read.schema(schema).parquet(s"$base/t").count() == 3,
      "the schemaed-empty state must stay append-compatible")
    // A plain re-compaction of the refilled table keeps every row.
    StandingIndex.compactTable(spark, base, "t", "bucket", schema)
    assert(spark.read.schema(schema).parquet(s"$base/t").count() == 3)
    Fs.deleteRec(Paths.get(base))
  }

  test("compactFlat of an all-deleted delta table keeps the schema readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val base = Files.createTempDirectory("graft_standing_flat").toString
    // Delta rows that sum to zero everywhere — the rollup drops them all.
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n0", LongType)))
    Seq((1L, 5L), (1L, -5L)).toDF("doc_id", "n0")
      .write.parquet(s"$base/n0")
    StandingIndex.compactFlat(spark, base, "n0", schema,
      _.groupBy("doc_id").agg(sum("n0").as("n0"))
        .filter(col("n0") =!= 0L))
    val e = spark.read.schema(schema).parquet(s"$base/n0")
    assert(e.count() == 0 && e.columns.toSet == Set("doc_id", "n0"),
      s"all-zero-sum rollup bricked the flat table: ${e.columns.toList}")
    Fs.deleteRec(Paths.get(base))
  }

  test("compaction swap is rename-only and reaps a stale aside dir " +
      "from a previous crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_standing_swap").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
      .write.parquet(s"$base/t")
    // A crash between swapDirs' two renames leaves the old live tree
    // under _old_<table>; the next compaction must reap it, not trip
    // over it.
    Files.createDirectories(Paths.get(s"$base/_old_t/junk"))
    Files.write(Paths.get(s"$base/_old_t/junk/stale.txt"),
      "stale".getBytes("UTF-8"))
    StandingIndex.compactFlat(spark, base, "t",
      StructType(Seq(StructField("doc_id", LongType), StructField("v", StringType))),
      _.filter(col("doc_id") === 1L))
    val t = spark.read.parquet(s"$base/t")
    assert(t.count() == 1 && t.columns.toSet == Set("doc_id", "v"))
    // Swap hygiene: neither the temp nor the aside dir survives.
    assert(!Files.exists(Paths.get(s"$base/_compact_t")),
      "temp dir must not survive the swap")
    assert(!Files.exists(Paths.get(s"$base/_old_t")),
      "aside dir must be deleted after the rename swap")
    Fs.deleteRec(Paths.get(base))
  }

  test("bucketsFor is monotone in the source bytes and stays in [1, 64]") {
    val kib = 1024L
    val sizes = (Seq(0L, 1L, Long.MaxValue) ++
      (0 to 40).flatMap(e => Seq((1L << e) - 1, 1L << e, (1L << e) + 1)) ++
      (1 to 80).map(_ * 256 * kib)).distinct.sorted
    val counts = sizes.map(StandingIndex.bucketsFor)
    counts.zip(sizes).foreach { case (n, b) =>
      assert(n >= 1 && n <= StandingIndex.MaxBuckets && Integer.bitCount(n) == 1,
        s"$b bytes sized $n buckets")
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b },
      s"not monotone: ${sizes.zip(counts)}")
    // The worked points: a 68 KB stream corpus, sf0.1's 584 KB, and the
    // 16 MiB floor of the full 64-bucket layout.
    assert(StandingIndex.bucketsFor(68 * kib) == 1)
    assert(StandingIndex.bucketsFor(584 * kib) == 4)
    assert(StandingIndex.bucketsFor(16 * kib * kib) == 64)
    assert(StandingIndex.bucketsFor(16 * kib * kib - 1) == 64)
    assert(StandingIndex.bucketsFor(8 * kib * kib) == 32)
  }

  test("the stream dedup gate's default-built index stays under Spark's " +
      "parallel listing threshold and records what sized it") {
    graft.streaming.DocStreams.streamDedupEvolving(spark, Sf).collect()
    graft.TrackedCaches.release()
    val pristine = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_shingle_stream_pristine")
    val n = StandingIndex.stat(pristine.toString, "buckets").toInt
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(n <= threshold,
      s"$n buckets: a probe touching them all lists with a Spark job")
    val bytes = StandingIndex.sourceBytes(s"$Sf/documents.parquet")
    assert(n == StandingIndex.bucketsFor(bytes))
    val marker = StandingIndex.marker(pristine.toString).get
    assert(marker.contains(s"buckets=$n src_bytes=$bytes"),
      s"marker does not record the bytes that sized the layout: $marker")
  }

  test("probes over a default-sized index equal probes over a pinned " +
      "64-bucket index") {
    import org.apache.spark.sql.functions.col
    import graft.llm.{Dedup, Retrieval}
    def fresh(tag: String) =
      Files.createTempDirectory(s"graft_standing_$tag").toString
    def buckets(base: String) = StandingIndex.stat(base, "buckets").toInt
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
    val (shSized, sh64) = (fresh("sh_sized"), fresh("sh_64"))
    Dedup.shingleBuildIfStale(spark, Sf, shSized)
    Dedup.shingleBuildIfStale(spark, Sf, sh64, 64)
    val (bmSized, bm64) = (fresh("bm_sized"), fresh("bm_64"))
    Retrieval.bm25BuildIfStale(spark, Sf, bmSized)
    Retrieval.bm25BuildIfStale(spark, Sf, bm64, 64)
    assert(buckets(shSized) < 64 && buckets(bmSized) < 64,
      "the sf0.001 corpus must size a smaller layout than the pinned one")
    assert(buckets(sh64) == 64 && buckets(bm64) == 64)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    def shingle(base: String) =
      Dedup.shingleProbe(spark, base, batch).collect().map(_.toString).toSeq
    val queries = docs.filter(col("doc_id") < Retrieval.NumQueries)
    def bm25(base: String) =
      Retrieval.bm25Probe(spark, base, queries).collect().map(_.toString).toSeq
    val sh = shingle(shSized)
    assert(sh.nonEmpty && sh.exists(_.contains("true")))
    assert(sh == shingle(sh64), "shingle verdicts moved with the layout")
    val bm = bm25(bmSized)
    assert(bm.nonEmpty && bm == bm25(bm64), "BM25 top-k moved with the layout")
    graft.TrackedCaches.release()
    Seq(shSized, sh64, bmSized, bm64).foreach(b => Fs.deleteRec(Paths.get(b)))
  }

  test("a directory in the earlier marker/stats format reads stale and " +
      "rebuilds instead of failing or serving") {
    import org.apache.spark.sql.functions.col
    import graft.llm.{AnnIndex, Dedup}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // IVF, at the shipped query's own dir (it persists between runs): the
    // earlier format carried the build count as an ` n=` marker tail and
    // kept no build stats.
    val ivf = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_ivf_standing")
    val want = rows(AnnIndex.annIvfStanding(spark, Sf))
    val n = StandingIndex.stat(ivf.toString, "n")
    val sig = StandingIndex.sourceSig(s"$Sf/embeddings.parquet")
    Files.write(ivf.resolve("_meta"), s"dir=$Sf sig=$sig n=$n".getBytes("UTF-8"))
    Files.delete(ivf.resolve("_stats"))
    assert(rows(AnnIndex.annIvfStanding(spark, Sf)) == want)
    assert(StandingIndex.marker(ivf.toString).exists(!_.contains(" n=")),
      "the n=-tailed marker was served instead of rebuilt")
    assert(StandingIndex.stat(ivf.toString, "n") == n)
    // Shingle: the earlier format kept the bucket count as a bare number.
    val sh = Files.createTempDirectory("graft_standing_old_shingle").toString
    assert(Dedup.shingleBuildIfStale(spark, Sf, sh, 8))
    val batch = Tables.documents(spark, Sf).filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
    val verdicts = rows(Dedup.shingleProbe(spark, sh, batch))
    val src = s"$Sf/documents.parquet"
    Files.write(Paths.get(sh, "_meta"),
      (s"dir=$Sf sig=${StandingIndex.sourceSig(src)} buckets=8 " +
        s"src_bytes=${StandingIndex.sourceBytes(src)} dig=1").getBytes("UTF-8"))
    Files.write(Paths.get(sh, "_stats"), "8".getBytes("UTF-8"))
    assert(Dedup.shingleBuildIfStale(spark, Sf, sh, 8),
      "the earlier-format shingle dir must read stale")
    assert(StandingIndex.stat(sh, "buckets") == "8")
    assert(rows(Dedup.shingleProbe(spark, sh, batch)) == verdicts)
    assert(!Dedup.shingleBuildIfStale(spark, Sf, sh, 8))
    graft.TrackedCaches.release()
    Fs.deleteRec(Paths.get(sh))
  }
}
