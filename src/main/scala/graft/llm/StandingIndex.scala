package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession,
  functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one module that knows what a standing (persisted, probe-only)
  * directory holds. [[AnnIndex]] (IVF cells) and [[Bpe]]'s merge table
  * use it directly; the three term-keyed indexes — [[Dedup]]'s shingle
  * index, [[Retrieval]]'s BM25 impact index and
  * [[Retrieval.EvolvingDistIndex]] — keep their tables in a
  * [[PostingsStore]] built on the writers, [[Slice]] and swap below (the
  * streaming landing zones stage through [[ensure]] too). The protocol:
  *
  *  - **Marker.** `base/_meta` holds the exact string a build was asked
  *    for: the owner's source, its content signature ([[sourceSig]]:
  *    name + length + mtime of every source file, so an in-place rewrite
  *    with the same cardinality still flips it) and, for the phase
  *    queries, the phase reached. [[ensure]] is the only way to build:
  *    marker equal to `want` → serve; anything else → reset, build, stamp
  *    `want` LAST, so a crash mid-build leaves an unmarked (rebuildable)
  *    dir, never a fresh-marked partial one. Checking is file metadata
  *    only — no Spark job on the serving path.
  *  - **Build stats.** Values a build derives and later calls read back
  *    (the bucket count, BM25's n and avgLen, IVF's corpus count n) live
  *    as `key=value` lines in `base/_stats`, written by [[recordStats]]
  *    inside the build (so before the marker) and read by [[stat]]. The
  *    marker never carries them, so phase markers and
  *    [[withMarkerSuspended]] have nothing to carry either.
  *  - **Bucket layout.** `pmod(xxhash64(routing), n)` partitions, one
  *    write task per bucket ([[writeBucketed]], [[appendBucketed]]), so a
  *    write adds at most one file per bucket at any corpus scale. A build
  *    that is not handed a count sizes n from the source bytes
  *    ([[bucketsFor]]: one bucket per [[BytesPerBucket]], a power of two
  *    in [1, [[MaxBuckets]]]) for two measured reasons: a pruned read
  *    naming more than 32 bucket paths makes Spark list them with a
  *    distributed job (`parallelPartitionDiscovery.threshold`), and every
  *    bucket a commit touches adds one file. [[layoutMarker]] records the
  *    count beside the source bytes that chose it.
  *  - **Bucket-pruned reads.** [[slice]] collects the routing hashes of
  *    a key frame once and hands the reader only the `bucket=v`
  *    directories they touch, so the driver never lists or footer-reads
  *    the others — measured on the BM25 ladder: at 1024 buckets the
  *    full-table listing cost MORE than the probe's data (5.5 → 3.1 s
  *    after the fix). A batch of any real size touches every bucket, so
  *    [[Slice.keyed]] and [[Slice.sum]] also filter the scan by the hash
  *    set: what a batch shuffles is bounded by its vocabulary.
  *  - **Declared schemas.** Owners declare each table's schema beside
  *    its writer and every read passes it ([[Slice]], [[prunedRead]],
  *    [[compactTable]], [[compactFlat]]): no schema-inference job runs, a
  *    data-less table reads as empty, and a drifted file fails the read.
  *  - **Compaction.** Rewrite to a `_compact_*` temp, rename-only swap
  *    ([[compactTable]], [[compactFlat]]); the marked owners run it under
  *    [[withMarkerSuspended]].
  *  - **Tombstones.** One mask ([[liveRows]]), a broadcast anti-join.
  *    The term-keyed owners' tombstones live in [[PostingsStore]].
  *
  * ==Concurrency contract: SINGLE WRITER, single process==
  *
  * These indexes have no lock service; the marker is a staleness
  * witness, not a mutex. The contract every owner inherits:
  *
  *  - **One writer at a time.** Builds, appends, deletes, and
  *    compactions must be serialized by the caller. Two concurrent
  *    writers race their file writes into the same tree — undefined
  *    result, no detection.
  *  - **Probes during maintenance may trigger a redundant rebuild.**
  *    [[withMarkerSuspended]] deletes the marker for the duration of a
  *    compaction, so a build-if-stale probe from a SECOND session in
  *    that window reads "stale" and starts a rebuild into the live tree
  *    — i.e. becomes an unserialized second writer (the undefined case
  *    above). Within ONE process, callers that serialize maintenance
  *    against probes (everything in this repo does — queries, soaks,
  *    and specs run their own index dirs single-threaded) are safe.
  *  - **Probe-only readers** (calls that do not build on stale, e.g.
  *    [[AnnIndex.probe]] directly) see the live tree mid-maintenance;
  *    compactTable's rewrite-to-temp keeps the live table complete
  *    until the swap, and the swap itself is rename-only (live → aside,
  *    tmp → live — [[swapDirs]]), so the missing-table window is one
  *    rename gap rather than a recursive delete; a reader can still
  *    list exactly inside that gap.
  *    Cross-process serving during maintenance needs a transactional
  *    table format — out of scope here, documented so nobody assumes
  *    otherwise (StandingIndexSpec pins the marker-absent-during-
  *    suspension behavior this contract rests on).
  */
private[graft] object StandingIndex {

  private val MarkerFile = "_meta"
  private val StatsFile = "_stats"

  /** Content signature of a source table (file or directory): md5 over
    * sorted (relative-name, length, mtime) of every regular file. File
    * metadata only — safe to evaluate on every serving call. */
  def sourceSig(path: String): String = treeSig(path, _ => true)

  /** The one walk-and-digest implementation behind [[sourceSig]] and
    * [[liveSig]] — a digest fix (mtime granularity, symlinks, sort
    * locale) must land in both or the marker-restore check drifts from
    * the staleness check. `keep` filters by path relative to the root. */
  private def treeSig(path: String, keep: String => Boolean): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return "absent"
    val st = Files.walk(p)
    val parts =
      try {
        val b = Seq.newBuilder[String]
        st.filter(q => Files.isRegularFile(q))
          .sorted()
          .forEach { q =>
            val rel = p.relativize(q).toString
            if (keep(rel))
              b += s"$rel:${Files.size(q)}:" +
                s"${Files.getLastModifiedTime(q).toMillis}"
          }
        b.result()
      } finally st.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Bytes of the source table's parquet data files — file metadata
    * only, like [[sourceSig]]. The measured size [[bucketsFor]] sizes a
    * layout from. */
  def sourceBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.filter(q => Files.isRegularFile(q) &&
        q.toString.endsWith(".parquet"))
      .mapToLong(q => Files.size(q)).sum()
    finally st.close()
  }

  /** Source bytes one bucket of a sized layout covers. */
  val BytesPerBucket: Long = 256L * 1024

  /** Largest sized layout: 64 buckets, reached at 16 MiB of source. */
  val MaxBuckets = 64

  /** Bucket count of a layout over `sourceBytes` of source parquet: one
    * bucket per [[BytesPerBucket]], rounded up to a power of two (so the
    * count only moves when the corpus doubles) and clamped to [1,
    * [[MaxBuckets]]]. Small corpora get few buckets: a probe then names
    * at most that many paths, below Spark's 32-path threshold for a
    * distributed listing job, and a commit adds at most that many
    * files. */
  def bucketsFor(sourceBytes: Long): Int = {
    val n = if (sourceBytes <= 0L) 1L
      else math.min(MaxBuckets.toLong, (sourceBytes - 1) / BytesPerBucket + 1)
    if (n == 1L) 1 else Integer.highestOneBit((n - 1).toInt) << 1
  }

  /** [[bucketsFor]] the bytes of the source table at `source`. */
  def sizedBuckets(source: String): Int = bucketsFor(sourceBytes(source))

  /** The layout part of a bucketed index's marker: the content signature
    * of `source`, the bucket count, and the source bytes beside it, so a
    * reader of the marker sees what sized the layout. The trailing
    * `stats=kv` names the build-stats format: a directory written before
    * [[recordStats]] kept its stats as bare numbers, and the token makes
    * such a directory read stale instead of failing its first [[stat]]. */
  def layoutMarker(source: String, nBuckets: Int): String =
    s"sig=${sourceSig(source)} buckets=$nBuckets " +
      s"src_bytes=${sourceBytes(source)} stats=kv"

  /** The marker stamped at `base`, if any. */
  def marker(base: String): Option[String] = {
    val mp = Paths.get(base, MarkerFile)
    if (Files.exists(mp)) Some(new String(Files.readAllBytes(mp), "UTF-8"))
    else None
  }

  /** Build-if-stale, the one way a standing directory gets (re)built:
    * returns false when the marker at `base` equals `want` exactly.
    * Otherwise wipes `base`, runs `build` (which writes the owner's
    * tables and its [[recordStats]]), stamps `want` last and returns
    * true. */
  def ensure(base: String, want: String)(build: => Unit): Boolean = {
    if (marker(base).contains(want)) return false
    reset(base)
    build
    stamp(base, want)
    true
  }

  /** Wipe and recreate `base`. */
  def reset(base: String): Unit = {
    val bp = Paths.get(base)
    if (Files.exists(bp)) graft.Fs.deleteRec(bp)
    Files.createDirectories(bp)
    ()
  }

  private def stamp(base: String, want: String): Unit = {
    Files.write(Paths.get(base, MarkerFile), want.getBytes("UTF-8"))
    ()
  }

  /** Record the values a build derived, as `key=value` lines, replacing
    * any earlier record. Called inside an [[ensure]] build, so the
    * values land before the marker does. */
  def recordStats(base: String, kv: (String, Any)*): Unit = {
    Files.write(Paths.get(base, StatsFile),
      kv.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
    ()
  }

  /** The build-derived value `key` recorded at `base`. Doubles round-trip
    * exactly: [[recordStats]] writes `Double.toString`, the shortest
    * decimal that parses back to the same bits. */
  def stat(base: String, key: String): String = {
    val p = Paths.get(base, StatsFile)
    val lines =
      if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      else Nil
    lines.collectFirst { case l if l.startsWith(s"$key=") => l.drop(key.length + 1) }
      .getOrElse(throw new IllegalStateException(
        s"standing index at $base records no build stat '$key' — rebuild it"))
  }

  /** The routing-column bucket expression: pmod(xxhash64(c), n). */
  private def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong))

  /** Bucket-partitioned layout write: one task — hence one file — per
    * bucket directory. */
  def writeBucketed(df: DataFrame, routing: Column, nBuckets: Int,
      dir: String): Unit = {
    df.withColumn("bucket", bucketOf(routing, nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    ()
  }

  /** Append-only variant of [[writeBucketed]] for state that GROWS
    * (committed arrivals, delta rows): the same repartition on the
    * partition column, so every bucket lands in one task and a steady
    * commit stream adds at most one file per touched bucket per append,
    * never task-count × bucket-count (the small-file storm every later
    * pruned read would pay back with interest). */
  def appendBucketed(df: DataFrame, routing: Column, nBuckets: Int,
      dir: String): Unit = {
    df.withColumn("bucket", bucketOf(routing, nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(dir)
    ()
  }

  /** The keys of a key frame and the buckets of a layout under `base`
    * they touch, with path-pruned reads of its tables restricted to them.
    * The slice holds the keys' routing hashes (`xxhash64`, the hash the
    * bucket expression takes modulo the count), so it names the buckets
    * and filters the rows of those buckets from one driver-side set.
    * `schemas` declares the read schema of every table it can read. */
  final class Slice private[StandingIndex] (s: SparkSession, base: String,
      keys: DataFrame, routing: String, hashes: Set[Long],
      buckets: Seq[Long], schemas: Map[String, StructType]) {
    def isEmpty: Boolean = buckets.isEmpty

    /** `base/table` read through only this slice's bucket directories,
      * the partition column dropped. */
    def read(table: String): DataFrame =
      prunedRead(s, s"$base/$table", "bucket", buckets, schemas(table))
        .drop("bucket")

    /** [[read]] restricted in the scan to the rows whose routing key
      * hashes like one of the slice's keys: every row of the keys, and a
      * foreign key's only on a 64-bit hash collision, so a consumer that
      * joins on the key itself reads exactly what the whole buckets would
      * give it. */
    def keyed(table: String): DataFrame =
      read(table).filter(GraftColumnBridge.toColumn(graft.functions.LongIn.of(
        GraftColumnBridge.toExpression(xxhash64(col(routing))), hashes)))

    /** For each key of the slice, the sum of `table`'s `delta` column over
      * its rows, 0 when it has none, beside the sum of every other column
      * of the key frame. One aggregate over the key frame's rows unioned
      * with the [[keyed]] rows of `table`, so it shuffles at most the
      * key frame and the keys' delta rows, never the rest of the table,
      * and takes no job beyond the one its caller's action runs. */
    def sum(table: String, delta: String): DataFrame = {
      val carried = keys.columns.filterNot(_ == routing).toSeq
      val fromKeys = keys.select(col(routing) +: carried.map(col) :+
        lit(0L).as(delta) :+ lit(true).as(InSlice): _*)
      val fromTable = keyed(table).select(col(routing) +:
        carried.map(c => lit(0L).as(c)) :+ col(delta) :+
        lit(false).as(InSlice): _*)
      fromKeys.unionByName(fromTable).groupBy(routing)
        .agg(max(InSlice).as(InSlice),
          (carried :+ delta).map(c => functions.sum(c).as(c)): _*)
        .filter(col(InSlice)).drop(InSlice)
    }
  }

  private val InSlice = "_in_slice"

  /** The slice of the `nBuckets` layout under `base` that `keys` touches
    * on its `routing` column: one distinct-collect of the keys' routing
    * hashes, bounded by the key frame's own vocabulary (the same bound as
    * the broadcast its callers' joins already take). The key frame's
    * other columns are the values [[Slice.sum]] adds up per key. */
  def slice(s: SparkSession, base: String, keys: DataFrame, routing: String,
      nBuckets: Int, schemas: Map[String, StructType]): Slice = {
    val hashes = keys.select(xxhash64(col(routing))).distinct()
      .collect().map(_.getLong(0)).toSet
    // floorMod is [[bucketOf]]'s pmod, taken on the driver.
    new Slice(s, base, keys, routing, hashes,
      hashes.map(h => Math.floorMod(h, nBuckets.toLong)).toSeq.sorted, schemas)
  }

  /** Run a state-rewriting maintenance `body` with the staleness marker
    * SUSPENDED: the marker is read, deleted, and only restored after the
    * body succeeds — so a crash anywhere inside leaves an UNMARKED dir
    * the next build call rebuilds from source, never a fresh-marked
    * half-rewritten index. No-op (body not run) when the dir carries no
    * marker: there is nothing consistent to maintain.
    *
    * A transient in-PROCESS failure (a failed Spark job during a tmp
    * write, before any live directory is touched) should not cost a full
    * rebuild: on exception the live tree's file signature is re-taken,
    * and iff it is byte-for-byte where it was before `body` ran, the
    * marker is restored before rethrowing. Any divergence — a deleted
    * live table, a completed swap mid-sequence — leaves the dir unmarked
    * (rebuildable), exactly as a process crash would.
    *
    * CONSTRAINT on `body`: it must never rewrite a live file IN PLACE —
    * only add, move, or delete whole files (write-to-`_compact_*`-temp
    * then swap, as [[compactTable]] does). The restore-iff-unchanged
    * check compares (name, size, mtime-millis) signatures, so an
    * in-place rewrite that preserves size within a coarse-mtime
    * filesystem's granularity would read as "unchanged" and restore the
    * marker over silently-mutated live state. Every current body obeys
    * this (add/move/delete only); a future body that can't must
    * strengthen [[liveSig]] to content hashes first. */
  def withMarkerSuspended(base: String)(body: => Unit): Unit = {
    val held = marker(base)
    if (held.isEmpty) return
    Files.delete(Paths.get(base, MarkerFile))
    val sig0 = liveSig(base)
    try {
      body
      stamp(base, held.get)
    } catch {
      case e: Throwable =>
        if (liveSig(base) == sig0) stamp(base, held.get)
        throw e
    }
  }

  /** Signature of the LIVE files under a standing-index dir: every
    * regular file except the marker itself and anything under a
    * `_compact_*` temp dir (maintenance scratch — a failed tmp write must
    * not read as live-state divergence). Same digest as [[sourceSig]] by
    * construction (shared [[treeSig]]). */
  private def liveSig(base: String): String =
    treeSig(base, rel =>
      rel != MarkerFile && !rel.split('/').exists(_.startsWith("_compact_")))

  /** Compact one `part`-partitioned table of a standing index back to
    * one file per partition directory: appends accumulate a file per
    * touched partition per commit (the measured pressure — ~447 files
    * per IVF append at the 100× ladder), and scan cost eventually tracks
    * file count, not bytes. Rewrite-to-temp, swap; the marked owners call
    * it under [[withMarkerSuspended]]. Read with its declared `schema`,
    * a fully purged table is data-less, reads as empty and takes appends. */
  def compactTable(s: SparkSession, base: String, table: String,
      part: String, schema: StructType,
      xform: DataFrame => DataFrame = identity): Unit =
    compact(s, base, table, Some(part), schema, xform)

  /** Flat (non-partitioned) sibling of [[compactTable]] for tables with
    * no routing column (the shingle index's n0 and dig, the evolving
    * index's fwd). */
  def compactFlat(s: SparkSession, base: String, table: String,
      schema: StructType, xform: DataFrame => DataFrame = identity): Unit =
    compact(s, base, table, None, schema, xform)

  private def compact(s: SparkSession, base: String, table: String,
      part: Option[String], schema: StructType,
      xform: DataFrame => DataFrame): Unit = {
    val dir = s"$base/$table"
    val tmp = s"$base/_compact_$table"
    graft.Fs.deleteRec(Paths.get(tmp))
    val out = xform(s.read.schema(schema).parquet(dir))
    part.fold(out.write)(p => out.repartition(col(p)).write.partitionBy(p))
      .mode("overwrite").parquet(tmp)
    swapDirs(s, tmp, dir)
  }

  /** Swap a fully-written temp table into the live path by RENAMES
    * only: live → aside, tmp → live, then delete the aside copy, so a
    * concurrent probe-only reader's missing-table window is a single
    * rename gap, not an O(files) recursive delete. This is HARDENING, not a
    * cross-process guarantee — a reader listing exactly between the
    * two renames still misses the table (the single-writer contract
    * above stands; true concurrent serving during maintenance needs a
    * manifest-pinned file set or a transactional table format). A
    * crash between the renames leaves `_old_<table>` beside a missing
    * live dir — inside [[withMarkerSuspended]] that is an unmarked,
    * rebuildable tree, exactly like any other torn compaction.
    *
    * The renames bypass Spark, so the swap refreshes the session's cached
    * frames under `dir` itself (a Spark write does this on its own). Spark
    * matches cached plans by root paths alone: a probe caching its pruned
    * read of `dir/bucket=0` before the swap would otherwise serve the
    * next probe of the same buckets from a file list the swap deleted —
    * certain on a one-bucket layout, where every probe reads the same
    * path. */
  private def swapDirs(s: SparkSession, tmp: String, dir: String): Unit = {
    val live = Paths.get(dir)
    val aside = live.resolveSibling("_old_" + live.getFileName.toString)
    graft.Fs.deleteRec(aside)
    Files.move(live, aside)
    Files.move(Paths.get(tmp), live)
    graft.Fs.deleteRec(aside)
    s.catalog.refreshByPath(dir)
  }

  // ── Tombstones ────────────────────────────────────────────────────

  /** The tombstone mask: `rows` anti-joined against an owner's tombstone
    * rows on `keys`, pass-through when it has none. The list is
    * takedown-arity tiny, so the anti-join side BROADCASTS (never a
    * shuffle on the corpus side). */
  def liveRows(rows: DataFrame, keys: Seq[String],
      tombs: Option[DataFrame]): DataFrame =
    tombs.fold(rows)(t =>
      rows.join(broadcast(t.select(keys.map(col): _*)), keys, "left_anti"))

  /** Path-level pruned read of a `part`-partitioned table: only the
    * probed `part=value` directories are listed and read; the isin
    * filter remains as the in-plan partition predicate (callers that
    * don't join on it drop the column). Falls back to a full
    * (partition-filtered) read when none of the probed directories
    * exist, which also covers reading a layout written before any
    * matching value existed. `schema` declares the table's read schema
    * (partition column included). */
  def prunedRead(s: SparkSession, tableDir: String, part: String,
      values: Seq[Long], schema: StructType): DataFrame = {
    val paths = values.map(v => s"$tableDir/$part=$v")
      .filter(p => Files.isDirectory(Paths.get(p)))
    val reader = s.read.schema(schema)
    val raw = if (paths.isEmpty) reader.parquet(tableDir)
      else reader.option("basePath", tableDir).parquet(paths: _*)
    raw.filter(col(part).isin(values: _*))
  }
}
