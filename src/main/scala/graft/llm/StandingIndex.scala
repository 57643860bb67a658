package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery of the three standing (persisted, probe-only) indexes
  * — [[AnnIndex]] (IVF cells), [[Retrieval]]'s BM25 impact index, and
  * [[Dedup]]'s shingle index. One implementation of the three idioms they
  * all need, so a fix lands once:
  *
  *  - **Content-aware staleness marker.** The first cut stamped only
  *    (source dir, row count), which is blind to an in-place rewrite with
  *    the same cardinality — a regenerated corpus would silently serve
  *    the old index. The marker now embeds [[sourceSig]]: name + length +
  *    mtime of every file under the source table, so any rewrite flips
  *    it. Checking is pure file metadata — no Spark job on the serving
  *    path.
  *  - **Bucketed layout writer** (xxhash64 % n on the routing column,
  *    repartitioned on the partition column so each bucket directory is
  *    one file per write at any corpus scale). A build that is not handed
  *    a count sizes n from the source table's bytes ([[bucketsFor]]: one
  *    bucket per [[BytesPerBucket]], a power of two in [1,
  *    [[MaxBuckets]]]) for two measured reasons: a probe whose pruned
  *    read names more than 32 bucket paths makes Spark list them with a
  *    distributed job (`parallelPartitionDiscovery.threshold`), and every
  *    bucket a commit touches adds one file. The marker records the count
  *    beside the source bytes that chose it.
  *  - **Path-level pruned reader.** Handing the reader only the probed
  *    `part=value` directories (with basePath preserving the partition
  *    column) keeps the driver from listing + footer-reading the
  *    unprobed ones — measured on the BM25 ladder: at 1024 buckets the
  *    full-table listing cost MORE than the probe's data (5.5 → 3.1 s
  *    after the fix). The residual isin filter stays as the in-plan
  *    partition predicate and the plan-shape witness.
  *
  * ==Concurrency contract: SINGLE WRITER, single process==
  *
  * These indexes have no lock service; the `_meta` marker is a
  * staleness witness, not a mutex. The contract every owner
  * ([[AnnIndex]], BM25, shingle) inherits:
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

  /** Content signature of a source table (file or directory): md5 over
    * sorted (relative-name, length, mtime) of every regular file. File
    * metadata only — safe to evaluate on every serving call. */
  def sourceSig(path: String): String = treeSig(path, _ => true)

  /** The one walk-and-digest implementation behind [[sourceSig]] and
    * [[liveSig]] — a digest fix (mtime granularity, symlinks, sort
    * locale) must land in both or the marker-restore check drifts from
    * the staleness check. `keep` filters by path relative to the root. */
  private def treeSig(path: String, keep: String => Boolean): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return "absent"
    val st = java.nio.file.Files.walk(p)
    val parts =
      try {
        val b = Seq.newBuilder[String]
        st.filter(q => java.nio.file.Files.isRegularFile(q))
          .sorted()
          .forEach { q =>
            val rel = p.relativize(q).toString
            if (keep(rel))
              b += s"$rel:${java.nio.file.Files.size(q)}:" +
                s"${java.nio.file.Files.getLastModifiedTime(q).toMillis}"
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
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return 0L
    val st = java.nio.file.Files.walk(p)
    try st.filter(q => java.nio.file.Files.isRegularFile(q) &&
        q.toString.endsWith(".parquet"))
      .mapToLong(q => java.nio.file.Files.size(q)).sum()
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
    * reader of `_meta` sees what sized the layout. */
  def layoutMarker(source: String, nBuckets: Int): String =
    s"sig=${sourceSig(source)} buckets=$nBuckets " +
      s"src_bytes=${sourceBytes(source)}"

  /** True iff `base/_meta` exists and matches `want` exactly. */
  def upToDate(base: String, want: String): Boolean = {
    val mp = java.nio.file.Paths.get(s"$base/_meta")
    java.nio.file.Files.exists(mp) &&
      new String(java.nio.file.Files.readAllBytes(mp), "UTF-8") == want
  }

  /** True iff `base/_meta` exists and STARTS WITH `prefix` — the check
    * for markers whose tail carries a build-derived value (AnnIndex's
    * ` n=<corpus count>`, which the prober parses back out). One
    * implementation so the recovery-protocol idiom can't drift between
    * call sites. */
  def markerStartsWith(base: String, prefix: String): Boolean = {
    val mp = java.nio.file.Paths.get(s"$base/_meta")
    java.nio.file.Files.exists(mp) &&
      new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
        .startsWith(prefix)
  }

  /** Wipe and recreate `base` for a fresh build. */
  def reset(base: String): Unit = {
    val bp = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(bp)) graft.Fs.deleteRec(bp)
    java.nio.file.Files.createDirectories(bp)
    ()
  }

  /** Stamp the marker — written LAST in every build, so a crash mid-build
    * leaves a stale-marked (rebuildable) dir, never a fresh-marked
    * partial one. */
  def commit(base: String, want: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/_meta"),
      want.getBytes("UTF-8"))
    ()
  }

  /** The routing-column bucket expression shared with
    * [[Retrieval.EvolvingDistIndex]]: pmod(xxhash64(c), n). */
  def bucketOf(c: Column, nBuckets: Int): Column =
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

  /** Append-only variant of [[writeBucketed]] for standing indexes whose
    * state GROWS (committed arrivals): same routing/repartition discipline
    * — ≤ one new file per touched bucket per append, so a steady commit
    * stream adds batch-bucket-count files, never task-count × bucket-count
    * (the small-file storm [[Retrieval.EvolvingDistIndex]] guards against
    * the same way). */
  def appendBucketed(df: DataFrame, routing: Column, nBuckets: Int,
      dir: String): Unit = {
    df.withColumn("bucket", bucketOf(routing, nBuckets))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(dir)
    ()
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
    val mp = java.nio.file.Paths.get(s"$base/_meta")
    if (!java.nio.file.Files.exists(mp)) return
    val marker = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
    java.nio.file.Files.delete(mp)
    val sig0 = liveSig(base)
    try {
      body
      commit(base, marker)
    } catch {
      case e: Throwable =>
        if (liveSig(base) == sig0) commit(base, marker)
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
      rel != "_meta" && !rel.split('/').exists(_.startsWith("_compact_")))

  /** Compact one `part`-partitioned table of a standing index back to
    * one file per partition directory: appends accumulate a file per
    * touched partition per commit (the measured pressure — ~447 files
    * per IVF append at the 100× ladder), and scan cost eventually tracks
    * file count, not bytes. Rewrite-to-temp, swap, called under
    * [[withMarkerSuspended]] by the owners. */
  def compactTable(s: SparkSession, base: String, table: String,
      part: String, xform: DataFrame => DataFrame = identity): Unit = {
    val dir = s"$base/$table"
    val tmp = s"$base/_compact_$table"
    graft.Fs.deleteRec(java.nio.file.Paths.get(tmp))
    val out = xform(s.read.parquet(dir))
    out.repartition(col(part))
      .write.partitionBy(part).mode("overwrite").parquet(tmp)
    // Dropping every row (a full purge) or compacting an already-empty
    // table must not swap in a data-less dir — see [[ensureReadable]].
    ensureReadable(s, tmp, out.schema, Some(part))
    swapDirs(s, tmp, dir)
  }

  /** Flat (non-partitioned) sibling of [[compactTable]] for delta tables
    * with no routing column (the shingle index's n0): rewrite through
    * `xform`, guard the all-rows-dropped case, swap. */
  def compactFlat(s: SparkSession, base: String, table: String,
      xform: DataFrame => DataFrame = identity): Unit = {
    val dir = s"$base/$table"
    val tmp = s"$base/_compact_$table"
    graft.Fs.deleteRec(java.nio.file.Paths.get(tmp))
    val out = xform(s.read.parquet(dir))
    out.write.mode("overwrite").parquet(tmp)
    ensureReadable(s, tmp, out.schema, None)
    swapDirs(s, tmp, dir)
  }

  /** Swap a fully-written temp table into the live path by RENAMES
    * only: live → aside, tmp → live, then delete the aside copy. The
    * old swap deleted the live tree in place before the move, leaving
    * a concurrent probe-only reader a missing-table window as long as
    * an O(files) recursive delete; two metadata-cost renames shrink
    * that window to a single rename gap. This is HARDENING, not a
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
  private[llm] def swapDirs(s: SparkSession, tmp: String,
      dir: String): Unit = {
    val live = java.nio.file.Paths.get(dir)
    val aside = live.resolveSibling("_old_" + live.getFileName.toString)
    graft.Fs.deleteRec(aside)
    java.nio.file.Files.move(live, aside)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), live)
    graft.Fs.deleteRec(aside)
    s.catalog.refreshByPath(dir)
  }

  // ── Tombstone protocol ─────────────────────────────────────────────
  //
  // One implementation of the delete idiom all four standing structures
  // (shingle, BM25 impact, evolving decontam, IVF) serve deletes with: a
  // takedown-arity tombstone table under the index dir, a broadcast
  // anti-join at each structure's ONE postings entry point, the generic
  // loud re-delete refusal, and a compaction guard that physically
  // dropping every row can't brick the table. Family-specific delta
  // arithmetic (shingle df re-shingle, evolving fwd-derived deltas,
  // BM25's frozen-stats mask, IVF's per-cell slices) stays with the
  // owners — this is the machinery they were hand-rolling four times,
  // where the next fix to one copy would have missed the other three.

  /** True iff `dir` holds at least one parquet DATA file (recursive) —
    * distinguishes "this table has rows on disk" from an absent dir AND
    * from a data-less write (`_SUCCESS` only), which a parquet read
    * cannot even infer a schema from. File metadata only — safe on
    * every serving call. */
  def hasParquetData(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return false
    val st = java.nio.file.Files.walk(p)
    try st.anyMatch(q => q.toString.endsWith(".parquet") &&
      java.nio.file.Files.isRegularFile(q))
    finally st.close()
  }

  /** The tombstone mask: `rows` anti-joined against the tombstone table
    * at `tombsDir` on `keys` — the single exclusion point every postings
    * consumer of a deleted-from index reads through. The list is
    * takedown-arity tiny, so the anti-join side BROADCASTS (never a
    * shuffle on the corpus side); pass-through when no delete ever ran
    * (no dir, or a data-less one). Owners with a partitioned tombstone
    * layout pass their own path-pruned slice as `tombs` (IVF probes
    * prune to the probed cells) — the existence gate and join shape
    * still come from here. */
  def liveRows(s: SparkSession, tombsDir: String, rows: DataFrame,
      keys: Seq[String], tombs: => Option[DataFrame] = None): DataFrame =
    if (!hasParquetData(tombsDir)) rows
    else rows.join(
      broadcast(tombs.getOrElse(s.read.parquet(tombsDir))
        .select(keys.map(col): _*)),
      keys, "left_anti")

  /** Loud re-delete refusal shared by the delta-bearing deletes (shingle
    * df deltas, evolving df/stats deltas): ids already tombstoned must
    * refuse — re-applying their deltas would double-subtract. The tombs
    * list is the replay witness; `recovery` names the owner's protocol
    * for the torn case. Pure-mask deletes (BM25, IVF) are idempotent and
    * never call this. */
  def refuseRedelete(s: SparkSession, tombsDir: String, del: DataFrame,
      key: String, what: String, recovery: String): Unit =
    if (hasParquetData(tombsDir) &&
        !s.read.parquet(tombsDir)
          .join(del.select(key), Seq(key), "left_semi").isEmpty)
      throw new IllegalStateException(
        s"$what: some of these ${key}s are already tombstoned — a " +
          "re-delete would double-subtract their deltas. " + recovery)

  /** Post-rewrite guard for compactions that physically drop rows: when
    * EVERY row was deleted (a legally-reached state — a purge of the
    * whole population), a partitionBy write of the empty frame lands NO
    * data file at all (only `_SUCCESS` — measured on Spark 4.1; flat
    * writes DO emit a schema file) and the next read of the table dies
    * on parquet schema inference, bricking the index with a confusing
    * error instead of serving empty results. Keep one explicit empty
    * but SCHEMAED file: inside a `part=0` partition dir for partitioned
    * tables — the layout stays uniform, so partition discovery, pruned
    * reads, and later partitioned appends all keep working (spec-pinned)
    * — or flat for flat tables. No-op whenever any data file landed. */
  def ensureReadable(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      part: Option[String]): Unit =
    if (!hasParquetData(dir)) {
      val (target, fields) = part match {
        case Some(p) => (s"$dir/$p=0", schema.fields.filterNot(_.name == p))
        case None    => (dir, schema.fields)
      }
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(fields))
        .coalesce(1).write.mode("append").parquet(target)
    }

  /** Path-level pruned read of a `part`-partitioned table: only the
    * probed `part=value` directories are listed and read; the isin
    * filter remains as the in-plan partition predicate (callers that
    * don't join on it drop the column). Falls back to a full
    * (partition-filtered) read when none of the probed directories
    * exist, which also covers reading a layout written before any
    * matching value existed. */
  def prunedRead(s: SparkSession, tableDir: String, part: String,
      values: Seq[Long]): DataFrame = {
    val paths = values.map(v => s"$tableDir/$part=$v")
      .filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
    val raw = if (paths.isEmpty) s.read.parquet(tableDir)
      else s.read.option("basePath", tableDir).parquet(paths: _*)
    raw.filter(col(part).isin(values: _*))
  }
}
