package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.reflect.ClassTag

import graft.TrackedCaches
import graft.llm.StandingIndex
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The landing zone every streaming query reads, the micro-batch loop over
  * it, and the one driver every screening gate runs ([[gate]]).
  *
  * A zone is a source table's arrival rows cut into [[Chunks]] parquet
  * files of contiguous key ranges (span = (hi - lo) / Chunks + 1), with
  * strictly increasing mtimes so the file source replays them in key
  * order — for events that is event-time order; a random split would make
  * later micro-batches almost entirely late against the watermark, which
  * a production landing zone avoids by being append-ordered. Streams read
  * [[FilesPerTrigger]] files per trigger, so micro-batch
  * b = chunk / FilesPerTrigger; the oracles replay that with
  * [[batchOfSql]].
  */
object Zone {

  /** Chunk files per zone. */
  val Chunks = 4

  /** Files consumed per micro-batch. 2 keeps every multi-batch property
    * under test (watermark progression, cross-batch duplicates, state
    * eviction, index growth between batches) at half the per-trigger
    * machinery cost of 1 — the fixed micro-batch overhead dominated the
    * streaming bench times. */
  val FilesPerTrigger = 2

  /** Shuffle sizing for stream work: micro-batches are arrival-slice-scale,
    * not corpus-scale, and a stateful query's state-store count (one per
    * shuffle partition per stateful operator, paid every batch) is baked
    * into its checkpoint, so it is a start-time decision in production
    * too. */
  val SliceShuffles: (String, String) = "spark.sql.shuffle.partitions" -> "8"

  /** `name` under `java.io.tmpdir`. */
  def tmp(name: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"), name).toString

  /** Serializes stage-or-reuse decisions: the marker check and the wipe/
    * write are not atomic, so two callers staging concurrently in one JVM
    * could each see "not staged" and double-stage (or one deletes the tree
    * while the other's readStream lists it). Cross-JVM is not a concern:
    * the mains and the test runner each stage from one JVM. */
  private val lock = new Object

  /** Stages `project` — the arrival rows of `d/table.parquet` — as a zone
    * chunked on the long column `key`, and returns its directory. The
    * directory is keyed by source dir, so staging dataset B never wipes
    * dataset A's zone out from under A's checkpointed streams (the
    * multi-SF ScaleTest path switches zones within one JVM, and its
    * orphan cleanup finds a zone by the source dir name it embeds). The
    * marker records the source table's file signature, so a table
    * rewritten at the same path restages instead of serving the old
    * arrivals. An empty arrival set stages a zone with no chunks. Any
    * other set stages all [[Chunks]] chunks: a key range with no rows
    * still writes its chunk, a schema-only parquet file (a one-task write
    * of zero rows leaves one), and that is what keeps [[batchOfSql]]'s
    * arithmetic true of a sparse key space too. */
  def stage(s: SparkSession, d: String, table: String, key: String,
      project: => DataFrame): String = lock.synchronized {
    val base = Paths.get(tmp(s"graft_stream_${table}_${d.replaceAll("[^a-zA-Z0-9.]", "_")}"))
    val want = s"chunks=$Chunks sig=${StandingIndex.sourceSig(s"$d/$table.parquet")}"
    StandingIndex.ensure(base.toString, want) {
      val rows = project.cache()
      val bounds = rows.agg(min(key), max(key)).head()
      if (!bounds.isNullAt(0)) {
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val span = (hi - lo) / Chunks + 1
        (0 until Chunks).foreach { i =>
          val part = base.resolve(s"_stage_$i")
          rows.filter(col(key) >= lo + i * span && col(key) < lo + (i + 1) * span)
            .coalesce(1).write.mode("overwrite").parquet(part.toString)
          graft.Fs.firstWithSuffix(part, ".parquet").foreach { f =>
            val dst = base.resolve(f"chunk_$i%02d.parquet")
            Files.move(f, dst, StandardCopyOption.REPLACE_EXISTING)
            Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + i * 60000L))
          }
          graft.Fs.deleteRec(part)
        }
      }
      rows.unpersist()
    }
    base.toString
  }

  /** Staged chunk files in zone `dir`: [[Chunks]], or 0 for a zone with no
    * arrivals. */
  def chunks(dir: String): Long = graft.Fs.countWithSuffix(Paths.get(dir), ".parquet")

  /** SQL over `rel` (a relation holding the zone's rows) adding the
    * micro-batch `b` each row arrives in: the zone's chunk boundaries on
    * `key`, replayed arithmetically. */
  def batchOfSql(rel: String, key: String): String =
    s"""SELECT a.*, ((a.$key - p.lo) // p.span) // $FilesPerTrigger AS b
        FROM $rel a,
             (SELECT lo, (hi - lo) // $Chunks + 1 AS span FROM
                (SELECT min($key) AS lo, max($key) AS hi FROM $rel)) p"""

  /** Zone `dir` as a file stream, `files` per trigger. */
  def source(s: SparkSession, dir: String, schema: StructType,
      files: Int = FilesPerTrigger): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", files).parquet(dir)

  /** Starts `w`, runs it until its source is consumed, and stops it. */
  def drain(w: DataStreamWriter[_]): Unit = {
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Runs `body` with the session conf `kv` set, then restores each key:
    * its old value, or unset if it was unset. */
  def withConf[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val set = s.conf.getAll
    val prev = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Streams zone `dir` through `body` one micro-batch at a time, with
    * `conf` set for the run, and returns the last batch id (-1 when the
    * zone has no chunks). `out` is wiped first; `body` writes batch b's
    * result with [[put]]. */
  def run(s: SparkSession, dir: String, schema: StructType, out: String,
      conf: (String, String)*)(body: (DataFrame, Long) => Unit): Long = {
    StandingIndex.reset(out)
    @volatile var latest = -1L
    val w = source(s, dir, schema).writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId)
        latest = batchId
    }
    withConf(s, conf: _*)(drain(w))
    latest
  }

  /** Directory of batch `id`'s result under `out`. */
  def version(out: String, id: Long): String = s"$out/v$id"

  /** Writes batch `id`'s result. Overwrite keyed by batch id makes the
    * sink exactly-once under retries: a replayed batch rewrites the same
    * version from the same input instead of adding to it. */
  def put(df: DataFrame, out: String, id: Long): Unit =
    df.write.mode("overwrite").parquet(version(out, id))

  /** The micro-batch count a stream must reach over a zone of `chunks`
    * chunks, given its last batch id `latest`. */
  sealed abstract class Batches(need: String) {
    def hold(latest: Long, chunks: Long): Boolean

    /** Throws unless a run over zone `dir` into `out` ran at least one
      * micro-batch and ended at a `latest` that meets this rule. */
    def check(latest: Long, dir: String, out: String): Unit = {
      val n = chunks(dir)
      require(latest >= 0 && hold(latest, n), s"${Paths.get(out).getFileName} ran " +
        s"${latest + 1} micro-batches over $n chunks — $need")
    }
  }

  /** Gates screening against a frozen standing set: at least two
    * micro-batches, so the screen really ran incrementally. A zone that
    * has arrivals always stages [[Chunks]] chunks, a sparse key space
    * included ([[stage]]), so it always reads in more than one batch. */
  case object Static extends Batches("need >= 2 batches for the screening to be incremental") {
    def hold(latest: Long, chunks: Long): Boolean = latest >= 1
  }

  /** Gates whose standing set grows by each batch: the dense zone, every
    * chunk staged and read in Chunks / FilesPerTrigger batches, because
    * their oracles replay that batch arithmetic ([[batchOfSql]]). */
  case object Evolving extends Batches(
      s"the oracle's batch arithmetic needs the dense $Chunks-chunk / " +
        s"${Chunks / FilesPerTrigger}-batch zone") {
    def hold(latest: Long, chunks: Long): Boolean =
      chunks == Chunks && latest == Chunks / FilesPerTrigger - 1
  }

  /** The one broadcast-or-distributed rule of the size-selected gates,
    * the way Spark picks a broadcast join: the standing set is screened
    * from a broadcast snapshot when it is empty or its payload — `bytes`
    * summed over its rows — is at most `ceiling`, and by the distributed
    * kernel otherwise. One aggregate job measures both figures.
    * `Long.MaxValue` forces the broadcast regime and `0L` the distributed
    * one (on a non-empty set). */
  def broadcastable(standing: DataFrame, bytes: Column, ceiling: Long): Boolean = {
    val st = standing.agg(count(lit(1)), sum(bytes)).head()
    st.getLong(0) == 0L || st.getLong(1) <= ceiling
  }

  /** The broadcast index snapshot a gate screens against; [[gate]] owns
    * its lifecycle. `replace` publishes a new value mid-stream (an
    * evolving gate's grown index) and destroys the one it supersedes. */
  final class Snapshot[T: ClassTag] private[Zone] (s: SparkSession, v: T) {
    private def publish(v: T): Broadcast[T] =
      TrackedCaches.trackBroadcast(s.sparkContext.broadcast(v))
    @volatile private var b = publish(v)
    def get: Broadcast[T] = b
    def replace(v: T): Unit = {
      val old = b
      b = publish(v)
      old.destroy()
    }
  }

  /** `v` broadcast as a gate's snapshot. */
  def snapshot[T: ClassTag](s: SparkSession, v: T): Snapshot[T] = new Snapshot(s, v)

  /** The snapshot the latest [[gate]] run ended with (None when it
    * screened without one). A test hook: StreamingSpec checks that a gate
    * whose verdicts are parquet-backed has destroyed it. */
  @volatile private[graft] var lastSnapshot: Option[Broadcast[_]] = None

  /** The one gate driver. Streams zone `dir` (schema `schema`) through
    * `screen` one micro-batch at a time with `conf` set, writing batch
    * b's verdicts to version b under `out` and then running
    * `after(batch, verdicts)` (an evolving gate's ingest step) on them
    * read back with the schema of the frame written. Returns every
    * verdict ordered by `key`:
    *  - zone with no chunks: `screen` over an empty frame of the zone
    *    schema, the exact output schema with zero rows. That frame is lazy
    *    and may re-run the screen, so `snap` stays alive; TrackedCaches
    *    unpersists it after the caller's action.
    *  - otherwise: `rule` must hold, and the versions are read back. The
    *    verdicts are parquet-backed, so `snap` is destroyed, freeing the
    *    driver's blocks too, which unpersist would leave to the
    *    ContextCleaner's GC cycle on a long-running session. */
  def gate(s: SparkSession, dir: String, schema: StructType, key: String,
      out: String, rule: Batches, snap: Option[Snapshot[_]],
      conf: (String, String)*)(screen: DataFrame => DataFrame,
      after: (DataFrame, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    @volatile var written: StructType = null
    def read(ids: Long*) = s.read.schema(written).parquet(ids.map(version(out, _)): _*)
    val latest = run(s, dir, schema, out, conf: _*) { (batch, id) =>
      val verdicts = screen(batch)
      written = verdicts.schema
      put(verdicts, out, id)
      after(batch, read(id))
    }
    lastSnapshot = snap.map(_.get)
    if (latest < 0)
      screen(s.createDataFrame(java.util.Collections.emptyList[Row](), schema)).orderBy(key)
    else {
      rule.check(latest, dir, out)
      snap.foreach(_.get.destroy())
      read(0L to latest: _*).orderBy(key)
    }
  }
}
