package graft.llm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField,
  StructType}

/** The storage lifecycle of a term-keyed standing index — [[Dedup]]'s
  * shingle index, [[Retrieval.EvolvingDistIndex]] and [[Retrieval]]'s BM25
  * impact index — whose families keep only their scoring and their own
  * invariants. The store holds the family's declared tables under `base`
  * plus `tombs/`, the deleted doc_ids. A key-bucketed table is written in
  * [[StandingIndex]]'s bucket layout on the `key` column; a flat table
  * holds per-doc rows. A table with a `sum` column holds deltas, which
  * readers add up per row key (the key, or doc_id in a flat table).
  *
  * Every read passes the table's declared schema, so none runs a
  * schema-inference job and a table a full purge left data-less reads as
  * empty; every write checks its frame against the same declaration.
  * `nBuckets` is evaluated only by [[slice]] and the key-bucketed writes,
  * so deletes and compactions never read the build stats. */
private[graft] final class PostingsStore(s: SparkSession, base: String,
    key: String, nBuckets: => Int, tables: Seq[PostingsStore.Table]) {
  import PostingsStore._

  private val tombs = Table("tombs", keyed = false, Seq("doc_id" -> LongType))
  private val byName = (tables :+ tombs).map(t => t.name -> t).toMap
  private val hasDeltas = tables.exists(_.sum.nonEmpty)
  private val tombsDir = Paths.get(base, tombs.name)

  /** Every table directory of the store, tombstones included. */
  def dirs: Seq[String] = (tables :+ tombs).map(t => s"$base/${t.name}")

  /** The whole of `table`, a key-bucketed one with its `bucket` column. */
  def read(table: String): DataFrame =
    s.read.schema(byName(table).schema).parquet(s"$base/$table")

  /** The bucket slice that the `key` column of `keys` touches; the key
    * frame's other columns are what [[StandingIndex.Slice.sum]] adds up. */
  def slice(keys: DataFrame): StandingIndex.Slice =
    StandingIndex.slice(s, base, keys, key, nBuckets,
      tables.filter(_.keyed).map(t => t.name -> t.schema).toMap)

  /** `rows` without the tombstoned docs' rows: the one mask every reader
    * of doc rows goes through, pass-through when no delete ever ran. */
  def live(rows: DataFrame): DataFrame =
    StandingIndex.liveRows(rows, Seq("doc_id"),
      if (Files.isDirectory(tombsDir)) Some(read(tombs.name)) else None)

  /** Build-time write: replace `table` with `rows`. */
  def write(table: String, rows: DataFrame): Unit =
    if (checked(table, rows).keyed)
      StandingIndex.writeBucketed(rows, col(key), nBuckets, s"$base/$table")
    else rows.write.mode("overwrite").parquet(s"$base/$table")

  /** Append each (table, rows) pair, as concurrent Spark jobs when there
    * are several, so no input may read a table the call writes. Every
    * write settles before the first failure is rethrown, so none is still
    * in flight when a caller's recovery inspects the directories. */
  def append(rows: (String, DataFrame)*): Unit = {
    val writes = rows.map { case (table, df) =>
      val keyed = checked(table, df).keyed
      () => if (keyed) StandingIndex.appendBucketed(df, col(key), nBuckets, s"$base/$table")
        else df.write.mode("append").parquet(s"$base/$table")
    }
    if (writes.size == 1) writes.head()
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      writes.map(w => Future(w()))
        .map(f => scala.util.Try(Await.result(f, scala.concurrent.duration.Duration.Inf)))
        .foreach(_.get)
    }
  }

  /** Delete the docs of `ids` (a doc_id column). A store with delta tables
    * first refuses ids already tombstoned, whose negative deltas a second
    * delete would subtract again; a store without them only masks, so its
    * deletes are idempotent. Then `deltas` is evaluated (the family's own
    * checks refuse there, with nothing written), and the ids are
    * tombstoned BEFORE the deltas are appended, so a crash between the two
    * leaves a state the refusal catches rather than deltas it cannot. */
  def delete(ids: DataFrame)(deltas: => Seq[(String, DataFrame)]): Unit = {
    if (hasDeltas && Files.isDirectory(tombsDir) &&
        !read(tombs.name).join(ids.select("doc_id"), Seq("doc_id"), "left_semi").isEmpty)
      throw new IllegalStateException(
        s"standing index at $base: some of these doc_ids are already " +
          "tombstoned — a re-delete would double-subtract their deltas. " +
          "A delete that crashed mid-write leaves this state; rebuild the " +
          "index from its source.")
    val d = deltas
    append(tombs.name -> ids.select("doc_id"))
    d.foreach(append(_))
  }

  /** Rewrite the tables to one file per bucket (or per flat directory) in
    * declaration order: a delta table rolled up to one row per row key,
    * zero rows dropped (an absent row sums to 0), and a table holding
    * doc_id masked ([[live]]); a table that is neither (BM25's frozen df)
    * is left alone. The tombstone list retires last, once its exclusions
    * are baked in. A store without delta tables only changes by deletes,
    * so without tombstones it has nothing to compact. */
  def compact(): Unit = {
    if (!hasDeltas && !Files.isDirectory(tombsDir)) return
    def holdsDocs(t: Table) = t.columns.exists(_._1 == "doc_id")
    tables.filter(t => t.sum.nonEmpty || holdsDocs(t)).foreach { t =>
      val by = if (t.keyed) Seq("bucket", key) else Seq("doc_id")
      val rewrite = (rows: DataFrame) => {
        val rolled = t.sum.fold(rows)(v =>
          rows.groupBy(by.map(col): _*).agg(sum(v).as(v)).filter(col(v) =!= 0L))
        if (holdsDocs(t)) live(rolled) else rolled
      }
      if (t.keyed)
        StandingIndex.compactTable(s, base, t.name, "bucket", rewrite, Some(t.schema))
      else StandingIndex.compactFlat(s, base, t.name, rewrite, Some(t.schema))
    }
    graft.Fs.deleteRec(tombsDir)
  }

  /** The declared table `name`, once `rows` is checked to have exactly
    * its columns (names, order and types; nullability aside). */
  private def checked(name: String, rows: DataFrame): Table = {
    val t = byName(name)
    val got = rows.schema.fields.toSeq.map(f => s"${f.name} ${f.dataType.catalogString}")
    val want = t.columns.map { case (n, dt) => s"$n ${dt.catalogString}" }
    if (got != want)
      throw new IllegalArgumentException(s"standing index at $base: rows for " +
        s"$name/ have columns ${got.mkString(", ")}; it declares ${want.mkString(", ")}")
    t
  }
}

private[graft] object PostingsStore {

  /** One table of a store: its directory under the base, its columns as
    * written, whether it is bucketed on the store's key, and the column a
    * delta table's readers sum. Its read schema adds a key-bucketed
    * table's `bucket` partition column, typed as partition discovery
    * infers it. */
  final case class Table(name: String, keyed: Boolean,
      columns: Seq[(String, DataType)], sum: Option[String] = None) {
    val schema: StructType = StructType(
      columns.map { case (n, dt) => StructField(n, dt) } ++
        (if (keyed) Seq(StructField("bucket", IntegerType)) else Nil))
  }
}
