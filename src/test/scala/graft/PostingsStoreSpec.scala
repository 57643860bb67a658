package graft

import java.nio.file.Files

import graft.llm.PostingsStore
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{LongType, StringType}

/** The term-keyed standing indexes' one store: declared-schema reads and
  * the lifecycle a full purge drives it through. */
class PostingsStoreSpec extends SparkSpec {

  private val Layout = Seq(
    PostingsStore.Table("postings", keyed = true,
      Seq("term" -> StringType, "doc_id" -> LongType)),
    PostingsStore.Table("df", keyed = true,
      Seq("term" -> StringType, "df" -> LongType), sum = Some("df")),
    PostingsStore.Table("len", keyed = false,
      Seq("doc_id" -> LongType, "len" -> LongType), sum = Some("len")))

  test("a full purge leaves every table readable as empty and appendable, " +
      "and reads run no Spark job") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_store_purge")
    try {
      val store = new PostingsStore(spark, base.toString, "term", 4, Layout)
      val rows = Seq(("a", 1L), ("b", 1L), ("b", 2L)).toDF("term", "doc_id")
      def deltas(sign: Long) = Seq(
        "df" -> rows.groupBy("term").agg((count(lit(1)) * sign).as("df")),
        "len" -> rows.groupBy("doc_id").agg((count(lit(1)) * sign).as("len")))
      store.append(("postings" -> rows) +: deltas(1L): _*)
      // Every doc deleted with its negative deltas: the compaction masks
      // every posting and rolls every delta up to zero, so no table keeps
      // a data file.
      store.delete(Seq(1L, 2L).toDF("doc_id"))(deltas(-1L))
      store.compact()
      val tables = Seq("postings", "df", "len")
      val (jobs, _) = metered(tables.foreach(store.read))
      assert(jobs == 0, s"declared reads ran $jobs Spark jobs")
      tables.foreach(t => assert(store.read(t).count() == 0, s"$t kept rows"))
      assert(!Files.exists(base.resolve("tombs")), "compaction kept the tombstones")
      val probe = store.slice(Seq("a", "b").toDF("term"))
      assert(probe.sum("df", "df").as[(String, Long)].collect().toMap ==
        Map("a" -> 0L, "b" -> 0L))
      store.append("postings" -> rows)
      assert(store.live(store.slice(Seq("b").toDF("term")).keyed("postings"))
        .count() == 2, "the purged table must take appends again")
    } finally Fs.deleteRec(base)
  }

  test("a write whose columns drift from the declaration is refused " +
      "before anything lands") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_store_drift")
    try {
      val store = new PostingsStore(spark, base.toString, "term", 4, Layout)
      val swapped = Seq((1L, "a")).toDF("doc_id", "term")
      val e = intercept[IllegalArgumentException](store.append("postings" -> swapped))
      assert(e.getMessage.contains("declares term string, doc_id bigint"), e.getMessage)
      intercept[IllegalArgumentException](
        store.write("len", Seq((1L, 2)).toDF("doc_id", "len")))
      assert(!Files.exists(base.resolve("postings")) && !Files.exists(base.resolve("len")))
    } finally Fs.deleteRec(base)
  }
}
