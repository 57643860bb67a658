package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every main (Bench, Verify, Measure) and every
  * spec builds its session here, so a measurement always plans the same
  * query the benchmark runs.
  *
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - UTC session time zone, [[ShuffleDir]] scratch space, one shuffle
  *     file per mapper (`bypassMergeThreshold = 1`, measured suite-faster
  *     in SCALING.md), `/tmp/graft_warehouse`, no UI, WARN logging;
  *   - [[graft.functions.GraftExtensions]] always installed, so
  *     `CosineSelfRule` and the SQL-registered `float_cosine` are present.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. `getOrCreate` semantics:
  * a session that already exists in the JVM is returned with these
  * settings applied to it. */
object GraftSession {
  def build(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", ShuffleDir.path)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
