package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.functions.SelfCosine

/** The session recipe and the operator library's configuration surface:
  * one place builds sessions, and the library reads no switch from the
  * environment or the session conf. Also the source scans that keep one
  * module per protocol (micro-batch loop, gate lifecycle, standing
  * directories). */
class GraftSessionSpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found (run from the repo root)")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("only GraftSession.scala calls the SparkSession builder") {
    val needle = "SparkSession" + ".builder"
    val sites = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => text(p).contains(needle))
      .map(_.getFileName.toString)
    assert(sites == Seq("GraftSession.scala"), s"builders outside the factory: $sites")
  }

  test("the only mains under src/main/scala are Bench, Verify and Measure") {
    val mains = scalaFiles("src/main/scala")
      .filter(p => """def\s+main\s*\(""".r.findFirstIn(text(p)).nonEmpty)
      .map(_.getFileName.toString).sorted
    assert(mains == Seq("Bench.scala", "Measure.scala", "Verify.scala"), s"mains: $mains")
  }

  test("the factory session installs the extensions and sizes shuffles to its cores") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == Cpus.toString)
    assert(spark.sparkContext.master == s"local[$Cpus]")
    val optimized = llm.Similarity.quantizeVectors(spark, Sf).queryExecution.optimizedPlan
    val rewritten = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[SelfCosine])) => p
    }.nonEmpty
    assert(rewritten, s"SelfCosine not reached by q_vec_quantize: $optimized")
  }

  test("the operator library reads no env var and no graft.* session conf") {
    // Writing the waveStats breadcrumb (conf.set) is output, not a switch.
    val reads = Seq(
      "sys\\.env".r,
      "System\\.getenv".r,
      """conf\s*\.\s*(get|getOption)\s*\(\s*"graft\.""".r)
    val offenders = Seq("llm", "ops", "streaming", "plans", "functions")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d"))
      .flatMap { p =>
        val t = text(p)
        reads.flatMap(_.findAllMatchIn(t)).map(m => s"${p.getFileName}: ${m.matched}")
      }
    assert(offenders.isEmpty, s"library switches: ${offenders.mkString("; ")}")
  }

  test("one module owns the streaming micro-batch loop and the conf it sets") {
    val files = scalaFiles("src/main/scala/graft/streaming")
    def sites(re: scala.util.matching.Regex): Seq[String] =
      files.flatMap(p => re.findAllMatchIn(text(p)).map(_ => p.getFileName.toString))
    val loops = sites("""\.foreachBatch\b""".r)
    assert(loops == Seq("Zone.scala"), s"foreachBatch call sites: $loops")
    val shuffleSets =
      sites("""conf\s*\.\s*set\s*\(\s*"spark\.sql\.shuffle\.partitions"""".r)
    assert(shuffleSets.isEmpty, s"shuffle partitions set outside Zone.withConf: $shuffleSets")
  }

  test("one module owns the standing-directory protocol") {
    // Marker and build-stats files, the marker check and stamp, and the
    // bucket hash live only in StandingIndex.scala.
    val names = """\b_(meta|stats)\b""".r
    val calls = """StandingIndex\s*\.\s*(upToDate|commit|markerStartsWith)\b""".r
    val hash = """pmod\s*\(\s*xxhash64\s*\(""".r
    val offenders = scalaFiles("src/main/scala")
      .filterNot(_.getFileName.toString == "StandingIndex.scala")
      .flatMap { p =>
        val t = text(p)
        val lib = Seq("llm", "streaming").exists(d => p.getParent.endsWith(d))
        (names.findAllMatchIn(t) ++ calls.findAllMatchIn(t) ++
          (if (lib) hash.findAllMatchIn(t) else Iterator.empty))
          .map(m => s"${p.getFileName}: ${m.matched}")
      }
    assert(offenders.isEmpty, s"standing-directory protocol outside StandingIndex: " +
      offenders.mkString("; "))
  }

  test("the postings store's protocol stays in the store") {
    // Tombstone masks, re-delete refusals, compactions and bucketed
    // writes of the term-keyed indexes go through PostingsStore; only
    // StandingIndex (which defines them) and AnnIndex (the IVF cell
    // layout, not term-keyed) call them directly.
    val calls =
      """\b(liveRows|refuseRedelete|compactTable|compactFlat|appendBucketed|writeBucketed)\s*\(""".r
    val tombs = """/tombs\b""".r
    val owners = Set("StandingIndex.scala", "PostingsStore.scala", "AnnIndex.scala")
    val offenders = scalaFiles("src/main/scala")
      .filterNot(p => owners(p.getFileName.toString))
      .flatMap { p =>
        val t = text(p)
        (calls.findAllMatchIn(t) ++ tombs.findAllMatchIn(t))
          .map(m => s"${p.getFileName}: ${m.matched}")
      }
    assert(offenders.isEmpty, s"postings-store protocol outside the store: " +
      offenders.mkString("; "))
  }

  test("one module owns the gate lifecycle") {
    // Under graft/streaming only Zone.scala (the gate driver) declares the
    // snapshot test hook, destroys a broadcast, reads a gate's verdict
    // versions back or writes a batch-count check; the exception the
    // broadcast-only evolving gate threw is gone from src/.
    val lifecycle = Seq(
      """\b(val|var|def)\s+lastSnapshot\b""".r,
      """\.destroy\s*\(\s*\)""".r,
      """\bZone\s*\.\s*versions\b""".r,
      """\brequire\s*\(\s*latest\b""".r)
    val offenders = scalaFiles("src/main/scala/graft/streaming")
      .filterNot(_.getFileName.toString == "Zone.scala")
      .flatMap { p =>
        val t = text(p)
        lifecycle.flatMap(_.findAllMatchIn(t)).map(m => s"${p.getFileName}: ${m.matched}")
      }
    assert(offenders.isEmpty, s"gate lifecycle outside Zone: ${offenders.mkString("; ")}")
    val retired = "BroadcastRegime" + "Exceeded"
    val mentions = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => text(p).contains(retired)).map(_.getFileName.toString)
    assert(mentions.isEmpty, s"$retired mentioned in: $mentions")
  }

  test("the graph rounds collect nothing to the driver") {
    val src = text(Paths.get("src/main/scala/graft/ops/Graph.scala"))
    val collects = """\.collect\s*\(\s*\)""".r.findAllMatchIn(src).size
    assert(collects == 0, s"Graph.scala has $collects .collect() calls")
  }
}
