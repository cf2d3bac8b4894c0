package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.CrossPlan

/** Checks of the benchmark itself: `python3 perfbench/run.py --self-test`.
  * Exits non-zero on the first failed check. */
object SelfTest {
  private var failures = 0
  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0))
    percentileRule()
    val spark = Main.session(work)
    try {
      seedDeterminism(spark, work)
      failureCounting(spark, work)
    } finally spark.stop()
    println(s"self-test: ${if (failures == 0) "passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The tail percentile is the highest with at least ten samples beyond it. */
  def percentileRule(): Unit = {
    check("200 samples support p95", Stats.tailPercentile(200).contains(95.0))
    check("199 samples fall back to p90", Stats.tailPercentile(199).contains(90.0))
    check("40 samples support p75", Stats.tailPercentile(40).contains(75.0))
    check("20 samples support only the median", Stats.tailPercentile(20).contains(50.0))
    check("19 samples support no percentile", Stats.tailPercentile(19).isEmpty)
    check("1000 samples support p99", Stats.tailPercentile(1000).contains(99.0))
    val xs = (1 to 200).map(_.toDouble)
    check("nearest-rank p95 of 1..200 is 190", Stats.percentile(xs, 95) == 190.0,
      Stats.percentile(xs, 95).toString)
    check("ten samples lie beyond it", xs.count(_ > Stats.percentile(xs, 95)) == 10)
    check("median of an even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try s.sorted().forEach { p =>
      if (Files.isRegularFile(p)) {
        md.update(dir.relativize(p).toString.getBytes)
        md.update(Files.readAllBytes(p))
      }
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def writeEvents(spark: SparkSession, tables: Path, seed: Long, out: Path): Path = {
    EventFiles.topics(spark, tables, seed).foreach { t =>
      val dir = Files.createDirectories(out.resolve(t.name))
      EventFiles.chunks(t.lines, 4).zipWithIndex.foreach { case (c, k) =>
        EventFiles.writeFile(dir, EventFiles.fileName(t.name, k), c, 1000L * (k + 1))
      }
    }
    out
  }

  /** The same seed gives byte-identical tables and event files. */
  def seedDeterminism(spark: SparkSession, work: Path): Unit = {
    val a = work.resolve("tables_a"); val b = work.resolve("tables_b")
    DataGen.ensure(spark, a, 0.001)
    DataGen.ensure(spark, b, 0.001)
    check("tables are byte-identical across generations", digest(a) == digest(b))
    val e1 = digest(writeEvents(spark, a, 7, work.resolve("events_7a")))
    val e2 = digest(writeEvents(spark, b, 7, work.resolve("events_7b")))
    val e3 = digest(writeEvents(spark, a, 8, work.resolve("events_8")))
    check("seed 7 twice gives byte-identical event files", e1 == e2)
    check("seed 8 gives other event files", e1 != e3)
  }

  /** A query that throws is a failed op with its exception recorded;
    * a query whose fingerprint matches is not. */
  def failureCounting(spark: SparkSession, work: Path): Unit = {
    val root = Files.createDirectories(work.resolve("root"))
    val sfDir = work.resolve("data").resolve("sf0.001")
    val ok = (s: SparkSession, d: String) => graft.Tables.load(s, d, "nation")
    DataGen.ensure(spark, sfDir, 0.001)
    val fp = CrossPlan.fingerprint(ok(spark, sfDir.toString))
    Files.createDirectories(root.resolve("perfbench/expected"))
    Files.writeString(root.resolve("perfbench/expected/fingerprints.tsv"),
      s"ok\t${fp.rows}\t${fp.sum}\t${fp.xor}\n")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("injected failure")
    val o = Main.Opts("batch-test", 1, 0, trace = false, work.resolve("batch"), root)
    Files.createDirectories(o.work)
    val w = new BatchWorkload(o, Seq("ok", "boom"), queries = Map("ok" -> ok, "boom" -> boom),
      sf = 0.001)
    w.setup(spark)
    val out = new Outcome
    val metrics = w.run(spark, out).map(m => m.name -> m.value).toMap
    val passes = 1 + BatchWorkload.MinWarm
    check("every call is attempted", out.attempted == 2 * passes, out.attempted.toString)
    check("each call of the throwing query fails", out.failed == passes,
      s"${out.failed} failed: ${out.failures}")
    check("the failure keeps its exception class and message", out.failures.forall(f =>
      f("error") == "java.lang.IllegalStateException" && f("message") == "injected failure"),
      out.failures.toString)
    check("a failed call is not timed", metrics("cold_s") > 0 &&
      w.info("cold_calls_s").asInstanceOf[Map[String, Double]].keySet == Set("ok"))
  }
}
