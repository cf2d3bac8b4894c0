package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --root <repo root>`. Prints human-readable progress on
  * stderr, one full JSON record, and as its last stdout line the result
  * object `{"correct","attempted","failed","metrics"}`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, root: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("work")).toAbsolutePath,
      Path.of(need("root")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Workload = o.workload match {
      case "batch-build" => new BatchWorkload(o, BatchWorkload.BuildSet)
      case "batch-exec" => new BatchWorkload(o, BatchWorkload.ExecSet)
      case "stream-catchup" => new StreamWorkload(o, live = false)
      case "stream-live" => new StreamWorkload(o, live = true)
      case "record-expected" => new BatchWorkload(o, BatchWorkload.BuildSet ++ BatchWorkload.ExecSet,
        record = true)
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    val load1Before = Util.load1()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    // Set up several times and report the median: the first setup also
    // pays JVM start and class loading, later ones show the repeatable part.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val sinceJvmStart = if (i == 1) System.currentTimeMillis() / 1e3 - jvmStart else 0.0
      val s0 = Util.now()
      if (spark != null) spark.stop()
      spark = session(o.work)
      workload.setup(spark)
      setups += Util.now() - s0 + sinceJvmStart
      Util.log(f"setup $i: ${setups.last}%.2f s")
    }
    val out = new Outcome
    val metrics = workload.run(spark, out)
    Util.log("timed phase and checks done")
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "ncpu" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load1_before" -> load1Before, "load1_after" -> Util.load1(),
      "setup_s_each" -> setups.toSeq)
    val all = metrics ++ Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("rss_peak_mb", Util.rssPeakMb(), "MB"))
    record ++= workload.info
    record("attempted") = out.attempted
    record("failed") = out.failed
    record("failures") = out.failures.toSeq
    record("metrics") = all.map(m => m.name -> m.value).toMap
    spark.stop()
    println(Util.json(record))
    val wanted = (if (o.trace) Metric.PerLayer else Metric.EndToEnd).map(_._1)
    val byName = all.map(m => m.name -> m).toMap
    val missing = wanted.filterNot(byName.contains)
    if (missing.nonEmpty) {
      System.err.println(s"metrics not produced: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> math.max(1, out.attempted), "failed" -> out.failed,
      "metrics" -> mutable.LinkedHashMap(wanted.map { n =>
        n -> mutable.LinkedHashMap("value" -> byName(n).value, "unit" -> byName(n).unit)
      }: _*))
    println(Util.json(result))
    System.out.flush()
    sys.exit(0)
  }

  val Setups = 3
}

final case class Metric(name: String, value: Double, unit: String)

object Metric {
  /** Every reported metric with its unit, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s",
    "cpu_s" -> "s", "events_per_s" -> "events/s", "rss_peak_mb" -> "MB")
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s_cold" -> "s", "queries.build_s_warm" -> "s", "queries.build_jobs" -> "count",
    "queries.build_task_cpu_s" -> "s", "operators.pinned_rdds" -> "count",
    "operators.pinned_mb" -> "MB", "plans.plan_s" -> "s", "exec.wall_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.stages" -> "count", "exec.tasks" -> "count",
    "jvm.jit_s" -> "s", "jvm.gc_s" -> "s", "sources.parse_s" -> "s",
    "sources.valid_ratio" -> "ratio", "sources.offset_ms_p50" -> "ms",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p95" -> "ms",
    "streaming.plan_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.add_batch_ms_p95" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.sink_write_ms_p50" -> "ms", "streaming.sink_write_ms_p95" -> "ms",
    "streaming.triggers" -> "count", "streaming.state_rows_max" -> "count",
    "streaming.state_mb_max" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.dedup_dropped" -> "count", "streaming.late_dropped" -> "count",
    "streaming.backlog_files_max" -> "count", "generator.late_ms_max" -> "ms")

  /** Layers a workload does not drive report 0. */
  def absent(prefixes: String*): Seq[Metric] =
    PerLayer.collect { case (n, u) if prefixes.exists(n.startsWith) => Metric(n, 0.0, u) }
}

/** Operation accounting: every op counts as attempted; an op that
  * throws or whose output check fails counts as failed, with the
  * exception class and message kept for the record. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]

  def fail(op: String, kind: String, message: String): Unit = {
    failed += 1
    failures += Map("op" -> op, "error" -> kind, "message" -> message.take(500))
    System.err.println(s"[graftbench] FAILED $op: $kind: ${message.take(300)}")
  }

  /** Runs `body`; None (and one failure) when it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(name, e.getClass.getName, String.valueOf(e.getMessage))
        None
    }
  }

  /** One attempted op whose outcome is a check. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(name, "CheckFailed", detail)
  }
}

trait Workload {
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, out: Outcome): Seq[Metric]
  def info: Map[String, Any]
}
