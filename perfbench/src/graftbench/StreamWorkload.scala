package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.sources.{EventParser, FileEventSource}
import graft.streaming.{MetricsSink, SinkConfig, StreamApp, StreamFingerprint, WindowConfig}

/** The four-table stream over event files.
  *
  *  - catch-up (`live = false`): the reference 4-query topology under
  *    `Trigger.AvailableNow` drains a backlog written before the pass.
  *  - live (`live = true`): the shared 3-query topology with
  *    `ProcessingTime("0 seconds")`; a single-thread open-loop
  *    generator drops one file per topic every [[LiveTickMs]] ms.
  *
  * A pass runs the topology over the whole input with a fresh
  * checkpoint and output. Timed phase: one cold pass, then warm passes
  * until `--seconds` have passed (at least one). Freshness of a (file,
  * consuming query) pair is the time from the file's due time (its
  * scheduled write; the pass start for a backlog) to the mtime of the
  * commit-log entry of the micro-batch that consumed it.
  */
final class StreamWorkload(o: Main.Opts, live: Boolean) extends Workload {
  import StreamWorkload._

  private val sf = if (live) LiveSf else CatchupSf
  private val tableDir = o.work.getParent.resolve("data").resolve(s"sf$sf")
  private val cfg = WindowConfig(watermark = Some("10 minutes"))
  private val listener = new PhaseListener
  private val sinkMs = new ConcurrentLinkedQueue[(String, Double)]()
  private val infoFields = mutable.LinkedHashMap.empty[String, Any]
  private var topics: Seq[EventFiles.Topic] = Nil

  def info: Map[String, Any] = infoFields.toMap

  /** Checkpoint name of each query -> the topic it reads. */
  private val queryTopic: Seq[(String, String)] =
    if (live) Seq("orders_shared" -> "orders", "gmv_metrics" -> "items",
      "payment_metrics" -> "payments")
    else Seq("real_time_funnel" -> "orders", "gmv_metrics" -> "items",
      "drop_off_analysis" -> "orders", "payment_metrics" -> "payments")

  private def backlogDir = o.work.resolve("backlog")

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    Phases.set(spark.sparkContext, "setup")
    DataGen.ensure(spark, tableDir, sf)
    topics = EventFiles.topics(spark, tableDir, o.seed)
    if (!live) {
      Util.deleteTree(backlogDir)
      val base = System.currentTimeMillis() - 3600 * 1000L
      topics.foreach { t =>
        val dir = Files.createDirectories(backlogDir.resolve(t.name))
        EventFiles.chunks(t.lines, CatchupFiles).zipWithIndex.foreach { case (c, k) =>
          EventFiles.writeFile(dir, EventFiles.fileName(t.name, k), c, base + k * 1000L)
        }
      }
    }
  }

  /** What one pass leaves behind for the checks and metrics. */
  final case class Pass(tag: String, wall: Double, cpu: Double, fresh: Seq[Double],
      progress: Seq[(String, StreamingQueryProgress)], backlogMax: Int,
      generatorLateMs: Double, out: Path)

  private def writer(tag: String): String => (DataFrame, Long) => Unit =
    if (!o.trace) MetricsSink.idempotentParquetWriter
    else (path: String) => {
      val inner = MetricsSink.idempotentParquetWriter(path)
      (df: DataFrame, id: Long) => {
        val t0 = Util.now()
        inner(df, id)
        sinkMs.add(tag -> (Util.now() - t0) * 1000)
      }
    }

  private def sources(dir: Path, maxFiles: Int) = Seq("orders", "items", "payments")
    .map(t => FileEventSource(dir.resolve(t).toString, maxFilesPerTrigger = maxFiles))

  private def runPass(spark: SparkSession, tag: String): Pass = {
    val sc = spark.sparkContext
    val ck = o.work.resolve(s"ck_$tag"); val out = o.work.resolve(s"out_$tag")
    Phases.set(sc, tag)
    val c0 = Util.procCpuS()
    if (!live) {
      val startMs = System.currentTimeMillis(); val t0 = Util.now()
      // one micro-batch per query: the whole backlog in one trigger
      val Seq(so, si, sp) = sources(backlogDir, CatchupFiles)
      val qs = StreamApp.run(spark, so, si, sp, out.toString, cfg,
        SinkConfig(checkpointRoot = ck.toString, availableNow = true), shared = false,
        writer(tag))
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      val wall = Util.now() - t0
      val due = (for (t <- topics; k <- 0 until CatchupFiles)
        yield EventFiles.fileName(t.name, k) -> startMs.toDouble).toMap
      val (fresh, backlog) = freshness(ck, due)
      Pass(tag, wall, Util.procCpuS() - c0, fresh, qs.flatMap(q => q.recentProgress.map(q.name -> _)),
        backlog, 0.0, out)
    } else {
      val ev = o.work.resolve(s"events_$tag")
      val dirs = topics.map(t => t.name -> Files.createDirectories(ev.resolve(t.name))).toMap
      val Seq(so, si, sp) = sources(ev, LiveMaxFilesPerTrigger)
      val qs = StreamApp.run(spark, so, si, sp, out.toString, cfg,
        SinkConfig(triggerInterval = "0 seconds", checkpointRoot = ck.toString), shared = true,
        writer(tag))
      val chunks = topics.map(t => t.name -> EventFiles.chunks(t.lines, LiveTicks)).toMap
      val due = mutable.Map.empty[String, Double]
      var lateMax = 0.0
      try {
        Thread.sleep(LiveLeadMs)
        val base = System.currentTimeMillis() + 100
        for (k <- 0 until LiveTicks) {
          val dueMs = base + k * LiveTickMs
          val wait = dueMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          topics.foreach { t =>
            val name = EventFiles.fileName(t.name, k)
            EventFiles.writeFile(dirs(t.name), name, chunks(t.name)(k), dueMs)
            due(name) = dueMs.toDouble
          }
          lateMax = math.max(lateMax, (System.currentTimeMillis() - dueMs).toDouble)
        }
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
      qs.foreach(_.exception.foreach(e => throw e))
      val (fresh, backlog) = freshness(ck, due.toMap)
      val wall = (lastCommitMs(ck) - due.values.min) / 1000
      Pass(tag, wall, Util.procCpuS() - c0, fresh, qs.flatMap(q => q.recentProgress.map(q.name -> _)),
        backlog, lateMax, out)
    }
  }

  private def lastCommitMs(ck: Path): Double =
    queryTopic.flatMap { case (q, _) => commitTimes(ck.resolve(q)).values }.max

  /** Commit-log entry mtime (epoch ms) per batch id. */
  private def commitTimes(qck: Path): Map[Long, Double] =
    Util.list(qck.resolve("commits")).collect {
      case p if p.getFileName.toString.forall(_.isDigit) =>
        p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis.toDouble
    }.toMap

  private val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** File name -> batch that consumed it, from the source's metadata log. */
  private def consumedBy(qck: Path): Map[String, Long] =
    Util.list(qck.resolve("sources").resolve("0")).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala).collect {
        case entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
      }.toMap

  /** Freshness samples (ms) for every (file, consuming query) pair, and
    * the largest number of pairs due but not yet committed at any commit. */
  private def freshness(ck: Path, due: Map[String, Double]): (Seq[Double], Int) = {
    val pairs = queryTopic.flatMap { case (q, topic) =>
      val commits = commitTimes(ck.resolve(q))
      val by = consumedBy(ck.resolve(q))
      due.keys.filter(_.startsWith(topic + "-")).toSeq.map { f =>
        val c = by.get(f).flatMap(commits.get).getOrElse(
          throw new IllegalStateException(s"$q never committed $f"))
        (due(f), c)
      }
    }
    val commitsAt = pairs.map(_._2).distinct
    val backlog = commitsAt.map(c => pairs.count(p => p._1 <= c && p._2 >= c)).maxOption.getOrElse(0)
    (pairs.map { case (d, c) => c - d }, backlog)
  }

  /** Batch frame with the columns `FileEventSource` gives its stream. */
  private def rawBatch(spark: SparkSession, dir: Path): DataFrame =
    spark.read.text(dir.toString).select(
      get_json_object(col("value"), "$.order_id").as("key"), col("value"),
      coalesce(to_timestamp(get_json_object(col("value"), "$.timestamp")),
        current_timestamp()).as("event_timestamp"))

  private def inputDir: Path = if (live) o.work.resolve("events_cold") else backlogDir

  /** Input lines = parsed + corrupt on the replayed files, and corrupt =
    * the malformed lines the seed injected. Returns parse seconds. */
  private def reconcileParse(spark: SparkSession, out: Outcome): (Double, Double) = {
    var parseS = 0.0; var parsed = 0L; var lines = 0L
    topics.foreach { t =>
      val raw = rawBatch(spark, inputDir.resolve(t.name))
      val n = raw.count()
      val t0 = Util.now()
      val p = EventParser.parse(raw, t.schema).count()
      parseS += Util.now() - t0
      val c = EventParser.corruptRecords(raw, t.schema).count()
      parsed += p; lines += n
      out.check(s"parse:${t.name}", n == t.lines.size && n == p + c && c == t.malformed,
        s"lines $n (written ${t.lines.size}) parsed $p corrupt $c injected ${t.malformed}")
    }
    (parseS, if (lines == 0) 0.0 else parsed.toDouble / lines)
  }

  /** The batch twin: `StreamApp.build` over the same files. Batch
    * frames reject `dropDuplicatesWithinWatermark`, so the twin runs
    * without a watermark; with no late rows the finals must agree. */
  private def writeTwin(spark: SparkSession, root: Path): Unit = {
    val Seq(op, ip, pp) = topics.map(t => EventParser.parse(rawBatch(spark, inputDir.resolve(t.name)), t.schema))
    val p = StreamApp.build(op, ip, pp, cfg.copy(watermark = None))
    Seq("real_time_funnel" -> p.funnel, "gmv_metrics" -> p.gmv,
      "drop_off_analysis" -> p.dropOff, "payment_metrics" -> p.payment).foreach {
      case (name, df) => df.write.mode("overwrite").parquet(root.resolve(name).toString)
    }
  }

  private def stateOps(p: StreamingQueryProgress) = p.stateOperators.toSeq

  private def checkPass(spark: SparkSession, pass: Pass, twin: Path, out: Outcome): Unit = {
    val late = pass.progress.map(x => stateOps(x._2).map(_.numRowsDroppedByWatermark).sum).sum
    val dropped = pass.progress.groupBy(_._1).map { case (q, ps) =>
      q -> ps.map(x => dedupDropped(x._2)).sum }
    val want = queryTopic.map { case (q, t) => s"sink_$q" -> topics.find(_.name == t).get.dups.toLong }
      .toMap
    out.check(s"${pass.tag}:counters", late == 0 && dropped == want,
      s"late_dropped $late; dedup dropped per query $dropped, injected $want")
    out.op(s"${pass.tag}:finals") {
      StreamFingerprint.compare(spark, twin.toString, pass.out.toString)
    }.foreach(_.foreach { v =>
      val spec = StreamFingerprint.tables.find(_.name == v.table).get
      val (flips, real) =
        if (v.matches) (0L, 0L) else diffFinals(spark, spec, twin, pass.out)
      if (flips > 0) centFlips(s"${pass.tag}:${v.table}") = flips
      // update mode emits every window, so catch-up must cover the twin's keys;
      // append mode emits only the windows the watermark closed
      out.check(s"${pass.tag}:${v.table}", v.sharedFp.n > 0 && v.refFp.n == v.sharedFp.n &&
        (live || v.refKeys == v.sharedKeys) && real == 0,
        s"stream finals ${v.sharedFp} (${v.sharedKeys} keys) vs batch twin ${v.refFp}; " +
          s"$real differing values, $flips one-cent rounding flips")
    })
  }

  private val centFlips = mutable.LinkedHashMap.empty[String, Long]

  /** Per-value comparison behind a fingerprint mismatch, on the keys
    * the stream finalized: (one-cent flips, other differences). The
    * processors round their double outputs to 2 dp after summing in
    * micro-batch order, so a last-ulp difference in a sum can move a
    * rounded value by exactly 0.01; that is counted and reported, any
    * other difference or a missing key fails the check. */
  private def diffFinals(spark: SparkSession, spec: StreamFingerprint.TableSpec, twin: Path,
      stream: Path): (Long, Long) = {
    def finals(df: DataFrame) = {
      val tagged = if (df.columns.contains("batch_id")) df else df.withColumn("batch_id", lit(0L))
      tagged.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(spec.keys.map(col): _*)
            .orderBy(col("batch_id").desc)))
        .filter(col("__rn") === 1).select((spec.keys ++ spec.values).map(col): _*)
    }
    val s = finals(spark.read.parquet(stream.resolve(spec.name).toString))
    val t = finals(spark.read.parquet(twin.resolve(spec.name).toString))
    val j = s.as("s").join(t.as("t"), spec.keys, "left_outer")
    val types = s.schema.map(f => f.name -> f.dataType).toMap
    def flip(c: String) = types(c) == org.apache.spark.sql.types.DoubleType
    val counts = spec.values.map { c =>
      val a = col(s"s.$c"); val b = col(s"t.$c")
      val differs = !(a <=> b)
      val cent = if (flip(c)) differs && abs(a - b) <= 0.010001 else lit(false)
      (sum(when(cent, 1L).otherwise(0L)), sum(when(differs && !cent, 1L).otherwise(0L)))
    }
    val r = j.agg(counts.head._1, (counts.map(_._1).tail ++ counts.map(_._2)): _*).head()
    val n = spec.values.size
    ((0 until n).map(i => r.getLong(i)).sum, (n until 2 * n).map(i => r.getLong(i)).sum)
  }

  def run(spark: SparkSession, out: Outcome): Seq[Metric] = {
    val jit0 = Util.jitS(); val gc0 = Util.gcS(); val t0 = Util.now()
    val passes = mutable.ArrayBuffer.empty[Pass]
    def attempt(tag: String): Boolean =
      out.op(s"$tag:run")(runPass(spark, tag)).map { p =>
        Util.log(f"pass $tag: ${p.wall}%.2f s")
        passes += p
      }.isDefined
    val coldOk = attempt("cold")
    var i = 0
    while (coldOk && (i < 1 || Util.now() - t0 < o.seconds) && { i += 1; attempt(s"warm$i") }) ()
    val jit = Util.jitS() - jit0; val gc = Util.gcS() - gc0
    Phases.set(spark.sparkContext, "check")
    Phases.drain(spark.sparkContext)
    val (parseS, validRatio) = reconcileParse(spark, out)
    Util.log("parse reconciled")
    val twin = o.work.resolve("twin")
    if (passes.nonEmpty && out.op("twin")(writeTwin(spark, twin)).isDefined) {
      Util.log("batch twin written")
      passes.foreach(p => checkPass(spark, p, twin, out))
    }
    val cold = passes.find(_.tag == "cold")
    val warm = passes.filter(_.tag != "cold").toSeq
    val nWarm = math.max(1, warm.size)
    val fresh = warm.flatMap(_.fresh)
    val tail = Stats.tailPercentile(samplesPerPass).getOrElse(50.0)
    val prog = warm.flatMap(_.progress.map(_._2)).filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, ks: String*) =
      ks.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    val warmTags = warm.map(_.tag).toSet
    def warmSum(f: listener.Acc => Long) = listener.sum(warmTags.contains)(f).toDouble / nWarm
    val sinks = sinkMs.asScala.filter(x => warmTags.contains(x._1)).map(_._2).toSeq
    val events = topics.map(_.lines.size).sum.toDouble
    val warmWall = Stats.median(warm.map(_.wall))
    val allProg = warm.flatMap(_.progress.map(_._2))
    infoFields ++= Seq("scale_factor" -> sf, "topology" -> (if (live) "shared" else "reference"),
      "events_per_pass" -> events.toLong, "warm_passes" -> warm.size,
      "fresh_samples" -> fresh.size, "fresh_tail_pct" -> tail,
      "injected_duplicates" -> topics.map(t => t.name -> t.dups).toMap,
      "injected_malformed" -> topics.map(t => t.name -> t.malformed).toMap,
      "pass_walls_s" -> passes.map(p => p.tag -> p.wall).toMap,
      "finals_cent_flips" -> centFlips.toMap)
    if (live) infoFields ++= Seq("tick_ms" -> LiveTickMs, "ticks" -> LiveTicks,
      "offered_events_per_s" -> events / (LiveTicks * LiveTickMs / 1000.0))
    Seq(
      Metric("cold_s", cold.map(_.wall).getOrElse(0.0), "s"),
      Metric("warm_s", warmWall, "s"),
      Metric("cpu_s", Stats.median(warm.map(_.cpu)), "s"),
      Metric("events_per_s", if (warmWall > 0) events / warmWall else 0.0, "events/s"),
      Metric("fresh_ms_p50", pct(fresh, 50), "ms"),
      Metric("fresh_ms_tail", pct(fresh, tail), "ms"),
      Metric("plans.plan_s", prog.map(dur(_, "queryPlanning")).sum / 1000 / nWarm, "s"),
      Metric("exec.wall_s", prog.map(dur(_, "addBatch")).sum / 1000 / nWarm, "s"),
      Metric("exec.task_cpu_s", warmSum(_.taskCpuNs) / 1e9, "s"),
      Metric("exec.shuffle_read_mb", warmSum(_.shuffleRead) / 1048576.0, "MB"),
      Metric("exec.shuffle_write_mb", warmSum(_.shuffleWrite) / 1048576.0, "MB"),
      Metric("exec.spill_mb", warmSum(_.spill) / 1048576.0, "MB"),
      Metric("exec.stages", warmSum(_.stages), "count"),
      Metric("exec.tasks", warmSum(_.tasks), "count"),
      Metric("jvm.jit_s", jit, "s"),
      Metric("jvm.gc_s", gc, "s"),
      Metric("sources.parse_s", parseS, "s"),
      Metric("sources.valid_ratio", validRatio, "ratio"),
      Metric("sources.offset_ms_p50", pct(prog.map(dur(_, "latestOffset", "getBatch")), 50), "ms"),
      Metric("streaming.trigger_ms_p50", pct(prog.map(dur(_, "triggerExecution")), 50), "ms"),
      Metric("streaming.trigger_ms_p95", pct(prog.map(dur(_, "triggerExecution")), 95), "ms"),
      Metric("streaming.plan_ms_p50", pct(prog.map(dur(_, "queryPlanning")), 50), "ms"),
      Metric("streaming.add_batch_ms_p50", pct(prog.map(dur(_, "addBatch")), 50), "ms"),
      Metric("streaming.add_batch_ms_p95", pct(prog.map(dur(_, "addBatch")), 95), "ms"),
      Metric("streaming.commit_ms_p50", pct(prog.map(dur(_, "walCommit", "commitOffsets")), 50), "ms"),
      Metric("streaming.sink_write_ms_p50", pct(sinks, 50), "ms"),
      Metric("streaming.sink_write_ms_p95", pct(sinks, 95), "ms"),
      Metric("streaming.triggers", prog.size.toDouble / nWarm, "count"),
      Metric("streaming.state_rows_max",
        allProg.map(p => stateOps(p).map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0), "count"),
      Metric("streaming.state_mb_max",
        allProg.map(p => stateOps(p).map(_.memoryUsedBytes).sum / 1048576.0).maxOption.getOrElse(0.0),
        "MB"),
      Metric("streaming.state_commit_ms",
        allProg.map(p => stateOps(p).map(_.commitTimeMs).sum.toDouble).sum / nWarm, "ms"),
      Metric("streaming.dedup_dropped", allProg.map(dedupDropped).sum.toDouble / nWarm, "count"),
      Metric("streaming.late_dropped",
        allProg.map(p => stateOps(p).map(_.numRowsDroppedByWatermark).sum).sum.toDouble / nWarm,
        "count"),
      Metric("streaming.backlog_files_max", warm.map(_.backlogMax.toDouble).maxOption.getOrElse(0.0),
        "count"),
      Metric("generator.late_ms_max", warm.map(_.generatorLateMs).maxOption.getOrElse(0.0), "ms")) ++
      Metric.absent("queries.", "operators.")
  }

  private def samplesPerPass: Int = queryTopic.size * (if (live) LiveTicks else CatchupFiles)
}

object StreamWorkload {
  val CatchupSf = 0.002
  val CatchupFiles = 64
  val LiveSf = 0.002
  val LiveTicks = 70
  val LiveTickMs = 100L
  val LiveLeadMs = 500L
  val LiveMaxFilesPerTrigger = 1000

  /** Rows the deduplicating state operators dropped in one trigger. */
  def dedupDropped(p: StreamingQueryProgress): Long =
    p.stateOperators.toSeq.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
}
