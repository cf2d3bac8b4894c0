package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CrossPlan, SparkEntry, Tables}

/** A fixed subset of the graded queries over generated tables. Each
  * call builds the query (`SparkEntry.queries`), plans and fully
  * materializes it through `CrossPlan.fingerprint`, whose result is
  * checked against the value recorded on the oracle-green code.
  *
  * Timed phase: one cold pass (first call of every query in this JVM),
  * then warm passes until `--seconds` have passed, at least
  * [[BatchWorkload.MinWarm]]. Queries run in a seed-permuted order. */
final class BatchWorkload(o: Main.Opts, names: Seq[String], record: Boolean = false,
    queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries,
    sf: Double = BatchWorkload.Sf) extends Workload {
  import BatchWorkload._

  private val dataDir = o.work.getParent.resolve("data").resolve(s"sf$sf")
  private val expectedFile = o.root.resolve("perfbench/expected/fingerprints.tsv")
  private val order: Seq[String] = new scala.util.Random(o.seed).shuffle(names.sorted)
  private val listener = new PhaseListener
  private val infoFields = mutable.LinkedHashMap.empty[String, Any]

  def info: Map[String, Any] = infoFields.toMap

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    DataGen.ensure(spark, dataDir, sf)
    Phases.set(spark.sparkContext, "setup")
    Tables.names.foreach(t => Tables.load(spark, dataDir.toString, t).limit(1).count())
  }

  private def expected: Map[String, CrossPlan.Fp] =
    if (!Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, sum, xor) = l.split("\t")
      n -> CrossPlan.Fp(rows.toLong, sum, xor.toLong)
    }.toMap

  /** Drops what a query pinned, outside the timed span (as `graft.Bench`). */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  final case class Call(name: String, wall: Double, build: Double, plan: Double,
      exec: Double, pinnedRdds: Int, pinnedMb: Double)

  private def call(spark: SparkSession, pass: String, name: String, out: Outcome,
      want: Map[String, CrossPlan.Fp], got: mutable.Map[String, CrossPlan.Fp]): Option[Call] = {
    val sc = spark.sparkContext
    val fn = queries.get(name)
    val res = out.op(s"$pass:$name") {
      val fnq = fn.getOrElse(throw new NoSuchElementException(s"query $name is not in SparkEntry"))
      if (!o.trace) {
        Phases.set(sc, s"$pass:call")
        val t0 = Util.now()
        val fp = CrossPlan.fingerprint(fnq(spark, dataDir.toString))
        (fp, Call(name, Util.now() - t0, 0, 0, 0, 0, 0))
      } else {
        Phases.set(sc, s"$pass:build")
        val t0 = Util.now()
        val df: DataFrame = fnq(spark, dataDir.toString)
        val t1 = Util.now()
        Phases.set(sc, s"$pass:plan")
        df.queryExecution.executedPlan
        val t2 = Util.now()
        Phases.set(sc, s"$pass:exec")
        val fp = CrossPlan.fingerprint(df)
        val t3 = Util.now()
        val pinned = sc.getRDDStorageInfo
        (fp, Call(name, t3 - t0, t1 - t0, t2 - t1, t3 - t2, sc.getPersistentRDDs.size,
          pinned.map(r => r.memSize + r.diskSize).sum / 1048576.0))
      }
    }
    Phases.set(sc, "cleanup")
    cleanup(spark)
    res.flatMap { case (fp, c) =>
      got(name) = fp
      if (record) Some(c)
      else want.get(name) match {
        case Some(w) if w == fp => Some(c)
        case w =>
          out.fail(s"$pass:$name", "FingerprintMismatch", s"expected ${w.getOrElse("none")}, got $fp")
          None
      }
    }
  }

  def run(spark: SparkSession, out: Outcome): Seq[Metric] = {
    val want = expected
    val got = mutable.LinkedHashMap.empty[String, CrossPlan.Fp]
    val jit0 = Util.jitS(); val gc0 = Util.gcS()
    val t0 = Util.now()
    def pass(tag: String): (Seq[Call], Double, Double) = {
      val c0 = Util.procCpuS(); val w0 = Util.now()
      val calls = order.flatMap(n => call(spark, tag, n, out, want, got))
      Util.log(f"pass $tag: ${Util.now() - w0}%.2f s")
      (calls, Util.now() - w0, Util.procCpuS() - c0)
    }
    val cold = pass("cold")
    val warm = mutable.ArrayBuffer.empty[(Seq[Call], Double, Double)]
    while (!record && (warm.size < MinWarm || Util.now() - t0 < o.seconds))
      warm += pass(s"warm${warm.size + 1}")
    val jit = Util.jitS() - jit0; val gc = Util.gcS() - gc0
    Phases.drain(spark.sparkContext)
    if (record) {
      Files.createDirectories(expectedFile.getParent)
      Files.write(expectedFile, got.toSeq.sortBy(_._1).map { case (n, f) =>
        s"$n\t${f.rows}\t${f.sum}\t${f.xor}" }.asJava)
    }
    // each op is one query call; the sums cover the queries every pass completed
    def sumWall(p: (Seq[Call], Double, Double)) = p._1.map(_.wall).sum
    val warmWalls = warm.map(sumWall).toSeq
    val warmCalls = warm.flatMap(_._1).toSeq
    val warmTags = (1 to warm.size).map(i => s"warm$i").toSet
    def warmPhase(layer: String)(p: String): Boolean =
      warmTags.exists(t => p == s"$t:$layer")
    val readRecords = listener.sum(p => warmTags.exists(t => p.startsWith(t + ":")))(_.recordsRead)
    def perPass(x: Double) = if (warm.isEmpty) 0.0 else x / warm.size
    infoFields ++= Seq("queries" -> order, "warm_passes" -> warm.size, "scale_factor" -> sf, "cold_calls_s" -> cold._1.map(c => c.name -> c.wall).toMap,
      "warm_calls_s" -> warm.headOption.map(_._1.map(c => c.name -> c.wall).toMap)
        .getOrElse(Map.empty),
      "records_read_per_warm_pass" -> perPass(readRecords.toDouble))
    Seq(
      Metric("cold_s", sumWall(cold), "s"),
      Metric("warm_s", Stats.median(warmWalls), "s"),
      Metric("cpu_s", Stats.median(warm.map(_._3).toSeq), "s"),
      Metric("events_per_s", if (warmWalls.isEmpty || Stats.median(warmWalls) == 0) 0.0
        else perPass(readRecords.toDouble) / Stats.median(warmWalls), "events/s"),
      Metric("queries.build_s_cold", cold._1.map(_.build).sum, "s"),
      Metric("queries.build_s_warm", perPass(warmCalls.map(_.build).sum), "s"),
      Metric("queries.build_jobs", perPass(listener.sum(warmPhase("build"))(_.jobs).toDouble), "count"),
      Metric("queries.build_task_cpu_s",
        perPass(listener.sum(warmPhase("build"))(_.taskCpuNs) / 1e9), "s"),
      Metric("operators.pinned_rdds", perPass(warmCalls.map(_.pinnedRdds.toDouble).sum), "count"),
      Metric("operators.pinned_mb", perPass(warmCalls.map(_.pinnedMb).sum), "MB"),
      Metric("plans.plan_s", perPass(warmCalls.map(_.plan).sum), "s"),
      Metric("exec.wall_s", perPass(warmCalls.map(_.exec).sum), "s"),
      Metric("exec.task_cpu_s", perPass(listener.sum(warmPhase("exec"))(_.taskCpuNs) / 1e9), "s"),
      Metric("exec.shuffle_read_mb",
        perPass(listener.sum(warmPhase("exec"))(_.shuffleRead) / 1048576.0), "MB"),
      Metric("exec.shuffle_write_mb",
        perPass(listener.sum(warmPhase("exec"))(_.shuffleWrite) / 1048576.0), "MB"),
      Metric("exec.spill_mb", perPass(listener.sum(warmPhase("exec"))(_.spill) / 1048576.0), "MB"),
      Metric("exec.stages", perPass(listener.sum(warmPhase("exec"))(_.stages).toDouble), "count"),
      Metric("exec.tasks", perPass(listener.sum(warmPhase("exec"))(_.tasks).toDouble), "count"),
      Metric("jvm.jit_s", jit, "s"),
      Metric("jvm.gc_s", gc, "s")) ++ Metric.absent("sources.", "streaming.", "generator.")
  }
}

object BatchWorkload {
  val Sf = 0.01
  val MinWarm = 1

  /** Warm construction (the `SparkEntry.queries` call) is at least 60%
    * of wall time on the generated sf0.01 tables, 4 cores: eager
    * `Lineage.cut` pins and bounded collects inside the query function
    * do the work. */
  val BuildSet: Seq[String] = Seq("q37b_approx_quantiles", "q111_weighted_quantile",
    "q148_winnow_pairs", "q67_heavy_hitters", "q93_covariance", "q99_mix_plan",
    "q123_ks_drift", "q170_fulfillment_sla", "q104_global_order")

  /** Construction is about 20% of wall time or less: planning and execution
    * of the final plan do the work. q12-q15 are the batch twins of the
    * four stream processors. */
  val ExecSet: Seq[String] = Seq("q88_containment", "q110_winsorize", "q12_funnel",
    "q13_gmv", "q14_dropoff", "q15_payment")
}
