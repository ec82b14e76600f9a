package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: set up, measure one workload for a fixed time, check
  * its outputs and print the result as JSON.
  *
  * {{{
  * Main --workload <wide|skew|polite|analytics> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Untraced (`--trace 0`) runs report the end-to-end metrics. Traced runs
  * alternate untraced and traced passes: the traced ones swap in the
  * tracing seams and a SparkListener and give the per-layer metrics, and
  * the two kinds together give the tracing overhead.
  */
object Main {
  val Cores = 4
  /** Fixed for every workload: four per core, as the legacy crawl bench. */
  val ShufflePartitions = 16
  /** Set-up repetitions; set-up time is their median. */
  val SetUps = 3
  /** Timed passes at least, whatever `--seconds`: the first still runs some
    * code paths cold (a polite pass's checkpoint and resume legs), so every
    * median also takes a warm pass. */
  val MinPasses = 2

  val endToEnd: Seq[String] = Seq("setup_s", "items_per_s", "cpu_ms_per_item", "peak_rss_mb")

  val selfTimed: Seq[String] = Seq("crawl", "resume", "query", "epoch", "spark.job",
    "fetch.local", "ckpt.commit", "robots.fetch")

  val perLayer: Seq[String] = Seq(
    "engine.epochs", "engine.epoch_p50_ms", "engine.epoch_p90_ms", "engine.jobs_per_epoch",
    "engine.driver_ms_per_epoch", "engine.admit_ratio",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.idle_core_share", "spark.stage_skew", "spark.tasks",
    "fetch.rows", "fetch.ok_share", "fetch.retry_rows", "fetch.local_calls", "fetch.local_ms",
    "fetch.dist_calls", "robots.fetches", "robots.fetch_ms",
    "ckpt.commits", "ckpt.commit_p50_ms", "ckpt.commit_s", "ckpt.first_commit_mb",
    "ckpt.last_commit_mb", "ckpt.resume_s", "ckpt.write_amp") ++
    Seq("query.p50_ms", "query.p90_ms") ++
    Analytics.groups.map(g => s"query.${g._1}_s") ++ Analytics.named.map(q => s"query.${q}_s") ++
    selfTimed.map(n => s"self.${n}_s") :+ "trace.overhead"

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workload.named(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up, SetUps times: a session start, then one step of untimed
    // warm-up work; the first also pays JVM start and builds the inputs
    var spark: SparkSession = null
    var run: Prepared = null
    val setupS = (0 until SetUps).map { i =>
      val t0 = if (i == 0) jvmStart else Clock.nowMs
      if (spark != null) spark.stop()
      spark = session(work)
      if (run == null) run = workload.prepare(spark, seed, work)
      run.warmup(spark, i, SetUps)
      (Clock.nowMs - t0) / 1e3
    }

    val trace = new Trace(s"${workload.name}-seed$seed-trace${if (traced) 1 else 0}")
    val root = trace.add("run", 0, jvmStart, jvmStart)
    val stats = new TaskStats
    val plain = ArrayBuffer.empty[Pass]
    val layered = ArrayBuffer.empty[Map[String, Double]]
    val tracedWalls = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var measured = 0.0
    var i = 0
    // a traced run alternates untraced and traced passes, starting with an
    // untraced one that is left out of the overhead comparison
    while (measured < seconds || i < MinPasses || (traced && i < 3)) {
      val p =
        if (traced && i % 2 == 1) {
          val (tp, layer) = tracedPass(spark, run, trace, root, stats)
          tracedWalls += tp.wallS
          layered += layer
          tp
        } else {
          val up = run.pass(spark, None)
          plain += up
          up
        }
      attempted += p.attempted
      failed += p.failed
      measured += p.wallS
      i += 1
    }
    val check = run.finish(spark)
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("items_per_s", Stats.median(plain.map(p => p.items / p.wallS).toSeq), "1/s"),
          ("cpu_ms_per_item", Stats.median(plain.map(p => p.cpuS * 1e3 / p.items).toSeq), "ms"),
          ("peak_rss_mb", Meter.peakRssMb, "MB"))
      } else {
        val overhead =
          Stats.median(tracedWalls.toSeq) / Stats.median(plain.drop(1).map(_.wallS).toSeq) - 1
        perLayer.map { n =>
          val v = if (n == "trace.overhead") overhead
            else Stats.median(layered.map(_.getOrElse(n, 0.0)).toSeq)
          (n, v, unitOf(n))
        }
      }

    if (traced) {
      trace.close(root, Clock.nowMs)
      trace.writeJsonl(out.resolve(s"trace-${workload.name}-seed$seed.jsonl"))
    }
    val info = Seq(
      "workload" -> Json.str(workload.name),
      "passes" -> (plain.size + tracedWalls.size).toString,
      "untraced_pass_s" -> plain.map(p => Json.num(p.wallS)).mkString("[", ", ", "]"),
      "traced_pass_s" -> tracedWalls.map(Json.num).mkString("[", ", ", "]"),
      "items_per_pass" -> plain.headOption.map(_.items.toString).getOrElse("0"),
      "step_samples" -> plain.map(_.stepsMs.size).sum.toString,
      "setup_samples_s" -> setupS.map(Json.num).mkString("[", ", ", "]"))
    println("PERFBENCH_INFO " + Json.obj(info))
    val result = Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "check" -> Json.obj(check))
    println("PERFBENCH_RESULT " + Json.obj(result))
  }

  def unitOf(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_ms") || n.endsWith("_ms_per_epoch")) "ms"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_share") || n.endsWith("_ratio") || n == "trace.overhead" ||
      n == "ckpt.write_amp" || n == "spark.stage_skew") "ratio"
    else "count"

  /** One pass with the tracing seams and the listener on; returns the pass
    * and its per-layer values. */
  def tracedPass(spark: SparkSession, run: Prepared, trace: Trace, root: Int,
      stats: TaskStats): (Pass, Map[String, Double]) = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    stats.reset()
    Probe.reset()
    spark.sparkContext.addSparkListener(stats)
    val p = try run.pass(spark, Some(PassTrace(trace, root)))
      finally {
        PerfbenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(stats)
      }
    (p, layerMetrics(p, trace, stats, root))
  }

  /** Per-layer values of one traced pass. */
  private def layerMetrics(p: Pass, trace: Trace, stats: TaskStats, root: Int): Map[String, Double] = {
    val leaves = Probe.leafList
    val jobs = stats.synchronized(stats.jobs.toSeq)
    val before = trace.all.size
    trace.attach(p.scope, jobs.map { case (s, e) => ("spark.job", s, e) } ++
      leaves.map(l => (l._1, l._2, l._3)), root)
    val ids = (p.scope.map(_.id) ++ trace.all.drop(before).map(_.id)).toSet
    val self = trace.selfMs(ids)
    val epochs = p.scope.filter(_.name == "epoch")
    val driverMs = epochs.map { e =>
      e.ms - Trace.covered(jobs.map { case (s, t) => (math.max(s, e.startMs), math.min(t, e.endMs)) })
    }
    def leafMs(name: String) = leaves.filter(_._1 == name).map(l => l._3 - l._2)
    val commits = leaves.filter(_._1 == "ckpt.commit")
    val rows = Probe.fetchRows.get.toDouble
    val mb = 1024.0 * 1024.0
    // a pass's steps are its epochs, or for the query suite its queries
    val (epochSteps, querySteps) = if (epochs.isEmpty) (Nil, p.stepsMs) else (p.stepsMs, Nil)
    Map(
      "engine.epochs" -> epochs.size.toDouble,
      "engine.epoch_p50_ms" -> Stats.quantile(epochSteps, 0.5),
      "engine.epoch_p90_ms" -> Stats.quantile(epochSteps, 0.9),
      "query.p50_ms" -> Stats.quantile(querySteps, 0.5),
      "query.p90_ms" -> Stats.quantile(querySteps, 0.9),
      "engine.jobs_per_epoch" -> (if (epochs.isEmpty) 0.0 else jobs.size.toDouble / epochs.size),
      "engine.driver_ms_per_epoch" -> (if (epochs.isEmpty) 0.0 else driverMs.sum / epochs.size),
      "spark.task_cpu_s" -> stats.cpuNs / 1e9,
      "spark.gc_s" -> p.gcS,
      "spark.shuffle_write_mb" -> stats.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> stats.shuffleRead / mb,
      "spark.spill_mb" -> stats.spill / mb,
      "spark.idle_core_share" -> (1.0 - stats.taskMs / (Cores * p.wallS * 1e3)),
      "spark.stage_skew" -> stats.stageSkew,
      "spark.tasks" -> stats.tasks.toDouble,
      "fetch.rows" -> rows,
      "fetch.ok_share" -> (if (rows == 0) 0.0 else Probe.fetchOk.get / rows),
      "fetch.retry_rows" -> Probe.fetchRetry.get.toDouble,
      "fetch.local_calls" -> Probe.fetchLocalCalls.get.toDouble,
      "fetch.local_ms" -> leafMs("fetch.local").sum,
      "fetch.dist_calls" -> Probe.fetchDistCalls.get.toDouble,
      "robots.fetches" -> Probe.robotsFetches.get.toDouble,
      "robots.fetch_ms" -> leafMs("robots.fetch").sum,
      "ckpt.commits" -> commits.size.toDouble,
      "ckpt.commit_p50_ms" -> Stats.median(commits.map(c => c._3 - c._2)),
      "ckpt.commit_s" -> commits.map(c => c._3 - c._2).sum / 1e3,
      "ckpt.first_commit_mb" -> commits.headOption.map(_._4 / mb).getOrElse(0.0),
      "ckpt.last_commit_mb" -> commits.lastOption.map(_._4 / mb).getOrElse(0.0)) ++
      p.layer ++ selfTimed.map(n => s"self.${n}_s" -> self.getOrElse(n, 0.0) / 1e3)
  }
}
