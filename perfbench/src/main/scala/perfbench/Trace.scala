package perfbench

import graft.engine.{Checkpointer, FetchResult, Fetcher, RobotsProvider, ScopeState}
import graft.model.{EpochMetrics, FrontierEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Wall-clock milliseconds at nanosecond resolution, on the same time base
  * as Spark listener event times, so program spans and job spans nest.
  */
object Clock {
  private val wallMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wallMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One recorded interval. `parent` is 0 for the run root. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Counters and leaf spans of the current traced pass. Static, because the
  * wrappers run inside Spark tasks and local mode keeps the tasks in this
  * JVM: they reach the counters without serializing anything.
  */
object Probe {
  val fetchRows, fetchOk, fetchRetry = new AtomicLong
  val fetchLocalCalls, fetchDistCalls = new AtomicLong
  val robotsFetches = new AtomicLong
  /** (name, start ms, end ms, bytes) of fetch.local, robots.fetch and
    * ckpt.commit calls. */
  val leaves = new ConcurrentLinkedQueue[(String, Double, Double, Long)]()

  def reset(): Unit = {
    Seq(fetchRows, fetchOk, fetchRetry, fetchLocalCalls, fetchDistCalls, robotsFetches)
      .foreach(_.set(0L))
    leaves.clear()
  }

  def countFetch(r: FetchResult): Unit = {
    fetchRows.incrementAndGet()
    if (r.f_status == 200) fetchOk.incrementAndGet()
    if (r.attempt > 0) fetchRetry.incrementAndGet()
  }

  def leaf(name: String, startMs: Double, endMs: Double, bytes: Long = 0L): Unit =
    leaves.add((name, startMs, endMs, bytes))

  def leafList: Seq[(String, Double, Double, Long)] = leaves.asScala.toSeq
}

/** Delegating fetch seam: counts rows, successes and retries on both the
  * distributed and the driver-local path, and times the local calls.
  */
final class TracingFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(spark: SparkSession, admitted: Dataset[FrontierEntry]): Dataset[FetchResult] = {
    import spark.implicits._
    Probe.fetchDistCalls.incrementAndGet()
    inner.fetch(spark, admitted).mapPartitions(it => it.map { r => Probe.countFetch(r); r })
  }

  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] = {
    val t0 = Clock.nowMs
    val out = inner.fetchLocal(entries)
    val t1 = Clock.nowMs
    out.foreach { rows =>
      Probe.fetchLocalCalls.incrementAndGet()
      rows.foreach(Probe.countFetch)
      Probe.leaf("fetch.local", t0, t1)
    }
    out
  }
}

/** Delegating robots seam: counts and times each robots.txt fetch. */
final class TracingRobots(inner: RobotsProvider) extends RobotsProvider {
  override def fetchRobots(host: String): (Int, String) = {
    val t0 = Clock.nowMs
    val r = inner.fetchRobots(host)
    Probe.robotsFetches.incrementAndGet()
    Probe.leaf("robots.fetch", t0, Clock.nowMs)
    r
  }
}

/** Checkpointer that times each snapshot commit and records its size. */
final class TracingCheckpointer(spark: SparkSession, dir: String, every: Int)
    extends Checkpointer(spark, dir, every) {
  override def commit(epoch: Long, frontier: DataFrame, seen: DataFrame,
      signatures: DataFrame, hostTokens: DataFrame, pages: DataFrame,
      seqCounter: Long, wildcardRemaining: Long, pathBudget: Map[String, Long],
      scope: ScopeState, metrics: Seq[EpochMetrics], chainStarted: Boolean,
      chainSitemaps: Seq[String], discoveredSitemaps: Seq[String]): Unit = {
    val t0 = Clock.nowMs
    super.commit(epoch, frontier, seen, signatures, hostTokens, pages, seqCounter,
      wildcardRemaining, pathBudget, scope, metrics, chainStarted, chainSitemaps,
      discoveredSitemaps)
    if (every > 0 && epoch % every == 0)
      Probe.leaf("ckpt.commit", t0, Clock.nowMs,
        Files.bytesUnder(java.nio.file.Paths.get(dir, s"epoch_$epoch")))
  }
}

/** Task and job statistics of the traced passes. */
final class TaskStats extends SparkListener {
  private val started = mutable.Map.empty[Int, Double]
  val jobs = ArrayBuffer.empty[(Double, Double)]
  var tasks, taskMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    started.clear(); jobs.clear(); stageTaskMs.clear()
    tasks = 0; taskMs = 0; cpuNs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => jobs += ((s, e.time.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val d = e.taskInfo.duration
    taskMs += d
    stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += d
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** max ÷ median task time in the stage with the most task time. */
  def stageSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ds = stageTaskMs.values.maxBy(_.sum).sorted
      ds.last.toDouble / math.max(1L, ds(ds.size / 2)).toDouble
    }
  }
}

/** Spans of one run: structural spans added by the workloads, leaves
  * attached to the innermost structural span that contains their start.
  */
final class Trace(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, startMs: Double, endMs: Double, label: String = ""): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, label, startMs, endMs)
    id
  }

  def close(id: Int, endMs: Double): Unit = spans(id - 1) = spans(id - 1).copy(endMs = endMs)

  def all: Seq[Span] = spans.toSeq

  /** Attach leaves under the innermost of `scope` (structural spans of one
    * pass) containing each leaf's start; leaves outside every scope span go
    * to `fallback`. */
  def attach(scope: Seq[Span], leaves: Seq[(String, Double, Double)], fallback: Int): Unit = {
    val sorted = scope.sortBy(s => (s.startMs, -s.endMs))
    leaves.sortBy(_._2).foreach { case (name, s, e) =>
      val inner = sorted.filter(p => p.startMs <= s && s <= p.endMs)
      val parent = if (inner.isEmpty) fallback else inner.minBy(_.ms).id
      add(name, parent, s, e)
    }
  }

  /** Self time per span name among `ids`: each span's duration minus the part
    * of it covered by its children. */
  def selfMs(ids: Set[Int]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(s => ids.contains(s.id)).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cov = Trace.covered(kids.getOrElse(s.id, ArrayBuffer.empty[Span]).toSeq.map(k =>
          (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))
        math.max(0.0, s.ms - cov)
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "label" -> Json.str(s.label), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
