package perfbench

import graft.corpus.{CorpusGen, CorpusParams}
import graft.engine._
import graft.model.CrawlConfig
import graft.oracle.OracleCrawler
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

/** Checkpointed second part of a crawl workload: the crawl commits a
  * snapshot every `config.checkpointEvery` epochs, stops gracefully after
  * epoch `stop`, and is resumed from its last snapshot for `resumeEpochs`
  * more epochs. Both legs crawl `corpus` of the workload's corpus. */
final case class Restart(stop: Long, resumeEpochs: Int,
    corpus: CorpusParams => CorpusParams = identity)

/** A crawl workload. Every host root is a seed and the corpus seed is the
  * workload seed. A pass crawls to completion; with a `restart` it then
  * crawls again, checkpointed, stopped and resumed. Each leg's page rows
  * `(url, depth, status, signature, epoch)` must equal OracleCrawler's rows
  * up to the leg's last epoch.
  *
  * `params(seed, small)` gives the timed corpus, or with `small` the
  * set-up corpus, which runs the same legs on less data.
  */
final class CrawlWorkload(
    val name: String,
    params: (Long, Boolean) => CorpusParams,
    config: CrawlConfig,
    robotsOn: Boolean,
    restart: Option[Restart] = None) extends Workload {

  override def prepare(spark: SparkSession, seed: Long, work: Path): Prepared =
    new CrawlRun(params(seed, false), params(seed + 7919L, true), work)

  private def robotsOf(p: CorpusParams): RobotsProvider =
    if (robotsOn) new CorpusRobots(p) else NoRobots

  private def seedsOf(p: CorpusParams): Seq[String] =
    (0 until p.hosts).map(i => s"${p.scheme}://${CorpusGen.hostName(i)}/")

  private final case class Leg(name: String, corpus: CorpusParams, startMs: Double, endMs: Double,
      firstEpoch: Int, untilEpoch: Int, result: CrawlResult, lastEpoch: Long)

  /** A crawl's seams over one corpus. */
  private final class Seams(val corpus: CorpusParams, traced: Boolean) {
    private val plainFetcher = new GenerativeFetcher(corpus)
    val fetcher: Fetcher = if (traced) new TracingFetcher(plainFetcher) else plainFetcher
    val robots: RobotsProvider =
      if (traced && robotsOn) new TracingRobots(robotsOf(corpus)) else robotsOf(corpus)
    val seeds: Seq[String] = seedsOf(corpus)
  }

  /** The legs of one pass over corpus `p`, run in order by `run(i)` (the
    * resume leg reads the checkpoint leg's snapshots in `ckDir`). */
  private final class Legs(spark: SparkSession, p: CorpusParams, ckDir: Path, traced: Boolean,
      config: CrawlConfig = config) {
    private val full = new Seams(p, traced)
    private lazy val restarted = new Seams(restart.fold(p)(_.corpus(p)), traced)
    private lazy val ck =
      if (traced) new TracingCheckpointer(spark, ckDir.toString, config.checkpointEvery)
      else new Checkpointer(spark, ckDir.toString, config.checkpointEvery)
    val ends = ArrayBuffer.empty[Double] // epoch completion times, all legs
    val done = ArrayBuffer.empty[Leg]

    def count: Int = if (restart.isEmpty) 1 else 3

    private def engine(s: Seams, cfg: CrawlConfig, ckpt: Option[Checkpointer], stop: Option[Long]) = {
      var e: CrawlEngine = null
      e = new CrawlEngine(spark, cfg, s.fetcher, s.robots, s.corpus.totalPages * 2, checkpoint = ckpt,
        onEpoch = Some { n =>
          ends += Clock.nowMs
          if (stop.contains(n)) e.requestShutdown()
        })
      e
    }

    def run(i: Int): Unit = {
      val from = ends.size
      val s = Clock.nowMs
      val (legName, seams, last, r) = (i, restart) match {
        case (0, _) => ("crawl", full, Long.MaxValue, engine(full, config, None, None).crawl(full.seeds))
        case (1, Some(rs)) => ("crawl", restarted, rs.stop,
          engine(restarted, config, Some(ck), Some(rs.stop)).crawl(restarted.seeds))
        case (2, Some(rs)) =>
          // CrawlEngine.resume, with the epoch hook attached
          val last = rs.stop + rs.resumeEpochs
          ("resume", restarted, last,
            engine(restarted, config.copy(maxEpochs = (last + 1).toInt), Some(ck), None)
              .crawl(restarted.seeds, resumeFrom = Some(ck)))
        case _ => throw new IllegalArgumentException(s"no leg $i")
      }
      done += Leg(legName, seams.corpus, s, Clock.nowMs, from, ends.size, r, last)
    }
  }

  private final class CrawlRun(p: CorpusParams, small: CorpusParams, work: Path) extends Prepared {
    type Row = (String, Int, Int, Long, Long) // url, depth, status, signature, epoch

    private val expected = scala.collection.mutable.Map.empty[CorpusParams, Set[Row]]

    private def oracle(c: CorpusParams): Set[Row] = expected.getOrElseUpdate(c,
      OracleCrawler.crawl(c, config, robotsOf(c), seedsOf(c)).pages
        .map(o => (o.url, o.depth, o.status, o.signature, o.epoch)).toSet)
    private var passNo = 0

    private def rows(pages: DataFrame): Set[Row] =
      pages.select("url", "depth", "status", "signature", "epoch").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet

    /** Set-up steps crawl the small corpus to completion, with the
      * small-epoch threshold scaled down with the corpus so the same epochs
      * take the distributed path. The checkpoint and resume legs are left
      * out: at any corpus size they cost seconds of fixed work, more than
      * running them cold in the timed pass adds. */
    override def warmup(spark: SparkSession, i: Int, steps: Int): Unit =
      new Legs(spark, small, work.resolve(s"ckpt-$name-warm"), traced = false,
        config.copy(smallEpochThreshold = config.smallEpochThreshold / 4)).run(0)

    override def pass(spark: SparkSession, trace: Option[PassTrace]): Pass = {
      passNo += 1
      val ckDir = work.resolve(s"ckpt-$name-$passNo")
      val legs = new Legs(spark, p, ckDir, trace.isDefined)
      val cpu0 = Meter.cpuNs
      val gc0 = Meter.gcMs
      (0 until legs.count).foreach(legs.run)
      val cpuS = (Meter.cpuNs - cpu0) / 1e9
      val gcS = (Meter.gcMs - gc0) / 1e3
      val done = legs.done.toSeq
      val ends = legs.ends.toSeq
      val wallS = (done.last.endMs - done.head.startMs) / 1e3

      val starts = ends.indices.map { i =>
        done.find(_.firstEpoch == i).map(_.startMs).getOrElse(ends(i - 1))
      }
      val steps = ends.indices.map(i => ends(i) - starts(i))
      val metrics = done.flatMap(_.result.metrics)

      // output check, outside the timed region
      val failed = done.count { l =>
        val got = rows(l.result.pages)
        val want = oracle(l.corpus).filter(_._5 <= l.lastEpoch)
        val differs = got != want
        if (differs) System.err.println(s"[perfbench] $name ${l.name} leg (epochs <= " +
          s"${if (l.lastEpoch == Long.MaxValue) "end" else l.lastEpoch}) differs from " +
          s"OracleCrawler: ${(got -- want).size} rows extra, ${(want -- got).size} missing " +
          s"(urls: ${(got.map(_._1) -- want.map(_._1)).size} extra, " +
          s"${(want.map(_._1) -- got.map(_._1)).size} missing; engine ${got.size} rows, " +
          s"oracle ${want.size})")
        differs
      }

      val (scope, layer) = trace match {
        case None => (Nil, Map.empty[String, Double])
        case Some(pt) =>
          val spans = done.flatMap { l =>
            val id = pt.trace.add(l.name, pt.parent, l.startMs, l.endMs)
            Span(id, pt.parent, l.name, "", l.startMs, l.endMs) +:
              (l.firstEpoch until l.untilEpoch).map { i =>
                Span(pt.trace.add("epoch", id, starts(i), ends(i)), id, "epoch", "", starts(i), ends(i))
              }
          }
          val resumed = done.find(_.name == "resume").map { l =>
            Map("ckpt.resume_s" -> (if (l.untilEpoch > l.firstEpoch) (ends(l.firstEpoch) - l.startMs) / 1e3
              else 0.0), "ckpt.write_amp" -> writeAmp(ckDir))
          }.getOrElse(Map.empty)
          val cand = metrics.map(_.candidates).sum
          (spans, resumed +
            ("engine.admit_ratio" -> (if (cand == 0) 0.0 else metrics.map(_.admitted).sum.toDouble / cand)))
      }
      Files.deleteTree(ckDir)
      Pass(wallS, cpuS, gcS, metrics.map(_.fetched).sum, steps, done.size, failed, scope, layer)
    }

    /** Bytes in all snapshot dirs ÷ bytes of the last snapshot's pages table. */
    private def writeAmp(ckDir: Path): Double = {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(ckDir)
      val snaps = try ls.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("epoch_"))
        finally ls.close()
      if (snaps.isEmpty) 0.0
      else {
        val last = snaps.maxBy(_.getFileName.toString.stripPrefix("epoch_").toLong)
        snaps.map(Files.bytesUnder).sum.toDouble / math.max(1L, Files.bytesUnder(last.resolve("pages")))
      }
    }
  }
}

object Crawls {
  val politeConfig: CrawlConfig = CrawlConfig(respectRobotsTxt = true, delayMs = 250,
    tickMs = 1000, maxPerHostPerEpoch = 8, depth = 4, budget = Map("en" -> 100), retryLimit = 2,
    externalDomains = Set("*"), maxEpochs = 1000, checkpointEvery = 4)

  /** Throughput regime: a few epochs, the largest on the distributed path
    * (above the engine's 4096-candidate small-epoch threshold), politeness
    * and robots off, nothing checkpointed. */
  val wide = new CrawlWorkload("wide",
    (seed, small) => CorpusParams(seed = seed, hosts = 16,
      pagesPerHost = if (small) 120 else 340,
      fanout = 48, textWords = 150),
    CrawlConfig(maxEpochs = 30, normalize = true, externalDomains = Set("*")),
    robotsOn = false)

  /** As wide on 33 hosts, host 0 holding 32x the pages of each other host
    * (about half the corpus), so hot-host salting in fetch emission does
    * work. */
  val skew = new CrawlWorkload("skew",
    (seed, small) => CorpusParams(seed = seed, hosts = 33,
      pagesPerHost = if (small) 62 else 110, hotHostFactor = 32, fanout = 48, textWords = 150),
    CrawlConfig(maxEpochs = 30, normalize = true, externalDomains = Set("*")),
    robotsOn = false)

  /** Many small epochs under robots, politeness, a path budget and retries,
    * over a corpus with duplicate-content, redirect, error and 429 pages;
    * then the same crawl without the 429 pages checkpointed, stopped and
    * resumed. A resume over 429 pages differs from OracleCrawler (the 429
    * Retry-After throttle state is not in the snapshot; see the pending test
    * in PerfbenchSpec), and every operation of a benchmark run must pass
    * its check. */
  val polite = new CrawlWorkload("polite",
    (seed, small) => CorpusParams(seed = seed, hosts = if (small) 8 else 64,
      pagesPerHost = 40, fanout = 8,
      dupContentEvery = 7, redirectEvery = 11, errorEvery = 13, rateLimitEvery = 31),
    politeConfig,
    robotsOn = true,
    restart = Some(Restart(stop = 4, resumeEpochs = 1, corpus = _.copy(rateLimitEvery = 0))))
}
