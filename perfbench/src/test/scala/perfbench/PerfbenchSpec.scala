package perfbench

import graft.corpus.CorpusParams
import graft.engine._
import graft.model.CrawlConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files => JFiles}

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = JFiles.createTempDirectory("perfbench-spec")
  lazy val spark: SparkSession = {
    val s = Main.session(tmp)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.deleteTree(tmp)
  }

  /** A polite-shaped corpus small enough for a unit test, with 429s. */
  private val tiny = CorpusParams(seed = 3L, hosts = 4, pagesPerHost = 24, fanout = 4,
    dupContentEvery = 7, redirectEvery = 11, errorEvery = 13, rateLimitEvery = 5)
  private val seeds = (0 until tiny.hosts).map(i => s"https://www.site$i.com/")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select("url", "final_url", "depth", "discovery_seq", "epoch", "status", "signature")
      .collect().map(_.toSeq).toSet

  private def crawl(cfg: CrawlConfig, traced: Boolean): Set[Seq[Any]] = {
    val dir = JFiles.createTempDirectory(tmp, "ckpt").toString
    val fetcher = new GenerativeFetcher(tiny)
    val robots = new CorpusRobots(tiny)
    val engine =
      if (traced) new CrawlEngine(spark, cfg, new TracingFetcher(fetcher), new TracingRobots(robots),
        10000L, Some(new TracingCheckpointer(spark, dir, cfg.checkpointEvery)))
      else new CrawlEngine(spark, cfg, fetcher, robots, 10000L,
        Some(new Checkpointer(spark, dir, cfg.checkpointEvery)))
    rows(engine.crawl(seeds).pages)
  }

  test("tracing seams are transparent on the small-epoch and distributed paths") {
    for (threshold <- Seq(CrawlConfig().smallEpochThreshold, 0)) {
      val cfg = Crawls.politeConfig.copy(smallEpochThreshold = threshold, maxEpochs = 12)
      val plain = crawl(cfg, traced = false)
      Probe.reset()
      val traced = crawl(cfg, traced = true)
      assert(traced == plain, s"threshold $threshold")
      assert(Probe.fetchRows.get > 0 && Probe.robotsFetches.get > 0)
      assert(Probe.leafList.exists(_._1 == "ckpt.commit"))
      if (threshold == 0) assert(Probe.fetchDistCalls.get > 0)
      else assert(Probe.fetchLocalCalls.get > 0)
    }
  }

  test("a polite-shaped pass passes its check; its deterministic counts repeat exactly") {
    val w = new CrawlWorkload("polite-tiny", (seed, _) => tiny.copy(seed = seed),
      Crawls.politeConfig, robotsOn = true,
      Some(Restart(stop = 4, resumeEpochs = 1, corpus = _.copy(rateLimitEvery = 0))))
    val work = JFiles.createTempDirectory(tmp, "work")
    def counts(): Map[String, Double] = {
      val (pass, layer) = Main.tracedPass(spark, w.prepare(spark, 7L, work), new Trace("t"), 0,
        new TaskStats)
      assert(pass.attempted == 3 && pass.failed == 0)
      Seq("engine.epochs", "fetch.rows", "engine.admit_ratio", "ckpt.commits")
        .map(n => n -> layer(n)).toMap
    }
    val first = counts()
    assert(first("engine.epochs") > 0 && first("fetch.rows") > 0 && first("ckpt.commits") > 0)
    assert(counts() == first)
  }

  // Known defect: the 429 Retry-After throttle state is not in the snapshot,
  // so a resume over 429 pages differs from OracleCrawler. The polite
  // workload restarts over its corpus without 429s until this is fixed;
  // once it passes, give polite's restart the 429 pages again.
  test("a resume over a corpus with 429 pages matches OracleCrawler (pending: known defect)") {
    val w = new CrawlWorkload("polite-429-resume", (seed, _) => tiny.copy(seed = seed),
      Crawls.politeConfig, robotsOn = true, Some(Restart(stop = 4, resumeEpochs = 1)))
    val work = JFiles.createTempDirectory(tmp, "work")
    pendingUntilFixed {
      assert(w.prepare(spark, 7L, work).pass(spark, None).failed == 0)
    }
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { m =>
        m.get("name").asText() -> m.get("unit").asText()
      }.toSeq
    }
    assert(names("end_to_end").map(_._1) == Main.endToEnd)
    assert(names("per_layer").map(_._1).toSet == Main.perLayer.toSet)
    names("per_layer").foreach { case (n, u) => assert(Main.unitOf(n) == u, n) }
  }

  test("every query of the suite is in exactly one per-layer group") {
    val grouped = Analytics.groups.flatMap(_._2)
    assert(grouped.size == grouped.toSet.size)
    assert(grouped.toSet == graft.SparkEntry.queries.keySet)
    assert(Analytics.named.forall(grouped.contains))
  }

  test("self time subtracts the union of child intervals") {
    val t = new Trace("t")
    val root = t.add("epoch", 0, 0.0, 10.0)
    t.attach(Seq(Span(root, 0, "epoch", "", 0.0, 10.0)),
      Seq(("spark.job", 1.0, 4.0), ("spark.job", 3.0, 5.0), ("fetch.local", 7.0, 8.0)), root)
    val self = t.selfMs(t.all.map(_.id).toSet)
    assert(self("epoch") == 5.0)
    assert(self("spark.job") == 5.0)
  }
}
