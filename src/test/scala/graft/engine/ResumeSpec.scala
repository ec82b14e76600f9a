package graft.engine

import graft.corpus.CorpusParams
import graft.model.{CrawlConfig, FrontierEntry}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Checkpoint/resume: snapshots commit atomically with lineage + metrics;
  * a crawl killed after epoch k and resumed from the snapshot produces the
  * same final tables as an uninterrupted run (FIXTURES §5 `resume`).
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("snapshots commit atomically with manifest lineage + metrics") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val params = CorpusParams(hosts = 2, pagesPerHost = 30)
    val ck = new Checkpointer(spark, dir, every = 1)
    val engine = new CrawlEngine(spark, CrawlConfig(maxEpochs = 20),
      new GenerativeFetcher(params), new CorpusRobots(params),
      expectedUrls = 10000, checkpoint = Some(ck))
    val res = engine.crawl(Seq("https://www.site0.com/"))
    val last = ck.latestEpoch()
    assert(last >= 0 && last == res.epochs - 1)
    val manifest = ck.readManifest(last)
    assert(manifest.contains("\"lineage\"") && manifest.contains("\"metrics\""))
    assert(manifest.contains("\"seq_counter\""))
    // committed tables equal the in-memory result
    val snapPages = ck.readTable(last, "pages").count()
    assert(snapPages == res.pages.count())
    val snapSeen = ck.readTable(last, "seen").count()
    assert(snapSeen == res.seen.count())
  }

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.select("url", "depth", "discovery_seq", "status", "signature", "epoch")
      .collect().map(_.toSeq).toSet
  private def seenKeys(r: CrawlResult) =
    r.seen.select("url_lower").collect().map(_.getString(0)).toSet
  // smallEpochThreshold values: the default runs small crawls on the
  // small-epoch path, 0 runs every epoch distributed
  private val defaultPath = CrawlConfig().smallEpochThreshold
  private val distributedPath = 0

  /** Crawl to completion, crawl again checkpointed every epoch and stopped
    * after epoch `stopAfter`, resume (under `resumeCfg`, default `cfg`)
    * through a [[CountingFetcher]]; returns (full, resumed, the resume's
    * fetcher, the checkpointer). */
  private def killAndResume(params: CorpusParams, cfg: CrawlConfig, stopAfter: Int,
      resumeCfg: Option[CrawlConfig] = None)
      : (CrawlResult, CrawlResult, CountingFetcher, Checkpointer) = {
    val full = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000)
      .crawl(Seq("https://www.site0.com/"))
    val ck = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt").toString, every = 1)
    new CrawlEngine(spark, cfg.copy(maxEpochs = stopAfter + 1), new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000, checkpoint = Some(ck))
      .crawl(Seq("https://www.site0.com/"))
    val fetcher = new CountingFetcher(new GenerativeFetcher(params))
    val resumed = CrawlEngine.resume(spark, resumeCfg.getOrElse(cfg), fetcher,
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"), expectedUrls = 10000)
    (full, resumed, fetcher, ck)
  }

  test("resume from epoch-k snapshot reproduces the uninterrupted crawl") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    for (threshold <- Seq(defaultPath, distributedPath)) {
      val cfg = CrawlConfig(maxEpochs = 20, smallEpochThreshold = threshold)
      // interrupted run: checkpoint every epoch, stop after 2 epochs
      val (full, resumed, fetcher, ck) = killAndResume(params, cfg, stopAfter = 1)
      assert(Checkpointer.driverState(ck.readManifest(1)) == ((threshold > 0, threshold > 0)),
        s"threshold $threshold")
      assert(key(resumed.pages) == key(full.pages),
        s"threshold $threshold: resumed=${resumed.pages.count()} full=${full.pages.count()}")
      assert(seenKeys(resumed) == seenKeys(full), s"threshold $threshold")
      // a small-path snapshot resumes on the small path: every fetch is
      // driver-local; a distributed snapshot keeps fetching through Spark
      if (threshold > 0) assert(fetcher.dist.get == 0 && fetcher.local.get > 0)
      else assert(fetcher.dist.get > 0, "threshold 0 resume never ran a distributed fetch")
    }
  }

  test("resume a small-path snapshot taken after the driver mirrors dropped") {
    spark.sparkContext.setLogLevel("ERROR")
    // past mirrorCap the small path keeps its driver-local frontier but
    // probes the distributed stores: resume restores exactly that split
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val prev = CrawlEngine.mirrorCap
    CrawlEngine.mirrorCap = 5
    try {
      val (full, resumed, fetcher, ck) = killAndResume(params, CrawlConfig(maxEpochs = 20),
        stopAfter = 2)
      assert(Checkpointer.driverState(ck.readManifest(2)) == ((true, false)))
      assert(key(resumed.pages) == key(full.pages),
        s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
      assert(seenKeys(resumed) == seenKeys(full))
      assert(fetcher.dist.get == 0 && fetcher.local.get > 0)
    } finally CrawlEngine.mirrorCap = prev
  }

  test("a resume that hands off to the distributed path builds the stores from restored mirrors") {
    spark.sparkContext.setLogLevel("ERROR")
    // killed while the mirrors are live, resumed with threshold 1: the
    // first resumed epoch outgrows the small path, so the seen and
    // signature stores and the bloom are built from the restored mirrors
    val params = CorpusParams(hosts = 2, pagesPerHost = 40, dupContentEvery = 3)
    val cfg = CrawlConfig(maxEpochs = 20)
    val (full, resumed, fetcher, ck) = killAndResume(params, cfg, stopAfter = 2,
      resumeCfg = Some(cfg.copy(smallEpochThreshold = 1)))
    assert(Checkpointer.driverState(ck.readManifest(2)) == ((true, true)))
    assert(resumed.metrics.head.epoch == 3 && resumed.metrics.head.candidates > 1,
      s"first resumed epoch stayed small: ${resumed.metrics.head}")
    assert(fetcher.dist.get > 0, "the resume never ran a distributed epoch")
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    assert(seenKeys(resumed) == seenKeys(full))
  }

  test("path_budget keys containing ':' and ',' survive a resume") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val budget = Map("en" -> 4, "fr" -> 20, "wiki/Special:Random" -> 3, "a,b" -> 2,
      "odd}\"key" -> 1)
    for (threshold <- Seq(defaultPath, distributedPath)) {
      val cfg = CrawlConfig(maxEpochs = 20, budget = budget, smallEpochThreshold = threshold)
      val (full, resumed, _, ck) = killAndResume(params, cfg, stopAfter = 2)
      val restored = Checkpointer.pathBudget(ck.readManifest(2))
      assert(restored.keySet == budget.keySet, s"threshold $threshold: $restored")
      assert(restored.exists { case (k, v) => v < budget(k) },
        s"threshold $threshold: budget untouched at the kill: $restored")
      assert(key(resumed.pages) == key(full.pages),
        s"threshold $threshold: resumed=${resumed.pages.count()} full=${full.pages.count()}")
    }
  }

  test("manifest parent names the previous snapshot across empty politeness/retry ticks") {
    spark.sparkContext.setLogLevel("ERROR")
    // retried 5xx pages wait out their backoff in the frontier: once only
    // held entries remain, ticks admit nothing and commit nothing, so
    // committed epochs skip multiples of `every`
    val params = CorpusParams(hosts = 1, pagesPerHost = 30, errorEvery = 3)
    val cfg = CrawlConfig(delayMs = 300, tickMs = 1000, retryLimit = 3, maxEpochs = 60)
    val dir = Files.createTempDirectory("graft_ckpt_parent").toString
    val ck = new Checkpointer(spark, dir, every = 2)
    new CrawlEngine(spark, cfg.copy(maxEpochs = 5), new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000, checkpoint = Some(ck))
      .crawl(Seq("https://www.site0.com/"))
    CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params), new CorpusRobots(params), ck,
      Seq("https://www.site0.com/"), expectedUrls = 10000)
    val epochs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("epoch_") && new java.io.File(dir, s"$n/manifest.json").exists)
      .map(_.stripPrefix("epoch_").toLong).sorted.toSeq
    val parents = epochs.map(e => "\"parent\":(-?\\d+)".r
      .findFirstMatchIn(ck.readManifest(e)).get.group(1).toLong)
    assert(epochs.size >= 3, s"too few snapshots: $epochs")
    assert(parents == (-1L +: epochs.init), s"epochs $epochs parents $parents")
    assert(epochs.zip(parents).exists { case (e, p) => p >= 0 && e - p != 2 },
      s"no empty tick skipped a snapshot: $epochs")
  }

  test("manifest lineage rows equal the committed tables on both paths") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 30, dupContentEvery = 3)
    val tables = Seq("frontier", "seen", "signatures", "host_tokens", "pages")
    for (threshold <- Seq(defaultPath, distributedPath)) {
      val cfg = CrawlConfig(delayMs = 300, tickMs = 1000, maxEpochs = 6,
        smallEpochThreshold = threshold)
      val ck = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt_rows").toString, 2)
      val res = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
        new CorpusRobots(params), expectedUrls = 10000, checkpoint = Some(ck))
        .crawl(Seq("https://www.site0.com/"))
      for (e <- Seq(0L, 2L, 4L)) {
        val m = ck.readManifest(e)
        val lineage = "\\{\"table\":\"(\\w+)\",\"rows\":(\\d+),\"partitions\":(\\d+)\\}".r
          .findAllMatchIn(m).map(g => g.group(1) -> g.group(2).toLong).toMap
        assert(lineage.keySet == tables.toSet, s"threshold $threshold epoch $e: $lineage")
        tables.foreach { t =>
          assert(lineage(t) == ck.readTable(e, t).count(), s"threshold $threshold epoch $e $t")
        }
        assert(lineage("host_tokens") > 0 && lineage("signatures") > 0)
        assert(Checkpointer.driverState(m) == ((threshold > 0, threshold > 0)))
        assert("\"wall_ms\":\\d+".r.findAllMatchIn(m).size == e + 1,
          s"every epoch's wall_ms in the metrics series: $m")
      }
      assert(ck.readTable(4L, "pages").count() ==
        res.pages.filter(org.apache.spark.sql.functions.col("epoch") <= 4).count())
    }
  }

  test("kill DURING the sitemap chain resumes mid-chain (chain lineage in the manifest)") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val cfg = CrawlConfig(maxEpochs = 60)
    def eng(c: CrawlConfig, ck: Option[Checkpointer] = None) =
      new CrawlEngine(spark, c, new GenerativeFetcher(params), new CorpusRobots(params),
        expectedUrls = 10000, checkpoint = ck)
    // main-phase length = epochs of the SAME crawl without the chain
    val mainEpochs = eng(cfg).crawl(Seq("https://www.site0.com/")).epochs
    val full = eng(cfg).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    assert(full.epochs > mainEpochs + 1, "chain phase too short to interrupt")
    // interrupt two epochs INTO the chain phase
    val dir = Files.createTempDirectory("graft_ckpt4").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    eng(cfg.copy(maxEpochs = mainEpochs.toInt + 2), Some(ck))
      .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    val manifest = ck.readManifest(ck.latestEpoch())
    assert(manifest.contains("\"chain_started\":true"),
      "interrupted run never entered the chain phase")
    assert(manifest.contains("sitemap"), "chain sitemap set missing from manifest")
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"),
      expectedUrls = 10000, sitemapChain = true)
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    assert(seenKeys(resumed) == seenKeys(full))
  }

  test("kill BEFORE the chain keeps rel=sitemap discoveries (discovered_sitemaps lineage)") {
    spark.sparkContext.setLogLevel("ERROR")
    // sitemap at an UNCONFIGURED path, advertised only by the root page's
    // rel=sitemap span: killing after discovery but before the chain must
    // preserve the discovery in the manifest, or the resumed chain walks
    // only the (404ing) default /sitemap.xml and loses the orphan pages
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5,
      sitemapPath = "/wp-sitemap.xml", advertiseSitemap = true)
    val cfg = CrawlConfig(maxEpochs = 60)
    def eng(c: CrawlConfig, ck: Option[Checkpointer] = None) =
      new CrawlEngine(spark, c, new GenerativeFetcher(params), new CorpusRobots(params),
        expectedUrls = 10000, checkpoint = ck)
    val full = eng(cfg).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    assert(full.pages.collect().exists(_.getString(0).endsWith(graft.corpus.CorpusGen.pagePath(12L))),
      "orphan page unreached even uninterrupted — corpus shape broken")
    // interrupt two epochs in: root page (epoch 0) already advertised the
    // sitemap, the chain has NOT started yet
    val dir = Files.createTempDirectory("graft_ckpt5").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    eng(cfg.copy(maxEpochs = 2), Some(ck))
      .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    val manifest = ck.readManifest(ck.latestEpoch())
    assert(!manifest.contains("\"chain_started\":true"), "chain started too early to test")
    assert(Checkpointer.discoveredSitemaps(manifest).exists(_.endsWith("/wp-sitemap.xml")),
      "rel=sitemap discovery missing from the manifest")
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"),
      expectedUrls = 10000, sitemapChain = true)
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
  }

  test("resume ACROSS a compaction boundary of the co-partitioned stores") {
    spark.sparkContext.setLogLevel("ERROR")
    // compaction every 2 epochs + politeness pacing (~8+ epochs) on the
    // distributed path (while its mirrors are live the small path has no
    // distributed stores to fold): the interrupted run snapshots AFTER a
    // seen/signature fold, so resume restores compacted stores and then
    // compacts again before finishing
    val params = CorpusParams(hosts = 2, pagesPerHost = 25, dupContentEvery = 3)
    val cfg = CrawlConfig(delayMs = 300, tickMs = 1000, maxEpochs = 60,
      stateCompactionEpochs = 2, smallEpochThreshold = distributedPath)
    val (full, resumed, _, ck) = killAndResume(params, cfg, stopAfter = 4)
    assert(ck.latestEpoch() >= 2, "interrupted run must span a compaction")
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    assert(seenKeys(resumed) == seenKeys(full))
  }

  test("manifest chain_sitemaps survives URLs with commas, brackets and quotes") {
    // URLs may legally contain ',' and ']' (and the writer escapes quotes);
    // the parser must walk JSON quoted strings, never split on ','
    val gnarly = Seq(
      "https://site.com/sitemaps/products,2024.xml",
      "https://site.com/s[1].xml",
      "https://site.com/a\"b.xml",
      "https://site.com/plain.xml")
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val manifest = s"""{"epoch":3,"chain_started":true,"chain_sitemaps":[${gnarly.map(q).mkString(",")}],"x":1}"""
    val (started, sms) = Checkpointer.chainState(manifest)
    assert(started)
    assert(sms == gnarly, s"parsed $sms")
    val (off, none) = Checkpointer.chainState("""{"epoch":1,"chain_started":false,"chain_sitemaps":[]}""")
    assert(!off && none.isEmpty)
  }

  test("manifest path_budget keys survive ':', ',', '}', quotes and backslashes") {
    val budget = Map("wiki/Special:Random" -> 3L, "a,b" -> 0L, "x}y" -> 7L,
      "q\"k" -> 1L, "back\\slash" -> 2L, "en" -> 100L)
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val manifest = s"""{"epoch":3,"wildcard_remaining":9,"path_budget":""" +
      budget.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}") + ""","x":1}"""
    assert(Checkpointer.pathBudget(manifest) == budget)
    assert(Checkpointer.pathBudget("""{"epoch":1,"path_budget":{}}""").isEmpty)
  }
}

/** Delegating fetch seam that counts distributed and driver-local calls. */
final class CountingFetcher(inner: Fetcher) extends Fetcher {
  val dist = new java.util.concurrent.atomic.AtomicInteger
  val local = new java.util.concurrent.atomic.AtomicInteger
  override def fetch(spark: SparkSession, admitted: org.apache.spark.sql.Dataset[FrontierEntry])
      : org.apache.spark.sql.Dataset[FetchResult] = {
    dist.incrementAndGet()
    inner.fetch(spark, admitted)
  }
  override def fetchLocal(entries: Seq[FrontierEntry]): Option[Seq[FetchResult]] = {
    val out = inner.fetchLocal(entries)
    if (out.isDefined) local.incrementAndGet()
    out
  }
}
