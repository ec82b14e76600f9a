package graft.engine

import graft.model.EpochMetrics
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Durable snapshot commits with per-partition lineage + metrics.
  *
  * The north rule asks for Iceberg-snapshot semantics; no Iceberg jar ships
  * in this sandbox (SURVEY §7), so this realizes the same contract with
  * partitioned Parquet + an atomic JSON manifest written LAST (rename =
  * commit point). A snapshot `epoch_N` holds five tables (frontier, seen,
  * signatures, host_tokens, pages), each readable by [[readTable]], and a
  * manifest recording:
  *   - `epoch` and `parent`: the previous snapshot this crawl committed
  *     (the one it resumed from, for a resumed crawl's first), -1 for the
  *     first snapshot of a crawl;
  *   - the driver ledger (seq counter, budgets, scope) and the sitemap
  *     chain lineage;
  *   - the path the crawl was on: `frontier_local` (the frontier was
  *     driver-resident, the small-epoch path) and `mirrors_live` (the
  *     driver seen/signature mirrors were live);
  *   - per-table lineage: rows and data files, read from the written
  *     files' parquet footers (no second pass over the data);
  *   - the per-epoch metrics series, `wall_ms` included.
  *
  * Each table is written once: a table already resident on the driver (a
  * local relation — the host-token ledger; on the small path also the
  * frontier and, while the mirrors are live, seen and signatures) as one
  * parquet file from the driver, any other by one Spark write job.
  *
  * Resume ([[CrawlEngine.resume]]) continues on the path recorded here: a
  * driver-local frontier is collected back to the driver, and live mirrors
  * (with the bloom group) are rebuilt on the driver from the seen and
  * signature tables, so the crawl carries on in its small-epoch path. A
  * snapshot of the distributed path restores distributed state, and so
  * does a manifest that predates these fields. The reactive politeness
  * state (429 throttle overrides, latency EMAs) is not part of a snapshot.
  * A real Iceberg catalog drops in behind this interface.
  */
class Checkpointer(spark: SparkSession, dir: String, every: Int = 1) {
  private[engine] val root = Paths.get(dir).toAbsolutePath
  Files.createDirectories(root)

  // lineage and path of the crawl writing through this checkpointer
  private var parent = -1L
  private var frontierLocal = false
  private var mirrorsLive = false

  /** Start a snapshot lineage: the next commit's parent is `parentEpoch`
    * (-1 for a fresh crawl, the resumed snapshot for a resumed one). */
  private[engine] def begin(parentEpoch: Long): Unit = parent = parentEpoch

  /** The path the crawl is on, recorded in the next commit's manifest. */
  private[engine] def recordPath(frontierLocal: Boolean, mirrorsLive: Boolean): Unit = {
    this.frontierLocal = frontierLocal
    this.mirrorsLive = mirrorsLive
  }

  /** True when [[commit]] at `epoch` writes a snapshot. */
  private[engine] def due(epoch: Long): Boolean = every > 0 && epoch % every == 0

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def commit(
      epoch: Long,
      frontier: DataFrame, seen: DataFrame, signatures: DataFrame,
      hostTokens: DataFrame, pages: DataFrame,
      seqCounter: Long, wildcardRemaining: Long, pathBudget: Map[String, Long],
      scope: ScopeState, metrics: Seq[EpochMetrics],
      chainStarted: Boolean = false, chainSitemaps: Seq[String] = Nil,
      discoveredSitemaps: Seq[String] = Nil): Unit = {
    if (!due(epoch)) return
    val snapDir = root.resolve(s"epoch_$epoch")
    val tables = Seq("frontier" -> frontier, "seen" -> seen,
      "signatures" -> signatures, "host_tokens" -> hostTokens, "pages" -> pages)
    val lineage = tables.map { case (name, df) =>
      val out = snapDir.resolve(name)
      GraftSqlBridge.writeParquet(df, out.toString)
      val files = Checkpointer.dataFiles(out)
      val rows = files.iterator.map(Checkpointer.footer(_).getNum_rows).sum
      s"""{"table":${q(name)},"rows":$rows,"partitions":${files.size}}"""
    }
    val budgetJson = pathBudget.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val metricsJson = metrics.map(m =>
      s"""{"epoch":${m.epoch},"candidates":${m.candidates},"admitted":${m.admitted},""" +
      s""""fetched":${m.fetched},"new_links":${m.new_links},"frontier":${m.frontier_size},""" +
      s""""seen":${m.seen_size},"budget_stopped":${m.budget_stopped},""" +
      s""""robots_blocked":${m.robots_blocked},"vetoed":${m.vetoed},"wall_ms":${m.wall_ms}}""")
      .mkString("[", ",", "]")
    // chain lineage (A6): a kill during the sitemap chain must resume
    // mid-chain, not degrade to a plain crawl — chainSitemaps carries every
    // sitemap DOC discovered so far (seed /sitemap.xml + recursive
    // <sitemapindex> locs), bounded by sitemap count
    val chainJson = chainSitemaps.map(q).mkString("[", ",", "]")
    // pre-chain rel=sitemap discoveries (A6 auto-discovery): insertion
    // order is part of the contract — it fixes the chain seeds' injection
    // order and hence the sitemap docs' discovery_seq after a resume
    val discJson = discoveredSitemaps.map(q).mkString("[", ",", "]")
    val manifest =
      s"""{"epoch":$epoch,"parent":$parent,"seq_counter":$seqCounter,
         |"frontier_local":$frontierLocal,"mirrors_live":$mirrorsLive,
         |"chain_started":$chainStarted,"chain_sitemaps":$chainJson,
         |"discovered_sitemaps":$discJson,
         |"wildcard_remaining":$wildcardRemaining,"path_budget":$budgetJson,
         |"scope":{"sub_matcher":${q(scope.subMatcher)},"parent_host":${q(scope.parentHost)},
         |"parent_scheme":${q(scope.parentScheme)},"redirect_host":${q(scope.redirectHost)},
         |"crawl_base":${q(scope.crawlBase)}},
         |"lineage":[${lineage.mkString(",")}],
         |"metrics":$metricsJson}""".stripMargin
    // write manifest atomically (tmp + rename) = the commit point
    val tmp = root.resolve(s".manifest_$epoch.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir.resolve("manifest.json"), StandardCopyOption.ATOMIC_MOVE)
    parent = epoch
  }

  /** Latest committed epoch (manifest present), or -1. */
  def latestEpoch(): Long = {
    if (!Files.exists(root)) return -1L
    val it = Files.list(root)
    try {
      it.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("epoch_") &&
          Files.exists(p.resolve("manifest.json")))
        .map(_.getFileName.toString.stripPrefix("epoch_").toLong)
        .foldLeft(-1L)(math.max)
    } finally it.close()
  }

  /** One table of a snapshot. The schema comes from a data file's footer
    * (the Spark schema every writer stores there), so no schema-inference
    * job runs; files without it fall back to inference. */
  def readTable(epoch: Long, name: String): DataFrame = {
    val d = root.resolve(s"epoch_$epoch").resolve(name)
    val schema = Checkpointer.dataFiles(d).headOption.flatMap { f =>
      Option(Checkpointer.footer(f).getKey_value_metadata).flatMap(
        _.asScala.find(_.getKey == Checkpointer.SparkSchemaKey))
    }.map(kv => org.apache.spark.sql.types.DataType.fromJson(kv.getValue))
    schema match {
      case Some(s: org.apache.spark.sql.types.StructType) => spark.read.schema(s).parquet(d.toString)
      case _ => spark.read.parquet(d.toString)
    }
  }

  def readManifest(epoch: Long): String =
    Files.readString(root.resolve(s"epoch_$epoch").resolve("manifest.json"))
}

object Checkpointer {
  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Parquet data files of a table directory (hidden and `_`-prefixed
    * files are not data, as for Spark's reader). */
  private def dataFiles(table: Path): Seq[Path] =
    if (!Files.isDirectory(table)) Nil
    else {
      val ls = Files.list(table)
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
      }.toSeq.sortBy(_.getFileName.toString)
      finally ls.close()
    }

  /** A parquet file's footer metadata (row count, key-value metadata),
    * read straight from its tail: `<footer><footer length, 4 bytes LE>PAR1`. */
  private def footer(file: Path): org.apache.parquet.format.FileMetaData = {
    val f = new java.io.RandomAccessFile(file.toFile, "r")
    try {
      val tail = new Array[Byte](8)
      f.seek(f.length() - 8)
      f.readFully(tail)
      require(new String(tail, 4, 4, java.nio.charset.StandardCharsets.US_ASCII) == "PAR1",
        s"not a parquet file: $file")
      val len = java.nio.ByteBuffer.wrap(tail, 0, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val meta = new Array[Byte](len)
      f.seek(f.length() - 8 - len)
      f.readFully(meta)
      org.apache.parquet.format.Util.readFileMetaData(new java.io.ByteArrayInputStream(meta))
    } finally f.close()
  }

  /** Parse the chain lineage out of a manifest. URLs may legally contain
    * commas and brackets, so the array is walked as JSON quoted strings
    * (matching the writer's `q()` escaping) — never split on ','.
    */
  def chainState(manifest: String): (Boolean, Seq[String]) = {
    val started = manifest.contains("\"chain_started\":true")
    (started, strArray(manifest, "chain_sitemaps"))
  }

  /** Pre-chain rel=sitemap discoveries, in original insertion order. */
  def discoveredSitemaps(manifest: String): Seq[String] =
    strArray(manifest, "discovered_sitemaps")

  /** The path the snapshot was committed on: (frontier driver-local,
    * seen/signature mirrors live). Manifests without the fields were
    * written on the distributed path. */
  def driverState(manifest: String): (Boolean, Boolean) =
    (manifest.contains("\"frontier_local\":true"), manifest.contains("\"mirrors_live\":true"))

  /** The path-budget ledger. Keys are walked as JSON quoted strings, like
    * [[chainState]]: a path key may contain ':', ',' or '}'. */
  def pathBudget(manifest: String): Map[String, Long] =
    ("\"path_budget\":\\{((?:\\s*" + QuotedString + "\\s*:\\s*-?\\d+\\s*,?)*)\\s*\\}").r
      .findFirstMatchIn(manifest).map { m =>
        (QuotedString + "\\s*:\\s*(-?\\d+)").r.findAllMatchIn(m.group(1))
          .map(kv => unquote(kv.group(1)) -> kv.group(2).toLong).toMap
      }.getOrElse(Map.empty)

  private val QuotedString = "\"((?:[^\"\\\\]|\\\\.)*)\""

  private def unquote(s: String): String =
    "\\\\(.)".r.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  private def strArray(manifest: String, key: String): Seq[String] =
    ("\"" + key + "\":\\[((?:\"(?:[^\"\\\\]|\\\\.)*\"(?:,)?)*)\\]").r
      .findFirstMatchIn(manifest).map(_.group(1)).map { body =>
        QuotedString.r.findAllMatchIn(body).map(m => unquote(m.group(1))).toSeq
      }.getOrElse(Nil)
}
