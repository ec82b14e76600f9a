package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** The 35 `SparkEntry.queries` over tables generated from the workload seed,
  * each forced to completion with the `noop` writer: unlike `count()`, it
  * keeps every projected column, so column pruning cannot skip the work
  * being timed. The set-up steps write every query's output to parquet,
  * untimed; run.py compares them with each query's `oracleSql` in DuckDB.
  */
object Analytics extends Workload {
  val name = "analytics"

  /** Per-layer groups, in the order of the `SparkEntry.queries` listing. */
  val groups: Seq[(String, Set[String])] = Seq(
    "relational" -> Set("q1_pricing_summary", "q3_revenue_topk", "q_order_priority",
      "q_anti_join", "q_semi_join", "q_window_rank", "q_distinct_count"),
    "crawl_ops" -> Set("c_url_canon", "b_seen_antijoin", "b_depth_gate", "b_batch_dedup",
      "b_budget_quota", "b_politeness_quota", "b_asset_filter", "d_priority_score"),
    "text" -> Set("t_token_count", "t_quality", "t_langid", "t_fingerprint"),
    "dedup" -> Set("d_exact_classes", "d_minhash_pairs", "d_simhash_pairs", "d_ngram_jaccard",
      "d_embedding_near_dups"),
    "similarity" -> Set("s_ann_brute", "s_ann_lsh", "e_centroids"),
    "streaming" -> Set("st_tumbling_window"),
    "crawl" -> Set("crawl_basic", "crawl_budget", "crawl_throttle", "crawl_sitemap",
      "crawl_sitemap_only", "crawl_blocked"),
    "media" -> Set("m_media_meta"))

  /** Single queries reported on their own: the suite's slowest. */
  val named: Seq[String] = Seq("d_ngram_jaccard", "t_fingerprint", "d_embedding_near_dups")

  override def prepare(spark: SparkSession, seed: Long, work: Path): Prepared = {
    val dir = work.resolve(s"tables-$seed")
    TestData.write(spark, seed, dir)
    new Suite(dir, work.resolve("verify"))
  }

  private final class Suite(dir: Path, verify: Path) extends Prepared {
    private val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    private var passes = 0

    /** Set-up step i writes the outputs of every `steps`-th query for the
      * DuckDB check: together the steps run the suite once, untimed. */
    override def warmup(spark: SparkSession, step: Int, steps: Int): Unit =
      queries.zipWithIndex.filter(_._2 % steps == step).foreach { case ((q, fn), _) =>
        try fn(spark, dir.toString).coalesce(1).write.mode("overwrite")
          .parquet(verify.resolve(q).toString)
        catch { case e: Exception => System.err.println(s"[perfbench] query $q failed: $e") }
      }

    override def pass(spark: SparkSession, trace: Option[PassTrace]): Pass = {
      passes += 1
      val cpu0 = Meter.cpuNs
      val gc0 = Meter.gcMs
      val t0 = Clock.nowMs
      val runs = queries.map { case (q, fn) =>
        val s = Clock.nowMs
        val ok =
          try { fn(spark, dir.toString).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] query $q failed: $e")
              false
          }
        (q, s, Clock.nowMs, ok)
      }
      val t1 = Clock.nowMs
      val cpuS = (Meter.cpuNs - cpu0) / 1e9
      val gcS = (Meter.gcMs - gc0) / 1e3
      val (scope, layer) = trace match {
        case None => (Nil, Map.empty[String, Double])
        case Some(pt) =>
          val spans = runs.map { case (q, s, e, _) =>
            Span(pt.trace.add("query", pt.parent, s, e, q), pt.parent, "query", q, s, e)
          }
          val secs = runs.map { case (q, s, e, _) => q -> (e - s) / 1e3 }.toMap
          val byGroup = groups.map { case (g, qs) =>
            s"query.${g}_s" -> qs.toSeq.map(secs.getOrElse(_, 0.0)).sum
          }
          (spans, (byGroup ++ named.map(q => s"query.${q}_s" -> secs.getOrElse(q, 0.0))).toMap)
      }
      Pass((t1 - t0) / 1e3, cpuS, gcS, runs.size.toLong, runs.map(r => r._3 - r._2),
        runs.size, runs.count(!_._4), scope, layer)
    }

    /** Where run.py finds the outputs and their oracle SQL. */
    override def finish(spark: SparkSession): Seq[(String, String)] = {
      val sql = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }
      java.nio.file.Files.createDirectories(verify)
      java.nio.file.Files.writeString(verify.resolve("oracle_sql.json"), Json.obj(sql))
      Seq("tables_dir" -> Json.str(dir.toString), "verify_dir" -> Json.str(verify.toString),
        "query_passes" -> passes.toString)
    }
  }
}

/** Seeded tables in the shape the queries read (TPC-H-like star schema,
  * an event stream, documents and embeddings). Every value is a hash of
  * (seed, row, column), so one seed always gives the same tables.
  */
object TestData {
  private val parts = 4

  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val nCust = 1000L; val nSupp = 100L; val nPart = 1000L; val nOrd = 8000L
    val nLine = 30000L; val nEvent = 6000L; val nDoc = 200L; val nVec = 200L

    /** Non-negative hash of (seed, row id, salt) modulo m. */
    def h(salt: Int, m: Long, id: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), id, lit(salt)), lit(m))
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size.toLong) + 1).cast("int"))
    def rows(count: Long): DataFrame = spark.range(0, count, 1, parts).toDF("id")
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", rows(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      ((h(2, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    save("supplier", rows(nSupp).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      h(1, 25).cast("int").as("s_nationkey"), ((h(2, 1100000) - 100000) / 100.0).as("s_acctbal")))
    save("part", rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, "small", "red", "blue", "large"), pick(2, "ring", "widget", "bolt")).as("p_name"),
      concat(lit("Brand#"), h(3, 25) + 1).as("p_brand"),
      pick(4, "ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE").as("p_type"),
      (h(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")))
    // customer keys that are multiples of 7 never order (anti-join rows)
    val ck = h(1, nCust * 6 / 7)
    save("orders", rows(nOrd).select(col("id").as("o_orderkey"),
      (ck + floor(ck / 6) + 1).cast("long").as("o_custkey"),
      pick(2, "F", "O", "P").as("o_orderstatus"),
      (h(3, 50000000) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + h(4, 2500) * 86400).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    val qty = (h(4, 50) + 1).cast("double")
    save("lineitem", rows(nLine).select(h(1, nOrd).as("l_orderkey"),
      h(2, nPart).as("l_partkey"), h(3, nSupp).as("l_suppkey"),
      (h(5, 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
      round(qty * (lit(900.0) + h(2, nPart) % 1000 / 10.0), 2).as("l_extendedprice"),
      (h(6, 11) / 100.0).as("l_discount"), (h(7, 9) / 100.0).as("l_tax"),
      pick(8, "A", "N", "R").as("l_returnflag"), pick(9, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(10, 2600) * 86400).as("l_shipdate")))
    save("events", rows(nEvent).select(col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + h(1, 2592000)).as("ts"),
      h(2, 150).as("user_id"),
      pick(3, "click", "view", "signup", "purchase", "error").as("event_type"),
      ((h(4, 49001) + 1) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(5, 100), lit("}")).as("props")))

    // documents: every 25th row repeats an earlier text exactly, every 10th
    // changes one word of its predecessor (near duplicates for the dedup
    // family); the vocabulary carries capitals, punctuation and the
    // stopwords the text operators count
    val vocab = Seq("the", "le", "a", "data", "spark", "crawl", "page", "link", "table", "query",
      "stream", "window", "join", "merge", "batch", "hash", "filter", "sort", "row", "column",
      "The", "Spark,", "data.", "fast", "slow", "big", "small", "value", "key", "group")
    val vocabArr = array(vocab.map(lit): _*)
    val src = when(pmod(col("id"), lit(25)) === 7 && col("id") >= 2, col("id") - 2)
      .when(pmod(col("id"), lit(10)) === 3 && col("id") >= 1, col("id") - 1)
      .otherwise(col("id"))
    val nearDup = pmod(col("id"), lit(10)) === 3 && pmod(col("id"), lit(25)) =!= 7
    val words = rows(nDoc).select(col("id"), src.as("src"), nearDup.as("near"))
      .withColumn("n", (h(1, 60, col("src")) + 8).cast("int"))
      .withColumn("w", expr(
        s"transform(sequence(1, n), i -> cast(pmod(xxhash64(${seed}L, " +
          "if(near AND i = 2, id, src), i), " + vocab.size + ") as int) + 1)"))
      .withColumn("text", concat_ws(" ", transform(col("w"), i => element_at(vocabArr, i))))
    save("documents", words.select(col("id").as("doc_id"), col("text"),
      pick(2, "en", "fr", "de", "es", "zh").as("lang"),
      concat(lit("src"), h(3, 20)).as("source"),
      length(col("text")).cast("long").as("n_chars")))

    // embeddings: 64 dims around one of 10 label centres
    save("embeddings", rows(nVec).withColumn("label", h(1, 10).cast("int"))
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 63), j -> cast(" +
          s"(pmod(xxhash64(${seed}L, label, j, 7), 2001) - 1000) / 5000.0 + " +
          s"(pmod(xxhash64(${seed}L, id, j, 9), 2001) - 1000) / 8000.0 as float))").as("embedding"),
        col("label")))
  }
}
