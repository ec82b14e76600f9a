package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** What one timed pass measured. `items` are pages for a crawl and queries
  * for the analytics suite; `stepsMs` are epoch or query latencies.
  */
final case class Pass(
    wallS: Double,
    cpuS: Double,
    gcS: Double,
    items: Long,
    stepsMs: Seq[Double],
    attempted: Int,
    failed: Int,
    /** structural spans of this pass (traced passes only) */
    scope: Seq[Span] = Nil,
    /** workload-specific per-layer values (traced passes only) */
    layer: Map[String, Double] = Map.empty)

/** Span context a traced pass records under. */
final case class PassTrace(trace: Trace, parent: Int)

trait Workload {
  def name: String
  /** Inputs for `seed`. */
  def prepare(spark: SparkSession, seed: Long, work: Path): Prepared
}

trait Prepared {
  /** Untimed warm-up work of set-up step `step` of `steps`. */
  def warmup(spark: SparkSession, step: Int, steps: Int): Unit

  /** One pass: the timed region, then the output check outside it. With
    * `trace` set, the tracing wrappers replace the plain seams. */
  def pass(spark: SparkSession, trace: Option[PassTrace]): Pass

  /** After the timed passes: extra result fields for run.py. */
  def finish(spark: SparkSession): Seq[(String, String)] = Nil
}

object Workload {
  val all: Seq[Workload] = Seq(Crawls.wide, Crawls.skew, Crawls.polite, Analytics)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n (one of ${all.map(_.name).mkString(", ")})"))
}
