package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed pass over a workload's fixed work produced.
  *
  * @param wall      sum of the pass's timed windows
  * @param parts     seconds (or counts) of each named part of the pass
  * @param attempted calls into the program the pass made
  * @param failures  one entry per failed call or wrong output
  */
case class Pass(wall: Double, parts: Map[String, Double], attempted: Int, failures: Seq[String])

trait Workload {
  /** One repetition of the set-up a run needs before it can be timed. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed output checks, run once after set-up; they also warm the JIT
    * and codegen caches before the timed passes. One entry per mismatch.
    */
  def check(spark: SparkSession): Seq[String]
  /** One pass over the workload's fixed work. */
  def pass(spark: SparkSession, trace: Trace, index: Int): Pass
  /** Layer figures the workload itself measures (counts, kernel times). */
  def layers(passes: Seq[Pass]): Map[String, Double]
}

object Workload {
  /** Full materialization of every output column; `count()` would let
    * Catalyst prune the projections being measured.
    */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Median over passes of every named part. */
  def medianParts(passes: Seq[Pass]): Map[String, Double] =
    passes.flatMap(_.parts.keys).distinct
      .map(k => k -> Stats.median(passes.map(_.parts.getOrElse(k, 0.0)))).toMap
}
