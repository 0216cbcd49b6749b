package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries._
import Workload.seconds

/** Registry queries over the benchmark's own copy of the sf0.001 corpus,
  * in an order the seed permutes: a fixed sample of the registry's
  * planning-bound keys plus the data-bound keys ROADMAP directions 3 to 5
  * change. Each query is one call, timed from the call until its rows are
  * on the driver, and its rows are checked against the manifest on every
  * pass. The shared bases build, timed (`ops.build_s.*`), on their first
  * use in the output check; the timed passes find them built, as every
  * call after the first in a session does.
  */
final class Registry(corpus: Path, seed: Long, work: Path,
                     manifest: Map[String, Check.Digest]) extends Workload {

  private val order: Seq[String] = new scala.util.Random(seed).shuffle(Registry.keys)

  /** The corpus directory of the latest set-up; queries read it. */
  private var dir: String = _
  private var builds = Map.empty[String, Double]

  /** A fresh copy of the corpus under a new path, its two largest tables
    * opened and counted. The shared bases are keyed by path, so the check
    * builds them for this copy.
    */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val d = work.resolve(s"corpus-$rep")
    Registry.copyTree(corpus, d)
    dir = d.toString
    Seq("lineitem", "orders").foreach(t => graft.Tables.load(spark, dir, t).count())
  }

  def check(spark: SparkSession): Seq[String] = {
    graft.ops.SharedBase.buildSeconds.clear()
    val bad = order.flatMap { k =>
      try mismatch(k, Check.digest(SparkEntry.queries(k)(spark, dir)))
      catch { case e: Exception => Some(s"$k: $e") }
    }
    builds = graft.ops.SharedBase.buildSeconds.toMap
    bad ++ Registry.bases.filterNot(builds.contains).map(b => s"shared base $b was never built")
  }

  def pass(spark: SparkSession, trace: Trace, index: Int): Pass = {
    val failures = Seq.newBuilder[String]
    val times = Seq.newBuilder[(String, Double)]
    for (k <- order) {
      val fn = SparkEntry.queries(k)
      try {
        val (rows, secs) = seconds(trace.span("query", k)(Check.collect(fn(spark, dir))))
        times += k -> secs
        failures ++= mismatch(k, Check.digestRows(rows))
      } catch { case e: Exception => failures += s"$k: $e" }
    }
    val t = times.result()
    val parts = t.collect { case (k, s) if Registry.hot.contains(k) => s"queries.query_s.$k" -> s } ++
      t.groupBy { case (k, _) => Registry.packOf(k) }
        .map { case (p, ks) => s"queries.pack_s.$p" -> ks.map(_._2).sum }
    Pass(t.map(_._2).sum, parts.toMap, order.size, failures.result())
  }

  private def mismatch(k: String, got: Check.Digest): Option[String] = manifest.get(k) match {
    case Some(want) if want == got => None
    case Some(want) => Some(s"$k: $got differs from the manifest's $want")
    case None => Some(s"$k: not in the manifest")
  }

  def layers(passes: Seq[Pass]): Map[String, Double] =
    Workload.medianParts(passes) ++ builds.map { case (b, secs) => s"ops.build_s.$b" -> secs }
}

object Registry {

  /** Registry keys under 0.5 s in the r12 bench at sf0.1 (`BENCH.json`),
    * where the cost is planning and job launch: every 87th of the 174 in
    * key order, `f12_sample_fraction` and the r12 hot set left out.
    */
  val light: Seq[String] = Seq("a10_stage_ledger", "j7_semi_join_exists")

  /** Keys ROADMAP directions 3 to 5 change: gr3 with its per-round count
    * jobs and checkpoints, the top-k aggregates (a8, t34), and the shared
    * bases: d7 on `dup_labels`, d7b on `PersistedBase` over it, and gt2 on
    * `tri_base` and `tri_counts`. The rest of the r12 hot set (gr2, gr4b,
    * gr7, gt5, d25, mb1) and the `gr_edges` graph base do not fit a run's
    * budget.
    */
  val hot: Seq[String] = Seq("gr3_components", "a8_topk_agg", "t34_inverted_index",
    "d7_dup_groups", "d7b_dup_groups_persisted", "gt2_triangle_top_nodes")

  val keys: Seq[String] = light ++ hot

  /** The shared bases the hot keys build on first use. */
  val bases: Seq[String] = Seq("dup_labels", "tri_base", "tri_counts")

  /** Every pack of the registry, as `SparkEntry` assembles it. */
  private val packs: Seq[QueryPack] = Seq(
    FilterQueries, GroupedQueries, JoinQueries, FanoutQueries, ScalarQueries,
    TextQueries, DedupQueries, SimilarityQueries, EventQueries, PipelineQueries,
    MultimodalQueries, DomainQueries, ParityQueries, AsOfQueries, CubeQueries,
    RangeQueries, WindowQueries, GraphQueries, TpchQueries, TpchQueries2,
    StatsQueries, SketchQueries, PrivacyQueries, MiningQueries)

  /** Query key → the name of the pack that defines it. */
  lazy val packOf: Map[String, String] = packs.flatMap { p =>
    p.queries.keys.map(_ -> p.getClass.getSimpleName.stripSuffix("$"))
  }.toMap

  /** The packs the benchmark's keys come from, in name order. */
  lazy val packNames: Seq[String] = keys.map(packOf).distinct.sorted

  def readManifest(path: Path): Map[String, Check.Digest] =
    Files.readAllLines(path).asScala.filter(_.nonEmpty).map { line =>
      val Array(k, rows, hash) = line.split("\t")
      k -> Check.Digest(rows.toLong, hash)
    }.toMap

  def writeManifest(path: Path, digests: Seq[(String, Check.Digest)]): Unit =
    Files.write(path, digests.sortBy(_._1)
      .map { case (k, d) => s"$k\t${d.rows}\t${d.hash}" }.asJava)

  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.toString) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      listDir(from).foreach(f => copyTree(f, to.resolve(f.getFileName)))
    } else Files.copy(from, to)
}

/** Writes the registry workload's manifest: every key's row count and
  * content digest, from two calls in one session that must agree.
  *
  *     python3 perfbench/run.py --make-manifest
  */
object MakeManifest {
  def main(argv: Array[String]): Unit = {
    val Array(corpus, work, out) = argv.map(java.nio.file.Paths.get(_))
    val spark = Main.session(work)
    val dir = work.resolve("corpus")
    Registry.copyTree(corpus, dir)
    val digests = Registry.keys.map { k =>
      val Seq(a, b) = Seq.fill(2)(Check.digest(SparkEntry.queries(k)(spark, dir.toString)))
      require(a == b, s"$k is not deterministic: $a then $b")
      k -> a
    }
    Registry.writeManifest(out, digests)
    println(s"wrote ${digests.size} digests to $out")
    spark.stop()
    sys.exit(0)
  }
}
