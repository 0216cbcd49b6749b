package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

import graft.domain._
import Workload.{seconds, sink}

/** The paper's own workload over seeded synthetic bulks. A pass runs the
  * catlas screen from config to result and ledger, then the memo cache's
  * write path (cold: every key computed and appended) and read path (warm:
  * nothing computed) over the screen's adslab table, for the expensive
  * inference label, the one a re-run would not want to pay twice.
  */
final class Screen(seed: Long, nBulks: Int, work: Path) extends Workload {

  private val configJson: String =
    """{
      "bulk_filters": {"filter_by_object_size": 50},
      "adsorbate_smiles": ["*CO", "*H", "*OH"],
      "max_miller_index": 2,
      "slab_filters": {
        "filter_best_shift_by_score": {"score": "broken_bonds", "threshold": 0.5}},
      "steps": [
        {"type": "inference", "label": "cheap"},
        {"type": "filter_by_adsorption_energy_target",
         "adsorbate_smiles": "*CO", "target": -1.0, "range": 1.0},
        {"type": "inference", "label": "expensive"}]
    }"""
  private val cfg = Config.fromJson(configJson, Map.empty)
  private val labels = Seq("cheap", "expensive")
  private val memoLabel = "expensive"

  private val bulkPath = work.resolve("bulks").toString
  private val adslabPath = work.resolve("adslabs").toString

  private var bulkDs: Dataset[Bulk] = _
  /** The screen's adslab table, keyed `surface_key|adsorbate_smiles`. */
  private var memoInput: DataFrame = _
  private var memoKeys = 0L
  /** The memo passes' own observation point: rows each `through` computed. */
  private var memoLedger: Pipeline.Ledger = _
  private val stageCounts = scala.collection.mutable.Map.empty[String, Long]
  private var enumerateSeconds = 0.0
  private var scoredCounts = Map.empty[String, Double]

  /** The bulks, generated and written as the screen's parquet input. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    spark.createDataset(BulkGen.bulks(seed, nBulks)).write.mode("overwrite").parquet(bulkPath)
    bulkDs = spark.read.parquet(bulkPath).as[Bulk]
    if (memoLedger == null) {
      memoLedger = new Pipeline.Ledger
      spark.listenerManager.register(memoLedger)
    }
  }

  private def memoCache(spark: SparkSession, root: String, label: String) =
    new MemoCache(spark, root, s"inference_$label", "v1")

  private def scored(df: DataFrame, label: String): DataFrame =
    Predict.inference(df, SurrogateModel(label))
      .select(col("key"), col(Predict.minCol(label)), col(Predict.argminCol(label)))

  /** One `through` call with its result forced: seconds, rows computed,
    * and the result for checking.
    */
  private def memoPass(spark: SparkSession, root: String, label: String)
      : (Double, Long, DataFrame) = {
    val obs = s"memo_computed_$label"
    memoLedger.metrics.remove(obs)
    val (out, secs) = seconds {
      val out = memoCache(spark, root, label).through(memoInput, "memo_key")(misses =>
        scored(misses.observe(obs, count(lit(1))), label))
      sink(out)
      out
    }
    require(memoLedger.await(obs), s"memo observation $obs never arrived")
    (secs, memoLedger.metrics(obs), out)
  }

  /** A cold pass computes every key; a warm pass over the same root none. */
  private def memoFailures(phase: String, rows: Long): Option[String] = {
    val want = if (phase == "cold") memoKeys else 0L
    if (rows == want) None else Some(s"memo $phase computed $rows rows, expected $want")
  }

  def pass(spark: SparkSession, trace: Trace, index: Int): Pass = {
    val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failures = Seq.newBuilder[String]
    trace.span("phase", "screen") {
      val (c, tConfig) = seconds(Config.fromJson(configJson, Map.empty))
      val (res, tCompile) = seconds(Pipeline.compile(spark, c, Some(bulkDs)))
      val (_, tSink) = seconds(sink(res.results))
      val (ok, tLedger) = seconds(res.ledger.await("adslab_00_enumerated"))
      if (!ok) failures += "screen ledger never reported adslab_00_enumerated"
      stageCounts ++= res.ledger.metrics
      res.close()
      parts ++= Seq("domain.config_s" -> tConfig, "domain.compile_s" -> tCompile,
        "domain.sink_s" -> tSink, "domain.ledger_wait_s" -> tLedger,
        "domain.screen_s" -> (tConfig + tCompile + tSink + tLedger))
    }
    val root = work.resolve(s"memo/pass-$index")
    deleteTree(root)
    for (phase <- Seq("cold", "warm")) {
      val (secs, rows, _) =
        trace.span("phase", s"memo_$phase")(memoPass(spark, root.toString, memoLabel))
      failures ++= memoFailures(phase, rows)
      parts(s"memo.${phase}_s") = secs
      parts(s"memo.computed_rows_$phase") = rows.toDouble
    }
    // what the memo root holds once both passes ran
    val files = listFiles(root)
    parts("memo.files") = files.count(_.getFileName.toString.endsWith(".parquet")).toDouble
    parts("memo.mb") = files.map(Files.size).sum / 1e6
    Pass(parts("domain.screen_s") + parts("memo.cold_s") + parts("memo.warm_s"), parts.toMap,
      attempted = 3, failures.result())
  }

  def check(spark: SparkSession): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val res = Pipeline.compile(spark, cfg, Some(bulkDs))
    val results = res.results.persist()
    val got = Check.digest(results.select(col("adsorbate_smiles"), col("bulk_id"),
      col("filter_reason"), col("min_dE_cheap"), col("min_dE_expensive"),
      concat_ws(",", col("slab_millers")).as("slab_millers"), col("slab_shift"), col("slab_top")))
    res.ledger.await("adslab_00_enumerated")
    stageCounts ++= res.ledger.metrics
    res.close()
    val enumerated = stageCounts.getOrElse("adslab_00_enumerated", -1L)
    if (enumerated != got.rows)
      bad += s"ledger adslab_00_enumerated=$enumerated but the result has ${got.rows} rows"
    val want = reference()
    if (got != want) bad += s"screen result $got differs from the reference $want"
    val steps = Predict.countSteps(results, labels).head()
    scoredCounts = labels.map(l => s"domain.scored_$l" -> steps.getAs[Long](s"n_scored_$l").toDouble).toMap

    // the memo passes' input: the screen's adslab table, materialized
    results.select("surface_key", "adsorbate_smiles", "adslab_configs")
      .write.mode("overwrite").parquet(adslabPath)
    results.unpersist()
    memoInput = spark.read.parquet(adslabPath)
      .withColumn("memo_key", concat_ws("|", col("surface_key"), col("adsorbate_smiles")))
      .withColumn("filter_reason", lit(null).cast("string"))
    memoKeys = memoInput.select("memo_key").distinct().count()
    if (memoKeys != got.rows)
      bad += s"the memo table has $memoKeys keys but the result has ${got.rows} rows"

    // both memo passes answer from the one table the cold pass wrote, so
    // the warm answer checks the cold writes too; it must be what
    // un-memoized inference says
    val root = work.resolve("memo/check").toString
    val direct = Check.digest(scored(memoInput.withColumnRenamed("memo_key", "key"), memoLabel))
    val (_, coldRows, _) = memoPass(spark, root, memoLabel)
    bad ++= memoFailures("cold", coldRows)
    val (_, warmRows, out) = memoPass(spark, root, memoLabel)
    bad ++= memoFailures("warm", warmRows)
    val memoGot = Check.digest(out)
    if (memoGot != direct) bad += s"memo $memoGot differs from direct inference $direct"
    Main.log(s"screen seed=$seed bulks=$nBulks counts=${stageCounts.toSeq.sorted.mkString(",")} " +
      s"scored=${scoredCounts.toSeq.sorted.mkString(",")}")
    bad.result()
  }

  /** The screen's expected result, composed in plain Scala from the
    * program's per-row kernels (slab enumeration, slab score, surface key,
    * placements, surrogate energies). It re-derives, independently of the
    * Spark plan, the filters, the best-shift window, the cross join and the
    * cascade with its grouped target filter.
    */
  private def reference(): Check.Digest = {
    val maxSize = cfg.bulkFilters.collectFirst { case MaxSize(n) => n }.get
    val thr = cfg.slabFilters.collectFirst { case BestShift(_, t) => t }.get
    val target = cfg.steps.collectFirst { case t: TargetCfg => t }.get
    val (lo, hi) = Config.targetBounds(target)
    val reason = s"no ${target.smiles} in [$lo, $hi] for ${Predict.minCol("cheap")}"
    val cheap = SurrogateModel("cheap")
    val expensive = SurrogateModel("expensive")
    // the enumeration kernel alone, outside Spark
    val (enumerated, secs) = seconds(
      BulkGen.bulks(seed, nBulks).filter(_.bulk_natoms <= maxSize).par.map(b => Enumerate.enumerateSlabs(b, cfg.maxMiller)).seq)
    enumerateSeconds = secs
    val rows = enumerated.par.flatMap { slabs =>
      val surfaces = slabs
        .map(s => s -> Geometry.brokenBondScore(s.slab_structure, s.bulk_structure))
      val kept = surfaces.groupBy(_._1.slab_millers).values.flatMap { g =>
        val mn = g.map(_._2).min
        g.filter(_._2 <= mn + thr * math.abs(mn)).map(_._1)
      }
      kept.flatMap { s =>
        val key = Enumerate.surfaceKey(s.bulk_id, s.slab_millers, s.slab_shift, s.slab_top)
        val perAds = cfg.adsorbateSmiles.map { sm =>
          val n = Enumerate.enumerateAdslabs(key, sm).size
          (sm, n, cheap.predict(key, sm, n).min)
        }
        val live = perAds.exists { case (sm, _, e) => sm == target.smiles && e >= lo && e <= hi }
        perAds.map { case (sm, n, e) =>
          // columns in name order, as Check.digest reads them
          Row(sm, s.bulk_id, if (live) null else reason, e,
            if (live) expensive.predict(key, sm, n).min else null,
            s.slab_millers.mkString(","), s.slab_shift, s.slab_top)
        }
      }
    }.seq
    Check.digestRows(rows)
  }

  def layers(passes: Seq[Pass]): Map[String, Double] = {
    val counts = Map(
      "domain.bulks" -> "bulk_00_input",
      "domain.surfaces" -> "surf_01_best_shift",
      "domain.adslabs" -> "adslab_00_enumerated")
      .map { case (m, k) => m -> stageCounts.getOrElse(k, 0L).toDouble }
    val parts = Workload.medianParts(passes)
    parts ++ counts ++ scoredCounts ++ Map(
      "domain.enumerate_s" -> enumerateSeconds,
      "memo.hit_ratio_warm" -> (1.0 - parts("memo.computed_rows_warm") / math.max(1L, memoKeys)))
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }

  private def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
}
