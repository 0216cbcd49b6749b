package graft.perfbench

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("the bulk generator is deterministic for a seed and varies across seeds") {
    assert(BulkGen.bulks(7, 50) == BulkGen.bulks(7, 50))
    assert(BulkGen.bulks(7, 50) != BulkGen.bulks(8, 50))
  }

  test("every seed draws the same family and element mix") {
    def mix(seed: Long) = BulkGen.bulks(seed, 360)
      .groupBy(b => (b.bulk_natoms, b.bulk_structure.sites.head.element)).view.mapValues(_.size).toMap
    assert(mix(1) == mix(2))
    assert(mix(1).values.toSet == Set(10)) // 3 families × 12 elements, 10 each
  }

  test("generated bulks stay inside the declared families and elements") {
    val els = BulkGen.elements.map(_._1).toSet
    val bulks = BulkGen.bulks(3, 400)
    assert(bulks.map(_.bulk_id).distinct.size == bulks.size)
    assert(bulks.forall(_.bulk_elements.forall(els)))
    assert(bulks.map(_.bulk_natoms).toSet == Set(2, 4, 8)) // bcc, fcc, rocksalt
    assert(bulks.forall(b => b.bulk_natoms == b.bulk_structure.sites.size))
    assert(bulks.forall(b => b.bulk_nelements == b.bulk_elements.distinct.size))
  }

  test("median takes the middle sample, or the mean of the middle two") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("every metric the benchmark prints is declared in BENCHMARK.json") {
    val spec = Json.read(Paths.get("..", "BENCHMARK.json"))
    for (trace <- Seq(false, true)) {
      val declared = Json.declaredMetrics(spec, trace).map(_._1)
      assert(declared.distinct.size == declared.size)
      assert(Metrics.names(trace).toSet == declared.toSet)
    }
  }

  test("every registry key is a registry query with a manifest entry") {
    val manifest = Registry.readManifest(Paths.get("manifest.tsv"))
    assert(Registry.keys.distinct.size == Registry.keys.size)
    assert(Registry.keys.forall(graft.SparkEntry.queries.contains))
    assert(Registry.keys.toSet == manifest.keySet)
    assert(Registry.packNames.nonEmpty && Registry.hot.nonEmpty)
  }

  test("content digests ignore row order and last-bit double noise") {
    import org.apache.spark.sql.Row
    val a = Seq(Row("x", 0.1 + 0.2, Seq(2, 1)), Row("y", -0.0, Seq(3)))
    val b = Seq(Row("y", 0.0, Seq(3)), Row("x", 0.3, Seq(1, 2)))
    assert(Check.digestRows(a) == Check.digestRows(b))
    assert(Check.digestRows(a) != Check.digestRows(Seq(Row("x", 0.31, Seq(1, 2)))))
  }
}
