package graft.perfbench

import graft.domain.{Bulk, Site, Structure}

/** Seeded synthetic bulk crystals for the screen workload.
  *
  * Each bulk has a lattice family (fcc, bcc or a rocksalt binary), its
  * element(s) from a fixed set of 12 metals, a lattice constant scattered
  * ±4% around the element's own, and hull and band-gap values. The same
  * seed always gives the same bulks, so nothing is downloaded and a run's
  * inputs are fixed by its `--seed` alone.
  */
object BulkGen {

  /** Element → cubic lattice constant (Å) of its own fcc/bcc phase. */
  val elements: Seq[(String, Double)] = Seq(
    "Pt" -> 3.92, "Cu" -> 3.61, "Au" -> 4.08, "Ag" -> 4.09, "Pd" -> 3.89,
    "Ni" -> 3.52, "Rh" -> 3.80, "Ir" -> 3.84, "Fe" -> 2.87, "Mo" -> 3.15,
    "W" -> 3.16, "Zn" -> 4.27)

  val families: Seq[String] = Seq("fcc", "bcc", "rocksalt")

  private def cubic(a: Double, sites: Seq[Site]) =
    Structure(Seq(Seq(a, 0, 0), Seq(0, a, 0), Seq(0, 0, a)), sites)

  private val fccSites = Seq(Seq(0.0, 0.0, 0.0), Seq(0.0, 0.5, 0.5),
    Seq(0.5, 0.0, 0.5), Seq(0.5, 0.5, 0.0))

  def structure(family: String, els: Seq[String], a: Double): Structure =
    family match {
      case "fcc" => cubic(a, fccSites.map(Site(els.head, _, "a")))
      case "bcc" => cubic(a, Seq(Seq(0.0, 0.0, 0.0), Seq(0.5, 0.5, 0.5))
        .map(Site(els.head, _, "a")))
      // two interleaved fcc sublattices offset by half a cell edge
      case "rocksalt" => cubic(a,
        fccSites.map(Site(els(0), _, "a")) ++
          fccSites.map(f => Site(els(1), Seq((f(0) + 0.5) % 1.0, f(1), f(2)), "b")))
    }

  private def round3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Every family × element cell gets an equal share of the `n` bulks, so
    * the screen's work barely moves with the seed (an 8-site rocksalt cell
    * costs several times an fcc one to enumerate); the seed draws the
    * binary partners, lattice constants, hull and gap values, and the
    * order.
    */
  def bulks(seed: Long, n: Int): Seq[Bulk] = {
    val rng = new scala.util.Random(seed)
    val cells = for (f <- families; e <- elements) yield (f, e)
    val drawn = (0 until n).map { i =>
      val (family, (el, a0)) = cells(i % cells.size)
      val els = if (family != "rocksalt") Seq(el) else {
        val others = elements.map(_._1).filter(_ != el)
        Seq(el, others(rng.nextInt(others.size)))
      }
      val a = round3(a0 * (if (family == "rocksalt") 1.2 else 1.0) *
        (0.96 + 0.08 * rng.nextDouble()))
      val hull = round3(0.3 * rng.nextDouble())
      val gap = if (family == "rocksalt") round3(4.0 * rng.nextDouble()) else 0.0
      (family, els, a, hull, gap)
    }
    rng.shuffle(drawn).zipWithIndex.map { case ((family, els, a, hull, gap), i) =>
      val s = structure(family, els, a)
      Bulk(s"mp-${1000000 + i}", "perfbench_synthetic", s.sites.size, "RPBE",
        els.size, els.sorted, Some(hull), Some(gap), s)
    }
  }
}
