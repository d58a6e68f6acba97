package graft

import graft.ops.Joins

/** Property check for the point-in-polygon core (`Joins.pipContain`) —
  * the round-9 exact-machinery discipline: the cell-pruned even-odd
  * ray-casting plan must agree with an INDEPENDENT algorithm (exact
  * winding number, Sunday's orientation-sign form — a different
  * formula, not a translation of the crossing predicate) on planted
  * adversarial geometries the fixtures never produce:
  *
  *  - rays passing EXACTLY through vertices (touch-without-cross and
  *    cross-at-vertex both planted via the diamond),
  *  - points at cell-boundary coordinates (exact multiples of the 3000
  *    cell size ± 1 — where a float-division cell key would misbucket
  *    and the prune would silently drop candidates),
  *  - points far outside every bbox and in bbox-corner cells,
  *  - random convex hulls and star-shaped (angularly sorted) simple
  *    polygons × random points (even-odd == winding for simple
  *    polygons off the boundary).
  *
  * Boundary points are rule-dependent (the core documents half-open:
  * bottom/left boundary IN, top/right OUT), so the spec pins those
  * expectations by hand instead of comparing algorithms there.
  */
class PipPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Pt = (Long, Long)

  private def edgesOf(poly: Seq[Pt]): Seq[(Pt, Pt)] =
    poly.zip(poly.tail :+ poly.head)

  private def orient(a: Pt, b: Pt, p: Pt): Long =
    (b._1 - a._1) * (p._2 - a._2) - (b._2 - a._2) * (p._1 - a._1)

  private def onBoundary(p: Pt, poly: Seq[Pt]): Boolean =
    edgesOf(poly).exists { case (a, b) =>
      orient(a, b, p) == 0 &&
        p._1 >= math.min(a._1, b._1) && p._1 <= math.max(a._1, b._1) &&
        p._2 >= math.min(a._2, b._2) && p._2 <= math.max(a._2, b._2)
    }

  /** Independent reference: exact winding number (Sunday). Nonzero ⟺
    * inside, valid for simple polygons and non-boundary points.
    */
  private def windingInside(p: Pt, poly: Seq[Pt]): Boolean = {
    var wn = 0L
    edgesOf(poly).foreach { case (a, b) =>
      if (a._2 <= p._2) {
        if (b._2 > p._2 && orient(a, b, p) > 0) wn += 1
      } else if (b._2 <= p._2 && orient(a, b, p) < 0) wn -= 1
    }
    wn != 0
  }

  private def run(polys: Seq[(String, Seq[Pt])],
      pts: Seq[(Long, Pt)]): Set[(Long, String)] = {
    val e = polys.flatMap { case (pid, vs) =>
      edgesOf(vs).map { case ((x1, y1), (x2, y2)) => (pid, x1, y1, x2, y2) }
    }.toDF("pid", "x1", "y1", "x2", "y2")
    val p = pts.map { case (id, (x, y)) => (id, x, y) }
      .toDF("station_id", "ix", "iy")
    Joins.pipContain(p, e).as[(Long, String)].collect().toSet
  }

  test("half-open boundary rule: bottom/left in, top/right out, vertex rays") {
    val square = "sq" -> Seq[Pt]((0, 0), (3000, 0), (3000, 3000), (0, 3000))
    val diamond = "di" -> Seq[Pt]((0, 1500), (1500, 0), (3000, 1500),
      (1500, 3000)).map { case (x, y) => (x - 4500L, y - 9000L) }
    val dOff: Pt => Pt = { case (x, y) => (x - 4500L, y - 9000L) }
    val pts: Seq[(Long, Pt)] = Seq(
      1L -> ((1500L, 1L)),      // strict interior
      2L -> ((1500L, 0L)),      // ON bottom edge → IN (half-open)
      3L -> ((1500L, 3000L)),   // ON top edge → OUT
      4L -> ((0L, 1500L)),      // ON left edge → IN
      5L -> ((3000L, 1500L)),   // ON right edge → OUT
      6L -> ((0L, 0L)),         // bottom-left vertex → IN
      7L -> ((3000L, 3000L)),   // top-right vertex → OUT
      8L -> dOff((1L, 1500L)),  // interior, ray exits through right vertex
      9L -> dOff((-1L, 1500L)), // exterior, ray grazes BOTH vertices
      10L -> ((-4999L, -14999L)), // far corner of the coordinate domain
      11L -> ((4999L, 14999L)))
    val got = run(Seq(square, diamond), pts)
    val want = Set(1L -> "sq", 2L -> "sq", 4L -> "sq", 6L -> "sq",
      8L -> "di")
    assert(got == want, s"got $got\nwant $want")
  }

  test("cell-boundary coordinates never lose candidates to the prune") {
    // polygon whose bbox edges land EXACTLY on cell multiples, plus
    // points at multiples of the cell size ± 1 — the coordinates where
    // a floor-division bug or an off-by-one cell cover drops candidates.
    val poly = "cb" -> Seq[Pt]((-3000, -3000), (3000, -3000), (3000, 3000),
      (-3000, 3000))
    val coords = Seq(-3001L, -3000L, -2999L, -1L, 0L, 1L, 2999L, 3000L, 3001L)
    val pts = for {
      (x, i) <- coords.zipWithIndex; (y, j) <- coords.zipWithIndex
    } yield (i * 100L + j) -> ((x, y))
    val got = run(Seq(poly), pts)
    val want = pts.collect {
      case (id, p) if !onBoundary(p, poly._2) && windingInside(p, poly._2) =>
        id -> "cb"
      // half-open: bottom/left boundary rows are inside, top/right out
      case (id, (x, y)) if (x == -3000L || y == -3000L) &&
        x >= -3000L && x < 3000L && y >= -3000L && y < 3000L => id -> "cb"
    }.toSet
    assert(got == want,
      s"diff: extra=${got -- want} missing=${want -- got}")
  }

  test("random simple polygons: even-odd core == exact winding reference") {
    val rnd = new scala.util.Random(17)
    def randPt(): Pt =
      ((rnd.nextInt(9000) - 4500).toLong, (rnd.nextInt(28000) - 14000).toLong)
    // star-shaped simple polygon: random points angularly sorted around
    // their centroid (exact long arithmetic ordering via atan2 is fine
    // here — ordering only builds the polygon, correctness is checked
    // against whatever polygon results)
    def randPoly(n: Int): Seq[Pt] = {
      val vs = Seq.fill(n)(randPt()).distinct
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      vs.sortBy(v => math.atan2((v._2 - cy).toDouble, (v._1 - cx).toDouble))
    }
    val polys = (1 to 6).map(i => s"p$i" -> randPoly(5 + rnd.nextInt(6)))
    // random points + every vertex's y re-used with fresh x (vertex-ray
    // shapes) + exact vertices (boundary, excluded from comparison)
    val raw = Seq.fill(120)(randPt()) ++
      polys.flatMap(_._2.take(3).map { case (_, vy) => (randPt()._1, vy) }) ++
      polys.flatMap(_._2.take(2))
    val pts = raw.zipWithIndex.map { case (p, i) => (i + 1L) -> p }
    val got = run(polys, pts)
    pts.foreach { case (id, p) =>
      polys.foreach { case (pid, poly) =>
        if (!onBoundary(p, poly)) {
          val want = windingInside(p, poly)
          assert(got.contains(id -> pid) == want,
            s"point $id=$p vs $pid: core=${got.contains(id -> pid)} ref=$want\n$poly")
        }
      }
    }
  }
}
