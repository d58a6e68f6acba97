package graft

import graft.ops.Extended

/** Property check for the shared connected-components routine behind the
  * whole dedup-clustering family (`dup_clusters`, `cluster_canonical`,
  * `semantic_dedup`): on ADVERSARIAL random edge lists — shapes the LSH
  * fixtures never produce — the min-label result must equal brute-force
  * union-find exactly. The deep-path trial drives component diameter far
  * past the 26-hop fast path, so the pointer-jump acceleration (not just
  * the shallow-star happy path) is what's under test.
  */
class CcPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force union-find; components keyed by min member id. */
  private def bruteCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = verts.groupBy(find)
    byRoot.valuesIterator.flatMap { vs =>
      val m = vs.min; vs.map(_ -> m)
    }.toMap
  }

  private def runCc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Extended.ccOverEdges(edges.toDF("d1", "d2"))
      .as[(Long, Long)].collect().toMap

  test("cc == union-find on sparse/dense random graphs") {
    val rnd = new scala.util.Random(7)
    for ((n, m) <- Seq((50, 30), (50, 80), (120, 200))) {
      val edges = (1 to m).map { _ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.filter(e => e._1 != e._2)
      val got = runCc(edges)
      val want = bruteCc(edges)
      assert(got === want, s"n=$n m=$m: ${got.size} vs ${want.size} labels")
      // the dense trials are SUPPOSED to collapse into a giant component
      // (that's the stress); only the sparse regime must stay fragmented
      if (m < n)
        assert(want.values.toSet.size > 1, s"n=$n m=$m: vacuous single component")
    }
  }

  test("cc handles a diameter-80 path (past the 26-hop fast path)") {
    // a pure chain: worst case for hop-bounded propagation — every label
    // must travel the full length. 80 hops needs the accelerated rounds.
    val path = (1L until 81L).map(i => (i, i + 1))
    // plus a disjoint shallow star, so both loop regimes coexist
    val star = (101L to 110L).map(i => (100L, i))
    val got = runCc(path ++ star)
    val want = bruteCc(path ++ star)
    assert(got === want)
    assert(got.filter(_._1 <= 81L).values.toSet === Set(1L),
      "path component did not collapse to its min label")
  }
}
