package graft.ops

import graft.core.{Num, QueryDef, Tables, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2 J1-J3, plus the as-of generalization).
  *
  * J2 is the one operator the reference implements that Spark has no literal
  * primitive for (2-D nearest-neighbor `sel(..., method='nearest')`,
  * /root/reference/scripts/process_climate_amazon_monthly.py:244-261). On a
  * REGULAR grid, nearest-neighbor is exactly equality on a snapped key
  * (floor(x/g + 0.5)*g), which turns an O(points × cells) search into a plain
  * hash equi-join — the only formulation that survives 100 TB. The general
  * windowed rank-1 variant is kept as the correctness cross-check.
  */
object Joins {

  /** J1 — index-alignment of N per-variable series into one wide frame
    * (monthly.py:294-302). Spark-native: ONE shuffle via
    * groupBy(key, date).pivot(variable) with an explicit value list (so no
    * extra distinct-values job is run).
    */
  val pivotAlign: QueryDef = QueryDef(
    "pivot_align",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("day", dayofmonth(col("ts")))
        .groupBy(col("user_id"), col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(Num.sum2(col("value")))
        .orderBy(col("user_id"), col("day")),
    Some(s"""
      SELECT user_id, CAST(day(ts) AS INTEGER) AS day,
             ${Num.sqlSum2("CASE WHEN event_type='click' THEN value END")} AS click,
             ${Num.sqlSum2("CASE WHEN event_type='error' THEN value END")} AS error,
             ${Num.sqlSum2("CASE WHEN event_type='purchase' THEN value END")} AS purchase,
             ${Num.sqlSum2("CASE WHEN event_type='signup' THEN value END")} AS signup,
             ${Num.sqlSum2("CASE WHEN event_type='view' THEN value END")} AS view
      FROM events GROUP BY 1, 2 ORDER BY user_id, day
    """),
    doc = "J1 7-series alignment as single-shuffle pivot")

  /** J2 primary — snap-to-grid equi-join. Measurements are bucketed to a
    * regular grid (cell size 25.0 over `events.value`); each "centroid"
    * (customer account balance) is snapped to its nearest cell and
    * equi-joined. Hash join, no cross product, broadcastable dim.
    */
  val snapJoin: QueryDef = QueryDef(
    "snap_grid_join",
    (s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(Num.snap(col("value"), 25.0).as("cell"))
        .agg(Num.avg2(col("value")).as("cell_avg"), count(lit(1)).as("cell_n"))
      val pts = Tables.customer(s, d)
        .filter(col("c_acctbal").between(0, 600))
        .select(col("c_custkey"), Num.snap(col("c_acctbal"), 25.0).as("cell"))
      pts.join(grid, Seq("cell"))
        .select(col("c_custkey"), col("cell"), col("cell_avg"), col("cell_n"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""
      WITH grid AS (
        SELECT ${Num.sqlSnap("value", 25.0)} AS cell,
               ${Num.sqlAvg2("value")} AS cell_avg, count(*) AS cell_n
        FROM events GROUP BY 1)
      SELECT c.c_custkey, g.cell, g.cell_avg, g.cell_n
      FROM (SELECT c_custkey, ${Num.sqlSnap("c_acctbal", 25.0)} AS cell
            FROM customer WHERE c_acctbal BETWEEN 0 AND 600) c
      JOIN grid g USING (cell)
      ORDER BY c.c_custkey
    """),
    doc = "J2 nearest-neighbor as snapped-key hash equi-join (scale path)")

  /** J2 cross-check — general rank-1-nearest, scale-safe formulation: each
    * point EXPLODES into its 3 candidate cells (snapped ±1 grid step) and
    * plain hash EQUI-joins the grid — never a non-equi/nested-loop join —
    * then row_number()=1 by (distance, cell) picks the nearest with a
    * deterministic tie-break. O(3·points) candidates at any scale.
    */
  val nearestWindow: QueryDef = QueryDef(
    "nearest_rank1_window",
    (s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(Num.snap(col("value"), 25.0).as("cell"))
        .agg(Num.avg2(col("value")).as("cell_avg"))
      val pts = Tables.customer(s, d)
        .filter(col("c_acctbal").between(0, 600))
        .select(col("c_custkey"), col("c_acctbal"),
          Num.snap(col("c_acctbal"), 25.0).as("cell0"))
      val cand = pts
        .withColumn("cell",
          explode(array(col("cell0") - 25.0, col("cell0"), col("cell0") + 25.0)))
        .join(grid, Seq("cell"))
        .withColumn("dist", abs(col("c_acctbal") - col("cell")))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("dist").asc, col("cell").asc)
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("cell"), col("cell_avg"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""
      WITH grid AS (
        SELECT ${Num.sqlSnap("value", 25.0)} AS cell,
               ${Num.sqlAvg2("value")} AS cell_avg
        FROM events GROUP BY 1),
      pts AS (
        SELECT c_custkey, c_acctbal, ${Num.sqlSnap("c_acctbal", 25.0)} AS cell0
        FROM customer WHERE c_acctbal BETWEEN 0 AND 600),
      cand AS (
        SELECT p.c_custkey, g.cell, g.cell_avg,
               abs(p.c_acctbal - g.cell) AS dist,
               row_number() OVER (PARTITION BY p.c_custkey
                                  ORDER BY abs(p.c_acctbal - g.cell) ASC, g.cell ASC) AS rn
        FROM pts p JOIN grid g ON abs(g.cell - p.cell0) <= 25.0)
      SELECT c_custkey, cell, cell_avg FROM cand WHERE rn = 1
      ORDER BY c_custkey
    """),
    doc = "J2 cross-check: band-limited range join + rank-1 window")

  /** J2 generalization — kNN (k=1) over IRREGULAR 2-D coordinates. The
    * reference's `sel(method='nearest')` (monthly.py:253-256) works on any
    * coordinate array, not just the regular 0.25° grid snap_grid_join
    * exploits; this is the bucketed formulation that covers that case:
    * stations land in `CellDeg`-sized lat/lon cells, each probe explodes
    * into its cell + 8 neighbors (a 3×3 ring), hash EQUI-joins the
    * stations, and rank-1 by (haversine km, station_id) picks the nearest
    * — O(9·probes·density) candidates, never probes×stations.
    *
    * The cell size is the operator's contract exactly as the reference's
    * grid pitch is: it must exceed the maximum nearest-neighbor distance
    * so the true nearest always sits inside the ring — and like the
    * LSH bit-width it must SHRINK as stations densify or every cell
    * holds O(N/cells) stations and the ring join degenerates toward
    * all-pairs (measured: a fixed 25° cell was 2.5 s at sf0.1 — 150k
    * stations / 48 cells ≈ 3k per cell ≈ 280M candidates). So the pitch
    * is derived IN-PLAN from the station count: G = sqrt(area·K/N) keeps
    * ~K stations per cell at any N, while the max NN distance for
    * near-uniform sites shrinks faster (~sqrt(area·lnN/(πN))), so the
    * ring-coverage guarantee only strengthens with scale. The one-row
    * count aggregate rides both sides as a broadcast cross join (the
    * tfidf scalar-subquery shape) — plan stays fully lazy. The DuckDB
    * oracle is the TRUE brute-force nearest (cross join + rank-1), so
    * the hash gate itself proves the ring loses nothing. Coordinates are
    * derived deterministically from fixture columns, domain-clamped away
    * from the poles and the antimeridian (lat ±50°, lon ±150°) — the
    * ring doesn't wrap, matching the reference's South-America-bounded
    * grid.
    */
  private val KPerCell = 32
  private val DomainArea = 100.0 * 300.0
  private val sqlSLat = "(abs(c_acctbal) % 100e0 - 50e0)"
  private val sqlSLon = "(abs(CAST(c_custkey AS DOUBLE) * 7.3e0) % 300e0 - 150e0)"
  private val sqlPLat = "(abs(s_acctbal) % 100e0 - 50e0)"
  private val sqlPLon = "(abs(CAST(s_suppkey AS DOUBLE) * 7.3e0) % 300e0 - 150e0)"
  /** The one shared haversine text — [[Scalars.sqlHaversineKm]] carries
    * the IEEE-parity and asin-clamp rationale; never fork the formula.
    */
  private def sqlHavKm(lat1: String, lon1: String, lat2: String, lon2: String): String =
    Scalars.sqlHaversineKm(lat1, lon1, lat2, lon2)

  val nearestKnnIrregular: QueryDef = QueryDef(
    "nearest_knn_irregular",
    (s, d) => {
      val stRaw = Tables.customer(s, d)
        .select(col("c_custkey").as("station_id"),
          expr(sqlSLat).as("slat"), expr(sqlSLon).as("slon"))
      val pitch = stRaw.agg(
        sqrt(lit(DomainArea) * KPerCell / count(lit(1))).as("g"))
      val st = stRaw.crossJoin(broadcast(pitch))
        .withColumn("cell_lat", floor(col("slat") / col("g")))
        .withColumn("cell_lon", floor(col("slon") / col("g")))
        .drop("g")
      val hav = sqlHavKm("plat", "plon", "slat", "slon")
      Tables.supplier(s, d)
        .select(col("s_suppkey").as("supp_id"),
          expr(sqlPLat).as("plat"), expr(sqlPLon).as("plon"))
        .crossJoin(broadcast(pitch))
        .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cell_lat", floor(col("plat") / col("g")) + col("dlat"))
        .withColumn("cell_lon", floor(col("plon") / col("g")) + col("dlon"))
        .drop("g")
        .join(st, Seq("cell_lat", "cell_lon"))
        .withColumn("dkm", expr(hav))
        .withColumn("rn", row_number().over(Window.partitionBy(col("supp_id"))
          .orderBy(col("dkm").asc, col("station_id").asc)))
        .filter(col("rn") === 1)
        .select(col("supp_id"), col("station_id"),
          Text.hround(col("dkm"), 3).as("dist_km"))
        .orderBy(col("supp_id"))
    },
    Some(s"""
      WITH st AS (SELECT c_custkey AS station_id,
                         $sqlSLat AS slat, $sqlSLon AS slon FROM customer),
      pr AS (SELECT s_suppkey AS supp_id,
                    $sqlPLat AS plat, $sqlPLon AS plon FROM supplier),
      cand AS (SELECT pr.supp_id, st.station_id,
                      ${sqlHavKm("pr.plat", "pr.plon", "st.slat", "st.slon")} AS dkm
               FROM pr CROSS JOIN st),
      ranked AS (SELECT supp_id, station_id, dkm,
                        row_number() OVER (PARTITION BY supp_id
                                           ORDER BY dkm ASC, station_id ASC) AS rn
                 FROM cand)
      SELECT supp_id, station_id, ${Text.sqlHround("dkm", 3)} AS dist_km
      FROM ranked WHERE rn = 1 ORDER BY supp_id
    """),
    doc = "J2 general kNN over irregular coords: 3x3 cell-ring equi-join + rank-1 haversine, oracle = brute-force true nearest")

  /** J3 — broadcast dimension enrichment (monthly.py:420-427):
    * customer → nation → region, then grouped rollup stats.
    */
  val dimEnrich: QueryDef = QueryDef(
    "dim_enrich_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Num.avg2(col("c_acctbal")).as("avg_bal"))
        .orderBy(col("r_name"), col("n_name")),
    Some(s"""
      SELECT r.r_name, n.n_name, count(*) AS n_cust,
             ${Num.sqlAvg2("c.c_acctbal")} AS avg_bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
    doc = "J3 two-level broadcast hash join")

  /** As-of join (temporal nearest — the 1-D analog of J2): for every signup,
    * the most recent prior purchase by the same user. Spark-native scale
    * formulation: tag + union both streams, ONE window pass with
    * last(ignoreNulls) — no inequality join, no per-key loop.
    */
  val asof: QueryDef = QueryDef(
    "asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val tagged = ev.filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "purchase", col("value")).as("pval"),
          when(col("event_type") === "purchase", col("ts")).as("pts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      tagged
        .withColumn("last_purchase_us",
          unix_micros(last(col("pts"), ignoreNulls = true).over(w)))
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("last_purchase_us"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT s.event_id, s.user_id,
             epoch_us(max(p.ts)) AS last_purchase_us
      FROM (SELECT * FROM events WHERE event_type = 'signup') s
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = s.user_id AND (p.ts < s.ts OR (p.ts = s.ts AND p.event_id < s.event_id))
      GROUP BY s.event_id, s.user_id
      ORDER BY s.event_id
    """),
    doc = "as-of join via union + window last(ignoreNulls) — single shuffle")

  /** Skew-mitigation join: the fact side's join key (event_type, 5 values
    * over 100k+ rows) is pathologically skewed — a vanilla shuffle join
    * puts each hot key on ONE reducer. Salting: fact rows get a
    * deterministic salt (event_id % 8), the dim side explodes x8, and the
    * join key becomes (event_type, salt) → each hot key spreads over 8
    * reducers. Results are IDENTICAL to the unsalted join (the oracle is
    * the plain join), which is the point: salting is a physical rewrite.
    * (AQE skew-join handles sort-merge cases automatically; explicit
    * salting is the portable form that also covers hash joins.)
    *
    * When to use which at 100 TB: AQE's runtime split (ScaleSpec's
    * "AQE splits a skewed join partition" test proves it fires, skew=true
    * on the join node) is the default — zero code, reacts to the skew
    * actually observed. Reach for explicit salting when (a) the join is
    * a shuffled HASH join or an aggregation upstream of the join (AQE
    * skew-split only rewrites sort-merge join reads), (b) the skew is
    * known and stable so the 8x dim blow-up is cheaper than the runtime
    * detection round-trip, or (c) the hot key's VALUES still exceed one
    * task's memory after AQE's byte-based split (salting also spreads the
    * build side).
    */
  val saltedSkewJoin: QueryDef = QueryDef(
    "salted_skew_join",
    (s, d) => {
      val dim = Tables.events(s, d)
        .select(col("event_type")).distinct()
        .withColumn("w", length(col("event_type")).cast("double"))
      val dimSalted = dim
        .withColumn("salt", explode(expr("sequence(0, 7)")))
      val fact = Tables.events(s, d)
        .withColumn("salt", (col("event_id") % 8).cast("int"))
      fact.join(dimSalted, Seq("event_type", "salt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Num.sum2(col("value") * col("w")).as("sum_wv"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      WITH dim AS (SELECT DISTINCT event_type,
                          CAST(length(event_type) AS DOUBLE) AS w FROM events)
      SELECT e.event_type, count(*) AS n,
             ${Num.sqlSum2("e.value * d.w")} AS sum_wv
      FROM events e JOIN dim d USING (event_type)
      GROUP BY 1 ORDER BY 1
    """),
    doc = "skew salting: fact salt + dim explode x8; identical results to plain join")

  /** Big-big shuffle join: lineitem ⋈ part on partkey (neither side
    * broadcastable at 100 TB) → brand-level revenue rollup. Plans as a
    * shuffled join on the key both sides; with both tables bucketed by
    * partkey the exchanges disappear entirely (proved in BucketingSpec).
    */
  val bigJoinBrand: QueryDef = QueryDef(
    "big_join_brand",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          // exact decimal product (2dp x 2dp = exact 4dp), exact sum, then
          // deterministic floor-rounding — a double product would hit the
          // decimal-cast midpoint divergence between the engines
          graft.core.Text.hround(
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1.0) - col("l_discount")).cast("decimal(8,2)"))
              .cast("double"), 2).as("revenue"))
        .orderBy(col("p_brand")),
    Some(s"""
      SELECT p.p_brand, count(*) AS n_items,
             ${graft.core.Text.sqlHround(
               "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * " +
                 "CAST(1.0 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE)", 2)} AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1 ORDER BY 1
    """),
    doc = "big-big shuffle join lineitem x part, brand revenue rollup")

  /** Range (interval-containment) join — count the orders falling inside
    * each of a set of derived date windows (per-priority 46-day campaign
    * windows starting at the priority's first order of the year). A naive
    * formulation is a non-equi join that Catalyst can only plan as a
    * nested-loop scan of every (row, interval) pair; the scale-safe
    * formulation used here buckets BOTH sides — each interval explodes into
    * the month buckets it overlaps (sequence + explode, bounded fan-out),
    * the fact computes its month once, and the join is a plain hash
    * equi-join on the bucket with the exact BETWEEN kept as a residual
    * filter. ScaleSpec's no-nested-loop audit holds over this plan; with a
    * 100 TB fact and millions of intervals the same plan shuffles by month
    * bucket instead of broadcasting.
    */
  val rangeJoin: QueryDef = QueryDef(
    "range_join",
    (s, d) => {
      // o_orderdate is a midnight TIMESTAMP in the fixture; work in DATE on
      // both sides so interval arithmetic agrees.
      val iv = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("iv_priority"),
          year(col("o_orderdate")).cast("int").as("yr"))
        .agg(min(to_date(col("o_orderdate"))).as("lo"))
        .withColumn("hi", date_add(col("lo"), 45))
      val ivm = iv.withColumn("mth",
        explode(sequence(trunc(col("lo"), "mm"), trunc(col("hi"), "mm"),
          expr("interval 1 month"))))
      Tables.orders(s, d)
        .withColumn("mth", trunc(to_date(col("o_orderdate")), "mm"))
        .join(broadcast(ivm), Seq("mth"))
        .filter(to_date(col("o_orderdate")).between(col("lo"), col("hi")))
        .groupBy(col("iv_priority"), col("yr"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("iv_priority"), col("yr"))
    },
    Some("""
      WITH iv AS (
        SELECT o_orderpriority AS iv_priority,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               min(CAST(o_orderdate AS DATE)) AS lo,
               min(CAST(o_orderdate AS DATE)) + 45 AS hi
        FROM orders GROUP BY 1, 2)
      SELECT iv_priority, yr, lo, hi, count(*) AS n_orders
      FROM iv JOIN orders o ON CAST(o.o_orderdate AS DATE) BETWEEN iv.lo AND iv.hi
      GROUP BY 1, 2, 3, 4 ORDER BY iv_priority, yr
    """),
    doc = "interval-containment join, bucketed to a hash equi-join (no NLJ)")

  /** MERGE/upsert — apply a change set to a snapshot with the three MERGE
    * actions (insert / update / keep) explicit in the output. Snapshot =
    * each user's latest `signup` value; changes = latest `purchase` value.
    * The fixture has every user in every event type, so the three
    * populations are carved deterministically by id-hash mod 3 (h%3=0
    * users exist only in the change set → insert; =1 only in the snapshot
    * → keep; =2 in both → update), mirrored in the oracle. The shape is
    * the scale shape: two window-dedup passes (WindowGroupLimit rank-1)
    * and ONE key-partitioned full outer join — `MERGE INTO` on any engine
    * lowers to exactly this plan.
    */
  val mergeUpsert: QueryDef = QueryDef(
    "merge_upsert",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("hm", Text.h32(col("user_id").cast("string")) % 3)
      def latest(tpe: String, excl: Int) = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.filter(col("event_type") === tpe && col("hm") =!= excl)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
      }
      val snap = latest("signup", 0)
        .select(col("user_id"), col("value").as("snap_value"))
      val chg = latest("purchase", 1)
        .select(col("user_id"), col("value").as("chg_value"))
      snap.join(chg, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          when(col("snap_value").isNull, "insert")
            .when(col("chg_value").isNull, "keep")
            .otherwise("update").as("action"),
          coalesce(col("chg_value"), col("snap_value")).as("value"))
        .orderBy(col("user_id"))
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, ts, event_type, value,
               ${Text.sqlH32("CAST(user_id AS VARCHAR)")} % 3 AS hm
        FROM events),
      snap AS (
        SELECT user_id, value AS snap_value FROM (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM ev WHERE event_type = 'signup' AND hm <> 0)
        WHERE rn = 1),
      chg AS (
        SELECT user_id, value AS chg_value FROM (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM ev WHERE event_type = 'purchase' AND hm <> 1)
        WHERE rn = 1)
      SELECT COALESCE(snap.user_id, chg.user_id) AS user_id,
             CASE WHEN snap.user_id IS NULL THEN 'insert'
                  WHEN chg.user_id IS NULL THEN 'keep'
                  ELSE 'update' END AS action,
             COALESCE(chg_value, snap_value) AS value
      FROM snap FULL JOIN chg ON snap.user_id = chg.user_id
      ORDER BY user_id
    """),
    doc = "MERGE/upsert: window-dedup'd snapshot + change set, one full outer join")

  /** Native as-of join twin of `asof_join`, run through the engine's
    * custom whole-operator Catalyst path (`plans/AsOfJoin.scala`:
    * AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec per-partition merge).
    * For every signup, the latest purchase by the same user at-or-before
    * the signup (inclusive, unlike `asof_join`'s strict <), carrying the
    * matched purchase's value as payload — the part the union+window
    * trick needs a join-back for, and the exec gets for free. Ties on
    * purchase ts break by event_id (greatest wins) on both sides.
    */
  val asofNative: QueryDef = QueryDef(
    "asof_join_native",
    (s, d) => {
      val signups = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("value").as("p_val"))
      graft.plans.AsOfJoin
        .leftJoin(signups, purchases,
          Seq("user_id"), Seq("p_user"), "ts", "p_ts", Seq("p_event_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("p_ts")).as("last_purchase_us"), col("p_val"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, last_purchase_us, p_val FROM (
        SELECT s.event_id, s.user_id,
               epoch_us(p.ts) AS last_purchase_us, p.value AS p_val,
               row_number() OVER (PARTITION BY s.event_id
                                  ORDER BY p.ts DESC, p.event_id DESC) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = s.user_id AND p.ts <= s.ts
      ) WHERE rn = 1
      ORDER BY event_id
    """),
    doc = "native as-of join exec (custom plan+strategy), payload carried through")

  /** Bloom-pruned semi-join reduction — the 100 TB fact-dim join
    * optimization made structural. Catalyst ships `BloomFilterAggregate`
    * / `BloomFilterMightContain` for AQE's runtime-filter injection but
    * keeps them out of the public registry; GraftExtensions installs them
    * as `graft_bloom_agg` / `graft_might_contain`, so the query builds the
    * filter instead of hoping the optimizer injects it. The dim side
    * (high-value orders, ~4% selectivity at every fixture SF) aggregates
    * its join keys into one KB-scale Bloom sketch (a mergeable aggregate:
    * one pass, partial blooms OR-merge), delivered to the fact scan as a
    * scalar subquery; fact rows failing `might_contain` never reach the
    * join shuffle, which carries ~selectivity × fact instead of the whole
    * fact table. False positives survive the prune but are removed by
    * the exact equi-join that follows, so the result is EXACTLY the
    * unpruned join — which is what the oracle checks (DuckDB runs the
    * plain join; any bloom false-NEGATIVE would show up as a missing row
    * / hash mismatch).
    * The temp-view name is session-unique per sfDir so concurrent
    * sessions never cross-wire sketches.
    */
  val bloomPrunedJoin: QueryDef = QueryDef(
    "bloom_pruned_join",
    (s, d) => {
      val view = ("graft_bf_" + d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        ProcessHandle.current().pid()).toLowerCase
      val dim = Tables.orders(s, d)
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      dim.agg(expr("graft_bloom_agg(xxhash64(o_orderkey), 100000L, 800000L)")
        .as("bf")).createOrReplaceTempView(view)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .filter(expr(
          s"graft_might_contain((SELECT bf FROM $view), xxhash64(l_orderkey))"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Num.sum2(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority, count(*) AS n_items,
             ${Num.sqlSum2("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 480000.0
      GROUP BY 1 ORDER BY 1
    """),
    doc = "Bloom-sketch semi-join reduction; exact join removes false positives")

  /** Geohash spatial bucketing of the station points — the standard
    * prefix-shareable spatial index key (Niemeyer's geohash: quantize
    * lat/lon, bit-interleave longitude-first MSB-first, base-32 encode;
    * here precision 4 = 20 bits = 10+10). Everything is exact integer
    * bit arithmetic after two floor quantizations of identical IEEE
    * operand chains, and the base-32 string is a pure per-5-bit
    * substring lookup — all in-plan, zero UDFs, mirrored
    * operator-for-operator in the oracle. The aggregate shuffles on the
    * cell key (bounded fanout, map-side combine); geohash prefixes are
    * what you'd range-partition or Z-order files by at 100 TB — this is
    * the key-derivation step for `zorder_cluster`-style layouts on
    * geo data.
    */
  val geohashCells: QueryDef = {
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    // interleaved 20-bit cell id: even bit positions (MSB-first) from
    // longitude, odd from latitude — the geohash bit order.
    val zSpark = (0 until 10).flatMap { i =>
      Seq(s"shiftleft(shiftright(x, ${9 - i}) & 1, ${19 - 2 * i})",
        s"shiftleft(shiftright(y, ${9 - i}) & 1, ${18 - 2 * i})")
    }.mkString(" + ")
    val zDuck = (0 until 10).flatMap { i =>
      Seq(s"(((x >> ${9 - i}) & 1) << ${19 - 2 * i})",
        s"(((y >> ${9 - i}) & 1) << ${18 - 2 * i})")
    }.mkString(" + ")
    val ghSpark = (0 until 4).map { k =>
      s"substr('$alpha', CAST(shiftright(z, ${15 - 5 * k}) & 31 AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")
    val ghDuck = (0 until 4).map { k =>
      s"substr('$alpha', CAST((z >> ${15 - 5 * k}) & 31 AS INTEGER) + 1, 1)"
    }.mkString("concat(", ", ", ")")
    QueryDef(
      "geohash_cells",
      (s, d) =>
        Tables.customer(s, d)
          .select(col("c_custkey").as("station_id"),
            expr(sqlSLat).as("slat"), expr(sqlSLon).as("slon"))
          .withColumn("x",
            floor((col("slon") + lit(180.0)) / lit(360.0) * lit(1024.0)))
          .withColumn("y",
            floor((col("slat") + lit(90.0)) / lit(180.0) * lit(1024.0)))
          .withColumn("z", expr(zSpark))
          .withColumn("gh4", expr(ghSpark))
          .groupBy(col("gh4")).agg(count(lit(1)).as("n_stations"))
          .orderBy(col("n_stations").desc, col("gh4"))
          .limit(25)
          .orderBy(col("gh4")),
      Some(s"""
        WITH st AS (SELECT c_custkey AS station_id,
                           $sqlSLat AS slat, $sqlSLon AS slon FROM customer),
        xy AS (SELECT station_id,
                 CAST(floor((slon + 180e0) / 360e0 * 1024e0) AS BIGINT) AS x,
                 CAST(floor((slat + 90e0) / 180e0 * 1024e0) AS BIGINT) AS y
               FROM st),
        zc AS (SELECT station_id, $zDuck AS z FROM xy),
        gh AS (SELECT station_id, $ghDuck AS gh4 FROM zc)
        SELECT gh4, n_stations FROM (
          SELECT gh4, count(*) AS n_stations FROM gh GROUP BY 1
          ORDER BY n_stations DESC, gh4 LIMIT 25)
        ORDER BY gh4
      """),
      doc = "geohash-4 spatial bucketing (bit-interleave + base32, exact ints)")
  }

  /** Point-in-polygon spatial join — region assignment without a GIS
    * library: stations (the sqlSLat/sqlSLon derivation, quantized to
    * integer centidegrees) are classified into three literal polygons
    * (a triangle, an L-shape, and a 10-vertex star — the non-convex
    * shapes are the point: parity ray casting must count up to 5
    * crossings on one ray) by the EVEN-ODD rule. The crossing test is
    * EXACT INTEGER arithmetic: the ray +x at y=py crosses edge
    * (x1,y1)-(x2,y2) iff (y1>py) ≠ (y2>py) (half-open at vertices, so a
    * ray through a vertex counts once, never 0 or 2) and
    * px < x-intersection, cross-multiplied by dy with a sign-aware flip
    * instead of divided — no float anywhere past the coordinate
    * quantization, so boundary points are deterministic on both engines
    * (|terms| ≤ 2e4·3e4 = 6e8, far inside BIGINT).
    *
    * Scale shape — the spatial-index prune, not the brute force: each
    * point lands in ONE 3000-unit grid cell (pure-integer floordiv on
    * shifted-nonnegative coords — truncation = floor only for nonneg,
    * and float division misbuckets exact multiples); each polygon's
    * bbox expands in-plan to its covered cells (tiny: ≤ ~60 (cell,
    * polygon) rows); candidates come from a broadcast EQUI-join on
    * (cx,cy), then the ≤ 19-row edge table broadcast-joins on pid and
    * the parity aggregate runs per (station, polygon). At 100 TB with
    * real polygon sets this is the standard cell-index → exact-test
    * pipeline; no cartesian anywhere. The ORACLE is deliberately the
    * BRUTE FORCE (points × all edges, no prune) — an independent
    * computation that proves the cell cover lost no candidate, the
    * ppjoin_jaccard oracle discipline. Containment tuned discriminating
    * at every SF (tri/lshape/star ≈ 12% of stations each: 18/16/15 at
    * sf0.001, 1836/1741/1988 at sf0.1).
    */
  /** Frame-in/frame-out core of [[pointInPolygon]], split out for the
    * property spec (the round-9 trio discipline — exact machinery gets
    * adversarial planted-input tests): `pts(station_id, ix, iy)` ×
    * `e(pid, x1, y1, x2, y2)` (all integer/long, coords within
    * [-5000,5000]×[-15000,15000]) → the (station_id, pid) containment
    * pairs under the half-open even-odd rule. Both the cell prune and
    * the exact crossing predicate live HERE so the spec exercises the
    * production path, not a copy.
    */
  private[graft] def pipContain(pts: DataFrame, e: DataFrame): DataFrame = {
    val C = 3000 // cell size; SX/SY shift coords nonneg for exact floordiv
    val (sx, sy) = (5000, 15000)
    val crossing =
      """CASE WHEN (y1 > iy) != (y2 > iy) THEN
        |  CASE WHEN y2 > y1
        |    THEN CASE WHEN (ix - x1) * (y2 - y1) < (iy - y1) * (x2 - x1)
        |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |    ELSE CASE WHEN (ix - x1) * (y2 - y1) > (iy - y1) * (x2 - x1)
        |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END END
        |ELSE CAST(0 AS BIGINT) END""".stripMargin
    // polygon bbox → covered grid cells (in-plan, tiny)
    val cells = e.groupBy(col("pid"))
      .agg(least(min("x1"), min("x2")).as("bx0"),
        greatest(max("x1"), max("x2")).as("bx1"),
        least(min("y1"), min("y2")).as("by0"),
        greatest(max("y1"), max("y2")).as("by1"))
      .withColumn("cx",
        explode(sequence(expr(s"(bx0 + $sx) div $C"),
          expr(s"(bx1 + $sx) div $C"))))
      .withColumn("cy",
        explode(sequence(expr(s"(by0 + $sy) div $C"),
          expr(s"(by1 + $sy) div $C"))))
      .select("pid", "cx", "cy")
    pts
      .withColumn("cx", expr(s"(ix + $sx) div $C"))
      .withColumn("cy", expr(s"(iy + $sy) div $C"))
      .join(broadcast(cells), Seq("cx", "cy"))
      .join(broadcast(e), Seq("pid"))
      .groupBy(col("station_id"), col("pid"))
      .agg(sum(expr(crossing)).as("ncross"))
      .filter(col("ncross") % 2 === 1)
      .select("station_id", "pid")
  }

  val pointInPolygon: QueryDef = {
    val polys: Seq[(String, Seq[(Int, Int)])] = Seq(
      "lshape" -> Seq((-4000, 0), (1000, 0), (1000, 4000), (-1000, 4000),
        (-1000, 9000), (-4000, 9000)),
      "star5" -> Seq((0, -2000), (1200, 10000), (4800, 11000),
        (2000, 13000), (3000, 15000), (0, 13500), (-3000, 15000),
        (-2000, 13000), (-4800, 11000), (-1200, 10000)),
      "tri" -> Seq((-4500, -12000), (4500, -9000), (-1500, -3000)))
    val edges: Seq[(String, Int, Int, Int, Int)] = polys.flatMap {
      case (pid, vs) => vs.zip(vs.tail :+ vs.head).map {
        case ((x1, y1), (x2, y2)) => (pid, x1, y1, x2, y2)
      }
    }
    val valuesSql = edges.map { case (p, x1, y1, x2, y2) =>
      s"('$p', $x1, $y1, $x2, $y2)"
    }.mkString(", ")
    QueryDef(
      "point_in_polygon_join",
      (s, d) => {
        import s.implicits._
        val e = edges.toDF("pid", "x1", "y1", "x2", "y2")
          .select(col("pid"), col("x1").cast("long"), col("y1").cast("long"),
            col("x2").cast("long"), col("y2").cast("long"))
        val pts = Tables.customer(s, d)
          .select(col("c_custkey").as("station_id"),
            expr(s"CAST(floor($sqlSLat * 100e0) AS BIGINT)").as("ix"),
            expr(s"CAST(floor($sqlSLon * 100e0) AS BIGINT)").as("iy"))
        pipContain(pts, e)
          .groupBy(col("pid")).agg(count(lit(1)).as("n_inside"),
            sum(col("station_id")).as("key_sum"))
          .select(col("pid").as("polygon"), col("n_inside"), col("key_sum"))
          .orderBy(col("polygon"))
      },
      Some(s"""
        WITH pts AS (
          SELECT c_custkey AS station_id,
                 CAST(floor($sqlSLat * 100e0) AS BIGINT) AS ix,
                 CAST(floor($sqlSLon * 100e0) AS BIGINT) AS iy
          FROM customer),
        e(pid, x1, y1, x2, y2) AS (VALUES $valuesSql),
        cr AS (
          SELECT p.station_id, e.pid,
                 CASE WHEN (y1 > iy) != (y2 > iy) THEN
                   CASE WHEN y2 > y1
                     THEN CASE WHEN (ix - x1) * (y2 - y1)
                                    < (iy - y1) * (x2 - x1)
                               THEN 1 ELSE 0 END
                     ELSE CASE WHEN (ix - x1) * (y2 - y1)
                                    > (iy - y1) * (x2 - x1)
                               THEN 1 ELSE 0 END END
                 ELSE 0 END AS c
          FROM pts p CROSS JOIN e),
        par AS (
          SELECT station_id, pid FROM cr GROUP BY 1, 2
          HAVING sum(c) % 2 = 1)
        SELECT pid AS polygon, count(*) AS n_inside,
               CAST(sum(station_id) AS BIGINT) AS key_sum
        FROM par GROUP BY 1 ORDER BY 1
      """),
      doc = "cell-index-pruned exact point-in-polygon join (brute-force oracle)")
  }

  val all: Seq[QueryDef] =
    Seq(pivotAlign, snapJoin, nearestWindow, nearestKnnIrregular, dimEnrich,
      asof, asofNative, saltedSkewJoin, bigJoinBrand, rangeJoin, mergeUpsert,
      bloomPrunedJoin, geohashCells, pointInPolygon)
}
