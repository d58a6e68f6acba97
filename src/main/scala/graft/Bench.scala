package graft

/** Driver-run benchmark: one JSON line with per-query steady-state seconds.
  *
  * The full registry (120+ queries × 2 passes) generates more hot codegen
  * methods than the JVM's code cache can hold — ReservedCodeCacheSize is
  * hard-capped at 2g, and past ~120 queries the JIT starts flush/recompile
  * cycling (measured: embed_near_dup 0.6 s → 10-20 s in-bench while ~2 s
  * isolated; the whole dedup family 2-3×). So above `MaxPerJvm` queries
  * the parent process shards the registry round-robin across SEQUENTIAL
  * child JVMs (same classpath and JVM options, including the 2g cache),
  * merges their per-query times, and emits the single JSON line the
  * driver expects. Each child warms up with a full pass over ITS slice
  * and reports min-of-two-passes, exactly like the single-JVM path.
  */
object Bench {

  /** Shard-size cap. The measured thrash ceiling is ~70 queries/JVM
    * (2g cache), but round 3's driver run showed 2×67 shards grazing it
    * (ann_recall 0.83→9.4 s, sql_shipping_priority 0.74→11.3 s — the
    * flush/recompile signature on the most codegen-heavy queries), so
    * the cap sits well below the cliff: 134 queries → 3 shards of ~45.
    */
  private val MaxPerJvm = 50

  /** Per-query min-of-passes seconds of the queries that never threw,
    * and the exception class of every query that threw in any pass.
    */
  final case class Timed(times: Map[String, Double], failed: Map[String, String]) {
    def ++(o: Timed): Timed = Timed(times ++ o.times, failed ++ o.failed)
  }

  def main(args: Array[String]): Unit = sys.env.get("SPARK_GRAFT_SHARD") match {
    case Some(spec) => // child: "i/n" — time my slice, print marked JSON
      val Array(i, n) = spec.split("/").map(_.toInt)
      val mine = shardNames(i, n)
      val r = timeQueries(mine)
      println("SHARD_RESULT {" + jsonField("queries", r.times) + "," +
        jsonField("failed", r.failed) + "}")
    case None =>
      val names = allNames
      if (names.size <= MaxPerJvm) emit(timeQueries(names))
      else {
        val n = math.ceil(names.size / MaxPerJvm.toDouble).toInt
        System.err.println(
          s"[bench] ${names.size} queries > $MaxPerJvm/JVM: $n sequential shards")
        emit((0 until n).map(i => spawnShard(i, n)).reduce(_ ++ _))
      }
  }

  /** Full registry in name order; SPARK_GRAFT_ONLY=q1,q2 restricts to a
    * subset (the sf1 scale probe times ~20 heavy queries per SF without
    * paying a full-registry pass — see SCALING.md). Unknown names fail
    * LOUDLY: a silent `filter` would let a typo'd probe run report
    * success over a partial/empty set and poison a pin or A/B read.
    */
  private[graft] def allNames: Seq[String] = {
    val base = SparkEntry.queries.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet).fold(base) { want =>
      val unknown = want -- base.toSet
      if (unknown.nonEmpty) sys.error(
        s"SPARK_GRAFT_ONLY names not in registry: ${unknown.toSeq.sorted.mkString(",")}")
      base.filter(want)
    }
  }

  /** Round-robin slice over NAME order: shards see similar mixes of
    * cheap/expensive queries, and family members (dedup_*, embed_*)
    * land in different JVMs. A weight-ordered deal (sort by committed
    * baseline seconds desc, then round-robin — round 7's stretch idea
    * for shard-mix robustness) was implemented and A/B-measured in
    * round 8 and LOST: co-locating queries of similar cost concentrated
    * the codegen-heaviest plans per JVM and the dedup family degraded
    * 1.8-2x in-bench (dup_clusters 2.9→5.0 s, paraphrase_pairs
    * 1.3→2.7 s, same box, minutes apart; name-dealt totals 93-109 s vs
    * weight-dealt 102-141 s). Name order is also stable when
    * bench_baseline.json is absent or stale — the deal never depends on
    * prior timings.
    *
    * COROLLARY for reading per-query deltas: when the registry grows,
    * the round-robin re-deals EVERY shard, and a query's in-bench time
    * moves ±30% with its new JVM cohort even when its isolated time
    * improved (round 10: lsh_recall_eval BenchOne 4.7→4.3 s after its
    * shared-corpus-pass dedup, yet in-bench 2.66→3.2 s calm — it now
    * co-locates with ann_recall20/bpe_merge_rounds/simhash_wide_near_dup,
    * all codegen-heavy — while ngram_jaccard_pairs dropped 1.54→0.50 s
    * in another shard). And host load stacks on top: round 10's final
    * bench flagged 3 queries >2× (lsh_recall_eval 6.28 s) that a
    * round-11 calm back-to-back pair measured entirely inside the guard
    * (2.9/3.2 s; zero regressions both runs, A/B median 1.01). So:
    * attribute cross-round per-query deltas to dealing/load FIRST, and
    * judge only calm same-commit pairs (scripts/bench_ab.py).
    */
  private[graft] def shardNames(i: Int, n: Int): Seq[String] =
    allNames.zipWithIndex.collect { case (q, j) if j % n == i => q }

  private def timeQueries(names: Seq[String]): Timed = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    // Two passes; report per-query MIN. Pass 1 doubles as JIT warmup
    // (codegen/HOF paths JIT per query: 2-5x on first execution); the min
    // also shields a single run from sporadic environment pauses.
    val results = timePasses(names, passes = 2)(name =>
      SparkEntry.queries(name)(spark, sfDir).count())
    spark.stop()
    results
  }

  /** Run every name once per pass, in order. A query that throws in ANY
    * pass is failed — reported by exception class, never timed, so it
    * can't lower the total (a throw used to count as -1 s) — and the
    * others report their min over the passes.
    */
  private[graft] def timePasses(names: Seq[String], passes: Int)(
      run: String => Unit): Timed = {
    val times = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to passes; name <- names) {
      val t0 = System.nanoTime()
      try {
        run(name)
        val t = (System.nanoTime() - t0) / 1e9
        times(name) = times.get(name).fold(t)(math.min(_, t))
      } catch { case e: Throwable => failed.getOrElseUpdate(name, e.getClass.getName) }
    }
    Timed(times.toMap -- failed.keys, failed.toMap)
  }

  /** Re-launch this JVM (same classpath + options) on shard i of n and
    * parse the child's SHARD_RESULT line. Children run sequentially —
    * each gets the whole machine, like the single-JVM bench.
    */
  private def spawnShard(i: Int, n: Int): Timed = {
    import scala.jdk.CollectionConverters._
    import scala.sys.process._
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmOpts ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    var line: Option[String] = None
    val logger = ProcessLogger(
      out => if (out.startsWith("SHARD_RESULT ")) line = Some(out),
      err => System.err.println(err))
    val code = Process(cmd, None, "SPARK_GRAFT_SHARD" -> s"$i/$n").!(logger)
    if (code != 0) System.err.println(s"[bench] shard $i/$n exit $code")
    line.map { l =>
      val json = l.stripPrefix("SHARD_RESULT ")
      Timed(parseQueries(json), parseFailed(json))
    }.getOrElse {
      System.err.println(s"[bench] shard $i/$n produced no result; " +
        "falling back to in-process timing for its slice")
      timeQueries(shardNames(i, n))
    }
  }

  /** `"name":{"k":v,...}`, string values quoted, numbers bare. */
  private def jsonField(name: String, m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v)         => s""""$k":$v"""
    }.mkString(s""""$name":{""", ",", "}")

  private def emit(results: Timed): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (full, compact) = report(results, baseline(), sfDir)
    println(full.replaceFirst("\"metric\":\"total\"", "\"metric\":\"total_detail\""))
    try {
      val out = java.nio.file.Paths.get("target", "bench_result.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] result file write failed: $e") }
    println(compact)
  }

  /** The full (detail, on-disk) and compact JSON lines of a run. `total`
    * sums the timed queries only; failed queries are listed by exception
    * class under `failed` on both lines and flagged as regressions (value
    * "failed"), so a throwing query is loud instead of a 1 s discount.
    */
  private[graft] def report(results: Timed, base: Map[String, Double],
      sfDir: String): (String, String) = {
    val total = results.times.values.sum
    // Regression guard: compare per-query vs the committed round baseline
    // (bench_baseline.json, refreshed each round). Queries above the 0.5 s
    // noise floor that run >2x slower are flagged — on stderr AND as an
    // extra JSON field — so a round never ships a silent perf regression.
    val regressions: Map[String, Any] =
      flagRegressions(results.times, base) ++ results.failed.map(_._1 -> "failed")
    if (regressions.nonEmpty)
      System.err.println("BENCH REGRESSIONS >2x vs bench_baseline.json: " +
        regressions.toSeq.sortBy(_._1).map {
          case (k, "failed") => s"$k (failed: ${results.failed(k)})"
          case (k, r)        => s"$k (${r}x)"
        }.mkString(", "))
    val regJson = jsonField("regressions", regressions)
    val failJson = jsonField("failed", results.failed)
    // The driver captures only the last ~2000 chars of stdout; a 130+
    // query line overflows that and round 3's total was unrecoverable
    // ("parsed": null). So: full JSON first (whole-stdout parsers), the
    // durable copy on disk, and a compact line LAST so any tail capture
    // always contains the round total and the regression verdict. Only
    // the compact line is tagged metric:"total" (the detail line is
    // "total_detail") so a whole-stdout parser matching metric==total
    // never sees two conflicting records; the on-disk copy keeps the
    // canonical "total" tag plus the per-query map.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",${jsonField("queries", results.times)},$regJson,$failJson,"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.times.size},$regJson,$failJson,"sf":"$sfDir","full":"target/bench_result.json"}"""
    (full, compact)
  }

  /** Queries that run >2x their baseline entry when the pin is above the
    * 0.5 s noise floor, PLUS (round 16, r15 verdict defect 2) >3x
    * blowups on SUB-0.5 s pins whose measured time itself exceeds 0.5 s
    * — the r15 driver run carried anomaly_zscore at 7.3x a 0.42 s pin
    * and the old pin>0.5 gate shipped it unflagged. The measured-time
    * floor keeps pure sub-noise jitter (0.05->0.2 s) out while a genuine
    * small-pin blowup (0.42->3.05 s) is loud. Ratios rounded to 2 dp.
    * Pure so BenchShardSpec can exercise the guard against the COMMITTED
    * baseline file — round 8 shipped with this guard silently dead
    * (parseQueries required the compact token `"queries":{` while the
    * refreshed baseline was pretty-printed with a space), masking a real
    * 13-query >2x tail.
    */
  private[graft] def flagRegressions(
      results: Map[String, Double],
      base: Map[String, Double]): Map[String, BigDecimal] =
    if (base.isEmpty) Map.empty
    else results.collect {
      case (name, t)
          if t > 0 && base.get(name).exists(o =>
            (o > 0.5 && t > 2 * o) || (o > 0 && o <= 0.5 && t > 0.5 && t > 3 * o)) =>
        name -> BigDecimal(t / base(name)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    }

  /** Per-query seconds from bench_baseline.json (empty if absent). The
    * driver's BENCH_r{N}.json wraps the metric line escaped inside a
    * "tail" field — unescape before searching so both the raw line and
    * the wrapped form parse.
    */
  private[graft] def baseline(): Map[String, Double] =
    try parseQueries(
      scala.io.Source.fromFile("bench_baseline.json").mkString
        .replace("\\\"", "\""))
    catch { case _: Throwable => Map.empty }

  private val QueriesObj =
    """(?s)"queries"\s*:\s*\{(.*?)\}""".r
  private val Entry =
    """"([^"]+)"\s*:\s*(-?[0-9][0-9.eE+\-]*)""".r
  private val FailedObj =
    """(?s)"failed"\s*:\s*\{(.*?)\}""".r
  private val FailedEntry =
    """"([^"]+)"\s*:\s*"([^"]*)"""".r

  /** Pull the flat "queries":{...} object out of a JSON blob of
    * name -> seconds (no nesting inside the object). MUST tolerate
    * arbitrary whitespace around `:` and `{`: the committed baseline may
    * be pretty-printed by external tooling, and an exact-token match
    * here is precisely the round-8 dead-guard bug.
    */
  private[graft] def parseQueries(txt: String): Map[String, Double] =
    QueriesObj.findFirstMatchIn(txt) match {
      case None => Map.empty
      case Some(m) =>
        Entry.findAllMatchIn(m.group(1)).flatMap { e =>
          try Some(e.group(1) -> e.group(2).toDouble)
          catch { case _: NumberFormatException => None }
        }.toMap
    }

  /** The "failed":{name: exceptionClass} object of a bench JSON line. */
  private[graft] def parseFailed(txt: String): Map[String, String] =
    FailedObj.findFirstMatchIn(txt).fold(Map.empty[String, String])(m =>
      FailedEntry.findAllMatchIn(m.group(1)).map(e => e.group(1) -> e.group(2)).toMap)
}
