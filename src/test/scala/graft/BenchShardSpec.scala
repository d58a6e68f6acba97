package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's JVM-sharding must be an exact partition of the registry:
  * a dropped query silently under-reports the bench; a duplicated one
  * double-counts its time in the total.
  */
class BenchShardSpec extends AnyFunSuite {
  test("shards partition the query registry exactly, for any shard count") {
    val all = Bench.allNames
    for (n <- 1 to 5) {
      val shards = (0 until n).map(Bench.shardNames(_, n))
      assert(shards.flatten.sorted === all.sorted, s"n=$n not a partition")
      assert(shards.flatMap(identity).distinct.size === all.size)
      // round-robin keeps shard sizes within 1 of each other
      assert(shards.map(_.size).max - shards.map(_.size).min <= 1)
    }
  }

  /** Round-8 postmortem: the regression guard was silently dead because
    * parseQueries required the compact token `"queries":{` while the
    * committed bench_baseline.json was pretty-printed (`"queries": {`).
    * This test round-trips the COMMITTED file — if a future re-pin
    * changes its formatting in a way the parser can't read, the guard
    * dies again and this goes red instead.
    */
  test("committed bench_baseline.json parses non-empty and covers the registry") {
    val b = Bench.baseline()
    assert(b.nonEmpty, "baseline() returned empty: regression guard is dead")
    assert(b.size >= 200, s"baseline has only ${b.size} entries")
    // every baseline entry is a plausible seconds value
    assert(b.values.forall(v => v > 0 && v < 600))
    // the baseline should cover the current registry (new queries get
    // appended at re-pin time; a large gap means the pin is stale)
    val missing = Bench.allNames.filterNot(b.contains)
    assert(missing.size <= 10, s"baseline missing ${missing.size}: $missing")
  }

  test("parseQueries tolerates compact, pretty-printed, and escaped JSON") {
    val compact = """{"metric":"total","queries":{"a":1.5,"b":0.25},"sf":"x"}"""
    val pretty = "{\"metric\": \"total\", \"queries\": {\n  \"a\": 1.5,\n  \"b\": 0.25\n}, \"sf\": \"x\"}"
    val expected = Map("a" -> 1.5, "b" -> 0.25)
    assert(Bench.parseQueries(compact) === expected)
    assert(Bench.parseQueries(pretty) === expected)
    assert(Bench.parseQueries("no queries here") === Map.empty)
  }

  test("regression guard flags a synthetic 3x entry against the committed baseline") {
    val b = Bench.baseline()
    assert(b.nonEmpty)
    // pick a real query comfortably above the 0.5 s noise floor
    val (name, base) = b.maxBy(_._2)
    assert(base > 0.5)
    val flagged = Bench.flagRegressions(Map(name -> base * 3), b)
    assert(flagged.contains(name), s"3x run of $name not flagged")
    assert(flagged(name) === BigDecimal(3).setScale(2))
    // within 2x is NOT flagged
    assert(Bench.flagRegressions(Map(name -> base * 1.9), b).isEmpty)
  }

  test("sub-0.5s-pin guard (r15 verdict defect 2): >3x blowups flag when the run exceeds 0.5s") {
    val b = Map("tiny" -> 0.42, "micro" -> 0.05, "big" -> 2.0)
    // the anomaly_zscore shape: 0.42 s pin, 3.05 s run -> must flag now
    val blown = Bench.flagRegressions(Map("tiny" -> 3.05), b)
    assert(blown.contains("tiny") && blown("tiny") > 7)
    // sub-noise jitter on a tiny pin (run itself under 0.5 s) stays quiet
    assert(Bench.flagRegressions(Map("micro" -> 0.2), b).isEmpty)
    // a small pin within 3x stays quiet even above the run floor
    assert(Bench.flagRegressions(Map("tiny" -> 1.2), b).isEmpty)
    // the classic >0.5 s pin rule is unchanged (2x threshold)
    assert(Bench.flagRegressions(Map("big" -> 4.2), b).contains("big"))
    assert(Bench.flagRegressions(Map("big" -> 3.9), b).isEmpty)
  }

  test("a planted throwing query is failed by class, flagged, and kept out of the total") {
    val timed = Bench.timePasses(Seq("ok", "boom", "flaky"), passes = 2) {
      var flakyRuns = 0
      name => name match {
        case "boom" => throw new IllegalStateException("planted")
        case "flaky" =>
          flakyRuns += 1
          if (flakyRuns == 2) throw new ArithmeticException("planted, pass 2 only")
        case _ => ()
      }
    }
    assert(timed.times.keySet === Set("ok"))
    assert(timed.failed === Map(
      "boom" -> "java.lang.IllegalStateException",
      "flaky" -> "java.lang.ArithmeticException"))
    val ok = timed.times("ok")
    val (full, compact) = Bench.report(timed, Map("ok" -> 10.0, "boom" -> 1.0), "sfX")
    for (line <- Seq(full, compact)) {
      assert(Bench.parseFailed(line) === timed.failed, line)
      assert(line.contains(s""""value":$ok,"""), s"total is not the timed sum: $line")
      assert(line.contains(""""regressions":{"boom":"failed","flaky":"failed"}"""), line)
    }
    assert(Bench.parseQueries(full) === Map("ok" -> ok))
    assert(Bench.parseFailed("""{"queries":{"a":1.0},"failed":{}}""").isEmpty)
  }
}
