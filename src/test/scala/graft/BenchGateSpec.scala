package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the quiet-host gate contract (Bench.quietGate, r13 verdict #1)
  * over injected probes — no real sleeping, no Spark session. The gate
  * exists because two consecutive rounds archived contention-inflated
  * bench totals; its failure modes (spins forever, passes a stolen host,
  * stalls on unreadable /proc) must be compile-time-adjacent. */
class BenchGateSpec extends AnyFunSuite {

  /** Deterministic harness: `load`/`steal` yield their sequences (last
    * value repeats); sleeps and probes advance a virtual clock. */
  private def run(maxWaitS: Double, load: Seq[Double], steal: Seq[Double],
      probeCostS: Double = 5.0): (Double, Double, Boolean) = {
    var clockNs = 0L
    var li = -1
    var si = -1
    Bench.quietGate(
      maxWaitS, maxLoad = 1.5, maxStealRate = 25.0,
      loadAvg = () => { li += 1; load(math.min(li, load.size - 1)) },
      stealRate = () => {
        si += 1
        clockNs += (probeCostS * 1e9).toLong
        steal(math.min(si, steal.size - 1))
      },
      sleep = ms => clockNs += ms * 1000000L,
      now = () => clockNs)
  }

  test("quiet host passes on the first probe") {
    val (wait, rate, contended) = run(120, load = Seq(0.3), steal = Seq(0.2))
    assert(!contended && rate == 0.2)
    assert(wait >= 5.0 && wait < 6.0) // exactly one 5 s probe
  }

  test("busy host waits for loadavg to decay, then passes") {
    val (wait, rate, contended) =
      run(120, load = Seq(4.0, 3.0, 2.0, 1.0), steal = Seq(0.0))
    assert(!contended && rate == 0.0)
    // three 5 s load sleeps + one 5 s probe
    assert(wait >= 20.0 && wait < 21.0, wait)
  }

  test("stolen host re-probes until the steal clears") {
    val (wait, _, contended) =
      run(120, load = Seq(0.5), steal = Seq(120.0, 80.0, 1.0))
    assert(!contended)
    assert(wait >= 15.0 && wait < 16.0, wait) // three probes
  }

  test("persistently contended host times out LOUD, never spins forever") {
    val (wait, rate, contended) =
      run(30, load = Seq(0.5), steal = Seq(500.0))
    assert(contended && rate == 500.0)
    assert(wait >= 30.0 && wait < 36.0, wait) // bounded just past budget
    // high loadavg forever: same bound, steal never probed
    val (w2, r2, c2) = run(30, load = Seq(9.9), steal = Seq(0.0))
    assert(c2 && r2 == -1.0 && w2 >= 30.0 && w2 < 36.0, (w2, r2))
  }

  test("unreadable /proc/stat (-1 sentinel) passes instead of stalling") {
    val (_, rate, contended) = run(120, load = Seq(0.5), steal = Seq(-1.0))
    assert(!contended && rate == -1.0)
  }

  test("archived times take min(first, re-time, re-run) ONLY for " +
      "re-timed rows (r15)") {
    val results = Map("q_a" -> 5.0, "q_b" -> 1.0, "q_c" -> 4.0)
    val retimed = Map("q_a" -> (5.0, 2.0), "q_c" -> (4.0, 4.5))
    val rerun = Map("q_a" -> 3.0) // q_c's re-run crashed → absent
    val got = Bench.archivedTimes(results, retimed, rerun)
    assert(got("q_a") == 2.0) // re-time was the best of the three
    assert(got("q_b") == 1.0) // untouched row keeps its first time
    assert(got("q_c") == 4.0) // first still best; crash ignored
  }

  test("whole-run re-pass triggers on >3 re-times or a >1.05x history " +
      "ratio, and self-labels when skipped (r16; threshold 1.15→1.05 " +
      "per the r18 verdict's ≤1.05 archive bar)") {
    assert(Bench.repassReason(disabled = true, 9, 9.9, hasHistory = true)
      == "disabled")
    assert(Bench.repassReason(disabled = false, 3, 1.04, hasHistory = true)
      == "not_needed")
    assert(Bench.repassReason(disabled = false, 4, 1.0, hasHistory = true)
      == "retimed_n=4")
    assert(Bench.repassReason(disabled = false, 0, 1.10, hasHistory = true)
      == "hist_ratio=1.10")
    // no history → no ratio evidence; the retimed count can still fire
    assert(Bench.repassReason(disabled = false, 0, 99.0, hasHistory = false)
      == "not_needed")
  }

  test("repass attribution arrays feed parseQueryTimes like retimed " +
      "ones: [0] is the cold baseline (r16)") {
    val txt = """{"metric":"total","value":9,"unit":"sec",""" +
      """"queries":{"q_a":2.0,"q_b":1.0,"q_c":0.9},""" +
      """"retimed":{"q_a":[5.0,2.5,2.0]},""" +
      """"repass":{"q_c":[3.0,0.9]},"repass_why":"retimed_n=4",""" +
      """"failed":[],"sf":"/root/testdata/sf0.1"}"""
    val m = Bench.parseQueryTimes(txt, Some("/root/testdata/sf0.1"))
    assert(m == Map("q_a" -> 5.0, "q_b" -> 1.0, "q_c" -> 3.0),
      s"repass mins are warm; their cold firsts must seed instead: $m")
  }

  test("results-file fallback baseline replaces re-timed rows' warm " +
      "mins with their cold first-run time (r16)") {
    val txt = """{"metric":"total","value":9,"unit":"sec",""" +
      """"queries":{"q_a":2.0,"q_b":1.0},""" +
      """"retimed":{"q_a":[5.0,2.5,2.0]},"failed":[],""" +
      """"sf":"/root/testdata/sf0.1"}"""
    val m = Bench.parseQueryTimes(txt, Some("/root/testdata/sf0.1"))
    // q_a's archived 2.0 is a warm min and must not seed a baseline,
    // but its retimed[0]=5.0 IS the valid cold first run — dropping the
    // key wholesale (the r15 behavior) cost it the re-time gate on the
    // next history-less run (r15 ADVICE)
    assert(m == Map("q_a" -> 5.0, "q_b" -> 1.0),
      s"retimed[0] is the cold baseline, the warm min is not: $m")
  }

  test("a results file self-declaring a non-lz4 codec never seeds a " +
      "baseline; codec-less and lz4 files still do (r19 ADVICE)") {
    def file(codecField: String) =
      """{"metric":"total","value":9,"unit":"sec",""" +
        """"queries":{"q_a":2.0},"failed":[],""" + codecField +
        """"sf":"/root/testdata/sf0.1"}"""
    val sf = Some("/root/testdata/sf0.1")
    assert(Bench.parseQueryTimes(file("\"codec\":\"zstd\","), sf).isEmpty,
      "zstd spill times must not min-merge into the lz4 history")
    assert(Bench.parseQueryTimes(file("\"codec\":\"lz4\","), sf)
      == Map("q_a" -> 2.0))
    // pre-r20 artifacts and history files carry no codec field = lz4
    assert(Bench.parseQueryTimes(file(""), sf) == Map("q_a" -> 2.0))
  }

  test("pretty-printed histories (space after colon) parse — the r20 " +
      "incident: a json.dumps round-trip made three scale histories " +
      "read empty and the next runs overwrote them") {
    val pretty = """{"q_a": 2.5, "q_b": 0.75}"""
    assert(Bench.parseQueryTimes(pretty, None)
      == Map("q_a" -> 2.5, "q_b" -> 0.75))
    val indented = "{\n  \"q_a\" : 2.5,\n  \"q_b\" :0.75\n}"
    assert(Bench.parseQueryTimes(indented, None)
      == Map("q_a" -> 2.5, "q_b" -> 0.75))
    // retimed/repass attribution arrays tolerate the same spacing
    val rt = """{"queries":{"q_a": 2.0},"retimed": {"q_a": [5.0, 2.5]},""" +
      """"failed":[],"sf":"x"}"""
    assert(Bench.parseQueryTimes(rt, None) == Map("q_a" -> 5.0))
  }

  test("the default history is keyed by sf AND core count, and the " +
      "results-file fallback only seeds from the same core count") {
    assert(Bench.historyFileName("/data/sf0.1", "4", 7168)
      == "bench_history_sf0.1_c4_x7168.json")
    assert(Bench.historyFileName("/tmp/sf1", "32", 49152)
      == "bench_history_sf1_c32_x49152.json")
    assert(Bench.historyFileName("/tmp/sf1", "8", 49152)
      != Bench.historyFileName("/tmp/sf1", "32", 49152))
    def file(cpusField: String) =
      """{"metric":"total","value":9,"unit":"sec",""" +
        """"queries":{"q_a":2.0},"failed":[],""" + cpusField +
        """"sf":"/data/sf0.1"}"""
    val sf = Some("/data/sf0.1")
    assert(Bench.parseQueryTimes(file("\"cpus\":\"4\","), sf, Some("4"))
      == Map("q_a" -> 2.0))
    assert(Bench.parseQueryTimes(file("\"cpus\":\"32\","), sf, Some("4"))
      .isEmpty, "a 32-core results file must not seed a 4-core baseline")
    assert(Bench.parseQueryTimes(file(""), sf, Some("4")).isEmpty,
      "a results file without a host shape cannot prove its core count")
  }

  test("the default history is keyed by the driver heap ceiling too") {
    assert(Bench.historyFileName("/data/sf0.1", "4", 7168)
      != Bench.historyFileName("/data/sf0.1", "4", 49152),
      "a 48 GB driver's cold floors must not seed a 7 GB run's re-time gate")
  }

  test("the results-file fallback only seeds from the same driver heap " +
      "ceiling") {
    def file(xmxField: String) =
      """{"metric":"total","value":9,"unit":"sec",""" +
        """"queries":{"q_a":2.0},"failed":[],"cpus":"4",""" + xmxField +
        """"sf":"/data/sf0.1"}"""
    val sf = Some("/data/sf0.1")
    assert(Bench.parseQueryTimes(file("\"xmx_mb\":7168,"), sf, Some("4"),
      Some(7168L)) == Map("q_a" -> 2.0))
    assert(Bench.parseQueryTimes(file("\"xmx_mb\":49152,"), sf, Some("4"),
      Some(7168L)).isEmpty, "a 48 GB driver's times must not seed a 7 GB baseline")
    assert(Bench.parseQueryTimes(file(""), sf, Some("4"), Some(7168L)).isEmpty,
      "a results file without xmx_mb cannot prove its heap ceiling")
    // histories carry no host shape and are read without the requirement
    assert(Bench.parseQueryTimes(file(""), sf, Some("4")) == Map("q_a" -> 2.0))
  }
}
