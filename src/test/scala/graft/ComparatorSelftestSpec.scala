package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs `tools/check_local_selftest.py` inside `sbt test` (r19 verdict
  * #5): the selftest pins the local pre-flight comparator to the
  * driver's real semantics (raw-column pandas sort + per-cell
  * hashability — the r18 three-ERR-row failure mode), but it only
  * protects anything if it actually RUNS. Wiring it here makes the
  * standard loop execute it on every `sbt test`, and makes its absence
  * (deleted script, broken python env) a loud test FAILURE rather than
  * a silently skipped convention. */
class ComparatorSelftestSpec extends AnyFunSuite {

  test("tools/check_local_selftest.py exists and passes") {
    val root = SparkSpec.repoRoot
    val script = new java.io.File(root, "tools/check_local_selftest.py")
    assert(script.exists(),
      s"$script is missing — the comparator selftest must exist and run")
    val pb = new ProcessBuilder("python3", script.getAbsolutePath)
    pb.directory(root)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    assert(code == 0,
      s"check_local_selftest.py failed (exit $code):\n$out")
    // the pinned cases must each have run — an early exit that
    // happens to return 0 must not read as coverage
    Seq("array output trips DRIVER_CRASH",
        "single-column array output trips DRIVER_CRASH",
        "to_json scalar projection passes",
        "oracle key without output dir trips MISSING_OUTPUT").foreach { marker =>
      assert(out.contains(marker), s"selftest output missing '$marker':\n$out")
    }
  }
}
