package graft

import java.nio.file.{Files, Paths}

/** Pins Verify's per-query dump: the output directory never outlives a
  * failed build, so the oracle compare cannot check an earlier run's
  * parquet as if it were this run's. */
class VerifyDumpSpec extends SparkSpec {

  private def withOut(body: String => Unit): Unit = {
    val out = Files.createTempDirectory("graft_verify_dump").toString
    try body(out)
    finally {
      val s = Files.walk(Paths.get(out))
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  test("a build that throws leaves no output dir, not the stale one") {
    withOut { out =>
      val stale = Paths.get(out, "q_x", "part-00000.parquet")
      Files.createDirectories(stale.getParent)
      Files.writeString(stale, "earlier run")
      val ok = Verify.dumpQuery(spark, "q_x",
        (_, _) => throw new IllegalStateException("boom"), "unused", out)
      assert(!ok)
      assert(!Files.exists(Paths.get(out, "q_x")))
    }
  }

  test("a build that succeeds replaces the earlier output") {
    withOut { out =>
      val stale = Paths.get(out, "q_x", "stale.parquet")
      Files.createDirectories(stale.getParent)
      Files.writeString(stale, "earlier run")
      val ok = Verify.dumpQuery(spark, "q_x",
        (s, _) => s.range(3).toDF("id"), "unused", out)
      assert(ok)
      assert(!Files.exists(stale))
      assert(spark.read.parquet(s"$out/q_x").count() == 3)
    }
  }
}
