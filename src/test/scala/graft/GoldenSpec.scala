package graft

import org.apache.spark.sql.functions._

/** Pins the byte-for-byte sf0.001 output of the two queries the DuckDB
  * oracle cannot value-check (the Ratcliff/Obershelp similarity of the
  * reference's default spell check — `methods/spellingFix.py:201-268` —
  * has no SQL twin, so their CORRECTNESS rows are rows-only): any silent
  * drift in the spell apply path now fails CI instead of passing a
  * rows-only gate.
  *
  * Regenerating after an INTENDED semantic change:
  *   sbt 'testOnly graft.GoldenSpec'
  * prints the new hash in the failure message; paste it into
  * [[GoldenSpec.pinned]] once the output diff is confirmed intended.
  */
class GoldenSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Order- and partitioning-independent content hash: every row renders
    * to one string (columns in sorted-name order, nulls distinguished
    * from empty), rows sort on the driver, md5 over the concatenation.
    * sf0.001 is 500 docs — trivially collectable. */
  private def goldenHash(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    val cols = df.columns.sorted.toSeq
    val rows = df
      .select(concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
        .as("r"))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  GoldenSpec.pinned.foreach { case (name, pinnedHash) =>
    test(s"$name sf0.001 output matches the pinned golden hash") {
      val h = goldenHash(name)
      assert(h == pinnedHash, s"$name drifted; new hash = $h")
    }
  }
}

object GoldenSpec {
  /** Pinned sf0.001 output hash per query; every query registered with
    * `NoOracle` must appear here (QueryRegistrySpec checks). */
  val pinned: Map[String, String] = Map(
    "q_typofix_spell" -> "323cf5ef38c58d5fe78c10627418d096",
    "q_typofix_spell_scale" -> "323cf5ef38c58d5fe78c10627418d096")
}
