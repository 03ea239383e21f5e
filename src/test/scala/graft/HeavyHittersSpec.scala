package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.functions.{HeavyHitters, MgSummary}
import graft.text.HeavyHitterTerms

/** Pins for the Misra–Gries sketch and the sketch→exact-verify heavy-
  * hitters operator: the unconditional recall guarantee (single stream
  * AND across merges — the property the deterministic final output
  * rests on), serialization, and the no-vocabulary-shuffle plan. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("MgSummary: every term above n/(k+1) survives, estimates never " +
      "overcount, adversarial decrement storms included") {
    val rnd = new Random(42)
    // zipf-ish stream over 200 terms + a decrement storm of singletons
    val stream = Seq.fill(5000)(s"t${rnd.nextInt(rnd.nextInt(200) + 1)}") ++
      (1 to 3000).map(i => s"unique$i")
    val m = new MgSummary(50)
    stream.foreach(m.add)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = stream.size.toDouble / (50 + 1)
    exact.foreach { case (t, c) =>
      if (c > bound)
        assert(m.estimate(t) > 0L, s"$t has $c > $bound but was evicted")
      assert(m.estimate(t) <= c, s"$t overcounted: ${m.estimate(t)} > $c")
    }
    assert(m.size <= 50)
  }

  test("MgSummary: the PODS'12 merge preserves the guarantee across " +
      "partition splits, and serialization round-trips") {
    val rnd = new Random(7)
    val stream = Seq.fill(8000)(s"t${rnd.nextInt(rnd.nextInt(300) + 1)}")
    val parts = stream.grouped(1000).map { chunk =>
      val s = new MgSummary(40); chunk.foreach(s.add)
      // exercise the wire format on every partial
      MgSummary.deserialize(s.serialize())
    }.toSeq
    val merged = parts.reduceLeft { (a, b) => a.mergeFrom(b); a }
    assert(merged.size <= 40)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = stream.size.toDouble / (40 + 1)
    exact.foreach { case (t, c) =>
      if (c > bound)
        assert(merged.estimate(t) > 0L,
          s"$t has $c > $bound but was lost in a merge")
      assert(merged.estimate(t) <= c, s"$t overcounted after merge")
    }
  }

  test("frequentTerms: exact counts, threshold semantics, and " +
      "partitioning-independence of the final output") {
    // 100 tokens: "hot" 30, "warm" 10, "cool" 5, 55 singletons
    val docs = (Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++
      Seq.fill(5)("cool") ++ (1 to 55).map(i => s"rare$i"))
      .grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
    val out = HeavyHitterTerms.frequentTerms(docs, "text", minFrac = 0.08)
      .orderBy("term").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("hot", 30L), ("warm", 10L)), // cool at 5% misses 8%
      "exact counts above the threshold, false candidates dropped")
    val re = HeavyHitterTerms.frequentTerms(
      docs.repartition(13), "text", minFrac = 0.08)
      .orderBy("term").collect()
    assert(re.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      out.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "output must not depend on partitioning")
  }

  test("frequentTerms: the sketch pass moves summaries, not the " +
      "vocabulary (no hash exchange before the aggregate)") {
    val docs = Seq("a b c", "b c d").toDF("text")
    val toks = docs.select(explode(split(trim(lower(col("text"))), "\\s+"))
      .as("term"))
    val p = toks
      .agg(HeavyHitters.terms(col("term"), 10))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_heavy_hitters"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"the sketch aggregation must not shuffle the vocabulary:\n$p")
  }

  test("frequentTerms refuses a summary too small for the guarantee") {
    val docs = Seq("a b").toDF("text")
    intercept[IllegalArgumentException] {
      HeavyHitterTerms.frequentTerms(docs, "text", minFrac = 0.01,
        summarySize = 50)
    }
  }
}
