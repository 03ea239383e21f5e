package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Pipeline, PipelineJson, Profile}
import graft.PipelineJson.{J, JArr, JNum, JObj, JStr}
import graft.dedup.NearDup
import graft.plans.SequencePacking
import graft.sim.Similarity
import graft.sources.Csv
import graft.streaming.Events
import graft.text.{Bpe, BpeLearn1k, QualityFilters}

/** The planted ground truth a workload's inputs were generated with
  * (`truth.json`, written by gen.py). */
final case class Truth(j: J) {
  private def field(k: String): J = j match {
    case JObj(m) => m.getOrElse(k, sys.error(s"truth has no field $k"))
    case _ => sys.error(s"truth is not an object at $k")
  }
  def long(k: String): Long = field(k) match {
    case JNum(d) => d.toLong
    case other => sys.error(s"truth field $k is not a number: $other")
  }
  def str(k: String): String = field(k) match {
    case JStr(s) => s
    case other => sys.error(s"truth field $k is not a string: $other")
  }
  def arr(k: String): Seq[Truth] = field(k) match {
    case JArr(xs) => xs.map(Truth(_))
    case other => sys.error(s"truth field $k is not an array: $other")
  }
  def longs(k: String): Map[String, Long] = field(k) match {
    case JObj(m) => m.map { case (c, JNum(d)) => c -> d.toLong; case (c, _) =>
      sys.error(s"truth field $k.$c is not a number") }
    case other => sys.error(s"truth field $k is not an object: $other")
  }
  def asLong: Long = j match {
    case JNum(d) => d.toLong
    case other => sys.error(s"not a number: $other")
  }
}

object Truth {
  def load(dir: String): Truth =
    Truth(PipelineJson.parseJson(Files.readString(Paths.get(dir, "truth.json"))))
}

/** One client operation's result: the input rows it processed and the
  * check of its outputs, run by the caller outside the timed region. */
final case class OpOut(rows: Long, check: () => Seq[String])

/** A closed-loop workload: the caller times [[run]], then runs the check
  * and [[cleanup]] untimed before the next operation starts. */
trait Workload {
  def run(i: Int, tr: Tracer): OpOut
  /** Ground truth that needs the engine, computed once after the cold
    * pass (outside set-up time and outside every timed operation). */
  def prepareChecks(): Unit = ()
  /** Traced runs only: timings of lazy stages, by materializing each stage
    * boundary with a noop write and differencing successive prefixes. */
  def probe(): Map[String, Double] = Map.empty
  def cleanup(): Unit = ()
  /** Untimed (but checked) repeats of the cold operation before the first
    * timed one, for a JIT warm-up longer than one operation. */
  def warmups: Int = 0
  /** A run stops only after a whole number of rounds of this many
    * operations: the inputs of one round together are seed-independent. */
  def round: Int = 1
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String,
      work: String): Workload = name match {
    case "clean_interactive" => new CleanInteractive(spark, in, work)
    case "llm_corpus" => new LlmCorpus(spark, in)
    case "events_stream" => new EventsStream(spark, in, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(deleteTree(_)) finally s.close()
      }
      Files.delete(p)
    }

  /** Deletes the entries of `dir` whose names start with `prefix`. */
  def deleteUnder(dir: String, prefix: String): Unit = {
    val s = Files.list(Paths.get(dir))
    try s.filter(_.getFileName.toString.startsWith(prefix)).toArray
      .foreach(p => deleteTree(p.asInstanceOf[Path]))
    finally s.close()
  }

  def noopWrite(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  }

  /** Planted-null columns that every pipeline fills: all but the date
    * column, whose unparseable cells stay null timestamps by design. */
  def filledColumns(nulls: Map[String, Long]): Seq[String] =
    nulls.collect { case (c, n) if n > 0 && c != "shipdate" => c }.toSeq.sorted
}

/** The reference's web-app traffic: small seeded CSVs, each profiled, then
  * cleaned by a seed-drawn operator subset and written back as the CSV the
  * client downloads. */
final class CleanInteractive(spark: SparkSession, in: String, work: String)
    extends Workload {
  private val truth = Truth.load(in)
  private val requests = truth.arr("requests")
  private val outPrefix = "clean_out_"
  override val round: Int = truth.long("round").toInt

  def run(i: Int, tr: Tracer): OpOut = {
    // request 0 is the cold first one; the loop cycles through the rest
    val r = requests(if (i == 0) 0 else 1 + (i - 1) % (requests.length - 1))
    val out = s"$work/$outPrefix$i"
    val df = tr.span("sources.csv_read_s")(Csv.read(spark, s"$in/${r.str("file")}"))
    val prof = tr.span("profile.s")(Profile(df))
    val cfg = tr.span("pipeline.parse_ms", 1e3)(PipelineJson.parse(r.str("config_json")))
    val (cleaned, report) = tr.span("pipeline.run_s")(Pipeline.run(df, cfg))
    tr.span("sources.csv_write_s")(Csv.write(cleaned, out))
    tr.set("pipeline.stages_failed", report.stages.count(!_.ok).toDouble)
    OpOut(r.long("rows"), () => {
      // an unquoted empty field is a null, a quoted one ("") the empty
      // string that filling writes: only the former may count as null
      val back = spark.read.option("header", "true")
        .option("nullValue", "\u0000").csv(out)
      val row = back.agg(count(lit(1)), back.columns.toSeq.map(c =>
        count(when(col(c).isNull, 1)).as(c)): _*).head()
      val nulls = back.columns.zipWithIndex.map { case (c, k) =>
        c -> row.getLong(k + 1) }.toMap
      val planted = r.longs("nulls")
      Checks.profile(prof, r.long("rows"), r.long("dup_rows"), planted) ++
        Checks.stages(report, r.long("enabled").toInt) ++
        Checks.equal("output rows", row.getLong(0), r.long("expected_rows")) ++
        Checks.noNulls(nulls, Workload.filledColumns(planted))
    })
  }

  override def cleanup(): Unit = Workload.deleteUnder(work, outPrefix)
}

/** The LLM-data path: quality filter, exact and near-dup dedup, cluster
  * resolution, BPE token counts, sequence packing and IVF top-k. */
final class LlmCorpus(spark: SparkSession, in: String) extends Workload {
  private val truth = Truth.load(in)
  private val groups = truth.arr("groups").map(g => g.j match {
    case JArr(ms) => ms.map(Truth(_).asLong)
    case other => sys.error(s"bad group $other")
  })
  private val queryIds = truth.arr("queries").map(_.asLong)
  private val K = 10
  private val NList = 16
  private var reference: Seq[String] = Nil
  override def warmups: Int = 1

  private def docs = spark.read.parquet(s"$in/docs.parquet")
  private def emb = spark.read.parquet(s"$in/emb.parquet")
  private def queries = emb.where(col("vec_id").isin(queryIds: _*))
  private def kept(d: DataFrame) =
    QualityFilters.gopherRepetitionFilter(d, "text", maxDupWordFrac = 0.60,
      maxTopBigramCharFrac = 0.15, maxTopTrigramCharFrac = 0.15,
      maxDupFivegramCharFrac = 0.15)
  private def exact(d: DataFrame) = NearDup.exactDedup(kept(d), "text", "doc_id")
  private def counted(d: DataFrame) =
    Bpe.withTokenCount(exact(d), "text", "n_bpe", BpeLearn1k.Merges)

  private def topKRows(rows: Seq[Row]): Seq[String] = rows.map(r =>
    s"${r.getAs[Long]("query_id")}|${r.getAs[Long]("neighbor_id")}|" +
      s"${r.getAs[Double]("sim")}|${r.getAs[Long]("rank")}")

  override def prepareChecks(): Unit =
    reference = topKRows(Similarity.bruteForceTopK(emb, queries, K).collect().toSeq)

  def run(i: Int, tr: Tracer): OpOut = {
    val ex = exact(docs)
    val pairs = tr.span("dedup.minhash_pairs_s")(
      NearDup.minhashPairs(ex, "text", "doc_id", threshold = 0.5))
    if (tr.enabled) tr.set("dedup.pairs_out", pairs.count().toDouble)
    val clusters = tr.span("dedup.clusters_s")(NearDup.clusters(pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pack = tr.span("plans.pack_s")(
      SequencePacking.plan(counted(docs), "doc_id", "n_bpe", window = 2048)
        .agg(count(lit(1)), sum(col("n_tokens")),
          max(col("start_token") + col("n_tokens"))).head())
    val index = tr.span("sim.ivf_fit_s")(Similarity.fitIvfIndex(emb, NList))
    val top = tr.span("sim.topk_s")(Similarity.ivfTopK(emb, queries, K,
      nlist = NList, nprobe = NList, index = Some(index)).collect().toSeq)
    OpOut(truth.long("docs"), () =>
      Checks.clusters(clusters, groups) ++
        Checks.equal("packed docs", pack.getLong(0), truth.long("after_exact")) ++
        Checks.equal("packed token span", pack.getLong(2), pack.getLong(1)) ++
        Checks.sameRows("ivf top-k at nprobe == nlist vs brute force",
          topKRows(top), reference))
  }

  override def probe(): Map[String, Double] = {
    val d = docs.select("doc_id", "text")
    val read = Workload.noopWrite(d)
    val quality = Workload.noopWrite(kept(d))
    val ex = Workload.noopWrite(exact(d))
    val bpe = Workload.noopWrite(counted(d))
    Map("text.quality_s" -> (quality - read), "dedup.exact_s" -> (ex - quality),
      "text.bpe_count_s" -> (bpe - ex))
  }
}

/** The streaming path: seeded event files drained, one file per
  * micro-batch, through stateful sessionization and ingest-time exact
  * dedup, two concurrent queries into memory sinks. */
final class EventsStream(spark: SparkSession, in: String, work: String)
    extends Workload {
  private val truth = Truth.load(in)
  private val dir = s"$in/events"
  private val gap = truth.long("gap_s")
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private var reference: Seq[String] = Nil

  private def stream =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  private def sessionRow(u: Long, n: Long, start: Double, dur: Double) =
    f"$u|$n|$start%.6f|$dur%.6f"

  override def prepareChecks(): Unit =
    reference = Events.sessionize(spark.read.schema(schema).parquet(dir)
        .where(col("user_id") >= 0), gap)
      .collect().map(r => sessionRow(r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("start_sec"),
        r.getAs[Double]("duration_sec"))).toSeq

  /** Starts `df` into a memory sink; it stops once the files are drained. */
  private def start(name: String, df: DataFrame) =
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"$work/ckpt_$name")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

  def run(i: Int, tr: Tracer): OpOut = {
    val sess = s"perfbench_sessions_$i"
    val dedup = s"perfbench_dedup_$i"
    // both queries consume the same ingest side by side, as deployed
    val queries = Seq(
      start(sess, Events.streamingSessionize(stream, gap).toDF()),
      start(dedup, graft.ops.Dedup.streamingExact(stream, "ts", "1 hour",
        Seq("event_id"))))
    try queries.foreach(_.awaitTermination()) finally queries.foreach(_.stop())
    OpOut(truth.long("events"), () =>
      try {
        val got = spark.table(sess).where(col("user_id") >= 0).collect()
          .map(r => sessionRow(r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3))).toSeq
        val d = spark.table(dedup).where(col("user_id") >= 0)
          .agg(count(lit(1)), countDistinct(col("event_id"))).head()
        Checks.equal("sessions", got.length.toLong, truth.long("sessions")) ++
          Checks.sameRows("streamed sessions vs batch sessionize", got, reference) ++
          Checks.equal("deduplicated events", d.getLong(0),
            truth.long("distinct_events")) ++
          Checks.equal("distinct event ids", d.getLong(1),
            truth.long("distinct_events"))
      } finally {
        spark.catalog.dropTempView(sess)
        spark.catalog.dropTempView(dedup)
      })
  }

  override def cleanup(): Unit = Workload.deleteUnder(work, "ckpt_")
}
