package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.util.CacheHygiene

/** One benchmark run: set-up plus cold first pass, then a closed loop of
  * operations for the time budget, one client thread.
  *
  *   Main --workload W --inputs DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --cores N
  *
  * Untraced runs time every operation. Traced runs pair every traced
  * operation with an untraced one on the same input, so the layer account
  * and its overhead come from the same run. The result (metrics, failures,
  * versions) is written to `--out` as JSON; perfbench/run.py turns it into
  * the benchmark's line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Bench's split sizing for local-scale inputs
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (256L << 10).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val w = Workload(name, spark, a("inputs"), work)
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0

    /** One operation: timed run, `afterRun`, then (untimed) check and
      * hygiene. Returns its wall seconds and input rows. */
    def attempt(i: Int, tr: Tracer, afterRun: () => Unit = () => ())
        : (Double, Long) = {
      attempted += 1
      val before = CacheHygiene.snapshot(spark)
      val t = System.nanoTime()
      val r = Try(w.run(i, tr))
      val done = System.nanoTime()
      afterRun()
      val errs = r match {
        case Success(o) => Try(o.check()) match {
          case Success(es) => es
          case Failure(e) => Seq(s"check threw $e")
        }
        case Failure(e) => Seq(s"threw $e")
      }
      CacheHygiene.releaseNew(spark, before)
      w.cleanup()
      if (errs.nonEmpty) {
        failed += 1
        if (failures.length < 20) failures ++= errs.take(5).map(e => s"op $i: $e")
      }
      ((done - t) / 1e9, r.map(_.rows).getOrElse(0L))
    }

    var setupS = 0.0
    attempt(0, NoTrace, () => {
      setupS = (System.nanoTime() - t0) / 1e9
      w.prepareChecks()
    })
    for (_ <- 1 to w.warmups) attempt(0, NoTrace)

    val timed = mutable.ArrayBuffer[(Double, Long)]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val tracedWall = mutable.ArrayBuffer[Double]()
    def untraced(input: Int): Unit = {
      val (dt, rows) = attempt(input, NoTrace)
      timed += ((dt, rows))
      println(f"[perfbench] op $input $dt%.3f s $rows rows")
    }
    def traced(lt: LayerTrace, input: Int): Unit = {
      lt.begin()
      // the trace ends before the check, whose jobs are the harness's
      var l = Map.empty[String, Double]
      val (dt, _) = attempt(input, lt, () => l = lt.end())
      layers += l ++ w.probe()
      tracedWall += dt
      println(f"[perfbench] op $input traced $dt%.3f s ${Json.value(layers.last)}")
    }
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    val tracer = if (tracing) Some(new LayerTrace(spark, cores)) else None
    // at least two timed operations (two pairs in a traced run), whatever
    // the time budget
    var input = 1
    while (elapsed < seconds || timed.length < 2 ||
        timed.length % w.round != 0) {
      tracer match {
        // a traced run pairs each traced operation with an untraced one on
        // the same input, alternating which of the two goes first
        case Some(lt) if input % 2 == 0 => traced(lt, input); untraced(input)
        case Some(lt) => untraced(input); traced(lt, input)
        case None => untraced(input)
      }
      input += 1
    }

    val persisted = CacheHygiene.persistedCount(spark)
    if (persisted != 0) failures += s"$persisted RDDs still persisted at the end"
    val dts = timed.map(_._1).toSeq
    val peakRss = peakRssMb()
    val endToEnd = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> Quantiles.median(timed.map(_._2.toDouble).toSeq) /
        Quantiles.median(dts),
      "request_p50_ms" -> Quantiles.median(dts) * 1e3,
      "heap_live_mb" -> liveHeapMb())
    val perLayer: Map[String, Double] =
      if (!tracing) Map.empty
      else {
        val names = layers.flatMap(_.keys).distinct
        names.map(n => n -> Quantiles.median(layers.flatMap(_.get(n)).toSeq)).toMap ++
          Map("spark.persisted_rdds_end" -> persisted.toDouble,
            "jvm.peak_rss_mb" -> peakRss,
            "trace.overhead_frac" ->
              (Quantiles.median(tracedWall.toSeq) / Quantiles.median(dts) - 1.0))
      }

    val out = Json.obj(
      "correct" -> (failed == 0 && persisted == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "ops_timed" -> dts.length,
      "ops_traced" -> tracedWall.length,
      "op_ms" -> dts.map(_ * 1e3),
      "peak_rss_mb" -> peakRss,
      "request_tail" -> Quantiles.highestTail(dts).map { case (q, v) =>
        Map("q" -> q, "ms" -> v * 1e3) },
      "versions" -> Map(
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version,
        "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "master" -> spark.sparkContext.master))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
    sys.exit(0)
  }

  /** Heap in use once collection has settled, in MB: collect until the
    * used heap stops shrinking, because Spark's context cleaner frees
    * broadcast blocks and shuffle state only after the collection that
    * found them unreachable. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = Long.MaxValue
    var cur = collect()
    var rounds = 0
    while (cur < last * 0.99 && rounds < 10) {
      Thread.sleep(200)
      last = cur
      cur = collect()
      rounds += 1
    }
    cur / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case s: String => str(s)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => s"${str(k)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
