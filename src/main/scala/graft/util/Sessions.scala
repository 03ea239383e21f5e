package graft.util

import org.apache.spark.sql.SparkSession

/** The one session recipe. Bench, Verify, the trainers, the probe CLI and
  * the specs all build their session from [[local]], so the plans the
  * oracle and the specs check are planned with the settings Bench times:
  * `Parallelize.bySize` and `Parallelize.singleSplit` read the split and
  * open-cost sizes below, and a session with other sizes can take the
  * other side of either gate. A caller adds only what is its own (Bench's
  * shuffle codec, the specs' app name) as one more builder call.
  * `SessionsSpec` keeps this the only place a builder is started. */
object Sessions {

  /** `local[cores]` with `cores` shuffle partitions, UTC session time,
    * parquet nanosecond timestamps read as longs, no UI, and the
    * local-scale split sizes. */
  def local(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Split size scaled to the corpus (the knob a real deployment
      // tunes per table size): the bench tables are 0.5 MB-350 MB, so
      // the 128 MB default put whole tables in ONE scan task and
      // serialized every no-shuffle stage (r15 finding — text-kernel
      // scaling ratios measured a single task's GC, not the engine).
      // 2 MB yields 5-170 splits on the multi-row-group bench files; at
      // real 100 TB scale files are 256 MB-1 GB and the default is
      // right — this is a local-bench-scale setting, not a library one.
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (256L << 10).toString)
}
