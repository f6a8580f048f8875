package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for materialized (localCheckpoint'd)
  * signature/posting tables (r16, guide §2.5 "input skew"/§6 small-files).
  *
  * At bench scale the corpus parquet is a single small file:
  * `spark.sql.files.openCostInBytes` (4 MiB) floors the split size, so the
  * scan — and every localCheckpoint built from it without an intervening
  * exchange — lands in 1-3 partitions, and each downstream pair-generation
  * or verify stage starts that narrow (measured: dedup_containment's whole
  * inverted-index join ran as ONE 1.0s task at sf0.1/32 cores). A
  * round-robin repartition to the session's default parallelism is added
  * ONLY when the plan is narrower than the core count: at real scale the
  * scan already carries more splits than cores and this is a no-op — no
  * shuffle is added to any 100 TB plan. */
object Par {
  /** Default widen target: 2-way, never above the core count. Measured
    * dose-response at sf0.1/local[32] (min-of-2 warm bench over the
    * dedup/corpus consumers): splitting the 1-partition materialized
    * tables halves the serialized pair-generation stages' wall (the
    * downstream AQE-coalesced stages stay width-bounded anyway), while
    * 8/16/32-way raised task-CPU 2-4× from per-task fixed cost +
    * concurrent working sets without further wall gain — and the
    * bench's time bar is 2x each query's baseline CPU, so the floor
    * stays deliberately minimal. Override with SPARK_GRAFT_WIDEN
    * (0 disables). */
  def widen(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // tolerant override parse (a typo must not kill the job) and clamped
    // to the core count — the scaladoc's "never above the core count" is
    // enforced, not just documented
    val p = sys.env.get("SPARK_GRAFT_WIDEN")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption.orElse {
        System.err.println(
          s"[graft] WARNING: SPARK_GRAFT_WIDEN='$v' is not an int — using default")
        None
      })
      .map(v => math.min(v, cores))
      .getOrElse(math.min(2, cores))
    if (p > 0 && df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
