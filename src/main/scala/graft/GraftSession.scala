package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every entry point (tests, Verify,
  * Bench, driver harness) must share.
  *
  * Scale notes (the library targets a 1000-executor cluster; local[32] is
  * only the test harness):
  *   - `spark.sql.shuffle.partitions` is sized to the harness (32); on a
  *     real cluster AQE coalescing makes the static number mostly moot.
  *   - AQE is on: runtime broadcast-join conversion + skew-join splitting
  *     are load-bearing for the join-heavy query surface (SURVEY §2.3).
  *   - Session time zone is pinned to UTC so timestamp semantics match the
  *     DuckDB oracle byte-for-byte.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // explicit, not default-dependent: AQE must split skewed shuffle
      // partitions (the unplanned complement to SkewJoin.saltedJoin)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pruning: a selective join's build side
      // seeds a bloom filter pushed into the probe scan — at 100 TB
      // this is row-group pruning for fact⋈filtered-dim joins; at
      // fixture scale the creation-side threshold keeps it dormant
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // custom Catalyst expressions (uint256 arithmetic) land in the
      // FunctionRegistry via the standard extensions mechanism
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Parquet timestamps in the test fixtures are written without
      // timezone (isAdjustedToUTC=false); read them as TIMESTAMP_NTZ so
      // round-tripping through our result parquet preserves the exact
      // values the DuckDB oracle sees.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read it as a long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The session of a dev entry point (`Bench`, `Verify`, the
    * `graft.tools` mains): master `SPARK_GRAFT_MASTER`, else
    * `local[$SPARK_GRAFT_CPUS]`, else one local thread per available
    * processor; shuffle partitions follow the CPU count. */
  def get(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    get(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
  }

  def get(master: String, shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
