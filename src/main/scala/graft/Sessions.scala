package graft

import org.apache.spark.sql.SparkSession

/** The one local session conf of the driver-side mains (Bench, Verify)
  * and the test-scope tools (Profile, LakeInteropProbe, ScaleProbe), so
  * a number or a result from one of them holds for the others.
  */
object Sessions {

  /** AQE's initial shuffle width: shuffles are sized to the DATA, not
    * the core count. The gram-explode family funnels a ~4·|words| stream
    * through distinct/aggregate, and at a fixed 32 partitions each
    * reduce task holds 1/32 of it in its hash map; under memory pressure
    * that spills and the family degrades 3-7× (BENCH_r13). A wide start
    * gives the big shuffles data-proportional task counts, and AQE
    * coalesces every small shuffle back down.
    */
  private val InitialShufflePartitions = 256

  def local(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        InitialShufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.silenceExpectedWindowWarnings()
    spark
  }
}
