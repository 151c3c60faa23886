package graft

import org.apache.spark.GraftListenerBus

class ProfileSpec extends SparkSpec {
  test("Profile.measure splits a cold run into build/plan/exec and leaves no listener") {
    val sc = spark.sparkContext
    spark.range(1).count() // Spark adds its own SQL listener on first use
    val listeners = GraftListenerBus.listenerCount(sc)
    val s = Profile.measure(spark, "q_dedup_clusters", sf)
    assert(GraftListenerBus.listenerCount(sc) === listeners)
    assert(s.buildS + s.planS + s.execS <= s.wallS + 1e-6)
    // connectedComponents runs its convergence jobs while the op is built
    assert(s.build.jobs > 0)
    assert(s.exec.jobs > 0)
  }
}
