package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** Layer profile of board queries (test scope). Each run is cold
  * (`clearCache` first) and splits its wall time into
  *   - build: the `SparkEntry.queries(q)(spark, dir)` call, i.e. the
  *     eager work inside op construction, less the final plan's analysis;
  *   - plan: the final plan's Catalyst phases (`QueryPlanningTracker`);
  *   - exec: `toRdd.count()`, less its optimization and planning.
  * Spark work (jobs, tasks, shuffle, spill, GC) is split the same way by
  * the phase that launched each job, read from a `SparkListener`.
  *
  *   sbt "Test/runMain graft.Profile <q1,q2,…|all> [dir …]"
  *
  * Warms every query once at sf0.001, then runs each (query, dir) three
  * times and prints one JSON line: median/min/max wall, the median run's
  * split, and its busy core fraction (summed task time over wall × cores).
  * The median run's final AQE plan goes to
  * `target/profile/<query>.<dir name>.txt`.
  * Dirs default to sf0.1; cores to SPARK_GRAFT_CPUS, else all of them.
  */
object Profile {

  /** Spark work launched in one phase of a run. */
  final case class Work(jobs: Int, tasks: Int, shuffleMb: Double,
                        spillMb: Double, gcMs: Long, taskMs: Long)

  /** One cold run of one query; times in seconds. */
  final case class Sample(wallS: Double, buildS: Double, planS: Double,
                          execS: Double, build: Work, exec: Work,
                          busy: Double, finalPlan: String)

  private val PhaseKey = "graft.profile.phase"

  private def work(stages: Iterable[StageInfo], jobs: Int): Work = {
    val ms = stages.flatMap(s => Option(s.taskMetrics))
    Work(jobs, stages.map(_.numTasks).sum,
      ms.map(_.shuffleWriteMetrics.bytesWritten).sum / 1e6,
      ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum / 1e6,
      ms.map(_.jvmGCTime).sum, ms.map(_.executorRunTime).sum)
  }

  /** One cold run of `query` over `dir`. */
  def measure(spark: SparkSession, query: String, dir: String): Sample = {
    val sc = spark.sparkContext
    val run = System.nanoTime()
    val (buildTag, execTag) = (s"$run:build", s"$run:exec")
    val jobs = new ConcurrentLinkedQueue[String]()         // phase per job
    val stagePhase = new ConcurrentHashMap[Int, String]()
    val stages = new ConcurrentLinkedQueue[(String, StageInfo)]()
    val listener = new SparkListener {
      // the phase tag is a local property, so jobs that Spark launches
      // from its own threads (broadcasts, subqueries) carry it too
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .filter(t => t == buildTag || t == execTag).foreach { t =>
            jobs.add(t)
            e.stageIds.foreach(stagePhase.putIfAbsent(_, t))
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stagePhase.get(e.stageInfo.stageId))
          .foreach(t => stages.add(t -> e.stageInfo))
    }
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, buildTag)
      val df = SparkEntry.queries(query)(spark, dir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, execTag)
      df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      GraftListenerBus.drain(sc)
      // analysis is eager (inside the build call); optimization and
      // planning run lazily inside toRdd
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => k -> v.durationMs / 1e3 }
      val analysisS = phases.getOrElse(QueryPlanningTracker.ANALYSIS, 0.0)
      val planS = phases.values.sum
      val wallS = (t2 - t0) / 1e9
      def of(t: String) = work(stages.asScala.collect { case (`t`, s) => s },
        jobs.asScala.count(_ == t))
      val (build, exec) = (of(buildTag), of(execTag))
      Sample(wallS,
        buildS = math.max(0.0, (t1 - t0) / 1e9 - analysisS),
        planS = planS,
        execS = math.max(0.0, (t2 - t1) / 1e9 - (planS - analysisS)),
        build, exec,
        busy = (build.taskMs + exec.taskMs) / (wallS * 1e3 * sc.defaultParallelism),
        finalPlan = df.queryExecution.executedPlan.toString)
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def json(query: String, dir: String, cores: Int,
                   samples: Seq[Sample]): String = {
    val s = samples.sortBy(_.wallS)
    val m = s(s.size / 2)
    def split(f: Work => Any) = s"""{"build":${f(m.build)},"exec":${f(m.exec)}}"""
    f"""{"query":"$query","dir":"$dir","runs":${s.size},""" +
      f""""wall_median_s":${m.wallS}%.3f,"wall_min_s":${s.head.wallS}%.3f,""" +
      f""""wall_max_s":${s.last.wallS}%.3f,"build_s":${m.buildS}%.3f,""" +
      f""""plan_s":${m.planS}%.3f,"exec_s":${m.execS}%.3f,""" +
      s""""jobs":${split(_.jobs)},"tasks":${split(_.tasks)},""" +
      s""""shuffle_mb":${split(w => f"${w.shuffleMb}%.3f")},""" +
      s""""spill_mb":${split(w => f"${w.spillMb}%.3f")},""" +
      s""""gc_ms":${split(_.gcMs)},""" +
      f""""busy":${m.busy}%.3f,"cores":$cores}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Profile <q1,q2,...|all> [dir ...]")
      sys.exit(2)
    }
    val queries =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dirs = if (args.length > 1) args.drop(1).toSeq else Seq("/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors), "graft-profile")
    val planDir = Files.createDirectories(Paths.get("target/profile"))
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.toRdd.count()
      catch { case scala.util.control.NonFatal(_) => } // the measured runs report it
    }
    for (q <- queries; dir <- dirs) {
      val name = Paths.get(dir).getFileName.toString
      try {
        val samples = Seq.fill(3)(measure(spark, q, dir))
        Files.writeString(planDir.resolve(s"$q.$name.txt"),
          samples.sortBy(_.wallS).apply(1).finalPlan + "\n")
        println(json(q, name, spark.sparkContext.defaultParallelism, samples))
      } catch { case scala.util.control.NonFatal(e) =>
        val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n')
          .filter(_ >= ' ').replace("\\", "\\\\").replace("\"", "\\\"")
        println(s"""{"query":"$q","dir":"$name","error":"$msg"}""")
      }
    }
    spark.stop()
  }
}
