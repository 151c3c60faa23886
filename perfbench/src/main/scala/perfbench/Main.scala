package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes what it measured as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file>
  * }}}
  *
  * `perfbench/run.py` is the entry point users call; it builds this,
  * runs it, checks outputs and prints the metrics.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The fixed-work calibration loop of `graft.Bench`: run whole on one
    * thread, or a quarter of it on every core, so its seconds measure the
    * host rather than the program.
    */
  private def calibrate(threads: Int, iterations: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        while (i < iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.println("")
      }, "perfbench-calibrate")
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def host(cores: Int): Map[String, Any] = {
    val load1 = Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    val memAvailMb = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .collectFirst { case l if l.startsWith("MemAvailable:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)
    // aggregate cpu jiffies: (steal, total), for the steal share of the run
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    Map("nproc" -> cores, "load1" -> load1, "mem_avail_mb" -> memAvailMb,
      "cpu_steal" -> (if (cpu.length > 7) cpu(7) else 0L), "cpu_total" -> cpu.sum,
      "calib_s" -> calibrate(1, 150000000),
      "calib_par_s" -> calibrate(cores, 37500000))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val hostStart = host(cores)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.silenceExpectedWindowWarnings()
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val trace = new Trace(spark.sparkContext)
    if (traced) spark.sparkContext.addSparkListener(trace.sparkListener)
    spark.streams.addListener(trace.queryListener)
    val c = new Ctx(spark, trace, work, seed, opt("seconds").toDouble, traced)
    var error: Option[String] = None
    try Workloads.All(workload)(c)
    catch { case e: Throwable =>
      error = Some(s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    // what the workload left behind: heap still used after full GCs,
    // once its broker, streams and results are gone (the pauses let
    // Spark's cleaner release what the first collection enqueued)
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val r = c.res
    val codec = if (traced) codecTiming(r.batches.asScala.toSeq) else Map.empty
    val out = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "error" -> error.orNull,
      "host_start" -> hostStart, "host_end" -> host(cores),
      "spark_boot_s" -> bootS, "cores" -> cores,
      "traced_s" -> c.tracedS,
      "setup_s" -> r.setupS.toSeq,
      "latency_ms" -> r.latency.asScala.toSeq.map { case (ms, t) => Seq(ms, t) },
      "records" -> r.records.get, "attempted" -> r.attempted.get,
      "failed" -> r.failed.get, "timed_s" -> r.timedS, "service_s" -> r.serviceS,
      "heap_live_mb" -> heapLiveMb,
      "checks" -> r.checks.toSeq.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> r.extra.toMap,
      "codec" -> codec,
      "spans" -> trace.spans.asScala.toSeq.map(s =>
        Seq(s.id, s.parent, s.req, s.name, s.start, s.end)),
      "jobs" -> trace.jobs.values.asScala.toSeq.map(j =>
        Map("job" -> j.job, "span" -> j.span, "stages" -> j.stages,
          "start" -> j.start, "end" -> j.end)),
      "stages" -> trace.stages.asScala.toSeq.map(s =>
        Map("stage" -> s.stage, "tasks" -> s.tasks, "run_ms" -> s.runMs,
          "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
          "module" -> Trace.module(s.callSite))),
      "counts" -> trace.counts.asScala.toSeq.map { case (n, v) => Seq(n, v) })
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(out))
    spark.stop()
    if (error.isDefined) sys.exit(1)
  }

  /** Median µs to decode, and to encode again, each of (up to 200 of)
    * the workload's own wire batches, after three warm-up rounds.
    */
  private def codecTiming(batches: Seq[Array[Byte]]): Map[String, Double] = {
    import graft.functions.RecordBatchCodec
    val sample = batches.take(Result.CodecSample)
    def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    (0 until 3).foreach(_ => sample.foreach(b =>
      RecordBatchCodec.decodeAll(b).foreach(RecordBatchCodec.encode)))
    val dec = sample.map { b =>
      val t = System.nanoTime(); val d = RecordBatchCodec.decodeAll(b)
      ((System.nanoTime() - t) / 1e3, d)
    }
    val enc = dec.map { case (_, d) =>
      val t = System.nanoTime(); d.foreach(RecordBatchCodec.encode)
      (System.nanoTime() - t) / 1e3
    }
    Map("encode_us_per_batch" -> median(enc), "decode_us_per_batch" -> median(dec.map(_._1)))
  }
}
