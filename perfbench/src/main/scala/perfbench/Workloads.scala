package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.facade.BrokerServer
import graft.functions.RecordBatchCodec
import graft.lake.TxLog
import graft.model.Model._
import graft.schema.SchemaRegistry
import graft.storage.ParquetStorage
import graft.streaming.Streaming

/** What one run measured, before any statistics: raw samples, counts and
  * check verdicts. `perfbench/metrics.py` turns it into metrics.
  */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Headline latency samples: (ms, taken while tracing was on). */
  val latency = new ConcurrentLinkedQueue[(Double, Boolean)]()
  val records = new AtomicLong(0)
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var timedS = 0.0
  /** Workload-specific figures and series, keyed by metric-like names. */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Up to [[Result.CodecSample]] wire batches the workload sent or
    * received, kept in traced runs only, for codec timing.
    */
  val batches = new ConcurrentLinkedQueue[Array[Byte]]()
  /** Seconds the program spent serving the timed requests, where the
    * workload's rate is set by its own clock rather than by the program.
    */
  var serviceS = 0.0

  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    checks += ((name, ok, detail))
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
  }
  def sample(ms: Double, traced: Boolean): Unit = { latency.add(ms -> traced); () }
}

object Result {
  val CodecSample = 200
}

/** Shared state of one run. A traced run records only while `trace.on`
  * and switches it so that the same process measures operations with
  * tracing off and on, which gives the tracing overhead.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path,
                val seed: Long, val seconds: Double, val traced: Boolean) {
  val res = new Result
  private var t0 = 0L
  private var onSince = 0L
  /** Seconds tracing was on, the base of per-second rates. */
  var tracedS = 0.0

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }
  def now(): Long = System.nanoTime()
  def ms(from: Long, to: Long = System.nanoTime()): Double = (to - from) / 1e6

  def setTrace(on: Boolean): Unit = synchronized {
    if (on != trace.on) {
      if (on) onSince = now() else tracedS += (now() - onSince) / 1e9
      trace.on = on
    }
  }

  def startTimed(): Unit = t0 = now()
  def elapsedS(): Double = (now() - t0) / 1e9
  /** True while the timed phase lasts. A traced run alternates slices
    * of two seconds untraced and traced, so warm-up and drift fall on
    * both sides alike.
    */
  def timing(): Boolean = {
    val el = elapsedS()
    if (traced) setTrace((el / 2).toInt % 2 == 1)
    el < seconds
  }
  def endTimed(): Unit = { res.timedS = elapsedS(); setTrace(false) }

  /** Keeps a wire batch for codec timing. Untraced runs keep none, so
    * the heap they report holds no harness copies of the traffic.
    */
  def keepBatch(b: Array[Byte]): Unit =
    if (traced && res.batches.size < Result.CodecSample) { res.batches.add(b); () }

  def setUp[T](f: => T): T = {
    val s = now(); val r = f; res.setupS += (now() - s) / 1e9; r
  }

  def thread(name: String)(f: => Unit): Thread = {
    val t = new Thread(() => f, s"perfbench-$name")
    t.start(); t
  }

  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
  /** Batch objects under a storage root's `log/`: `<base offset>.parquet`. */
  def batchFiles(root: String): Long = {
    val log = java.nio.file.Paths.get(root, "log")
    if (!Files.exists(log)) 0L
    else {
      val s = Files.walk(log)
      try s.iterator().asScala.count(_.getFileName.toString.matches("\\d{20}\\.parquet")).toLong
      finally s.close()
    }
  }
}

object Workloads {
  val All: Map[String, Ctx => Unit] = Map(
    "produce_small" -> produceSmall,
    "consume_backlog" -> consumeBacklog,
    "lake_cdc" -> lakeCdc,
    "dedup_docs" -> dedupDocs)

  /** A broker over fresh storage, with the recorder between them. */
  final class Broker(c: Ctx, name: String, registry: Option[SchemaRegistry] = None) {
    val root: String = c.dir(name)
    val storage = new ParquetStorage(c.spark, root, registry)
    val server = new BrokerServer(new RecordingStorage(storage, c.trace))
    def wire(conn: Int): Wire = new Wire(server.boundPort, conn, c.trace)
    def close(): Unit = server.close()
  }

  /** The records of a fetched blob, each with its absolute offset in `offsetDelta`. */
  private def decode(wire: Array[Byte]): Seq[RecordBatchCodec.Record] =
    RecordBatchCodec.decodeAll(wire).flatMap { b =>
      b.records.map(r => r.copy(offsetDelta = (b.baseOffset + r.offsetDelta).toInt))
    }

  /** Every record of one partition, by offset, fetched over the wire. */
  private def readAll(w: Wire, topic: String, p: Int)
      : (Map[Long, RecordBatchCodec.Record], Long) = {
    val out = mutable.Map.empty[Long, RecordBatchCodec.Record]
    var pos = 0L
    var hw = Long.MaxValue
    while (pos < hw) {
      val r = w.fetch(topic, p, pos, 8 << 20)
      if (r.error != 0) throw new IllegalStateException(s"fetch error ${r.error}")
      hw = r.highWatermark
      val recs = decode(r.records)
      if (recs.isEmpty && pos < hw) throw new IllegalStateException(s"empty fetch at $pos < $hw")
      recs.foreach(rec => out(rec.offsetDelta.toLong) = rec)
      pos = if (recs.isEmpty) pos else recs.last.offsetDelta + 1L
    }
    (out.toMap, hw)
  }

  // ------------------------------------------------------------ produce_small

  /** Closed loop, 2 producer connections, Produce v9 with 1 record each. */
  def produceSmall(c: Ctx): Unit = {
    val topic = "small"
    val partitions = 4
    val producers = 2
    val gens = (0 until producers).map(k => new Gen(c.seed * 31 + k))
    val acked = new ConcurrentLinkedQueue[(Int, Long, Array[Byte], Array[Byte])]()

    def send(w: Wire, g: Gen, timed: Boolean): Unit = {
      val (k, v) = g.record()
      val p = g.partitionOf(k, partitions)
      val batch = Wire.batch(Seq(k -> v))
      val traced = c.trace.on
      val t = c.now()
      val (err, base) =
        try w.produce(topic, p, batch)
        catch { case _: Exception => (-1.toShort, -1L) }
      if (timed) {
        c.res.attempted.incrementAndGet()
        c.res.sample(c.ms(t), traced)
        if (err != 0) c.res.failed.incrementAndGet()
        else { c.res.records.incrementAndGet(); c.keepBatch(batch) }
      }
      if (err == 0) acked.add((p, base, k, v))
    }

    // set-up three times, the last one is measured: a fresh broker,
    // then one acknowledged request per connection
    val setups = (0 until 3).map { i =>
      c.setUp {
        acked.clear()
        val b = new Broker(c, s"produce_small_$i")
        b.storage.createTopic(topic, partitions)
        val wires = (0 until producers).map(b.wire)
        wires.zip(gens).foreach { case (w, g) => send(w, g, false) }
        (b, wires)
      }
    }
    setups.init.foreach { case (b, ws) => ws.foreach(_.close()); b.close() }
    val (broker, wires) = setups.last

    c.startTimed()
    val threads = wires.zip(gens).map { case (w, g) =>
      c.thread(s"producer-${w.conn}") { while (c.timing()) send(w, g, true) }
    }
    threads.foreach(_.join())
    c.endTimed()

    // every acknowledged record reads back byte-exact at its offset
    val byPart = acked.asScala.toSeq.groupBy(_._1)
    var bad = 0
    (0 until partitions).foreach { p =>
      val (log, _) = readAll(wires.head, topic, p)
      byPart.getOrElse(p, Nil).foreach { case (_, off, k, v) =>
        val ok = log.get(off).exists(r =>
          java.util.Arrays.equals(r.key, k) && java.util.Arrays.equals(r.value, v))
        if (!ok) bad += 1
      }
    }
    c.res.check("acked records fetched back byte-exact", bad == 0,
      s"$bad of ${acked.size} acknowledged records differ")
    c.res.extra("user_bytes") = acked.size.toLong * (16 + 1024)
    c.res.extra("log_bytes") = c.dirBytes(s"${broker.root}/log")
    c.res.extra("log_files") = c.batchFiles(broker.root)
    wires.foreach(_.close())
    broker.close()
  }

  // ---------------------------------------------------------- consume_backlog

  val BacklogBatches = 24
  val BacklogBatchRecords = 50

  /** Set-up writes a backlog through the wire into one partition; then
    * one group member fetches it (64 KiB window) and commits, pass after
    * pass from offset 0, until the time is up.
    */
  def consumeBacklog(c: Ctx): Unit = {
    val topic = "backlog"
    val group = "perfbench"
    val window = 64 << 10
    val expected = new java.util.concurrent.ConcurrentHashMap[Long, (Array[Byte], Array[Byte])]()
    val (broker, consumer) = c.setUp {
      val b = new Broker(c, "consume_backlog")
      b.storage.createTopic(topic, 1)
      val producers = 4
      val threads = (0 until producers).map { k =>
        c.thread(s"backlog-$k") {
          val g = new Gen(c.seed * 31 + k)
          val w = b.wire(100 + k)
          try (k until BacklogBatches by producers).foreach { _ =>
            val recs = Seq.fill(BacklogBatchRecords)(g.record())
            val (err, base) = w.produce(topic, 0, Wire.batch(recs))
            if (err != 0) throw new IllegalStateException(s"backlog produce error $err")
            recs.zipWithIndex.foreach { case (r, i) => expected.put(base + i, r) }
          } finally w.close()
        }
      }
      threads.foreach(_.join())
      val w = b.wire(0)
      val t = c.now()
      if (w.findCoordinator(group) != 0) throw new IllegalStateException("FindCoordinator failed")
      val assigned = w.joinAndSync(group, topic)
      c.res.extra("coordinator.join_sync_ms") = c.ms(t)
      if (assigned != Seq(topic -> Seq(0)))
        throw new IllegalStateException(s"unexpected assignment $assigned")
      // fetch latency falls for the first twenty-odd fetches while the
      // JIT warms the read path: one untimed pass over the backlog, then
      // the timed loop starts over at offset 0
      var at = 0L
      while (at < BacklogBatches.toLong * BacklogBatchRecords) {
        val r = w.fetch(topic, 0, at, window)
        if (r.error != 0 || r.records.isEmpty)
          throw new IllegalStateException(s"warm-up fetch at $at failed: error ${r.error}")
        at = RecordBatchCodec.decodeAll(r.records).map(b => b.baseOffset + b.records.size).max
        w.offsetCommit(group, topic, 0, at)
      }
      (b, w)
    }
    val hw = BacklogBatches.toLong * BacklogBatchRecords
    var pos = 0L
    var passes = 0
    var badFetches = 0
    // one fetch and commit; untimed steps finish the last pass with one
    // unbounded fetch, so the run ends with the whole backlog read and
    // committed
    def step(timed: Boolean, maxBytes: Int): Unit = {
      val traced = c.trace.on
      val t = c.now()
      c.res.attempted.incrementAndGet()
      try {
        val r = consumer.fetch(topic, 0, pos, maxBytes)
        val ms = c.ms(t)
        val recs = decode(r.records)
        val inOrder = recs.nonEmpty && recs.zipWithIndex.forall { case (rec, i) =>
          rec.offsetDelta == pos + i && {
            val (k, v) = expected.get(pos + i)
            java.util.Arrays.equals(rec.key, k) && java.util.Arrays.equals(rec.value, v)
          }
        }
        if (r.error != 0 || r.highWatermark != hw || !inOrder) {
          badFetches += 1; c.res.failed.incrementAndGet()
        }
        if (timed) {
          c.res.sample(ms, traced)
          c.res.records.addAndGet(recs.size)
          if (recs.nonEmpty) c.keepBatch(r.records)
          c.trace.count("fetch.returned_bytes",
            recs.map(x => x.key.length.toLong + x.value.length).sum)
        }
        pos += recs.size
        if (consumer.offsetCommit(group, topic, 0, pos) != 0) c.res.failed.incrementAndGet()
        if (pos >= hw || recs.isEmpty) { pos = 0L; passes += 1 }
      } catch { case _: Exception => c.res.failed.incrementAndGet(); pos = 0L }
    }
    c.startTimed()
    while (c.timing()) step(true, window)
    c.endTimed()
    while (pos != 0L) step(false, 8 << 20)
    val committed = broker.storage.offsetFetch(group, Topition(topic, 0))
    c.res.check("every fetch returned the next records in offset order", badFetches == 0,
      s"$badFetches bad fetches")
    c.res.check("committed offset equals the high watermark", committed.contains(hw),
      s"committed $committed, high watermark $hw")
    c.res.extra("passes") = passes
    c.res.extra("backlog_records") = hw
    c.res.extra("user_bytes") = hw * (16 + 1024)
    c.res.extra("log_bytes") = c.dirBytes(s"${broker.root}/log")
    c.res.extra("log_files") = c.batchFiles(broker.root)
    consumer.close()
    broker.close()
  }

  // ----------------------------------------------------------------- lake_cdc

  val LakeRatePerS = 1.0
  val LakeBatchRecords = 100

  /** Open loop at a fixed rate into a JSON-schema topic that lands in a
    * lake table, with `Streaming.incrementalAggView` keeping count and sum
    * per user over that table for the whole run.
    */
  def lakeCdc(c: Ctx): Unit = {
    val topic = "events"
    val gen = new Gen(c.seed)
    // 1,500 users, as in the sf0.1 `events` table; the skew is assumed,
    // that table's users are near-uniform
    val users = new gen.Zipf(1500, 1.1)
    val tally = mutable.Map.empty[String, (Long, Long)]
    var acked = 0L
    var userBytes = 0L
    // the tally counts a batch once it is acknowledged
    def batch(): (Array[Byte], () => Unit) = {
      val events = Seq.fill(LakeBatchRecords)(gen.event(users))
      val recs = events.map { case (u, _, v) => (u.getBytes("UTF-8"), v) }
      (Wire.batch(recs), () => {
        events.foreach { case (u, a, _) =>
          val (n, s) = tally.getOrElse(u, (0L, 0L)); tally(u) = (n + 1, s + a)
        }
        acked += recs.size
        userBytes += recs.map { case (k, v) => k.length + v.length }.sum
      })
    }
    val (broker, w, table, view, query) = c.setUp {
      val reg = c.dir("registry")
      Files.writeString(java.nio.file.Paths.get(reg, s"$topic.json"),
        """{"type":"object","properties":{"user":{"type":"string"},
          |"amt":{"type":"integer"}},"required":["user","amt"]}""".stripMargin)
      val b = new Broker(c, "lake_cdc", Some(new SchemaRegistry(reg)))
      b.storage.createTopic(topic, 1, Map(
        ConfigKey.GeneratedPrefix + "user" -> "value_struct.user",
        ConfigKey.GeneratedPrefix + "amt" -> "value_struct.amt"))
      val w = b.wire(0)
      val table = s"${b.root}/lake/$topic"
      def produceOne(): Unit = {
        val (body, ok) = batch()
        val (err, _) = w.produce(topic, 0, body)
        if (err != 0) throw new IllegalStateException(s"lake produce error $err")
        ok()
      }
      def awaitView(): Unit = {
        val v = TxLog.latestVersion(table).get
        while (!c.trace.progress.asScala.exists(_.endVersion >= v)) Thread.sleep(20)
      }
      produceOne() // creates the lake table the view reads
      val view = c.dir("view")
      val q = Streaming.incrementalAggView(c.spark, table, view, Seq("user"), Seq("amt"),
        "perfbench", c.dir("checkpoint"))
      // the view's first micro-batches run several times slower than
      // later ones: three more requests at the open-loop rate, and the
      // view catching up with them, warm it before the timed phase
      (0 until 3).foreach { _ =>
        val due = c.now() + (1e9 / LakeRatePerS).toLong
        produceOne()
        Thread.sleep(math.max(0L, (due - c.now()) / 1000000))
      }
      awaitView()
      (b, w, table, view, q)
    }
    // open loop: request i is due at t0 + i / rate; a late send still
    // counts from its due time
    val acks = mutable.ArrayBuffer.empty[(Long, Long, Boolean)] // ack time, version, traced
    val viewLagMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val firstVersion = TxLog.latestVersion(table).get
    c.startTimed()
    val start = c.now()
    var i = 0L
    while (c.timing()) {
      val due = start + (i * 1e9 / LakeRatePerS).toLong
      val wait = due - c.now()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      lateMs += c.ms(due)
      val traced = c.trace.on
      val (body, ok) = batch()
      c.res.attempted.incrementAndGet()
      val sent = c.now()
      val (err, _) =
        try w.produce(topic, 0, body) catch { case _: Exception => (-1.toShort, -1L) }
      val ack = c.now()
      c.res.sample(c.ms(due, ack), traced)
      c.res.serviceS += (ack - sent) / 1e9
      if (err != 0) c.res.failed.incrementAndGet()
      else {
        ok()
        c.res.records.addAndGet(LakeBatchRecords)
        c.keepBatch(body)
        acks += ((ack, TxLog.latestVersion(table).get, traced))
      }
      i += 1
    }
    c.endTimed()
    // the view catches up with the last commit, then is stopped
    val last = TxLog.latestVersion(table).get
    val deadline = c.now() + 60L * 1000000000L
    while (!c.trace.progress.asScala.exists(_.endVersion >= last) && c.now() < deadline)
      Thread.sleep(20)
    query.stop()
    val events = c.trace.progress.asScala.toSeq.sortBy(_.at)
    acks.foreach { case (at, v, traced) =>
      events.find(_.endVersion >= v) match {
        case Some(e) => viewLagMs += (c.ms(at, e.at) -> traced)
        case None => c.res.failed.incrementAndGet()
      }
    }
    // lake_scan_s: a full read of the lake table plus the group-by
    val t = c.now()
    val scanned = TxLog.read(c.spark, table).groupBy("user")
      .agg(count(lit(1)).as("n"), sum("amt").as("amt")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    c.res.extra("lake_scan_s") = (c.now() - t) / 1e9
    val viewRows = TxLog.read(c.spark, view).collect()
      .map(r => r.getAs[String]("user") -> (r.getAs[Long]("n"), r.getAs[Long]("amt"))).toMap
    val lakeRows = TxLog.read(c.spark, table).count()
    c.res.check("view equals the generator's tally", viewRows == tally.toMap,
      s"${viewRows.size} view keys, ${tally.size} generated keys")
    c.res.check("view equals a group-by over the lake table", viewRows == scanned)
    c.res.check("lake rows equal records acknowledged", lakeRows == acked,
      s"$lakeRows rows, $acked acknowledged")
    c.res.extra("view_lag_ms") = viewLagMs.toSeq
    c.res.extra("late_ms") = lateMs.toSeq
    c.res.extra("lake_commits") = last - firstVersion
    c.res.extra("produce_calls") = i
    c.res.extra("lake_snapshot_files") = TxLog.currentSnapshot(table).map(_.files.size).getOrElse(0)
    c.res.extra("lake_log_bytes") = c.dirBytes(s"$table/_graft_log")
    c.res.extra("lake_bytes") = c.dirBytes(table)
    c.res.extra("log_bytes") = c.dirBytes(s"${broker.root}/log")
    c.res.extra("log_files") = c.batchFiles(broker.root)
    c.res.extra("user_bytes") = userBytes
    c.res.extra("ack_versions") = acks.toSeq.map { case (at, v, _) => Seq(at, v) }
    c.res.extra("progress") = events.map(e => Map("at" -> e.at, "batch" -> e.batchId,
      "start" -> e.startVersion, "end" -> e.endVersion, "rows" -> e.rows,
      "durations" -> e.durations))
    w.close()
    broker.close()
  }

  // --------------------------------------------------------------- dedup_docs

  val Board = Seq("q_dedup_ngram", "q_containment", "q_ppjoin",
    "q_dedup_clusters", "q_keep_canonical", "q_leakage_split")
  val CorpusDocs = 5000
  /** The near-duplicate share of the sf0.1 `documents` table: 250 of 5,000. */
  val DupShare = 0.05

  /** The six near-duplicate board queries over a seeded corpus, with
    * Spark's cache cleared before each; an untraced run measures exactly
    * one pass, the process's first and cold one, whatever `--seconds` is.
    */
  def dedupDocs(c: Ctx): Unit = {
    import c.spark.implicits._
    val docs = new Gen(c.seed).documents(CorpusDocs, DupShare)
    def write(dir: String): Unit =
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val first = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(corpus: String, timed: Boolean, traceQuery: Int => Boolean): Unit =
      Board.zipWithIndex.foreach { case (q, k) =>
        c.setTrace(traceQuery(k))
        val traced = c.trace.on
        c.spark.catalog.clearCache()
        if (timed) c.res.attempted.incrementAndGet()
        val t0 = c.now()
        try {
          val id = c.trace.nextId()
          val (df, t1, t2, rows) = c.trace.attributed(s"ops.$q", id) {
            val df = SparkEntry.queries(q)(c.spark, corpus)
            val t1 = c.now()
            df.queryExecution.executedPlan
            val t2 = c.now()
            (df, t1, t2, df.collect())
          }
          val t3 = c.now()
          if (timed) {
            c.res.sample(c.ms(t0, t3), traced)
            c.res.records.addAndGet(CorpusDocs)
            phases += Map("query" -> q, "traced" -> traced, "span" -> id,
              "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
              "exec_s" -> (t3 - t2) / 1e9)
            if (!first.contains(q)) first(q) = (rows, df.schema)
          }
        } catch { case _: Exception => if (timed) c.res.failed.incrementAndGet() }
      }
    val corpus = (0 until 3).map { i =>
      c.setUp { val d = c.dir(s"corpus_$i"); write(d); d }
    }.last
    Files.writeString(c.work.resolve("oracle_sql.json"),
      Main.json.writeValueAsString(Board.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    // a traced run runs one cold pass untimed, then times two warm
    // passes that trace alternate queries, so every query is timed both
    // traced and untraced
    if (c.traced) pass(corpus, timed = false, _ => false)
    c.startTimed()
    var passes = 0
    while (passes < (if (c.traced) 2 else 1)) {
      pass(corpus, timed = true, k => c.traced && (k + passes) % 2 == 0)
      passes += 1
    }
    c.endTimed()
    // results of the first timed pass go to DuckDB for the oracle comparison
    first.foreach { case (q, (rows, schema)) =>
      c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(c.work.resolve("results").resolve(q).toString)
    }
    c.res.extra("corpus_dir") = corpus
    c.res.extra("passes") = passes
    c.res.extra("queries") = phases.toSeq
  }
}
