package graft.storage

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.model.Model._
import graft.operators.LogOps
import graft.schema.SchemaRegistry
import graft.lake.{Lake, TxLog}

/** Object-store-style storage engine over Parquet, mirroring the
  * reference's dynostore layout (`nisshi-storage/src/dynostore.rs`):
  *
  *  - one batch object per produce at
  *    `log/<topic>/<partition %010d>/<baseOffset %020d>.parquet`
  *    (reference key scheme `dynostore.rs:992-995`); the object holds
  *    offsets `[its base, the next object's base)` in ascending order
  *    within each data file (every writer orders within its write task)
  *  - `watermark.json` per partition updated by compare-and-swap via
  *    atomic rename (the OptiCon conditional-PUT analog,
  *    `dynostore/opticon.rs:232-320`) — offsets are assigned exactly once
  *    even with concurrent producers
  *  - schema-backed topics are additionally materialized to
  *    `lake/<topic>/` with meta columns, generated columns, and partition
  *    dirs (reference `dynostore.rs:805-822`)
  *
  * On a real cluster the same layout runs against S3/HDFS paths and the
  * watermark CAS becomes a Delta/Iceberg commit; file-per-batch keeps
  * offset-range fetches prunable by filename without reading data.
  *
  * Fetch (reference `dynostore.rs:1018-1139`) answers on the calling
  * thread with no Spark job: a fetch of `[from, end)` under `maxBytes`
  * reads the objects in base order through Spark's Parquet reader, from
  * the last one whose base <= `from`, skips control markers and offsets
  * below `from`, and stops at the first offset >= `end` or once the kept
  * rows' sizes ([[LogOps.budgetBytes]]) reach `maxBytes`. Offsets ascend
  * across the read, so this is the byte-budget window
  * ([[LogOps.fetchWithByteBudget]]) over the whole log and no object past
  * the answer is opened; an offset that does not ascend throws. Memory
  * is the answer plus one reader batch. An object removed by a
  * concurrent maintenance swap or DeleteRecords reads as empty and ends
  * the answer: a short read the consumer retries, never a gap. The
  * `_budget_bytes` records older versions wrote are skipped, like every
  * underscore name.
  */
final class ParquetStorage(spark: SparkSession, root: String,
                           registry: Option[SchemaRegistry] = None,
                           txnTimeoutMs: Long = 60000,
                           clock: () => Long = () => System.currentTimeMillis())
    extends Storage {

  private val topicsMap = TrieMap.empty[String, (Int, Map[String, String])]
  private val watermarks = TrieMap.empty[Topition, AtomicLong]
  private val producerSeqs = TrieMap.empty[(Long, Int, Topition), Int]
  private val groups = TrieMap.empty[String, (String, Long)]
  private val producerIds = new AtomicLong(1000)
  private val txns = TrieMap.empty[Long, TrieMap[Topition, (Long, Long)]] // pid -> tp -> (start, lastEnd)
  // partitions ADDED to the open txn (AddPartitionsToTxn) that may not
  // have produced data yet — what DescribeTransactions lists and what
  // KIP-890 verify_only checks; in-flight state, reset by txnEnd and
  // not persisted (a restart aborts in-flight txns anyway)
  private val txnAddedParts = TrieMap.empty[Long, TrieMap[Topition, Unit]]
  private val txnStates = TrieMap.empty[Long, TxnState.Value]
  private val txnStartTimes = TrieMap.empty[Long, Long]
  private val abortedRanges = TrieMap.empty[Topition, Vector[TxnRange]]
  private val txnIds = TrieMap.empty[String, Long]           // txn id -> pid
  private val currentEpochs = TrieMap.empty[Long, Int]       // pid -> fenced epoch
  // offsets staged inside a txn, applied on commit (txn_offset_commit,
  // reference lib.rs:1480-1517)
  private val pendingTxnOffsets =
    TrieMap.empty[Long, Vector[(String, Topition, Long)]]
  // partitions whose aborted ranges were already recovered from the log
  private val recoveredAborted = TrieMap.empty[Topition, Boolean]
  private val logStarts = TrieMap.empty[Topition, Long]

  private def partDir(tp: Topition) =
    f"$root/log/${tp.topic}/${tp.partition}%010d"

  /** Directory listing that CLOSES its stream — Files.list pins an open
    * directory fd until GC otherwise, and the fetch path lists per call:
    * under sustained load with little GC pressure that is a slow march
    * to 'Too many open files'. Same for the recursive walk.
    */
  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def walkAll(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Partition-dir path, exposed for specs that assert the on-disk
    * segment layout (filename base = offset invariant).
    */
  private[graft] def fetchLogDir(tp: Topition): String = partDir(tp)

  // ---------------------------------------------------------------- topics

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def createTopic(topic: String, partitions: Int,
                           config: Map[String, String]): Unit = {
    require(topicMeta(topic).isEmpty, s"topic exists: $topic")
    topicsMap.put(topic, (partitions, config))
    (0 until partitions).foreach { p =>
      Files.createDirectories(Paths.get(partDir(Topition(topic, p))))
    }
    persistTopicMeta(topic, partitions, config)
  }

  // durable topic registry: partitions + config survive restart
  private def persistTopicMeta(topic: String, partitions: Int,
                               config: Map[String, String]): Unit = {
    val root0 = jsonMapper.createObjectNode()
    root0.put("partitions", partitions)
    val cfg = root0.putObject("config")
    config.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    val p = Paths.get(s"$root/log/$topic/topic.json")
    val tmp = Paths.get(s"$root/log/$topic/topic.json.tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(root0))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** IncrementalAlterConfigs target: the merged config is re-persisted
    * through the same topic.json the registry recovers from, so altered
    * retention / cleanup.policy drive the NEXT maintain() pass exactly
    * like create-time config (reference IncrementalAlterConfigsService,
    * `nisshi-broker/src/service/storage.rs:415`).
    */
  // every topic-metadata read-modify-write serializes here: the broker
  // serves each connection on its own thread, so two concurrent admin
  // calls would otherwise interleave their read and write and durably
  // persist a stale partition count or drop a config update
  private val topicMetaLock = new Object

  override def alterTopicConfig(topic: String, set: Map[String, String],
                                delete: Seq[String]): Boolean =
    topicMetaLock.synchronized {
      topicMeta(topic) match {
        case None => false
        case Some((parts, cfg)) =>
          val next = (cfg ++ set) -- delete
          topicsMap.put(topic, (parts, next))
          persistTopicMeta(topic, parts, next)
          true
      }
    }

  /** Topic metadata with restart recovery: cache, then topic.json, then
    * (for topics produced to without createTopic) the partition dirs.
    */
  private def topicMeta(topic: String): Option[(Int, Map[String, String])] =
    topicsMap.get(topic).orElse {
      val metaFile = Paths.get(s"$root/log/$topic/topic.json")
      val dir = Paths.get(s"$root/log/$topic")
      val loaded: Option[(Int, Map[String, String])] =
        if (Files.exists(metaFile)) {
          try {
            import scala.jdk.CollectionConverters._
            val node = jsonMapper.readTree(Files.readString(metaFile))
            val cfg = node.path("config").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
            Some((node.path("partitions").asInt(1), cfg))
          } catch { case scala.util.control.NonFatal(_) => None }
        } else if (Files.isDirectory(dir)) {
          import scala.jdk.CollectionConverters._
          val n = listDir(dir).count(Files.isDirectory(_))
          if (n > 0) Some((n, Map.empty[String, String])) else None
        } else None
      loaded.foreach(topicsMap.putIfAbsent(topic, _))
      topicsMap.get(topic)
    }

  override def deleteTopic(topic: String): Unit = {
    topicsMap.remove(topic)
    // stale per-partition caches would poison a recreated same-name
    // topic: producer sequences reject every produce as duplicates and
    // the watermark continues from the dead topic's high
    watermarks.keys.filter(_.topic == topic).foreach(watermarks.remove)
    watermarkLocks.keys.filter(_.topic == topic).foreach(watermarkLocks.remove)
    logStarts.keys.filter(_.topic == topic).foreach(logStarts.remove)
    abortedRanges.keys.filter(_.topic == topic).foreach(abortedRanges.remove)
    recoveredAborted.keys.filter(_.topic == topic).foreach(recoveredAborted.remove)
    recoveredSeqs.keys.filter(_.topic == topic).foreach(recoveredSeqs.remove)
    producerSeqs.keys.filter(_._3.topic == topic).foreach(producerSeqs.remove)
    // open transactions touching this topic drop their per-partition
    // ranges (persisted too): a later endTxn/timeout-abort must not try
    // to write markers into the deleted log
    txns.foreach { case (pid, m) =>
      val dead = m.keys.filter(_.topic == topic).toSeq
      if (dead.nonEmpty) { dead.foreach(m.remove); persistTxn(pid) }
    }
    deleteRecursive(Paths.get(s"$root/log/$topic"))
  }

  override def topics: Seq[String] = {
    val logRoot = Paths.get(s"$root/log")
    val onDisk =
      if (Files.isDirectory(logRoot)) {
        import scala.jdk.CollectionConverters._
        listDir(logRoot).iterator.filter(Files.isDirectory(_))
          .map(_.getFileName.toString).toSeq
      } else Nil
    (topicsMap.keys ++ onDisk).toSeq.distinct.sorted
  }

  override def topicConfig(topic: String): Map[String, String] =
    topicMeta(topic).map(_._2).getOrElse(Map.empty)

  /** Declared count from createTopic, recovered from topic.json (or the
    * partition directories) on a fresh process over an existing root.
    */
  override def partitionCount(topic: String): Int =
    topicMeta(topic).map(_._1).getOrElse(0)

  // -------------------------------------------------------------- watermark

  /** Watermark CAS: read current, bump by n, atomic-rename publish.
    * Reservation AND durable publish run under one per-partition lock —
    * lock-free getAndAdd with an unlocked file write would let two
    * reservations publish out of order, durably REGRESSING the high
    * watermark: after a restart the lower value would hand out offsets
    * a published batch already owns and the rename would silently
    * replace that batch file. The lock covers only the tiny
    * reserve+rename window, never the batch write itself (the file is
    * the durable value, re-read on restart, as in dynostore's
    * watermark.json).
    */
  private val watermarkLocks = TrieMap.empty[Topition, Object]

  private def reserveOffsets(tp: Topition, n: Long): Long =
    watermarkLocks.getOrElseUpdate(tp, new Object).synchronized {
      val wm = watermarks.getOrElseUpdate(tp, new AtomicLong(readWatermarkFile(tp)))
      val base = wm.getAndAdd(n)
      val p = Paths.get(partDir(tp), "watermark.json")
      val tmp = Paths.get(partDir(tp), s"watermark.json.tmp${base}")
      Files.writeString(tmp, s"""{"high":${base + n}}""")
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      base
    }

  private def readWatermarkFile(tp: Topition): Long = {
    val p = Paths.get(partDir(tp), "watermark.json")
    if (Files.exists(p))
      """"high":(\d+)""".r.findFirstMatchIn(Files.readString(p))
        .map(_.group(1).toLong).getOrElse(0L)
    else 0L
  }

  // ---------------------------------------------------------------- produce

  override def produce(tp: Topition, batch: DataFrame,
                       producerId: Long, producerEpoch: Int,
                       baseSequence: Int): Either[Int, Long] = {
    // topic AND partition bounds (produceAll checks both; produce must
    // too, or an out-of-range partition dies in reserveOffsets with a
    // connection-killing NoSuchFileException instead of an error code)
    topicMeta(tp.topic) match {
      case None => return Left(ErrorCode.UnknownTopicOrPartition)
      case Some((declared, _)) =>
        if (tp.partition < 0 || tp.partition >= math.max(declared, 1))
          return Left(ErrorCode.UnknownTopicOrPartition)
    }

    // producer-epoch fencing (reference dynostore.rs:826-880): re-init
    // under the same transactional id bumps the epoch; produce from the
    // old epoch is a zombie instance and is rejected. fenced() loads
    // producers.json first, so a pre-restart zombie whose produce is the
    // FIRST call into a fresh process is still fenced (the bumped epoch
    // lives only in that file until the log is re-read).
    if (producerId >= 0 && fenced(producerId, producerEpoch))
      return Left(ErrorCode.ProducerFenced)

    // idempotence: per (producer, epoch, topition) sequence check
    // (reference dynostore.rs:826-880). On the first transactional
    // produce after a restart the expected sequences are rebuilt from
    // the log's producer columns, so a resumed producer isn't rejected.
    if (producerId >= 0) {
      val k = (producerId, producerEpoch, tp)
      if (!producerSeqs.contains(k) &&
          recoveredSeqs.putIfAbsent(tp, true).isEmpty)
        recoverProducerSeqs(tp)
      val expected = producerSeqs.get(k)
      expected match {
        case Some(e) if baseSequence == e => // ok, next in order
        case Some(e) if baseSequence < e => return Left(ErrorCode.DuplicateSequenceNumber)
        case Some(_) => return Left(ErrorCode.OutOfOrderSequenceNumber)
        case None if baseSequence > 0 => return Left(ErrorCode.OutOfOrderSequenceNumber)
        case None => // first batch
      }
    }

    // ONE validation+sizing job (reference dynostore.rs:885-898 validates,
    // then sizes): per-input-partition row counts and invalid counts in a
    // single aggregate. The per-partition counts
    // let the write job assign offsets map-side below — no global sort,
    // no extra count jobs.
    // a misconfigured (unparseable) schema rejects the batch with an
    // error code — never an exception that drops the client connection
    val schema =
      try registry.flatMap(_.lookup(tp.topic))
      catch { case scala.util.control.NonFatal(_) =>
        return Left(ErrorCode.InvalidRecord) }
    val stats = sizeProbe(validityProbe(batch, schema),
        maxMessageBytes(tp.topic))
      .groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__cnt"), count_if(col("__invalid")).as("__bad"),
        count_if(col("__toolarge")).as("__big"))
      .collect()
    if (stats.map(_.getAs[Long]("__big")).sum > 0)
      return Left(ErrorCode.MessageTooLarge)
    if (stats.map(_.getAs[Long]("__bad")).sum > 0)
      return Left(ErrorCode.InvalidRecord)
    val n = stats.map(_.getAs[Long]("__cnt")).sum
    val base = reserveOffsets(tp, n)
    if (n == 0) return Right(base)

    // offsets are pure map-side arithmetic: cumulative start per input
    // partition (a tiny driver-built literal map) plus the row index
    // within the partition (low 33 bits of monotonically_increasing_id).
    // Requires `batch` to re-evaluate deterministically between the stats
    // job and this one — true for scans and local relations; callers with
    // non-deterministic inputs should cache() first.
    val byPid = stats.sortBy(_.getAs[Int]("__pid"))
    val cums = byPid.scanLeft(base) { (acc, r) => acc + r.getAs[Long]("__cnt") }
    val pidBase = map(byPid.zip(cums).flatMap { case (r, b) =>
      Seq(lit(r.getAs[Int]("__pid")), lit(b)) }.toSeq: _*)
    val withOffsets = batch
      // the log's record model is BINARY key/value (logSchema): string
      // producers (CLI/json) coerce to their UTF-8 bytes here, binary
      // producers (the wire facade) pass through byte-exact — a payload
      // must never round-trip through a String (invalid UTF-8 sequences
      // would be replaced, corrupting Avro/proto values)
      .withColumn("key", col("key").cast("binary"))
      .withColumn("value", col("value").cast("binary"))
      .withColumn("offset",
        element_at(pidBase, spark_partition_id()) +
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .withColumn("topic", lit(tp.topic))
      .withColumn("partition", lit(tp.partition))
      .withColumn("producer_id", lit(producerId))
      .withColumn("producer_epoch", lit(producerEpoch))
      .withColumn("base_sequence", lit(baseSequence))
      .withColumn("is_control", lit(false))
      .withColumn("control_type", lit(null).cast("string"))

    // lake-ONLY topic (`lake.sink=true`, schema-backed): records land
    // in the typed lake table and never as log objects — the analytics
    // ingestion mode where nothing consumes the topic as a stream.
    // Offsets still reserve durably (watermark.json is independent of
    // batch files), so restart recovery never reuses an offset; fetch
    // sees an empty log by design.
    val lakeOnly = schema.nonEmpty &&
      topicConfig(tp.topic).get(ConfigKey.LakeSink)
        .exists(_.equalsIgnoreCase("true"))

    // write to a temp dir, then atomic-rename to publish — readers never
    // see a half-written batch (the PutMode::Create analog,
    // dynostore.rs:992-1014)
    if (!lakeOnly) {
      val tmpDir = f"${partDir(tp)}/.tmp_$base%020d"
      withOffsets.coalesce(1).write.mode("overwrite").parquet(tmpDir)
      Files.move(Paths.get(tmpDir),
        Paths.get(f"${partDir(tp)}/$base%020d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    // track open-txn range for read_committed (reference txn_produce_offset)
    if (producerId >= 0 && txnStates.get(producerId).contains(TxnState.Begin)) {
      val m = txns.getOrElseUpdate(producerId, TrieMap.empty)
      val (start, _) = m.getOrElse(tp, (base, base))
      m.put(tp, (start, base + n - 1))
      persistTxn(producerId) // open-txn range survives restart
    }
    if (producerId >= 0)
      producerSeqs.put((producerId, producerEpoch, tp), math.max(baseSequence, 0) + n.toInt)

    // lake sink for schema-backed topics (reference dynostore.rs:805-822)
    schema.foreach(lakeSink(tp.topic, _, withOffsets, n))

    Right(base)
  }

  /** Annotate a batch with an `__invalid` flag from the topic's schema
    * (reference dynostore.rs:885-898): undecodable Avro payloads and
    * JSON-schema violations both surface as one aggregate-able column,
    * so validation costs no extra job.
    */
  /** Per-topic `max.message.bytes` as an int, if configured and sane. */
  private def maxMessageBytes(topic: String): Option[Int] =
    topicConfig(topic).get(ConfigKey.MaxMessageBytes)
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)

  /** `max.message.bytes` enforcement, riding in the SAME stats aggregate
    * as schema validation (no extra job): a record whose key+value bytes
    * exceed the per-topic cap can never fit in any batch under that cap,
    * so the per-record bound is the enforceable core of Kafka's
    * batch-level limit. The reference broker documents this check as
    * UNENFORCED (its franz-go compat FINDINGS exclude
    * TestClient_ProduceLargeMessages); enforcing it here exceeds the
    * reference's compat surface.
    */
  private def sizeProbe(batch: DataFrame, limit: Option[Int]): DataFrame =
    limit match {
      case Some(mx) => batch.withColumn("__toolarge",
        coalesce(octet_length(col("value").cast("binary")), lit(0)) +
          coalesce(octet_length(col("key").cast("binary")), lit(0)) > mx)
      case None => batch.withColumn("__toolarge", lit(false))
    }

  private def validityProbe(batch: DataFrame,
                            schema: Option[SchemaRegistry.TopicSchema]): DataFrame =
    schema match {
      case Some(a: SchemaRegistry.AvroTopic) =>
        // binary Avro payloads: undecodable -> null -> INVALID_RECORD
        graft.schema.AvroDecoder.decodeColumn(
          batch.withColumn("__bin", col("value").cast("binary")),
          "__bin", a.avsc, "__decoded")
          .withColumn("__invalid", col("__decoded").isNull)
      case Some(p: SchemaRegistry.ProtoTopic) =>
        // binary proto payloads: same decode-is-validation discipline
        graft.schema.ProtoSchema.decodeColumn(
          batch.withColumn("__bin", col("value").cast("binary")),
          "__bin", p.text, p.valueMessage, "__decoded")
          .withColumn("__invalid", col("__decoded").isNull)
      // cast: the facade hands BINARY values (exact wire bytes); JSON
      // validation is a text predicate
      case Some(ts) =>
        batch.withColumn("__invalid", !ts.isValid(col("value").cast("string")))
      case None => batch.withColumn("__invalid", lit(false))
    }

  /** Materialize a produced batch to the typed lake table; wire-only
    * bookkeeping columns stay out of the analytic table.
    */
  private def lakeSink(topic: String, ts: SchemaRegistry.TopicSchema,
                       withOffsets: DataFrame, rows: Long): Unit = {
    val cfg = topicConfig(topic)
    // optional per-table write cap (reference `tansu.lake.records.per
    // .second`, delta.rs:488-509): block for `rows` tokens BEFORE the
    // sink write — produce bursts become smooth lake pressure
    cfg.get(ConfigKey.LakeRecordsPerSecond).map(_.toLong).filter(_ > 0)
      .foreach(rps => Lake.rateLimit(s"$root/lake/$topic", rows, rps))
    val lakeRows = withOffsets.drop(
      "producer_id", "producer_epoch", "base_sequence",
      "is_control", "control_type")
    val structed = ts match {
      case a: SchemaRegistry.AvroTopic =>
        graft.schema.AvroDecoder.decodeColumn(
          lakeRows.withColumn("__bin", col("value").cast("binary")),
          "__bin", a.avsc, "value_struct").drop("__bin")
      case p: SchemaRegistry.ProtoTopic =>
        graft.schema.ProtoSchema.decodeColumn(
          lakeRows.withColumn("__bin", col("value").cast("binary")),
          "__bin", p.text, p.valueMessage, "value_struct").drop("__bin")
      case _ =>
        lakeRows.withColumn("value_struct",
          from_json(col("value").cast("string"), ts.valueType))
    }
    val typed = Lake.withMeta(structed, col("partition"), col("timestamp"))
    val generated = cfg.collect {
      case (k, v) if k.startsWith(ConfigKey.GeneratedPrefix) =>
        k.stripPrefix(ConfigKey.GeneratedPrefix) -> v
    }
    val withGen = Lake.withGenerated(typed, generated)
    // `lake.normalize` flattens nested structs into top-level columns
    // (reference `tansu.lake.normalize` + `.separator`,
    // delta.rs:274-291; its taxi_normalized tests partition on the
    // FLATTENED names) — applied after generated columns, whose SQL is
    // written against the nested schema
    val normalized =
      if (cfg.get(ConfigKey.LakeNormalize).exists(_.equalsIgnoreCase("true")))
        Lake.normalize(withGen,
          cfg.getOrElse(ConfigKey.LakeNormalizeSeparator, "."))
      else withGen
    val partitionCols = csvConfig(cfg, ConfigKey.LakePartition)
    // transactional append (the reference's lake IS a Delta table):
    // manifest-per-version snapshots + CAS commits make the analytic
    // table safe for concurrent writers and snapshot readers; plain
    // spark.read.parquet over the directory still works (_graft_log is
    // underscore-hidden from Spark's file index). Two plain-reader
    // caveats: a pre-TxLog table is bootstrapped into the first commit
    // (no data loss on upgrade), and between staging and the manifest
    // CAS a plain directory reader can briefly see a not-yet-committed
    // file (TxLog readers never do; failed commits unstage their files)
    TxLog.append(normalized, s"$root/lake/$topic", partitionCols)
    ()
  }

  /** Multi-partition produce: append one routed batch (its `partition`
    * column selects the target partition) across a whole topic with ONE
    * validation/sizing job and ONE distributed write, instead of two
    * jobs per partition — the streaming micro-batch fast path. Offsets
    * are contiguous per partition from the same watermark CAS as
    * [[produce]]. Returns the assigned base offset per partition.
    *
    * The write shuffles ONCE, on the target partition: the rank's window
    * exchange both orders the offset assignment and co-locates each
    * partition's rows for the partitioned write (no separate repartition
    * — the writer only needs a task-local sort on `__p`, which V1Writes
    * inserts). Jobs-per-micro-batch is constant in the partition count —
    * at 1000 partitions and 1 s triggers the scheduler sees 2 jobs, not
    * 2000.
    *
    * Like [[produce]], `batch` must re-evaluate deterministically between
    * the stats job and the write (true for scans and local relations);
    * callers with non-deterministic inputs must cache() first, as the
    * streaming ingest path does.
    */
  override def produceAll(topic: String,
                          batch: DataFrame): Either[Int, Map[Int, Long]] = {
    val meta = topicMeta(topic)
    if (meta.isEmpty) return Left(ErrorCode.UnknownTopicOrPartition)
    val declared = meta.get._1
    val schema =
      try registry.flatMap(_.lookup(topic))
      catch { case scala.util.control.NonFatal(_) =>
        return Left(ErrorCode.InvalidRecord) }
    val stats = sizeProbe(validityProbe(batch, schema),
        maxMessageBytes(topic))
      .groupBy(col("partition").as("__tp"))
      .agg(count(lit(1)).as("__cnt"), count_if(col("__invalid")).as("__bad"),
        count_if(col("__toolarge")).as("__big"))
      .collect()
    if (stats.map(_.getAs[Long]("__big")).sum > 0)
      return Left(ErrorCode.MessageTooLarge)
    if (stats.map(_.getAs[Long]("__bad")).sum > 0)
      return Left(ErrorCode.InvalidRecord)
    // a null partition key would unbox to 0 (colliding with the real
    // partition-0 count) and its rows would land in the Hive default
    // partition dir — acknowledged, never published, then deleted.
    // Reject the batch instead.
    if (stats.exists(_.isNullAt(0)))
      return Left(ErrorCode.InvalidRecord)
    val counts = stats.map(r => r.getAs[Int]("__tp") -> r.getAs[Long]("__cnt"))
      .filter(_._2 > 0).toMap
    if (counts.keys.exists(p => p < 0 || p >= declared))
      return Left(ErrorCode.UnknownTopicOrPartition)
    if (counts.isEmpty) return Right(Map.empty)
    val bases = counts.map { case (p, n) =>
      p -> reserveOffsets(Topition(topic, p), n)
    }
    val baseMap = map(bases.toSeq.flatMap { case (p, b) =>
      Seq(lit(p), lit(b)) }: _*)
    // offset = partition base + rank within the partition; the rank's
    // window shuffle is the same exchange the partitioned write needs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(monotonically_increasing_id())
    val withOffsets = batch
      .withColumn("key", col("key").cast("binary"))   // binary record model
      .withColumn("value", col("value").cast("binary")) // (see produce())
      .withColumn("offset",
        element_at(baseMap, col("partition")) + row_number().over(w) - 1)
      .withColumn("topic", lit(topic))
      .withColumn("producer_id", lit(-1L))
      .withColumn("producer_epoch", lit(-1))
      .withColumn("base_sequence", lit(-1))
      .withColumn("is_control", lit(false))
      .withColumn("control_type", lit(null).cast("string"))
    val tmpRoot = Paths.get(
      s"$root/.produce/$topic-${java.util.UUID.randomUUID()}")
    withOffsets.withColumn("__p", col("partition"))
      .write.partitionBy("__p").mode("overwrite").parquet(tmpRoot.toString)
    bases.foreach { case (p, base) =>
      Files.move(tmpRoot.resolve(s"__p=$p"),
        Paths.get(partDir(Topition(topic, p)), f"$base%020d.parquet"))
    }
    deleteRecursive(tmpRoot)
    schema.foreach(lakeSink(topic, _, withOffsets, counts.values.sum))
    Right(bases)
  }

  // ------------------------------------------------------------------ fetch

  private def logDf(tp: Topition): DataFrame = {
    ensureSwapRecovered(tp) // finish any interrupted maintenance swap first
    readLog(batchFiles(tp))
  }

  /** Batch objects read with the known log schema: no footer-inference
    * job, and objects written before a column existed read it as null.
    */
  private def readLog(files: Seq[java.nio.file.Path]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        logSchema)
    else
      // a lazily-executed read can outlive a concurrent maintenance swap
      // or DeleteRecords that removed these files; read-missing-as-empty
      // turns that race into a transient short read the consumer retries
      // (offsets only advance on delivery), never a dead job
      spark.read.schema(logSchema).option("ignoreMissingFiles", "true")
        .parquet(files.map(_.toString): _*)

  /** Driver-side reader of batch objects, built on first fetch. */
  private lazy val objectReader =
    new org.apache.spark.sql.graftshim.LocalParquet(spark, logSchema)
  private val OffsetCol = logSchema.fieldIndex("offset")
  private val KeyCol = logSchema.fieldIndex("key")
  private val ValueCol = logSchema.fieldIndex("value")
  private val ControlCol = logSchema.fieldIndex("is_control")

  override def fetch(tp: Topition, fetchOffset: Long, maxBytes: Long,
                     readCommitted: Boolean): DataFrame = {
    val stage = offsetStage(tp)
    val end = if (readCommitted) stage.lastStable else stage.highWatermark
    val from = math.max(fetchOffset, stage.logStart)
    ensureSwapRecovered(tp)
    val answer = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    if (from < end && maxBytes > 0) {
      val files = batchFiles(tp)
      val bases = files.map(baseOf)
      var i = math.max(0, bases.lastIndexWhere(_ <= from))
      var last = Long.MinValue
      var spent = 0L
      // true while the answer may go on past this row
      def visit(obj: java.nio.file.Path, row: InternalRow): Boolean = {
        val offset = row.getLong(OffsetCol)
        if (offset <= last) throw new IllegalStateException(
          s"batch object $obj holds offset $offset after $last: offsets must ascend")
        last = offset
        if (offset >= end) false
        // P4: txn commit/abort markers occupy offsets but are never handed
        // to consumers (reference record_fetch semantics)
        else if (offset < from || row.getBoolean(ControlCol)) true
        else { // LogOps.budgetBytes
          spent += (if (row.isNullAt(KeyCol)) 0 else row.getBinary(KeyCol).length) +
            (if (row.isNullAt(ValueCol)) 0 else row.getBinary(ValueCol).length) + 16
          answer += objectReader.keep(row)
          spent < maxBytes
        }
      }
      var more = true
      while (more && i < files.length && bases(i) < end) {
        // a missing object or file (a concurrent maintenance swap or
        // DeleteRecords removed it) reads as empty and ends the answer
        try scala.util.Using.resource(objectReader.open(files(i))) { rows =>
          while (more && rows.hasNext) more = visit(files(i), rows.next())
        } catch { case _: java.nio.file.NoSuchFileException |
                       _: java.io.FileNotFoundException => more = false }
        i += 1
      }
    }
    objectReader.frame(answer.toSeq)
  }

  // ---------------------------------------------------------------- offsets

  override def offsetStage(tp: Topition): OffsetStage = {
    ensureProducersLoaded() // open txns recovered before computing LSO
    val high = watermarks.getOrElseUpdate(tp,
      new AtomicLong(readWatermarkFile(tp))).get()
    val openStarts = txns.collect {
      case (pid, m) if txnStates.get(pid).contains(TxnState.Begin) && m.contains(tp) =>
        m(tp)._1
    }
    val lastStable = if (openStarts.isEmpty) high else openStarts.min
    OffsetStage(logStart = logStart(tp), lastStable = lastStable,
      highWatermark = high)
  }

  override def listEarliestOffset(tp: Topition): Long = logStart(tp)
  override def listLatestOffset(tp: Topition): Long = offsetStage(tp).highWatermark

  private def logStart(tp: Topition): Long =
    logStarts.getOrElseUpdate(tp, {
      val p = Paths.get(partDir(tp), "logstart.json")
      if (Files.exists(p))
        """"start":(\d+)""".r.findFirstMatchIn(Files.readString(p))
          .map(_.group(1).toLong).getOrElse(0L)
      else 0L
    })

  /** Advance log-start (logical truncation) and drop batch objects that
    * lie entirely below it — file bases are the offsets in the name, so
    * no data is read (the filename-prunable layout paying off).
    */
  override def deleteRecords(tp: Topition, beforeOffset: Long): Long = {
    ensureSwapRecovered(tp)
    val cut = math.min(beforeOffset, offsetStage(tp).highWatermark)
    val files = batchFiles(tp)
    val bases = files.map(baseOf)
    files.zip(bases).zipWithIndex.foreach { case ((f, _), i) =>
      val end = if (i + 1 < bases.length) bases(i + 1)
                else offsetStage(tp).highWatermark
      if (end <= cut) deleteRecursive(f)
    }
    advanceLogStart(tp, cut)
    logStart(tp)
  }

  /** Durably advance log-start (never regresses); the in-memory cache and
    * logstart.json move together so listEarliestOffset always names an
    * offset that still exists (reference watermark `low`,
    * dynostore.rs:348-352).
    */
  private def advanceLogStart(tp: Topition, to: Long): Unit = {
    val next = math.max(to, logStart(tp))
    if (next <= logStart(tp)) return
    logStarts.put(tp, next)
    val p = Paths.get(partDir(tp), "logstart.json")
    val tmp = Paths.get(partDir(tp), s"logstart.json.tmp$next")
    Files.writeString(tmp, s"""{"start":$next}""")
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  override def offsetForTimestamp(tp: Topition, tsMillis: Long): Option[Long] = {
    val r = logDf(tp)
      .filter(col("timestamp") >= timestamp_millis(lit(tsMillis)))
      .agg(min("offset")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** ListOffsets timestamp -3 (KIP-734): offset of the record with the
    * largest timestamp — one max_by aggregate, no sort.
    */
  override def maxTimestampOffset(tp: Topition): Option[Long] = {
    val r = logDf(tp).filter(!col("is_control"))
      .agg(max_by(col("offset"), col("timestamp"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  // ----------------------------------------------------------------- groups

  // Group state and committed offsets are DURABLE: every CAS-accepted
  // write lands as an atomically-renamed file under root/groups (version
  // on line 1, payload after), and point lookups lazily seed the
  // in-process cache from disk — a restarted stateless broker serves the
  // same groups and offsets (the full "all state lives in storage"
  // property; reference lib.rs:867,1472-1478).

  private def groupFile(key: String) = {
    val enc = java.net.URLEncoder.encode(key, "UTF-8")
    // dot-prefixed names are reserved for staging files — a key that
    // URL-encodes to a leading '.' (e.g. group ".hidden") escapes it so
    // the listing's dot-filter can never hide a real key
    val safe = if (enc.startsWith(".")) "%2E" + enc.tail else enc
    Paths.get(s"$root/groups", safe)
  }

  private def persistGroupFile(key: String, state: String, version: Long): Unit = {
    Files.createDirectories(Paths.get(s"$root/groups"))
    val p = groupFile(key)
    // staging name is DOT-PREFIXED, not suffix-".tmp": a user-chosen key
    // containing ".tmp" (group "etl.tmp") must not be invisible to the
    // key listing
    val tmp = p.resolveSibling(s".stage$version.${p.getFileName}")
    Files.writeString(tmp, s"$version\n$state")
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def loadGroupFile(key: String): Option[(String, Long)] = {
    val p = groupFile(key)
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p)
      val i = s.indexOf('\n')
      if (i < 0) None else Some((s.substring(i + 1), s.substring(0, i).toLong))
    }
  }

  /** Cache lookup seeded from disk on miss (restart recovery). */
  private def groupEntry(key: String): Option[(String, Long)] =
    groups.get(key).orElse {
      val loaded = loadGroupFile(key)
      loaded.foreach(groups.putIfAbsent(key, _))
      groups.get(key)
    }

  // serializes the memory-update + file-write pair per group key, so two
  // racing writers can never persist versions out of order
  private val groupLocks = TrieMap.empty[String, Object]
  private def groupLock(key: String): Object =
    groupLocks.getOrElseUpdate(key, new Object)

  /** Key components are URL-encoded individually, so a group or topic
    * name containing '/' cannot forge extra separators — a poisoned key
    * would otherwise permanently break the retention sweep's parse.
    */
  private def comp(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  private def offsetKey(group: String, tp: Topition): String =
    s"${comp(group)}/${comp(tp.topic)}/${tp.partition}"

  override def offsetCommit(group: String, tp: Topition, offset: Long): Unit = {
    val key = offsetKey(group, tp)
    // payload = "<offset> <commitTsMillis>" — the timestamp drives the
    // offsets.retention sweep (expireOffsets)
    val payload = s"$offset ${clock()}"
    groupLock(key).synchronized {
      groups.put(key, (payload, 0L))
      persistGroupFile(key, payload, 0L)
    }
  }

  /** "<offset> <ts>" (ts 0 when absent — pre-timestamp files). */
  private def parseOffsetPayload(s: String): (Long, Long) = {
    val i = s.indexOf(' ')
    if (i < 0) (s.trim.toLong, 0L)
    else (s.substring(0, i).toLong, s.substring(i + 1).trim.toLong)
  }

  override def offsetFetch(group: String, tp: Topition): Option[Long] =
    groupEntry(offsetKey(group, tp))
      .map(e => parseOffsetPayload(e._1)._1)

  /** Keys present under root/groups (decoded), unioned with the cache —
    * offset keys are "group/topic/partition", state keys are the bare
    * group id.
    */
  private def listGroupKeys(): Seq[String] = {
    val dir = Paths.get(s"$root/groups")
    val onDisk =
      if (!Files.isDirectory(dir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        // close the directory stream — the 1 Hz maintenance sweep calls
        // this; leaked streams are leaked file descriptors
        val s = Files.list(dir)
        try s.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(_.getFileName.toString)
          // staging files are dot-prefixed (persistGroupFile); real keys
          // never are (groupFile escapes a leading dot), so the filter
          // can't hide a user-chosen name like "etl.tmp"
          .filterNot(_.startsWith("."))
          .map(java.net.URLDecoder.decode(_, "UTF-8")).toList
        finally s.close()
      }
    (onDisk ++ groups.keys).distinct
  }

  override def groupOffsets(group: String): Seq[(Topition, Long, Long)] =
    listGroupKeys().sorted.flatMap { key =>
      key.split("/", 3) match {
        case Array(g, t, p) if g == comp(group) && p.forall(_.isDigit) =>
          groupEntry(key).map { case (payload, _) =>
            val (off, ts) = parseOffsetPayload(payload)
            (Topition(dec(t), p.toInt), off, ts)
          }
        case _ => None
      }
    }

  override def deleteOffset(group: String, tp: Topition): Boolean = {
    val key = offsetKey(group, tp)
    groupLock(key).synchronized {
      val existed = groupEntry(key).isDefined
      groups.remove(key)
      Files.deleteIfExists(groupFile(key))
      existed
    }
  }

  override def deleteGroup(group: String): Unit = {
    groupOffsets(group).foreach { case (tp, _, _) => deleteOffset(group, tp) }
    groupLock(comp(group)).synchronized {
      groups.remove(comp(group))
      Files.deleteIfExists(groupFile(comp(group)))
    }
    ()
  }

  override def storedGroups(): Seq[String] =
    listGroupKeys().map(k => dec(k.split("/", 2)(0))).distinct.sorted

  override def expireOffsets(retentionMs: Long,
                             groupIsActive: String => Boolean): Seq[(String, Topition)] = {
    val now = clock()
    // ONE directory listing for the whole sweep (this runs at 1 Hz on
    // the broker's maintenance thread): partition the offset keys by
    // group in memory instead of re-listing per group
    val offsetKeysByGroup = listGroupKeys()
      .flatMap { key =>
        key.split("/", 3) match {
          case Array(g, t, p) if p.forall(_.isDigit) && p.nonEmpty =>
            Some((dec(g), key, Topition(dec(t), p.toInt)))
          case _ => None // state keys and anything malformed
        }
      }
      .groupBy(_._1)
    offsetKeysByGroup.toSeq.sortBy(_._1)
      .filterNot { case (g, _) => groupIsActive(g) }
      .flatMap { case (g, keys) =>
        keys.collect {
          case (_, key, tp) if groupEntry(key).exists { case (payload, _) =>
            // ts==0 means unknown commit time (legacy) — never expire
            val ts = parseOffsetPayload(payload)._2
            ts > 0 && now - ts > retentionMs
          } && deleteOffset(g, tp) => (g, tp)
        }
      }
  }

  override def updateGroup(group: String, state: String,
                           expectedVersion: Long): Option[Long] = {
    val key = comp(group)
    groupLock(key).synchronized {
      val cur = groupEntry(key)
      val accepted = cur match {
        case None if expectedVersion == -1 =>
          if (groups.putIfAbsent(key, (state, 0L)).isEmpty) Some(0L) else None
        case Some((old, v)) if v == expectedVersion =>
          if (groups.replace(key, (old, v), (state, v + 1))) Some(v + 1) else None
        case _ => None
      }
      accepted.foreach(v => persistGroupFile(key, state, v))
      accepted
    }
  }

  override def groupState(group: String): Option[(String, Long)] =
    groupEntry(comp(group))

  // ------------------------------------------------------ SASL credentials

  // SCRAM credentials are DURABLE (reference
  // Storage::upsert_user_scram_credential, lib.rs:1420-1432): one
  // atomically-renamed JSON per (user, mechanism) under root/scram, read
  // through a lazy cache — a restarted broker authenticates the same
  // users with no re-supplied passwords.

  private val scramCache = TrieMap.empty[(String, String), ScramCredential]

  private def scramFile(user: String, mechanism: String) =
    Paths.get(s"$root/scram",
      java.net.URLEncoder.encode(user, "UTF-8") + "__" + mechanism + ".json")

  override def upsertScramCredential(user: String, cred: ScramCredential): Unit = {
    Files.createDirectories(Paths.get(s"$root/scram"))
    val b64 = java.util.Base64.getEncoder
    val node = jsonMapper.createObjectNode()
    node.put("salt", b64.encodeToString(cred.salt))
    node.put("iterations", cred.iterations)
    node.put("storedKey", b64.encodeToString(cred.storedKey))
    node.put("serverKey", b64.encodeToString(cred.serverKey))
    val p = scramFile(user, cred.mechanism)
    val tmp = Paths.get(p.toString + ".tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(node))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    scramCache.put((user, cred.mechanism), cred)
    ()
  }

  override def scramCredential(user: String,
                               mechanism: String): Option[ScramCredential] =
    scramCache.get((user, mechanism)).orElse {
      val p = scramFile(user, mechanism)
      if (!Files.exists(p)) None
      else try {
        val n = jsonMapper.readTree(Files.readString(p))
        val b64 = java.util.Base64.getDecoder
        val c = ScramCredential(mechanism,
          b64.decode(n.path("salt").asText()),
          n.path("iterations").asInt(),
          b64.decode(n.path("storedKey").asText()),
          b64.decode(n.path("serverKey").asText()))
        scramCache.putIfAbsent((user, mechanism), c)
        Some(c)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  override def listScramCredentials(): Seq[(String, String)] = {
    val dir = Paths.get(s"$root/scram")
    if (!Files.isDirectory(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      listDir(dir).iterator
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .flatMap { name =>
          name.stripSuffix(".json").split("__", 2) match {
            case Array(u, m) => Some(java.net.URLDecoder.decode(u, "UTF-8") -> m)
            case _ => None
          }
        }.toSeq.sorted
    }
  }

  override def deleteScramCredential(user: String,
                                     mechanism: String): Boolean = {
    scramCache.remove((user, mechanism))
    val p = scramFile(user, mechanism)
    if (Files.exists(p)) { Files.delete(p); true } else false
  }

  // ------------------------------------------------------------------- ACLs

  // ACL bindings are DURABLE like every other control-plane state: one
  // acls.json under the root, atomic-rename published, re-read lazily by
  // a fresh process (reference stores them through
  // Storage create/describe ACL services).

  @volatile private var aclCache: Option[Vector[AclEntry]] = None
  private val aclLock = new Object

  private def aclFile = Paths.get(s"$root/acls.json")

  private def loadAcls(): Vector[AclEntry] =
    aclCache.getOrElse(aclLock.synchronized {
      aclCache.getOrElse {
        val loaded =
          if (!Files.exists(aclFile)) Vector.empty[AclEntry]
          else try {
            import scala.jdk.CollectionConverters._
            jsonMapper.readTree(Files.readString(aclFile)).elements().asScala
              .map { n =>
                AclEntry(n.path("rt").asInt(), n.path("rn").asText(),
                  n.path("pt").asInt(), n.path("p").asText(),
                  n.path("h").asText(), n.path("o").asInt(),
                  n.path("pm").asInt())
              }.toVector
          } catch { case scala.util.control.NonFatal(_) => Vector.empty[AclEntry] }
        aclCache = Some(loaded)
        loaded
      }
    })

  override def createAcls(acls: Seq[AclEntry]): Unit = aclLock.synchronized {
    val next = (loadAcls() ++ acls).distinct
    val arr = jsonMapper.createArrayNode()
    next.foreach { a =>
      val n = arr.addObject()
      n.put("rt", a.resourceType); n.put("rn", a.resourceName)
      n.put("pt", a.patternType); n.put("p", a.principal)
      n.put("h", a.host); n.put("o", a.operation)
      n.put("pm", a.permissionType)
      ()
    }
    val tmp = Paths.get(aclFile.toString + ".tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(arr))
    Files.move(tmp, aclFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    aclCache = Some(next)
  }

  override def listAcls(): Seq[AclEntry] = loadAcls()

  // -------------------------------------------- admin breadth (KIP-195/664/546)

  override def increasePartitions(topic: String, newCount: Int): Int =
    topicMetaLock.synchronized {
      topicMeta(topic) match {
        case None => ErrorCode.UnknownTopicOrPartition
        case Some((parts, cfg)) =>
          if (newCount <= parts) ErrorCode.InvalidPartitions
          else {
            topicsMap.put(topic, (newCount, cfg))
            (parts until newCount).foreach { p =>
              Files.createDirectories(Paths.get(partDir(Topition(topic, p))))
            }
            persistTopicMeta(topic, newCount, cfg)
            ErrorCode.None
          }
      }
    }

  override def describeProducers(tp: Topition): Seq[(Long, Int, Int, Long)] = {
    ensureProducersLoaded()
    producerSeqs.toSeq
      .collect { case ((pid, epoch, t), nextSeq) if t == tp =>
        (pid, epoch, nextSeq) }
      .groupBy(_._1).values.map(_.maxBy(_._2)).toSeq // latest epoch per pid
      .map { case (pid, epoch, nextSeq) =>
        val txnStart =
          if (txnStates.get(pid).contains(TxnState.Begin))
            txns.get(pid).flatMap(_.get(tp)).map(_._1).getOrElse(-1L)
          else -1L
        (pid, epoch, nextSeq - 1, txnStart)
      }.sortBy(_._1)
  }

  private def txnStateName(pid: Long): String =
    txnStates.get(pid) match {
      case Some(TxnState.Begin) => "Ongoing"
      case Some(TxnState.PrepareCommit) => "PrepareCommit"
      case Some(TxnState.PrepareAbort) => "PrepareAbort"
      case Some(TxnState.Committed) => "CompleteCommit"
      case Some(TxnState.Aborted) => "CompleteAbort"
      case None => "Empty"
    }

  override def describeTransaction(txnId: String): Option[TxnDescription] = {
    ensureProducersLoaded()
    txnIds.get(txnId).map { pid =>
      val open = txnStates.get(pid).contains(TxnState.Begin)
      TxnDescription(txnId, pid, currentEpochs.getOrElse(pid, 0),
        txnStateName(pid),
        txnStartTimes.getOrElse(pid, -1L), txnTimeoutMs.toInt,
        if (open)
          (txns.get(pid).map(_.keys.toSet).getOrElse(Set.empty) ++
            txnAddedParts.get(pid).map(_.keys.toSet).getOrElse(Set.empty))
            .toSeq.sortBy(t => (t.topic, t.partition))
        else Nil)
    }
  }

  override def listTransactions(): Seq[(String, Long, String)] = {
    ensureProducersLoaded()
    txnIds.toSeq.sortBy(_._1).map { case (id, pid) =>
      (id, pid, txnStateName(pid))
    }
  }

  // durable client quotas: quotas.json at the root, same recovery
  // discipline as the ACL store
  private val quotaLock = new Object
  private def quotaFile = Paths.get(s"$root/quotas.json")
  @volatile private var quotaCache:
      Option[Map[(String, Option[String]), Map[String, Double]]] = None

  private def loadQuotas(): Map[(String, Option[String]), Map[String, Double]] =
    quotaCache.getOrElse(quotaLock.synchronized {
      quotaCache.getOrElse {
        import scala.jdk.CollectionConverters._
        val loaded =
          if (!Files.exists(quotaFile))
            Map.empty[(String, Option[String]), Map[String, Double]]
          else try {
            jsonMapper.readTree(Files.readString(quotaFile)).elements().asScala
              .map { n =>
                val key = (n.path("et").asText(),
                  if (n.hasNonNull("en")) Some(n.path("en").asText()) else None)
                val vals = n.path("v").properties().asScala
                  .map(e => e.getKey -> e.getValue.asDouble()).toMap
                key -> vals
              }.toMap
          } catch { case scala.util.control.NonFatal(_) =>
            Map.empty[(String, Option[String]), Map[String, Double]] }
        quotaCache = Some(loaded)
        loaded
      }
    })

  override def alterClientQuotas(
      entries: Seq[((String, Option[String]), Seq[(String, Option[Double])])])
      : Unit = quotaLock.synchronized {
    var next = loadQuotas()
    entries.foreach { case (key, ops) =>
      val cur = next.getOrElse(key, Map.empty)
      val updated = ops.foldLeft(cur) {
        case (m, (k, Some(v))) => m.updated(k, v)
        case (m, (k, None)) => m - k
      }
      next = if (updated.isEmpty) next - key else next.updated(key, updated)
    }
    val arr = jsonMapper.createArrayNode()
    next.toSeq.sortBy(e => (e._1._1, e._1._2.getOrElse(""))).foreach {
      case ((et, en), vals) =>
        val n = arr.addObject()
        n.put("et", et)
        en.foreach(n.put("en", _))
        val v = n.putObject("v")
        vals.toSeq.sortBy(_._1).foreach { case (k, x) => v.put(k, x) }
        ()
    }
    val tmp = Paths.get(quotaFile.toString + ".tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(arr))
    Files.move(tmp, quotaFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    quotaCache = Some(next)
  }

  override def listClientQuotas()
      : Map[(String, Option[String]), Map[String, Double]] = loadQuotas()

  override def logDir: String = root

  override def partitionSizeBytes(tp: Topition): Long = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(partDir(tp))
    if (!Files.isDirectory(dir)) return 0L
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => try Files.size(p) catch { case _: java.io.IOException => 0L })
      .sum
    finally s.close()
  }

  // ------------------------------------------------------------ transactions

  // Transactional identity and open-txn state are DURABLE (reference
  // `nisshi-storage` keeps producer/txn rows in storage,
  // lib.rs:1480-1517): producers.json holds the pid high-water mark and
  // the txnId -> (pid, epoch) map; each open transaction additionally
  // keeps txns/<pid>.json (state, produced ranges, staged offsets, start
  // time). A restarted broker therefore fences pre-restart zombies under
  // the same transactional id, never re-issues a colliding pid, keeps
  // the last-stable offset pinned by transactions left open across the
  // restart, and still times them out on its own clock.

  private val producersLoaded = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def ensureProducersLoaded(): Unit =
    if (producersLoaded.compareAndSet(false, true)) {
      import scala.jdk.CollectionConverters._
      val pf = Paths.get(s"$root/producers.json")
      if (Files.exists(pf)) {
        val node = jsonMapper.readTree(Files.readString(pf))
        var hw = producerIds.get()
        while (hw < node.path("next").asLong(1000) &&
          !producerIds.compareAndSet(hw, node.path("next").asLong(1000)))
          hw = producerIds.get()
        node.path("txns").properties().asScala.foreach { e =>
          val pid = e.getValue.path("pid").asLong()
          txnIds.putIfAbsent(e.getKey, pid)
          val ep = e.getValue.path("epoch").asInt()
          currentEpochs.updateWith(pid) {
            case Some(x) => Some(math.max(x, ep))
            case None => Some(ep)
          }
          ()
        }
      }
      val tdir = Paths.get(s"$root/txns")
      if (Files.isDirectory(tdir))
        listDir(tdir).iterator
          .filter(_.getFileName.toString.matches("\\d+\\.json")).foreach { f =>
            val pid = f.getFileName.toString.stripSuffix(".json").toLong
            val n = jsonMapper.readTree(Files.readString(f))
            txnStates.putIfAbsent(pid, TxnState.Begin)
            txnStartTimes.putIfAbsent(pid, n.path("t0").asLong(clock()))
            val m = txns.getOrElseUpdate(pid, TrieMap.empty)
            n.path("ranges").forEach { r =>
              m.putIfAbsent(
                Topition(r.path("topic").asText(), r.path("partition").asInt()),
                (r.path("start").asLong(), r.path("end").asLong()))
              ()
            }
            val staged = scala.collection.mutable.ArrayBuffer
              .empty[(String, Topition, Long)]
            n.path("staged").forEach { s =>
              staged += ((s.path("group").asText(),
                Topition(s.path("topic").asText(), s.path("partition").asInt()),
                s.path("offset").asLong()))
            }
            if (staged.nonEmpty)
              pendingTxnOffsets.putIfAbsent(pid, staged.toVector)
            ()
          }
    }

  private def persistProducers(): Unit = synchronized {
    val node = jsonMapper.createObjectNode()
    node.put("next", producerIds.get())
    val t = node.putObject("txns")
    txnIds.toSeq.sortBy(_._1).foreach { case (id, pid) =>
      val e = t.putObject(id)
      e.put("pid", pid)
      e.put("epoch", currentEpochs.getOrElse(pid, 0))
      ()
    }
    val p = Paths.get(s"$root/producers.json")
    val tmp = Paths.get(s"$root/producers.json.tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(node))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def persistTxn(pid: Long): Unit = synchronized {
    Files.createDirectories(Paths.get(s"$root/txns"))
    val node = jsonMapper.createObjectNode()
    node.put("t0", txnStartTimes.getOrElse(pid, clock()))
    val ranges = node.putArray("ranges")
    txns.get(pid).foreach(_.foreach { case (tp, (s0, e0)) =>
      val r = ranges.addObject()
      r.put("topic", tp.topic); r.put("partition", tp.partition)
      r.put("start", s0); r.put("end", e0)
      ()
    })
    val staged = node.putArray("staged")
    pendingTxnOffsets.getOrElse(pid, Vector.empty).foreach { case (g, tp, off) =>
      val s = staged.addObject()
      s.put("group", g); s.put("topic", tp.topic)
      s.put("partition", tp.partition); s.put("offset", off)
      ()
    }
    val p = Paths.get(s"$root/txns/$pid.json")
    val tmp = Paths.get(s"$root/txns/$pid.json.tmp")
    Files.writeString(tmp, jsonMapper.writeValueAsString(node))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def dropTxnFile(pid: Long): Unit = {
    Files.deleteIfExists(Paths.get(s"$root/txns/$pid.json")); ()
  }

  /** Re-initialising an existing transactional id bumps the epoch and
    * fences the previous producer instance, aborting any in-flight txn it
    * left open (reference dynostore.rs:826-880 epoch semantics) — across
    * process restarts, because identity and open-txn state are recovered
    * from producers.json / txns/ first.
    */
  override def initProducer(txnId: String): (Long, Int) = {
    ensureProducersLoaded()
    if (txnId == null || txnId.isEmpty) {
      val pid = producerIds.incrementAndGet()
      currentEpochs.put(pid, 0)
      persistProducers()
      (pid, 0)
    } else {
      val pid = txnIds.getOrElseUpdate(txnId, producerIds.incrementAndGet())
      val epoch = currentEpochs.updateWith(pid) {
        case Some(e) => Some(e + 1)
        case None => Some(0)
      }.get
      persistProducers()
      // zombie cleanup: the fenced instance's open txn is aborted now so
      // its records never become visible under read_committed
      if (epoch > 0 && txnStates.get(pid).contains(TxnState.Begin))
        endTxnInternal(pid, commit = false)
      (pid, epoch)
    }
  }

  private def fenced(producerId: Long, producerEpoch: Int): Boolean = {
    ensureProducersLoaded()
    producerEpoch >= 0 && currentEpochs.get(producerId).exists(producerEpoch < _)
  }

  override def txnBegin(producerId: Long, tp: Topition,
                        producerEpoch: Int): Int = {
    if (fenced(producerId, producerEpoch)) return ErrorCode.ProducerFenced
    txnStates.put(producerId, TxnState.Begin)
    txnStartTimes.putIfAbsent(producerId, clock())
    txns.getOrElseUpdate(producerId, TrieMap.empty)
    txnAddedParts.getOrElseUpdate(producerId, TrieMap.empty).put(tp, ())
    persistTxn(producerId)
    ErrorCode.None
  }

  /** AddOffsetsToTxn: opens the transaction for offset staging — the
    * commit-only EOS flow (sendOffsetsToTransaction with no produced
    * partitions) never calls txnBegin, so the Begin transition happens
    * here (reference TxnAddOffsetsService, storage.rs:583).
    */
  override def txnAddOffsets(producerId: Long, group: String,
                             producerEpoch: Int): Int = {
    ensureProducersLoaded()
    if (fenced(producerId, producerEpoch)) return ErrorCode.ProducerFenced
    if (!currentEpochs.contains(producerId))
      return ErrorCode.UnknownProducerId
    txnStates.put(producerId, TxnState.Begin)
    txnStartTimes.putIfAbsent(producerId, clock())
    txns.getOrElseUpdate(producerId, TrieMap.empty)
    persistTxn(producerId)
    ErrorCode.None
  }

  /** Stage a consumer offset inside the txn; becomes visible to
    * offsetFetch only when the txn commits (reference lib.rs:1480-1517 —
    * the consume-transform-produce half of EOS).
    */
  override def txnOffsetCommit(producerId: Long, group: String, tp: Topition,
                               offset: Long, producerEpoch: Int): Int = {
    if (fenced(producerId, producerEpoch)) return ErrorCode.ProducerFenced
    if (!txnStates.get(producerId).contains(TxnState.Begin))
      return ErrorCode.InvalidTxnState
    pendingTxnOffsets.updateWith(producerId) {
      case Some(v) => Some(v :+ ((group, tp, offset)))
      case None => Some(Vector((group, tp, offset)))
    }
    persistTxn(producerId) // staged offsets survive restart until txnEnd
    ErrorCode.None
  }

  override def txnEnd(producerId: Long, commit: Boolean,
                      producerEpoch: Int): Int = {
    if (fenced(producerId, producerEpoch)) return ErrorCode.ProducerFenced
    if (!txnStates.contains(producerId) && !currentEpochs.contains(producerId))
      return ErrorCode.UnknownProducerId
    if (!txnStates.get(producerId).contains(TxnState.Begin))
      return ErrorCode.InvalidTxnState
    endTxnInternal(producerId, commit)
    ErrorCode.None
  }

  private def endTxnInternal(producerId: Long, commit: Boolean): Unit = {
    // ORDER MATTERS: markers + aborted ranges are recorded BEFORE the
    // state flips. Flipping first releases the last-stable offset while
    // a concurrent read_committed fetch can still see the aborted rows
    // with no range information — the EOS visibility hole. With this
    // order the LSO stays pinned (state Begin) until every consumer-
    // visible artifact of the outcome exists; a crash mid-way re-aborts
    // on recovery (markers are idempotent for range replay).
    txns.get(producerId).foreach(_.foreach { case (tp, (start, end)) =>
      // a partition deleted mid-txn (DeleteTopics) has nothing to mark;
      // skipping it — instead of throwing — keeps endTxn/maintain alive
      // and still clears the txn state below (a throw here left the txn
      // as permanent poison: every later maintain() tick re-failed)
      if (Files.isDirectory(Paths.get(partDir(tp))))
        writeControlMarker(tp, producerId, commit)
      if (!commit) {
        abortedRanges.updateWith(tp) {
          case Some(v) => Some(v :+ TxnRange(producerId, tp.topic, tp.partition,
            start, end, TxnState.Aborted))
          case None => Some(Vector(TxnRange(producerId, tp.topic, tp.partition,
            start, end, TxnState.Aborted)))
        }
      }
    })
    val next = if (commit) TxnState.Committed else TxnState.Aborted
    txnStates.put(producerId, next)
    // durable state: one control marker row per touched partition — the
    // Kafka commit/abort marker (reference pg.rs:1027-1042). Aborted
    // ranges are recomputable from the log alone (abortedRangesFromLog),
    // so a restarted process loses nothing.
    // staged consumer offsets: applied on commit, dropped on abort
    val staged = pendingTxnOffsets.remove(producerId).getOrElse(Vector.empty)
    if (commit) staged.foreach { case (g, tp, off) => offsetCommit(g, tp, off) }
    txns.remove(producerId)
    txnAddedParts.remove(producerId)
    txnStartTimes.remove(producerId)
    dropTxnFile(producerId)
    ()
  }

  /** Append a commit/abort control marker: reserves a real offset (Kafka
    * semantics — markers occupy log positions) and writes a one-row batch
    * with is_control=true, nulls for the topic's payload columns.
    */
  private def writeControlMarker(tp: Topition, producerId: Long,
                                 commit: Boolean): Unit = {
    val offset = reserveOffsets(tp, 1)
    val vals: Array[Any] = logSchema.fields.map { f =>
      f.name match {
        case "offset" => offset
        case "topic" => tp.topic
        case "partition" => tp.partition
        case "timestamp" => new java.sql.Timestamp(clock())
        case "producer_id" => producerId
        case "producer_epoch" => currentEpochs.getOrElse(producerId, 0)
        case "base_sequence" => -1
        case "is_control" => true
        case "control_type" => if (commit) "commit" else "abort"
        case _ => null
      }
    }
    val row: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), logSchema)
    val tmpDir = f"${partDir(tp)}/.tmp_$offset%020d"
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    Files.move(Paths.get(tmpDir), Paths.get(f"${partDir(tp)}/$offset%020d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  override def abortedTxns(tp: Topition, fromOffset: Long,
                           toOffset: Long): Seq[TxnRange] = {
    // first touch after (re)start: rebuild this partition's aborted ranges
    // from the control markers in the log — the restart-safety path
    if (recoveredAborted.putIfAbsent(tp, true).isEmpty) recoverAbortedRanges(tp)
    abortedRanges.getOrElse(tp, Vector.empty)
      .filter(r => r.offsetStart < toOffset && r.offsetEnd >= fromOffset)
  }

  /** Rebuild per-(producer, epoch) expected sequences from the log: the
    * batch with the highest offset per producer determines the next
    * expected base sequence (its base + row count). Also re-seeds the
    * producer's highest seen epoch so fencing survives restart. Runs at
    * most once per partition per process, only on the idempotent path.
    */
  private def recoverProducerSeqs(tp: Topition): Unit = {
    val rows = logDf(tp)
      .filter(col("producer_id") >= 0 && !col("is_control") &&
        col("base_sequence") >= 0)
      .groupBy(col("producer_id"), col("producer_epoch"), col("base_sequence"))
      .agg(count(lit(1)).as("n"), max(col("offset")).as("max_off"))
      .collect()
    rows.groupBy(r => (r.getLong(0), r.getInt(1))).foreach {
      case ((pid, epoch), batches) =>
        val last = batches.maxBy(_.getAs[Long]("max_off"))
        producerSeqs.putIfAbsent((pid, epoch, tp),
          last.getAs[Int]("base_sequence") + last.getAs[Long]("n").toInt)
        currentEpochs.updateWith(pid) {
          case Some(e) => Some(math.max(e, epoch))
          case None => Some(epoch)
        }
        ()
    }
  }

  private val recoveredSeqs = TrieMap.empty[Topition, Boolean]

  private def recoverAbortedRanges(tp: Topition): Unit = {
    val known = abortedRanges.getOrElse(tp, Vector.empty)
      .map(r => (r.producerId, r.offsetStart, r.offsetEnd)).toSet
    val fromLog = LogOps.abortedRangesFromLog(logDf(tp)).collect().toSeq
      .map(r => TxnRange(r.getAs[Long]("producer_id"), tp.topic, tp.partition,
        r.getAs[Long]("offset_start"), r.getAs[Long]("offset_end"),
        TxnState.Aborted))
      .filterNot(r => known.contains((r.producerId, r.offsetStart, r.offsetEnd)))
    if (fromLog.nonEmpty)
      abortedRanges.updateWith(tp) {
        case Some(v) => Some(v ++ fromLog)
        case None => Some(fromLog.toVector)
      }
    ()
  }

  // ------------------------------------------------------------- maintenance

  /** T6 — abort transactions whose timeout elapsed, releasing the pinned
    * last-stable offset (reference `Storage::maintain_transactions`,
    * `pg.rs:3662`).
    */
  def maintainTransactions(): Seq[Long] = {
    ensureProducersLoaded() // txns left open across a restart still time out
    val now = clock()
    val expired = txnStartTimes.collect {
      case (pid, t0) if txnStates.get(pid).contains(TxnState.Begin) &&
        now - t0 > txnTimeoutMs => pid
    }.toSeq
    expired.foreach(pid => endTxnInternal(pid, commit = false))
    expired
  }

  /** Retention (policy_delete.sql) + compaction (policy_compact.sql),
    * then abort expired transactions (T6).
    *
    * Restart-aware: topics are enumerated from STORAGE (the disk listing
    * + topic.json config), not the in-process cache — a fresh process
    * over an existing root maintains every topic, matching the
    * stateless-broker story. Scale-safe: each topic is rewritten by ONE
    * Spark job spanning all its partitions (plus one tiny metadata
    * aggregate), not a serial per-partition driver loop, and topics run
    * concurrently. Oversized partitions split into multiple segment
    * files of at most `segment.rows` rows; every output file is named by
    * the minimum offset it contains, preserving the
    * filename-base-=-offset invariant that deleteRecords and fetch
    * pruning rely on.
    */
  override def maintain(): Unit = {
    maintainTransactions()
    val work = topics.flatMap { t => topicMeta(t).map { case (n, cfg) => (t, n, cfg) } }
      .filter { case (_, _, cfg) =>
        // plain-delete topics with no retention are a no-op: skip the scan
        cfg.contains(ConfigKey.RetentionMs) ||
          cfg.getOrElse(ConfigKey.CleanupPolicy, "delete").contains("compact")
      }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence(work.map { case (t, n, cfg) => Future(maintainTopic(t, n, cfg)) }),
      Duration.Inf)
    maintainLakeTables()
    ()
  }

  /** T9 on the maintenance interval (reference delta.rs:577-622 runs
    * Delta OPTIMIZE on a timer): compact any lake table whose manifest
    * holds meaningfully more files than its data needs, then vacuum
    * replaced files past the age fence. Guards:
    *  - the trigger compares the file count against the EXPECTED
    *    post-compaction count from real byte sizes — a large-but-healthy
    *    table is not rewritten every tick;
    *  - per-table failures (64 lost CAS races under hot produce, IO
    *    errors) are contained so one table can't poison the sweep —
    *    the same lesson endTxnInternal already encodes;
    *  - tables compact concurrently, like the topic sweep above.
    */
  private def maintainLakeTables(optimizeAtFiles: Int = 16,
                                 targetFileMB: Int = 128,
                                 vacuumMinAgeMs: Long = 3600000L): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sweeps = topics.map { t =>
      Future {
        try {
          val table = s"$root/lake/$t"
          graft.lake.TxLog.currentSnapshot(table).foreach { snap =>
            val expected = math.max(1L,
              graft.lake.TxLog.snapshotBytes(table, snap) /
                (targetFileMB.toLong * 1024 * 1024))
            if (snap.files.length >= optimizeAtFiles &&
                snap.files.length > 2 * expected) {
              val cfg = topicConfig(t)
              // purgeReplaced: plain directory readers (non-manifest)
              // must not double-count replaced + rewritten data for the
              // vacuum age window
              graft.lake.TxLog.optimize(spark, table,
                csvConfig(cfg, ConfigKey.LakePartition),
                csvConfig(cfg, ConfigKey.LakeZOrder), targetFileMB,
                purgeReplaced = true)
              graft.lake.TxLog.vacuum(table, vacuumMinAgeMs)
            }
          }
        } catch { case scala.util.control.NonFatal(_) => }
      }
    }
    Await.result(Future.sequence(sweeps), Duration.Inf)
    ()
  }

  /** Comma-separated config value -> trimmed column list; ONE parser for
    * the write path (lakeSink) and the compaction path, which must agree
    * on the partition layout.
    */
  private def csvConfig(cfg: Map[String, String], key: String): Seq[String] =
    cfg.get(key).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  private def batchFiles(tp: Topition): Seq[java.nio.file.Path] = {
    val dir = Paths.get(partDir(tp))
    if (!Files.isDirectory(dir)) Nil
    else {
      listDir(dir)
        .filter(p => p.getFileName.toString.matches("\\d{20}\\.parquet"))
        .sortBy(_.getFileName.toString)
    }
  }

  private def baseOf(obj: java.nio.file.Path): Long =
    obj.getFileName.toString.stripSuffix(".parquet").toLong

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      walkAll(p).reverse.foreach(Files.delete)
    }

  /** One maintenance pass over one topic: read all partitions' batch
    * objects, apply the cleanup policy, and rewrite as offset-named
    * segment files — a single distributed write job for the whole topic
    * (the Spark form of the reference's one-statement
    * `policy_delete.sql`/`policy_compact.sql` sweep).
    */
  private def maintainTopic(topic: String, partitions: Int,
                            cfg: Map[String, String]): Unit = {
    val policy = cfg.getOrElse(ConfigKey.CleanupPolicy, "delete")
    val retentionMs = cfg.get(ConfigKey.RetentionMs).map(_.toLong)
    val segmentRows = cfg.get(ConfigKey.SegmentRows).map(_.toLong)
      .getOrElse(4000000L)
    val allTps = (0 until partitions).map(p => Topition(topic, p))
    // finish (or discard) any swap a previous crash interrupted BEFORE
    // listing the live file set — stale staged segments must never be
    // mistaken for garbage while a commit marker says they are the data
    allTps.foreach { tp => swapRecovered.put(tp, true); recoverMaintainSwap(tp) }
    val filesByTp = allTps.map(tp => tp -> batchFiles(tp)).filter(_._2.nonEmpty)
    if (filesByTp.isEmpty) return
    // readLog ignores missing files: a concurrent DeleteRecords can remove
    // a listed batch file before the rewrite job scans it; a missing file
    // is a shorter input, not a dead maintenance tick for every topic
    var df = readLog(filesByTp.flatMap(_._2))
    // injected clock, not wall time — retention is deterministic under
    // test and replayable in maintenance backfills
    if (policy.contains("delete")) retentionMs.foreach { r =>
      df = df.filter(col("timestamp") >= timestamp_millis(lit(clock() - r)))
    }
    if (policy.contains("compact")) df = LogOps.compact(df)
    // segment assignment: offsets are unique per partition, so row_number
    // over (partition, offset) is deterministic across the two jobs below
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(col("offset"))
    val chunked = df.withColumn("__seg",
      floor((row_number().over(w) - 1) / lit(segmentRows)))
    // job 1 (tiny): base offset per output segment = its minimum offset
    val bases = chunked.groupBy(col("partition"), col("__seg"))
      .agg(min(col("offset")).as("base")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // job 2: ONE distributed write across all partitions; __p duplicates
    // the partition column because partitionBy drops it from data files
    val tmpRoot = Paths.get(s"$root/.maintain/$topic")
    deleteRecursive(tmpRoot)
    chunked.withColumn("__p", col("partition"))
      .repartition(col("__p"), col("__seg"))
      .sortWithinPartitions(col("__p"), col("__seg"), col("offset"))
      .write.partitionBy("__p", "__seg").mode("overwrite")
      .parquet(tmpRoot.toString)
    // crash-safe swap per partition (round-4 verdict #1): stage the new
    // segments INSIDE the partition dir under dot-names (invisible to
    // logDf/batchFiles), land a commit marker naming the dead files, then
    // delete-old + unveil-staged. Every crash point leaves a complete
    // copy on disk: before the marker the old set is live and recovery
    // discards the stage; after it, recovery finishes the swap.
    val byPartition = bases.groupBy(_._1)
    filesByTp.foreach { case (tp, oldFiles) =>
      val dir = Paths.get(partDir(tp))
      val segs = byPartition.getOrElse(tp.partition, Array.empty[(Int, Long, Long)])
      segs.foreach { case (p, seg, base) =>
        Files.move(tmpRoot.resolve(s"__p=$p").resolve(s"__seg=$seg"),
          dir.resolve(f".$base%020d.parquet"))
      }
      maybeCrash("staged")
      commitSwap(tp, oldFiles.map(_.getFileName.toString))
      // rows below the new minimum are gone for good: advance the durable
      // log-start so listEarliestOffset never names a deleted offset
      if (policy.contains("delete") && retentionMs.nonEmpty)
        advanceLogStart(tp,
          if (segs.nonEmpty) segs.map(_._3).min
          else offsetStage(tp).highWatermark)
    }
    deleteRecursive(tmpRoot)
  }

  // ----------------------------------------------------- crash-safe swap

  // partitions whose interrupted-swap recovery already ran this process
  private val swapRecovered = TrieMap.empty[Topition, Boolean]
  // serializes swap commit/recovery per partition: a reader's first-touch
  // recovery must not interleave with an in-flight maintenance swap
  private val swapLocks = TrieMap.empty[Topition, Object]
  private def swapLock(tp: Topition): Object =
    swapLocks.getOrElseUpdate(tp, new Object)

  private def ensureSwapRecovered(tp: Topition): Unit =
    if (swapRecovered.putIfAbsent(tp, true).isEmpty) recoverMaintainSwap(tp)

  /** Test-only crash injection for StorageSpec's swap-atomicity suite:
    * set to "staged" | "committed" | "deleted" to die at that point.
    */
  private[graft] var swapCrashPoint: Option[String] = None
  private def maybeCrash(point: String): Unit =
    if (swapCrashPoint.contains(point))
      throw new IllegalStateException(s"injected crash: $point")

  private def swapMarker(tp: Topition) =
    Paths.get(partDir(tp), ".maintain_swap")

  private def stagedSegs(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (!Files.isDirectory(dir)) Nil
    else listDir(dir)
      .filter(_.getFileName.toString.matches("\\.\\d{20}\\.parquet"))
  }

  /** Durable commit point of a maintenance swap: once the marker (which
    * lists the files the rewrite replaced) lands via atomic rename, the
    * staged dot-named segments are the partition's truth. finishSwap is
    * idempotent, so the swap replays to completion from any crash point.
    */
  private def commitSwap(tp: Topition, dead: Seq[String]): Unit =
    swapLock(tp).synchronized {
      val m = swapMarker(tp)
      val tmp = Paths.get(m.toString + ".tmp")
      Files.writeString(tmp, dead.mkString("\n"))
      Files.move(tmp, m, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      maybeCrash("committed")
      finishSwap(tp)
    }

  private def finishSwap(tp: Topition): Unit = {
    val dir = Paths.get(partDir(tp))
    val m = swapMarker(tp)
    Files.readString(m).split("\n").filter(_.nonEmpty)
      .foreach(f => deleteRecursive(dir.resolve(f)))
    maybeCrash("deleted")
    stagedSegs(dir).foreach { p =>
      val dst = dir.resolve(p.getFileName.toString.stripPrefix("."))
      deleteRecursive(dst) // replaced file with the same base, not yet dropped
      Files.move(p, dst)
    }
    Files.delete(m)
  }

  /** First touch of a partition after a restart: a committed-but-
    * interrupted swap is finished; staged segments with no marker never
    * reached the commit point and are discarded (the old set is live).
    */
  private def recoverMaintainSwap(tp: Topition): Unit =
    swapLock(tp).synchronized {
      val dir = Paths.get(partDir(tp))
      if (Files.isDirectory(dir)) {
        if (Files.exists(swapMarker(tp))) finishSwap(tp)
        else stagedSegs(dir).foreach(deleteRecursive)
      }
    }
}
