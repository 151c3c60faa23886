package graft

import org.apache.spark.sql.functions._
import graft.model.Model._
import graft.operators.LogOps
import graft.storage.ParquetStorage
import graft.schema.SchemaRegistry

/** Mirrors the reference's per-API integration tests
  * (the `nisshi-storage/tests` suite; idempotence cases
  * `service/produce.rs:356-760`).
  */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def newStorage(withRegistry: Boolean = false): (ParquetStorage, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-storage").toString
    val reg = if (withRegistry) {
      val rdir = java.nio.file.Files.createTempDirectory("graft-reg")
      java.nio.file.Files.writeString(rdir.resolve("person.json"),
        scala.io.Source.fromResource("schema/person.json").mkString)
      Some(new SchemaRegistry(rdir.toString))
    } else None
    (new ParquetStorage(spark, root, reg), root)
  }

  private def batch(n: Int, from: Int = 0) =
    (from until from + n).map(i =>
      (java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0${i % 10}"),
        s"k$i", s"""{"v":$i}""")).toSeq
      .toDF("timestamp", "key", "value")

  private val tp = Topition("t1", 0)

  test("produce assigns contiguous offsets; fetch round-trips") {
    val (st, _) = newStorage()
    st.createTopic("t1", 2)
    assert(st.produce(tp, batch(5)) === Right(0L))
    assert(st.produce(tp, batch(3, 5)) === Right(5L))
    assert(st.offsetStage(tp).highWatermark === 8L)
    val rows = st.fetch(tp, 2, Long.MaxValue).orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq === (2L to 7L))
    // fetch respects byte budget: min one record
    assert(st.fetch(tp, 0, 1).count() === 1)
  }

  test("max.message.bytes rejects oversized records with MESSAGE_TOO_LARGE") {
    val (st, _) = newStorage()
    st.createTopic("t1", 2, Map(ConfigKey.MaxMessageBytes -> "32"))
    // key+value within the cap: accepted
    assert(st.produce(tp, batch(3)) === Right(0L))
    // one oversized value poisons the whole batch (atomic reject: the
    // watermark must not advance past a half-accepted batch)
    val big = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k", "small"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "k", "x" * 64))
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, big) === Left(ErrorCode.MessageTooLarge))
    assert(st.offsetStage(tp).highWatermark === 3L) // nothing landed
    // routed multi-partition path enforces the same cap
    val routed = big.withColumn("partition", lit(0))
    assert(st.produceAll("t1", routed) === Left(ErrorCode.MessageTooLarge))
    // key bytes count toward the record size too
    val bigKey = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k" * 40, "v"))
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, bigKey) === Left(ErrorCode.MessageTooLarge))
    // unconfigured topics stay uncapped
    val (st2, _) = newStorage()
    st2.createTopic("t1", 1)
    assert(st2.produce(tp, big).isRight)
  }

  test("idempotent producer: duplicate and out-of-order sequences rejected") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 0).isRight)
    // duplicate (same sequence again)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 0) === Left(ErrorCode.DuplicateSequenceNumber))
    // gap (skipped ahead)
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 99) === Left(ErrorCode.OutOfOrderSequenceNumber))
    // correct next sequence accepted
    assert(st.produce(tp, batch(5), producerId = 7, producerEpoch = 0,
      baseSequence = 5).isRight)
  }

  test("schema-backed topic: invalid batch rejected, valid lands in lake") {
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1,
      Map(ConfigKey.GeneratedPrefix + "day" -> "cast(meta.timestamp as date)"))
    val ptp = Topition("person", 0)
    val bad = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada"}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, bad) === Left(ErrorCode.InvalidRecord))
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good).isRight)
    val lake = spark.read.parquet(s"$root/lake/person")
    assert(lake.count() === 1)
    assert(lake.columns.contains("meta"))
    assert(lake.columns.contains("day")) // generated column
    assert(lake.select("value_struct.value.firstName").head().getString(0) === "Ada")
  }

  test("lake sink rate cap: lake.records.per.second throttles, loses nothing") {
    // the bucket's arithmetic alone: the initial burst is free, refill
    // gates the rest at the configured rate
    val rl = new graft.lake.Lake.RateLimiter(100)
    val t0 = System.nanoTime()
    rl.acquire(100) // drains the full initial bucket without waiting
    val burstS = (System.nanoTime() - t0) / 1e9
    assert(burstS < 0.5, s"initial burst blocked: $burstS s")
    rl.acquire(50) // needs ~0.5 s of refill
    val totalS = (System.nanoTime() - t0) / 1e9
    assert(totalS >= 0.4, s"refill gate returned too early: $totalS s")

    // end to end: a capped schema topic's SECOND sink write waits for
    // tokens; every row still lands in the lake table
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1,
      Map(ConfigKey.LakeRecordsPerSecond -> "4"))
    val ptp = Topition("person", 0)
    def doc(i: Int) = (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      s"k$i",
      s"""{"key":"ABC-10$i","value":{"firstName":"A$i","lastName":"L","age":3}}""")
    val w0 = System.nanoTime()
    assert(st.produce(ptp, Seq(doc(1), doc(2), doc(3), doc(4))
      .toDF("timestamp", "key", "value")).isRight) // drains the bucket
    assert(st.produce(ptp, Seq(doc(5), doc(6)).toDF("timestamp", "key", "value"))
      .isRight) // must wait ~0.5 s for 2 tokens
    val elapsedS = (System.nanoTime() - w0) / 1e9
    assert(elapsedS >= 0.4, s"capped sink never throttled: $elapsedS s")
    assert(spark.read.parquet(s"$root/lake/person").count() === 6)
  }

  test("lake.sink=true topic lands only in the lake: fetch sees an empty log") {
    val root = java.nio.file.Files.createTempDirectory("graft-lakeonly").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-lakeonly-reg")
    java.nio.file.Files.writeString(rdir.resolve("person.json"),
      scala.io.Source.fromResource("schema/person.json").mkString)
    def mkStorage() =
      new ParquetStorage(spark, root, Some(new SchemaRegistry(rdir.toString)))
    val st = mkStorage()
    st.createTopic("person", 1, Map(ConfigKey.LakeSink -> "true"))
    val ptp = Topition("person", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good) === Right(0L))
    assert(st.produce(ptp, good) === Right(1L)) // offsets still advance
    // the lake table holds both rows; the LOG holds none (no objects)
    assert(spark.read.parquet(s"$root/lake/person").count() === 2)
    assert(st.fetch(ptp, 0, Long.MaxValue).count() === 0)
    // durable offsets: a fresh process over the same root keeps counting
    // (watermark.json is independent of batch files)
    assert(mkStorage().produce(ptp, good) === Right(2L))
  }

  test("lake.normalize flattens the lake table with the configured separator") {
    val (st, root) = newStorage(withRegistry = true)
    st.createTopic("person", 1, Map(
      ConfigKey.LakeNormalize -> "true",
      ConfigKey.LakeNormalizeSeparator -> "_"))
    val ptp = Topition("person", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      """{"key":"ABC-123","value":{"firstName":"Ada","lastName":"L","age":3}}"""))
      .toDF("timestamp", "key", "value")
    assert(st.produce(ptp, good).isRight)
    val lake = spark.read.parquet(s"$root/lake/person")
    // nested structs flattened to top-level `a_b_c` columns (reference
    // taxi_normalized, delta.rs:1203/1317 — meta_partition etc.)
    assert(lake.columns.contains("meta_partition"))
    assert(lake.columns.contains("meta_year"))
    assert(lake.columns.contains("value_struct_value_firstName"))
    assert(!lake.columns.contains("meta"))
    assert(lake.select("value_struct_value_firstName").head().getString(0)
      === "Ada")
  }

  test("Avro topic: binary payloads validated and landed typed in lake") {
    val root = java.nio.file.Files.createTempDirectory("graft-avro-topic").toString
    val rdir = java.nio.file.Files.createTempDirectory("graft-avro-reg")
    val avsc =
      """{"type":"record","name":"m","fields":[
        |{"name":"amount","type":"double"},{"name":"tag","type":"string"}]}""".stripMargin
    java.nio.file.Files.writeString(rdir.resolve("metrics.avsc"), avsc)
    val st = new graft.storage.ParquetStorage(spark, root,
      Some(new graft.schema.SchemaRegistry(rdir.toString)))
    st.createTopic("metrics", 1)
    val mtp = Topition("metrics", 0)
    val good = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      graft.schema.AvroDecoder.encode(avsc, Map("amount" -> 2.5, "tag" -> "x"))))
      .toDF("timestamp", "key", "value")
    assert(st.produce(mtp, good).isRight)
    val bad = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "k",
      Array[Byte](9, 9, 9)))
      .toDF("timestamp", "key", "value")
    assert(st.produce(mtp, bad) === Left(ErrorCode.InvalidRecord))
    val lake = spark.read.parquet(s"$root/lake/metrics")
    assert(lake.count() === 1)
    assert(lake.select("value_struct.amount").head().getDouble(0) === 2.5)
    assert(lake.select("value_struct.tag").head().getString(0) === "x")
  }

  test("group state CAS: stale version rejected (T11 substrate)") {
    val (st, _) = newStorage()
    assert(st.updateGroup("g", "Forming", -1) === Some(0L))
    assert(st.updateGroup("g", "Formed", 0) === Some(1L))
    // retry with stale version fails
    assert(st.updateGroup("g", "Forming", 0) === None)
    assert(st.groupState("g").map(_._2) === Some(1L))
  }

  test("offset commit/fetch per group") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("g1", tp, 42)
    assert(st.offsetFetch("g1", tp) === Some(42L))
    assert(st.offsetFetch("g2", tp) === None)
  }

  test("idempotent-producer sequences recover from the log after restart") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    assert(st.produce(tp, batch(5), producerId = 9, producerEpoch = 1,
      baseSequence = 0).isRight)
    assert(st.produce(tp, batch(3, 5), producerId = 9, producerEpoch = 1,
      baseSequence = 5).isRight)

    // new process over the same root: the resumed producer's next
    // in-order batch is accepted, a replayed old batch is rejected
    val st2 = new ParquetStorage(spark, root)
    assert(st2.produce(tp, batch(2, 8), producerId = 9, producerEpoch = 1,
      baseSequence = 8).isRight)
    assert(st2.produce(tp, batch(5), producerId = 9, producerEpoch = 1,
      baseSequence = 0) === Left(ErrorCode.DuplicateSequenceNumber))
    // and a lower-epoch zombie is still fenced after restart
    assert(st2.produce(tp, batch(1), producerId = 9, producerEpoch = 0,
      baseSequence = 0) === Left(ErrorCode.ProducerFenced))
  }

  test("group state and committed offsets survive a storage restart") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("g1", tp, 42)
    assert(st.updateGroup("grp", """{"generation":3}""", -1) === Some(0L))
    assert(st.updateGroup("grp", """{"generation":4}""", 0) === Some(1L))

    // brand-new process over the same root: all group state recovers
    val st2 = new ParquetStorage(spark, root)
    assert(st2.offsetFetch("g1", tp) === Some(42L))
    assert(st2.groupState("grp") === Some(("""{"generation":4}""", 1L)))
    // CAS continues from the recovered version
    assert(st2.updateGroup("grp", """{"generation":5}""", 0) === None)
    assert(st2.updateGroup("grp", """{"generation":5}""", 1) === Some(2L))
  }

  test("transactions: aborted ranges filtered under read_committed (T5/J3/P8)") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    val (pid, _) = st.initProducer("tx-1")
    assert(st.produce(tp, batch(3)).isRight) // committed data 0..2
    st.txnBegin(pid, tp)
    assert(st.produce(tp, batch(4), producerId = pid, producerEpoch = 0,
      baseSequence = 0).isRight) // txn data 3..6
    // open txn pins last stable at 3
    assert(st.offsetStage(tp).lastStable === 3L)
    assert(st.fetch(tp, 0, Long.MaxValue, readCommitted = true).count() === 3)
    assert(st.txnEnd(pid, commit = false) === ErrorCode.None)
    val aborted = st.abortedTxns(tp, 0, Long.MaxValue)
    assert(aborted.map(r => (r.offsetStart, r.offsetEnd)) === Seq((3L, 6L)))
    // abort marker occupies offset 7 (control batch in the log); stable
    // advances past it and consumers never see the marker row
    assert(st.offsetStage(tp).lastStable === 8L)
    assert(st.fetch(tp, 0, Long.MaxValue).count() === 7) // 0..6, marker hidden

    // restart safety (P4/T5): a brand-new process over the same root
    // recovers the aborted range from the control markers alone
    val st2 = new ParquetStorage(spark, root)
    val recovered = st2.abortedTxns(tp, 0, Long.MaxValue)
    assert(recovered.map(r => (r.offsetStart, r.offsetEnd)) === Seq((3L, 6L)))
  }

  test("deleteTopic mid-transaction: endTxn and maintain stay alive") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.createTopic("keep", 1)
    val (pid, _) = st.initProducer("tx-del")
    st.txnBegin(pid, tp)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = 0,
      baseSequence = 0).isRight)
    st.deleteTopic("t1")
    // ending the txn must not throw into the deleted log; maintain must
    // not be permanently poisoned by the orphan txn
    assert(st.txnEnd(pid, commit = false) === ErrorCode.None)
    st.maintain() // would previously rethrow NoSuchFileException forever
    assert(st.produce(Topition("keep", 0), batch(1)).isRight)
  }

  test("byte budget counts tombstones: null values cannot make fetch unbounded") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val tombstones = (0 until 50).map(i =>
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"key-$i",
        null: String)).toSeq
      .toDF("timestamp", "key", "value")
    assert(st.produce(tp, tombstones).isRight)
    // a tiny budget returns a bounded prefix (min one record), never the
    // whole partition
    val n = st.fetch(tp, 0, maxBytes = 64).count()
    assert(n >= 1 && n < 50, s"got $n rows for a 64-byte budget")
  }

  test("group keys containing '.tmp' stay visible to listings") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    st.offsetCommit("etl.tmp", tp, 5L)
    assert(st.offsetFetch("etl.tmp", tp) === Some(5L))
    assert(st.groupOffsets("etl.tmp").map(_._2) === Seq(5L))
  }

  test("producer-epoch fencing: stale instance rejected (T4)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e0) = st.initProducer("app-1")
    assert(e0 === 0)
    st.txnBegin(pid, tp, e0)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 0).isRight)
    // same transactional id re-initialised: epoch bumps, zombie fenced
    val (pid2, e1) = st.initProducer("app-1")
    assert(pid2 === pid && e1 === 1)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 2) === Left(ErrorCode.ProducerFenced))
    assert(st.txnEnd(pid, commit = true, producerEpoch = e0) ===
      ErrorCode.ProducerFenced)
    // the fenced instance's open txn was aborted by the re-init
    assert(st.abortedTxns(tp, 0, Long.MaxValue).nonEmpty)
    // the new epoch proceeds normally
    assert(st.txnBegin(pid, tp, e1) === ErrorCode.None)
    assert(st.produce(tp, batch(1), producerId = pid, producerEpoch = e1,
      baseSequence = 0).isRight)
    assert(st.txnEnd(pid, commit = true, producerEpoch = e1) === ErrorCode.None)
  }

  test("txn offset commit: staged offsets visible only after commit (T5)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e) = st.initProducer("etl-1")
    st.txnBegin(pid, tp, e)
    assert(st.txnOffsetCommit(pid, "g1", tp, 10, e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === None) // not visible inside the txn
    assert(st.txnEnd(pid, commit = true, producerEpoch = e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === Some(10L)) // visible after commit

    // aborted txn drops its staged offsets
    st.txnBegin(pid, tp, e)
    assert(st.txnOffsetCommit(pid, "g1", tp, 20, e) === ErrorCode.None)
    assert(st.txnEnd(pid, commit = false, producerEpoch = e) === ErrorCode.None)
    assert(st.offsetFetch("g1", tp) === Some(10L)) // unchanged
    // txnEnd without an open txn is an explicit error, not silent success
    assert(st.txnEnd(pid, commit = true, producerEpoch = e) ===
      ErrorCode.InvalidTxnState)
  }

  test("transactional identity survives restart: zombie fenced, txn state recovered") {
    val (st, root) = newStorage()
    st.createTopic("t1", 1)
    val (pid, e0) = st.initProducer("app-1")
    assert(st.txnBegin(pid, tp, e0) === ErrorCode.None)
    assert(st.produce(tp, batch(2), producerId = pid, producerEpoch = e0,
      baseSequence = 0).isRight) // txn data 0..1
    assert(st.txnOffsetCommit(pid, "g1", tp, 5, e0) === ErrorCode.None)

    // crash before txnEnd: a brand-new process over the same root
    val st2 = new ParquetStorage(spark, root)
    // the open txn still pins the last-stable offset (no visibility leak)
    assert(st2.offsetStage(tp).lastStable === 0L)
    // same transactional id resolves to the SAME pid with a bumped epoch
    val (pid2, e1) = st2.initProducer("app-1")
    assert(pid2 === pid)
    assert(e1 === e0 + 1)
    // the zombie's open txn was aborted durably (marker in the log) and
    // its staged consumer offsets were dropped
    assert(st2.abortedTxns(tp, 0, Long.MaxValue)
      .map(r => (r.offsetStart, r.offsetEnd)) === Seq((0L, 1L)))
    assert(st2.offsetFetch("g1", tp) === None)
    // the pre-restart instance is fenced
    assert(st2.produce(tp, batch(1), producerId = pid, producerEpoch = e0,
      baseSequence = 2) === Left(ErrorCode.ProducerFenced))
    // and fresh pids never collide with pre-restart pids
    val (pid3, _) = st2.initProducer("")
    assert(pid3 > pid)
  }

  test("maintain applies compaction: latest per key survives (T7/T8)") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
    val dupKeys = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "b", "v2"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "a", "v3"))
      .toDF("timestamp", "key", "value")
    st.produce(tp, dupKeys)
    st.maintain()
    val after = st.fetch(tp, 0, Long.MaxValue).collect()
    assert(after.length === 2)
    val aRow = after
      .find(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") == "a").get
    assert(new String(aRow.getAs[Array[Byte]]("value"), "UTF-8") === "v3") // latest kept, offset preserved
    assert(aRow.getAs[Long]("offset") === 2L)
  }

  test("produceAll: one routed batch lands across all partitions with contiguous offsets") {
    val (st, _) = newStorage()
    st.createTopic("t1", 3)
    val routed = (0 until 30).map(i =>
      (java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0${i % 10}"),
        s"k$i", s"v$i", i % 3)).toSeq
      .toDF("timestamp", "key", "value", "partition")
    assert(st.produceAll("t1", routed) === Right(Map(0 -> 0L, 1 -> 0L, 2 -> 0L)))
    (0 until 3).foreach { p =>
      val offs = st.fetch(Topition("t1", p), 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted
      assert(offs.toSeq === (0L until 10L))
    }
    // a second batch continues from each partition's watermark, and
    // single-partition produce interoperates with the same offsets
    assert(st.produceAll("t1", routed) === Right(Map(0 -> 10L, 1 -> 10L, 2 -> 10L)))
    assert(st.produce(Topition("t1", 0), batch(2)) === Right(20L))
    // routing outside the declared partition set is rejected
    assert(st.produceAll("t1", routed.withColumn("partition", lit(7))) ===
      Left(ErrorCode.UnknownTopicOrPartition))
  }

  test("produceAll's offset/write plan shuffles once (window exchange reused)") {
    // the rank's window exchange on `partition` already co-locates each
    // partition's rows for the partitionBy("__p") write; a separate
    // repartition would double the shuffle on the hot streaming path
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val routed = (0 until 30).map(i => (s"k$i", s"v$i", i % 3))
        .toDF("key", "value", "partition")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("partition")).orderBy(monotonically_increasing_id())
      val planned = routed
        .withColumn("offset", row_number().over(w) - 1)
        .withColumn("__p", col("partition"))
      val exchanges = planned.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("maintain is restart-aware: a fresh process compacts topics it never touched") {
    val (st, root) = newStorage()
    st.createTopic("t1", 2, Map(ConfigKey.CleanupPolicy -> "compact"))
    val dupKeys = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "a", "v2"))
      .toDF("timestamp", "key", "value")
    st.produce(tp, dupKeys)
    st.produce(Topition("t1", 1), dupKeys)

    // brand-new process over the same root, no topic access before maintain
    val st2 = new ParquetStorage(spark, root)
    st2.maintain()
    Seq(0, 1).foreach { p =>
      val after = st2.fetch(Topition("t1", p), 0, Long.MaxValue).collect()
      assert(after.length === 1)
      assert(new String(after.head.getAs[Array[Byte]]("value"), "UTF-8") === "v2")
      assert(after.head.getAs[Long]("offset") === 1L)
    }
  }

  test("maintain splits an oversized partition into offset-named segments") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(
      ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "4"))
    // 10 distinct keys across two batches -> all survive compaction
    st.produce(tp, batch(6))
    st.produce(tp, batch(4, 6))
    st.maintain()
    // ceil(10/4) = 3 segments, each named by the min offset it contains
    val segs = java.nio.file.Files.list(
      java.nio.file.Paths.get(st.fetchLogDir(tp))).iterator()
    import scala.jdk.CollectionConverters._
    val names = segs.asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.parquet")).toSeq.sorted
    assert(names.map(_.stripSuffix(".parquet").toLong) === Seq(0L, 4L, 8L))
    // data intact, offsets preserved, and deleteRecords' filename pruning
    // still works against the rewritten segments
    val rows = st.fetch(tp, 0, Long.MaxValue).orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq === (0L to 9L))
    st.deleteRecords(tp, 5)
    val left = java.nio.file.Files.list(
      java.nio.file.Paths.get(st.fetchLogDir(tp))).iterator()
    val after = left.asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.parquet")).toSeq.sorted
    assert(after.map(_.stripSuffix(".parquet").toLong) === Seq(4L, 8L))
    assert(st.fetch(tp, 0, Long.MaxValue).agg(min("offset")).head().getLong(0) === 5L)
  }

  test("maintenance swap is crash-safe: every crash point leaves a complete copy") {
    // the data-loss window the old delete-then-move swap had: inject a
    // crash at each point of the staged swap and show a FRESH process
    // still serves every surviving offset
    Seq("staged", "committed", "deleted").foreach { point =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-swap-$point").toString
      val st = new ParquetStorage(spark, root)
      st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact"))
      val dupKeys = Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", "v1"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "b", "v2"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "a", "v3"))
        .toDF("timestamp", "key", "value")
      st.produce(tp, dupKeys)
      st.swapCrashPoint = Some(point)
      intercept[Exception](st.maintain())
      val st2 = new ParquetStorage(spark, root)
      val offs = st2.fetch(tp, 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted.toSeq
      if (point == "staged")
        assert(offs === Seq(0L, 1L, 2L)) // uncommitted: old set intact
      else
        assert(offs === Seq(1L, 2L)) // committed: recovery finished the swap
      // and the next maintenance pass runs clean over the recovered state
      st2.maintain()
      assert(st2.fetch(tp, 0, Long.MaxValue)
        .select("offset").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    }
  }

  test("retention advances the durable log-start (no phantom earliest offset)") {
    var now = 1704067200000L // 2024-01-01T00:00:00Z, matching batch() stamps
    val root = java.nio.file.Files.createTempDirectory("graft-ret").toString
    val st = new ParquetStorage(spark, root, clock = () => now)
    st.createTopic("t1", 1, Map(ConfigKey.RetentionMs -> "1000"))
    st.produce(tp, batch(5)) // timestamps 00:00:00 .. 00:00:04
    now += 3000 // cutoff = now - 1000 = 00:00:02 → offsets 0,1 age out
    st.maintain()
    assert(st.listEarliestOffset(tp) === 2L)
    assert(st.fetch(tp, 0, Long.MaxValue)
      .agg(min("offset")).head().getLong(0) === 2L)
    // durable: a fresh process reports the same log-start
    val st2 = new ParquetStorage(spark, root)
    assert(st2.listEarliestOffset(tp) === 2L)
    // aging everything out advances log-start to the high watermark
    now += 100000
    st.maintain()
    assert(st.listEarliestOffset(tp) === 5L)
    assert(st.fetch(tp, 0, Long.MaxValue).count() === 0L)
  }

  test("committed offsets of inactive groups expire after retention; active groups keep theirs") {
    var now = 1704067200000L
    val root = java.nio.file.Files.createTempDirectory("graft-oexp").toString
    val st = new ParquetStorage(spark, root, clock = () => now)
    val t0 = Topition("t", 0)
    st.offsetCommit("dead", t0, 5L)
    st.offsetCommit("alive", t0, 7L)
    assert(st.storedGroups() === Seq("alive", "dead"))
    assert(st.groupOffsets("dead").map(o => (o._1, o._2)) === Seq((t0, 5L)))

    // inside the retention window: nothing expires
    now += 1000
    assert(st.expireOffsets(5000, _ == "alive").isEmpty)
    assert(st.offsetFetch("dead", t0) === Some(5L))

    // past the window: only the inactive group's offsets go
    now += 10000
    assert(st.expireOffsets(5000, _ == "alive") === Seq(("dead", t0)))
    assert(st.offsetFetch("dead", t0) === None)
    assert(st.offsetFetch("alive", t0) === Some(7L))

    // expiry is durable: a fresh process sees the same state
    val st2 = new ParquetStorage(spark, root)
    assert(st2.offsetFetch("dead", t0) === None)
    assert(st2.offsetFetch("alive", t0) === Some(7L))

    // deleteGroup removes the remaining group wholesale
    st.deleteGroup("alive")
    assert(st.offsetFetch("alive", t0) === None)
    assert(st.storedGroups() === Nil)
  }

  test("produce rejects out-of-range partitions with an error code, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("graft-oob").toString
    val st = new ParquetStorage(spark, root)
    st.createTopic("narrow", 2)
    import spark.implicits._
    val batch = Seq((new java.sql.Timestamp(1000L), "k", "v"))
      .toDF("timestamp", "key", "value")
    assert(st.produce(Topition("narrow", 5), batch) ===
      Left(ErrorCode.UnknownTopicOrPartition))
    assert(st.produce(Topition("narrow", -1), batch) ===
      Left(ErrorCode.UnknownTopicOrPartition))
    assert(st.produce(Topition("narrow", 1), batch).isRight)
  }

  test("a recreated topic starts clean: offsets from 0, fresh producer sequences") {
    val root = java.nio.file.Files.createTempDirectory("graft-recreate").toString
    val st = new ParquetStorage(spark, root)
    import spark.implicits._
    def batch(v: String) = Seq((new java.sql.Timestamp(1000L), "k", v))
      .toDF("timestamp", "key", "value")
    st.createTopic("phoenix", 1)
    val tp = Topition("phoenix", 0)
    val (pid, _) = st.initProducer(null)
    assert(st.produce(tp, batch("a"), pid, 0, 0).isRight)
    assert(st.produce(tp, batch("b"), pid, 0, 1).isRight)
    assert(st.offsetStage(tp).highWatermark === 2L)

    st.deleteTopic("phoenix")
    st.createTopic("phoenix", 1)
    // offsets restart at 0 (no stale watermark) and the producer's
    // fresh sequence 0 is accepted (no stale duplicate rejection)
    assert(st.offsetStage(tp).highWatermark === 0L)
    assert(st.produce(tp, batch("c"), pid, 0, 0) === Right(0L))
  }

  test("group and topic names containing '/' keep offsets working") {
    val root = java.nio.file.Files.createTempDirectory("graft-slash").toString
    var now = 1000L
    val st = new ParquetStorage(spark, root, clock = () => now)
    val tp = Topition("t", 0)
    st.offsetCommit("a/b", tp, 42L)
    st.offsetCommit("a", tp, 7L)
    assert(st.offsetFetch("a/b", tp) === Some(42L))
    assert(st.offsetFetch("a", tp) === Some(7L))
    assert(st.groupOffsets("a") === Seq((tp, 7L, 1000L)))
    assert(st.groupOffsets("a/b") === Seq((tp, 42L, 1000L)))
    assert(st.storedGroups().sorted === Seq("a", "a/b"))
    // the retention sweep parses the poisonous name instead of dying
    now += 100000
    val expired = st.expireOffsets(50000, _ => false)
    assert(expired.toSet === Set(("a", tp), ("a/b", tp)))
    assert(st.offsetFetch("a/b", tp) === None)
  }

  test("alterTopicConfig persists: retention set after create drives maintain()") {
    val root = java.nio.file.Files.createTempDirectory("graft-altercfg").toString
    var now = 100000L
    val st = new ParquetStorage(spark, root, clock = () => now)
    st.createTopic("cfg", 1)
    val tp = Topition("cfg", 0)
    import spark.implicits._
    st.produce(tp, Seq((new java.sql.Timestamp(now), "k", "old")).toDF(
      "timestamp", "key", "value"))
    now += 60000
    st.produce(tp, Seq((new java.sql.Timestamp(now), "k2", "new")).toDF(
      "timestamp", "key", "value"))

    // no retention configured: maintain() keeps everything
    st.maintain()
    assert(st.fetch(tp, 0, 1 << 20).count() === 2)

    // dynamically set retention.ms; a FRESH process (config recovered
    // from topic.json alone) ages out the old record on its clock
    assert(st.alterTopicConfig("cfg",
      Map("retention.ms" -> "30000", "cleanup.policy" -> "delete"), Nil))
    val st2 = new ParquetStorage(spark, root, clock = () => now)
    assert(st2.topicConfig("cfg").get("retention.ms") === Some("30000"))
    st2.maintain()
    val left = st2.fetch(tp, 0, 1 << 20)
      .select(col("value").cast("string")).as[String].collect()
    assert(left.toSeq === Seq("new"))

    // DELETE removes the key again (and persists)
    assert(st2.alterTopicConfig("cfg", Map.empty, Seq("retention.ms")))
    val st3 = new ParquetStorage(spark, root, clock = () => now)
    assert(!st3.topicConfig("cfg").contains("retention.ms"))
    assert(!st.alterTopicConfig("ghost", Map("a" -> "b"), Nil))
  }

  test("concurrent increasePartitions never regresses the durable count") {
    val (st, root) = newStorage()
    st.createTopic("grow", 2)
    // 16 racing admin calls with mixed targets: the serialized RMW must
    // end at the maximum, reject the rest, and persist monotonically
    val targets = scala.util.Random.shuffle((3 to 18).toList)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = targets.map { n =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = st.increasePartitions("grow", n)
        })
      }.map(_.get())
      assert(results.count(_ == 0) >= 1) // at least the max succeeded
      assert(st.partitionCount("grow") === 18)
      // and the persisted topic.json agrees after a restart
      val st2 = new ParquetStorage(spark, root)
      assert(st2.partitionCount("grow") === 18)
    } finally pool.shutdownNow()
  }

  // ------------------------------------------------ pruned fetch selection

  private def kib(n: Int, from: Int) = {
    val rnd = new scala.util.Random(from)
    (from until from + n).map { i =>
      val v = new Array[Byte](1024)
      rnd.nextBytes(v)
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"k$i", v)
    }.toDF("timestamp", "key", "value")
  }

  private def dirEntries(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def batchObjects(st: ParquetStorage, tp: Topition) =
    dirEntries(java.nio.file.Paths.get(st.fetchLogDir(tp)))
      .filter(_.getFileName.toString.matches("\\d{20}\\.parquet"))

  private def fetchedRows(df: org.apache.spark.sql.DataFrame) =
    localRows(df.select("offset", "timestamp", "key", "value").orderBy("offset").collect())

  private def localRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getAs[Long]("offset"), r.getAs[java.sql.Timestamp]("timestamp"),
      Option(r.getAs[Array[Byte]]("key")).map(_.toSeq),
      Option(r.getAs[Array[Byte]]("value")).map(_.toSeq))).toSeq.sortBy(_._1)

  /** Every fetch on a grid of offsets (batch boundaries, mid-batch, the
    * tail, past the high watermark) and budgets equals the byte-budget
    * window over ALL batch objects of the partition.
    */
  private def assertFetchIsFullLogAnswer(st: ParquetStorage, tp: Topition,
                                         stage: String,
                                         isolations: Seq[Boolean] = Seq(false)): Unit = {
    val objects = batchObjects(st, tp)
    val log = spark.read.schema(logSchema).parquet(objects.map(_.toString): _*).cache()
    try {
      val os = st.offsetStage(tp)
      val bases = objects.map(_.getFileName.toString.stripSuffix(".parquet").toLong)
      val offsets = (bases.flatMap(b => Seq(b, b + 5)) ++ Seq(0L,
        os.highWatermark - 1, os.highWatermark, os.highWatermark + 3)).distinct.sorted
      val sized = log.filter(!col("is_control"))
        .select(col("offset"), LogOps.budgetBytes).collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong)).sortBy(_._1)
      // budgets that end exactly on the first two object boundaries
      def boundaryBudgets(from: Long, end: Long): Seq[Long] = {
        val rows = sized.filter { case (o, _) =>
          o >= math.max(from, os.logStart) && o < end }
        bases.filter(b => rows.exists(_._1 < b)).take(2)
          .map(b => rows.filter(_._1 < b).map(_._2).sum)
      }
      for (readCommitted <- isolations; from <- offsets;
           end = if (readCommitted) os.lastStable else os.highWatermark;
           maxBytes <- Seq(0L, 1L, 1043L, 64L * 1024, Long.MaxValue) ++
             boundaryBudgets(from, end)) {
        val want = fetchedRows(LogOps.fetchWithByteBudget(
          log.filter(!col("is_control") && col("offset") < end &&
            col("offset") >= math.max(from, os.logStart))
            .withColumn("val_len", LogOps.budgetBytes), from, maxBytes))
        val got = fetchedRows(st.fetch(tp, from, maxBytes, readCommitted))
        assert(got === want,
          s"$stage: fetch($from, $maxBytes, readCommitted=$readCommitted)")
      }
    } finally { log.unpersist(); () }
  }

  test("pruned fetch returns the full-log answer: open txn, marker, deleteRecords, no records, maintain") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "25"))
    (0 until 3).foreach(b => assert(st.produce(tp, kib(10, b * 10)).isRight))
    val (pid, _) = st.initProducer("tx-prune")
    st.txnBegin(pid, tp)
    (0 until 2).foreach(b => assert(st.produce(tp, kib(10, 30 + b * 10),
      producerId = pid, producerEpoch = 0, baseSequence = b * 10).isRight))
    (0 until 2).foreach(b => assert(st.produce(tp, kib(10, 50 + b * 10)).isRight))
    assert(st.offsetStage(tp).lastStable === 30L)
    assertFetchIsFullLogAnswer(st, tp, "open txn", Seq(false, true))

    assert(st.txnEnd(pid, commit = false) === ErrorCode.None) // marker at 70
    (0 until 2).foreach(b => assert(st.produce(tp, kib(10, 71 + b * 10)).isRight))
    assertFetchIsFullLogAnswer(st, tp, "control marker mid-log")

    st.deleteRecords(tp, 25)
    assertFetchIsFullLogAnswer(st, tp, "after deleteRecords")

    batchObjects(st, tp).foreach(o =>
      java.nio.file.Files.deleteIfExists(o.resolve("_budget_bytes")))
    assertFetchIsFullLogAnswer(st, tp, "budget records deleted")

    st.maintain()
    (0 until 2).foreach(b => assert(st.produce(tp, kib(10, 91 + b * 10)).isRight))
    assertFetchIsFullLogAnswer(st, tp, "after maintain")
  }

  /** Overwrites every data file of a batch object with bytes that are
    * not Parquet: a fetch that opens it throws.
    */
  private def corrupt(obj: java.nio.file.Path): Unit =
    dirEntries(obj).foreach { f =>
      val n = f.getFileName.toString
      if (n.endsWith(".crc")) java.nio.file.Files.delete(f)
      else if (!n.startsWith("_")) java.nio.file.Files.writeString(f, "not parquet")
    }

  /** Each 64 KiB fetch, run from the highest offset down, first corrupts
    * every batch object past the last one its answer needs, then must
    * still return the full-log answer: it never opens an object past
    * its answer. `run` wraps each fetch-and-collect.
    */
  private def assertFetchOpensOnlyItsAnswer(
      st: ParquetStorage, tp: Topition, froms: Seq[Long],
      run: (() => Array[org.apache.spark.sql.Row]) => Array[org.apache.spark.sql.Row] =
        f => f()): Unit = {
    val objects = batchObjects(st, tp)
    val bases = objects.map(_.getFileName.toString.stripSuffix(".parquet").toLong)
    val log = spark.read.schema(logSchema).parquet(objects.map(_.toString): _*)
      .filter(!col("is_control")).withColumn("val_len", LogOps.budgetBytes)
    val wants = froms.map(from =>
      fetchedRows(LogOps.fetchWithByteBudget(log, from, 64L * 1024)))
    froms.zip(wants).sortBy(-_._1).foreach { case (from, want) =>
      assert(want.nonEmpty)
      objects.zip(bases).filter(_._2 > want.last._1).foreach(o => corrupt(o._1))
      val rows = run(() => st.fetch(tp, from, 64L * 1024).collect())
      assert(localRows(rows) === want, s"fetch($from)")
    }
  }

  test("a 64 KiB fetch over 24 batch objects runs no job and opens none past its answer") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    (0 until 24).foreach(b => assert(st.produce(tp, kib(50, b * 50)).isRight))
    val group = "pruned-fetch-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try assertFetchOpensOnlyItsAnswer(st, tp, Seq(0L, 625L), { fetch =>
      spark.sparkContext.setJobGroup(group, "pruned fetch")
      try fetch() finally spark.sparkContext.clearJobGroup()
    }) finally {
      Thread.sleep(500) // let listener events drain
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() === 0, s"${jobs.get()} jobs")
  }

  test("fetch over produceAll output and maintain segments opens no object past its answer") {
    val (st, _) = newStorage()
    st.createTopic("t1", 1)
    (0 until 24).foreach(b => assert(st.produceAll("t1",
      kib(50, b * 50).withColumn("partition", lit(0))) === Right(Map(0 -> b * 50L))))
    assertFetchOpensOnlyItsAnswer(st, tp, Seq(0L, 625L))

    val (st2, _) = newStorage()
    st2.createTopic("t1", 1, Map(ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "50"))
    (0 until 4).foreach(b => assert(st2.produce(tp, kib(300, b * 300)).isRight))
    st2.maintain()
    assert(batchObjects(st2, tp).length === 24)
    assertFetchOpensOnlyItsAnswer(st2, tp, Seq(0L, 625L))
  }

  /** The offsets of a batch object, read one data file at a time in
    * name order, each in its stored row order.
    */
  private def objectOffsets(obj: java.nio.file.Path): Seq[Long] =
    dirEntries(obj).filterNot { f =>
      val n = f.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }.flatMap(f => spark.read.schema(logSchema).parquet(f.toString)
      .select("offset").collect().map(_.getLong(0)).toSeq)

  /** Rewrites the last batch object of `tp` with its rows in descending
    * offset order.
    */
  private def writeDescendingObject(st: ParquetStorage, tp: Topition): Unit = {
    val obj = batchObjects(st, tp).last
    val rows = spark.read.schema(logSchema).parquet(obj.toString).collect()
      .sortBy(-_.getAs[Long]("offset"))
    val tmp = obj.resolveSibling(".descending")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), logSchema)
      .coalesce(1).write.parquet(tmp.toString)
    val old = java.nio.file.Files.walk(obj)
    try old.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally old.close()
    java.nio.file.Files.move(tmp, obj)
    val offsets = objectOffsets(obj)
    assert(offsets.length > 1 && offsets === offsets.sorted.reverse)
  }

  test("every writer leaves each batch object's offsets ascending; a descending object makes fetch throw") {
    val (st, _) = newStorage()
    st.createTopic("t1", 3, Map(ConfigKey.CleanupPolicy -> "compact",
      ConfigKey.SegmentRows -> "40"))
    assert(st.produce(tp, kib(100, 0).repartition(6, col("key"))).isRight)
    assert(st.produceAll("t1", kib(120, 100).repartition(8, col("key"))
      .withColumn("partition", pmod(hash(col("key")), lit(3)))).isRight)
    val (pid, _) = st.initProducer("tx-order")
    st.txnBegin(pid, tp)
    assert(st.produce(tp, kib(10, 300), producerId = pid, producerEpoch = 0,
      baseSequence = 0).isRight)
    assert(st.txnEnd(pid, commit = true) === ErrorCode.None) // marker object
    def assertAscending(stage: String): Unit = (0 until 3).foreach { p =>
      val objects = batchObjects(st, Topition("t1", p))
      assert(objects.nonEmpty, s"$stage: partition $p")
      objects.foreach { o =>
        val offsets = objectOffsets(o)
        assert(offsets.nonEmpty && offsets === offsets.distinct.sorted &&
          offsets.head === o.getFileName.toString.stripSuffix(".parquet").toLong,
          s"$stage: $o holds $offsets")
      }
    }
    assertAscending("produce, produceAll, control marker")
    st.maintain()
    assert(batchObjects(st, tp).length > 3) // segments of 40 rows
    assertAscending("maintain")

    val (st2, _) = newStorage()
    st2.createTopic("t1", 1)
    (0 until 2).foreach(b => assert(st2.produce(tp, kib(10, b * 10)).isRight))
    writeDescendingObject(st2, tp)
    Seq(0L, 12L).foreach { from =>
      val e = intercept[IllegalStateException](st2.fetch(tp, from, Long.MaxValue))
      assert(e.getMessage.contains("offsets must ascend"), e.getMessage)
    }
  }

  test("300 fetches that stop mid-object or throw leave the open descriptor count flat") {
    def openFds(): Int =
      Option(new java.io.File("/proc/self/fd").list()).map(_.length).getOrElse(-1)
    assume(openFds() > 0, "needs /proc/self/fd")
    val (st, _) = newStorage()
    st.createTopic("t1", 2)
    (0 until 4).foreach(b => assert(st.produce(tp, kib(50, b * 50)).isRight))
    val bad = Topition("t1", 1)
    (0 until 2).foreach(b => assert(st.produce(bad, kib(10, b * 10)).isRight))
    writeDescendingObject(st, bad)
    def round(i: Int): Unit = {
      val from = (i * 37L) % 190
      // about 4 records: every fetch stops inside its first object
      val rows = st.fetch(tp, from, 4096).collect()
      assert(rows.map(_.getAs[Long]("offset")).toSeq === (from until from + rows.length))
      if (i % 3 == 0) intercept[IllegalStateException](st.fetch(bad, 0, Long.MaxValue))
    }
    (0 until 20).foreach(round) // warm-up: lazily opened jars, pools
    val before = openFds()
    (0 until 300).foreach(round)
    val after = openFds()
    assert(after - before <= 16, s"open descriptors $before -> $after")
  }
}
