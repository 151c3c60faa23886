package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import graft.facade.{BrokerServer, WireProtocol => W}
import graft.functions.RecordBatchCodec
import graft.storage.ParquetStorage

/** Wire round-trip through a real TCP socket: frame → route → storage →
  * frame (the S1/S2 path; mirrors the shape of the reference's
  * client-compat suites at much smaller scope).
  */
class BrokerServerSpec extends SparkSpec {

  private def request(sock: Socket, apiKey: Short, version: Short,
                      correlationId: Int)(body: ByteBuffer => Unit): ByteBuffer = {
    val buf = ByteBuffer.allocate(1 << 20)
    buf.putShort(apiKey)
    buf.putShort(version)
    buf.putInt(correlationId)
    W.writeString(buf, "graft-test")
    body(buf)
    buf.flip()
    val out = new DataOutputStream(sock.getOutputStream)
    out.writeInt(buf.remaining())
    val frame = new Array[Byte](buf.remaining())
    buf.get(frame)
    out.write(frame)
    out.flush()
    val in = new DataInputStream(sock.getInputStream)
    val len = in.readInt()
    val resp = new Array[Byte](len)
    in.readFully(resp)
    val rbuf = ByteBuffer.wrap(resp)
    assert(rbuf.getInt === correlationId)
    rbuf
  }

  /** Flexible-header request (header v2): same classic fields, then a
    * tagged-field section — deliberately carrying an UNKNOWN tag the
    * broker must skip (the forward-compat contract of the encoding).
    */
  private def flexRequest(sock: Socket, apiKey: Short, version: Short,
                          correlationId: Int)(body: ByteBuffer => Unit): ByteBuffer = {
    val buf = ByteBuffer.allocate(1 << 20)
    buf.putShort(apiKey)
    buf.putShort(version)
    buf.putInt(correlationId)
    W.writeString(buf, "graft-test")
    graft.functions.Varint.writeUnsignedVarint(1, buf) // one tagged field
    graft.functions.Varint.writeUnsignedVarint(7, buf) // unknown tag
    graft.functions.Varint.writeUnsignedVarint(3, buf) // 3 payload bytes
    buf.put(Array[Byte](1, 2, 3))
    body(buf)
    buf.flip()
    val out = new DataOutputStream(sock.getOutputStream)
    out.writeInt(buf.remaining())
    val frame = new Array[Byte](buf.remaining())
    buf.get(frame)
    out.write(frame)
    out.flush()
    val in = new DataInputStream(sock.getInputStream)
    val len = in.readInt()
    val resp = new Array[Byte](len)
    in.readFully(resp)
    val rbuf = ByteBuffer.wrap(resp)
    assert(rbuf.getInt === correlationId)
    rbuf
  }

  test("flexible bootstrap: ApiVersions v3 + Metadata v9, tagged fields skipped") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker6").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("flex", 3)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // a modern client's first frame: ApiVersions v3, flexible header
      // with an unknown tagged field the broker has to skip
      val av = flexRequest(sock, 18, 3, 70) { b =>
        W.writeApiVersionsV3(b, "test-client", "1.0")
      }
      val apis = W.readApiVersionsResponseV3(av)
      assert(apis.contains((18, 0, 4)))
      assert(apis.contains((3, 1, 12)))

      // above our max: UNSUPPORTED_VERSION + v0 body so the client can
      // downgrade (the standard ApiVersions dance)
      val avHigh = flexRequest(sock, 18, 9, 71)(_ => ())
      assert(avHigh.getShort === 35)
      assert(avHigh.getInt === W.SupportedApis.size)

      // Metadata v9, all topics (null compact array); response header v1
      // carries tagged fields before the flexible body
      val md = flexRequest(sock, 3, 9, 72)(b => W.writeMetadataV9(b, None))
      W.skipTaggedFields(md)
      val (mdHost, mdPort, topics) = W.readMetadataResponseV9(md)
      assert(mdHost === "127.0.0.1" && mdPort === broker.boundPort)
      assert(topics.map(t => t.name -> t.partitions.size) === Seq("flex" -> 3))

      // Metadata v9 with an explicit compact topic list
      val md2 = flexRequest(sock, 3, 9, 73)(b => W.writeMetadataV9(b, Some(Seq("flex"))))
      W.skipTaggedFields(md2)
      val (_, _, topics2) = W.readMetadataResponseV9(md2)
      assert(topics2.map(_.name) === Seq("flex"))

      // the same connection still speaks classic frames afterwards
      val avOld = request(sock, 18, 0, 74)(_ => ())
      assert(avOld.getShort === 0)
      assert(avOld.getInt === W.SupportedApis.size)

      // full modern data plane: Produce v9 then Fetch v12 (both flexible)
      val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
        0L, 0, 0, 1704067200000L, 1704067200001L, -1L, -1, -1,
        (0 until 2).map(i => RecordBatchCodec.Record(
          i, i.toLong, s"k$i".getBytes, s"v$i".getBytes, Nil))))
      val pr = flexRequest(sock, 0, 9, 75) { b =>
        W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("flex", Seq(W.ProducePartition(0, batch))))))
      }
      W.skipTaggedFields(pr) // response header v1
      val (pResults, _) = W.readProduceResponseV9(pr)
      assert(pResults === Seq("flex" -> Seq((0, 0.toShort, 0L))))

      val fr = flexRequest(sock, 1, 12, 76) { b =>
        W.writeFetchV12(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
          W.FetchTopic("flex", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      W.skipTaggedFields(fr)
      val fParts = W.readFetchResponseV12(fr)
      assert(fParts.head._1 === "flex")
      val part0 = fParts.head._2.head
      assert(part0.highWatermark === 2L)
      val decoded = RecordBatchCodec.decode(part0.records)
      assert(decoded.records.map(r => new String(r.value)) === Seq("v0", "v1"))

      sock.close()
    } finally broker.close()
  }

  test("Produce v10-v11 and Fetch v13-v16: topic-id addressing round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-tid").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("tid", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      // Produce v10 and v11 are wire-identical to v9 (their response
      // additions are optional tagged fields) — each appends one record
      (10 to 11).foreach { v =>
        val i = v - 10
        val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
          Seq(RecordBatchCodec.Record(0, 0L, s"k$v".getBytes, s"v$v".getBytes, Nil))))
        val pr = flexRequest(sock, 0, v.toShort, 500 + v) { b =>
          W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("tid", Seq(W.ProducePartition(0, batch))))))
        }
        W.skipTaggedFields(pr)
        val (pResults, _) = W.readProduceResponseV9(pr)
        assert(pResults === Seq("tid" -> Seq((0, 0.toShort, i.toLong))), s"produce v$v")
      }
      // Fetch v13-v16: topics addressed by the name-derived uuid; every
      // version returns both records (v15-16 drop the top-level
      // replica_id, exercising the narrower fixed prefix)
      val resolve: java.util.UUID => String =
        u => if (u == W.topicUuid("tid")) "tid" else null
      (13 to 16).foreach { v =>
        val fr = flexRequest(sock, 1, v.toShort, 520 + v) { b =>
          W.writeFetchV12(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
            W.FetchTopic("tid", Seq(W.FetchPartition(0, 0L, 1 << 20))))), v)
        }
        W.skipTaggedFields(fr)
        val parts = W.readFetchResponseV12(fr, v, resolve)
        assert(parts.head._1 === "tid", s"fetch v$v")
        val p0 = parts.head._2.head
        assert(p0.error === 0 && p0.highWatermark === 2L, s"fetch v$v")
        val decoded = RecordBatchCodec.decodeAll(p0.records)
        assert(decoded.flatMap(_.records).map(r => new String(r.key)) ===
          Seq("k10", "k11"), s"fetch v$v")
      }
      // the KIP-227 session machinery works under uuid addressing too:
      // a v16 full fetch (epoch 0) establishes a session, and an empty
      // v16 incremental serves newly-arrived data by remembered offset
      val fs1 = flexRequest(sock, 1, 16, 530) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Seq(
          W.FetchTopic("tid", Seq(W.FetchPartition(0, 2L, 1 << 20)))),
          sessionId = 0, sessionEpoch = 0), 16)
      }
      W.skipTaggedFields(fs1)
      val (se1, ssid, _) = W.readFetchResponseV12Full(fs1, 16, resolve)
      assert(se1 === 0 && ssid > 0)
      val batch3 = RecordBatchCodec.encode(RecordBatchCodec.Batch(
        0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
        Seq(RecordBatchCodec.Record(0, 0L, "k12".getBytes, "v12".getBytes, Nil))))
      val pr3 = flexRequest(sock, 0, 11, 531) { b =>
        W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("tid", Seq(W.ProducePartition(0, batch3))))))
      }
      W.skipTaggedFields(pr3)
      val fs2 = flexRequest(sock, 1, 16, 532) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Nil,
          sessionId = ssid, sessionEpoch = 1), 16)
      }
      W.skipTaggedFields(fs2)
      val (se2, _, sparts) = W.readFetchResponseV12Full(fs2, 16, resolve)
      assert(se2 === 0 && sparts.map(_._1) === Seq("tid"))
      assert(RecordBatchCodec.decode(sparts.head._2.head.records)
        .records.map(r => new String(r.value)) === Seq("v12"))

      // an id naming no topic answers UNKNOWN_TOPIC_ID (100) with the
      // request id echoed, storage untouched
      val bogus = java.util.UUID.fromString("deadbeef-0000-4000-8000-000000000000")
      val frBad = flexRequest(sock, 1, 16, 540) { b =>
        W.writeFetchV12(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
          W.FetchTopic(null, Seq(W.FetchPartition(0, 0L, 1 << 20)), bogus))), 16)
      }
      W.skipTaggedFields(frBad)
      val badParts = W.readFetchResponseV12(frBad, 16,
        u => if (u == bogus) "echoed" else null)
      assert(badParts.map(_._1) === Seq("echoed"))
      val bad0 = badParts.head._2.head
      assert(bad0.partition === 0 && bad0.error === 100 &&
        bad0.highWatermark === -1L && bad0.records.isEmpty)

      // Metadata v10-v12: every topic row carries its name-derived uuid
      // (v11+ also drops the cluster-authorized-operations tail)
      (10 to 12).foreach { v =>
        val md = flexRequest(sock, 3, v.toShort, 560 + v)(b =>
          W.writeMetadataV9(b, Some(Seq("tid")), version = v))
        W.skipTaggedFields(md)
        val (_, _, ts) = W.readMetadataResponseV9(md, v)
        assert(ts.map(_.name) === Seq("tid"), s"metadata v$v")
        assert(ts.head.topicId === W.topicUuid("tid"), s"metadata v$v")
      }
      // v12 by-id addressing: a known id resolves to its topic, an
      // unknown id echoes back with UNKNOWN_TOPIC_ID and a null name
      val mdBad = flexRequest(sock, 3, 12, 575) { b =>
        W.writeCompactArrayLen(b, 2)
        W.putUuid(b, W.topicUuid("tid"))
        W.writeCompactString(b, null)
        W.writeEmptyTaggedFields(b)
        W.putUuid(b, bogus)
        W.writeCompactString(b, null)
        W.writeEmptyTaggedFields(b)
        b.put(0: Byte) // allow_auto_topic_creation
        b.put(0: Byte) // include_topic_authorized_operations
        W.writeEmptyTaggedFields(b)
      }
      W.skipTaggedFields(mdBad)
      val (_, _, ts12) = W.readMetadataResponseV9(mdBad, 12)
      assert(ts12.exists(t => t.name == "tid" && t.error == 0))
      val unk12 = ts12.find(_.topicId == bogus).get
      assert(unk12.error === 100 && unk12.name === null &&
        unk12.partitions.isEmpty)
      // v10/v11 unknown-id rows must NOT carry a null name — the field is
      // nullable only at v12+, and a strict decoder rejects the null
      // compact string. Empty string + UNKNOWN_TOPIC_ID there.
      (10 to 11).foreach { v =>
        val mdOld = flexRequest(sock, 3, v.toShort, 580 + v) { b =>
          W.writeCompactArrayLen(b, 1)
          W.putUuid(b, bogus)
          W.writeCompactString(b, null)
          W.writeEmptyTaggedFields(b)
          b.put(0: Byte) // allow_auto_topic_creation
          if (v <= 10) b.put(0: Byte) // include_cluster_authorized_operations
          b.put(0: Byte) // include_topic_authorized_operations
          W.writeEmptyTaggedFields(b)
        }
        W.skipTaggedFields(mdOld)
        val (_, _, tsOld) = W.readMetadataResponseV9(mdOld, v)
        val unkOld = tsOld.find(_.topicId == bogus).get
        assert(unkOld.error === 100 && unkOld.name === "" &&
          unkOld.partitions.isEmpty, s"metadata v$v unknown-id row")
      }
      sock.close()
    } finally broker.close()
  }

  test("incremental fetch sessions: unchanged partitions omitted, epochs enforced") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-fs").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("sess", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def produceOne(corr: Int, k: String, v: String): Unit = {
        val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
          Seq(RecordBatchCodec.Record(0, 0L, k.getBytes, v.getBytes, Nil))))
        val pr = flexRequest(sock, 0, 9, corr) { b =>
          W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("sess", Seq(W.ProducePartition(0, batch))))))
        }
        W.skipTaggedFields(pr)
        val (res, _) = W.readProduceResponseV9(pr)
        assert(res.head._2.head._2 === 0)
      }
      produceOne(80, "k1", "v1")

      // 1. full fetch (epoch 0) establishes a session; every requested
      // partition is answered, data or not
      val fr1 = flexRequest(sock, 1, 12, 81) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Seq(
          W.FetchTopic("sess", Seq(
            W.FetchPartition(0, 0L, 1 << 20), W.FetchPartition(1, 0L, 1 << 20)))),
          sessionId = 0, sessionEpoch = 0))
      }
      W.skipTaggedFields(fr1)
      val (e1, sid, parts1) = W.readFetchResponseV12Full(fr1)
      assert(e1 === 0 && sid > 0)
      assert(parts1.head._2.map(_.partition).sorted === Seq(0, 1))

      // 2. incremental (epoch 1, the real-client convention per KIP-227):
      // client consumed to offset 1 on p0; nothing new anywhere -> the
      // response omits BOTH partitions
      val fr2 = flexRequest(sock, 1, 12, 82) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Seq(
          W.FetchTopic("sess", Seq(W.FetchPartition(0, 1L, 1 << 20)))),
          sessionId = sid, sessionEpoch = 1))
      }
      W.skipTaggedFields(fr2)
      val (e2, sid2, parts2) = W.readFetchResponseV12Full(fr2)
      assert(e2 === 0 && sid2 === sid)
      assert(parts2.isEmpty)

      // 3. new data lands on p0; an EMPTY incremental request serves it
      // from the session's remembered offset, p1 stays omitted
      produceOne(83, "k2", "v2")
      val fr3 = flexRequest(sock, 1, 12, 84) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Nil,
          sessionId = sid, sessionEpoch = 2))
      }
      W.skipTaggedFields(fr3)
      val (e3, _, parts3) = W.readFetchResponseV12Full(fr3)
      assert(e3 === 0)
      assert(parts3.map(_._1) === Seq("sess"))
      assert(parts3.head._2.map(_.partition) === Seq(0))
      val rec3 = RecordBatchCodec.decode(parts3.head._2.head.records)
      assert(rec3.records.map(r => new String(r.value)) === Seq("v2"))

      // 4. a skipped epoch is rejected (INVALID_FETCH_SESSION_EPOCH)...
      val frBad = flexRequest(sock, 1, 12, 85) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Nil,
          sessionId = sid, sessionEpoch = 10))
      }
      W.skipTaggedFields(frBad)
      assert(W.readFetchResponseV12Full(frBad)._1 === 71)
      // ...and an unknown session id too (FETCH_SESSION_ID_NOT_FOUND)
      val frNone = flexRequest(sock, 1, 12, 86) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Nil,
          sessionId = 999999, sessionEpoch = 5))
      }
      W.skipTaggedFields(frNone)
      assert(W.readFetchResponseV12Full(frNone)._1 === 70)

      // 5. forgotten_topics_data drops a partition from the session: new
      // data on p0 no longer comes back once p0 is forgotten
      produceOne(87, "k3", "v3")
      val fr4 = flexRequest(sock, 1, 12, 88) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Nil,
          sessionId = sid, sessionEpoch = 3, forgotten = Seq("sess" -> Seq(0))))
      }
      W.skipTaggedFields(fr4)
      assert(W.readFetchResponseV12Full(fr4)._3.isEmpty)

      sock.close()
    } finally broker.close()
  }

  test("fetch responses above 4 MiB succeed: buffer sized from the request's max_bytes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-broker-big").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("big", 1)
    // a 5 MiB record — bigger than the old fixed 4 MiB response buffer.
    // Built with repeat() on the executor, not a driver-local 5 MiB
    // string (which would ride inside the task binary and trip the
    // large-task warning this suite otherwise keeps at zero).
    storage.produce(graft.model.Model.Topition("big", 0), {
      import org.apache.spark.sql.functions.{lit, repeat}
      spark.range(1).select(
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"),
        lit("k").as("key"),
        repeat(lit("x"), 5 << 20).as("value"))
    })
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val fr = flexRequest(sock, 1, 12, 90) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 8 << 20, 0, Seq(
          W.FetchTopic("big", Seq(W.FetchPartition(0, 0L, 8 << 20))))))
      }
      W.skipTaggedFields(fr)
      val parts = W.readFetchResponseV12(fr)
      val decoded = RecordBatchCodec.decode(parts.head._2.head.records)
      assert(new String(decoded.records.head.value).length === (5 << 20))

      // KIP-74: a record BIGGER than max_bytes is still delivered (the
      // min-one-record overshoot) — the response outgrows every
      // request-derived pre-size and must not BufferOverflow-and-drop
      val frSmall = flexRequest(sock, 1, 12, 91) { b =>
        W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Seq(
          W.FetchTopic("big", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      W.skipTaggedFields(frSmall)
      val partsSmall = W.readFetchResponseV12(frSmall)
      val decodedSmall = RecordBatchCodec.decode(partsSmall.head._2.head.records)
      assert(new String(decodedSmall.records.head.value).length === (5 << 20))
      sock.close()
    } finally broker.close()
  }

  test("every advertised classic version of Produce/Fetch/Metadata round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-vm").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("vm", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // Metadata v1-v8: explicit topic list; an absent topic comes back
      // as UNKNOWN_TOPIC_OR_PARTITION (3), never as a fabricated topic
      (1 to 8).foreach { v =>
        val md = request(sock, 3, v.toShort, 100 + v) { b =>
          W.writeMetadataClassic(b, Some(Seq("vm", "ghost")), v)
        }
        val (h, p, topics) = W.readMetadataResponse(md, v)
        assert(h === "127.0.0.1" && p === broker.boundPort, s"metadata v$v")
        assert(topics.toSet ===
          Set(("vm", 2, 0.toShort), ("ghost", 0, 3.toShort)), s"metadata v$v")
      }
      // ... and the all-topics (null array) form
      val mdAll = request(sock, 3, 5, 120)(b => W.writeMetadataClassic(b, None, 5))
      assert(W.readMetadataResponse(mdAll, 5)._3 === Seq(("vm", 2, 0.toShort)))

      // Produce v3-v8: the request layout is constant, the response grows
      // log_start_offset (v5+) and record_errors (v8); offsets advance
      // across versions on one log
      (3 to 8).foreach { v =>
        val i = v - 3
        val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
          Seq(RecordBatchCodec.Record(0, 0L, s"k$v".getBytes, s"v$v".getBytes, Nil))))
        val pr = request(sock, 0, v.toShort, 200 + v) { b =>
          W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("vm", Seq(W.ProducePartition(0, batch))))))
        }
        val (results, throttle) = W.readProduceResponse(pr, v)
        assert(results === Seq("vm" -> Seq((0, 0.toShort, i.toLong))), s"produce v$v")
        assert(throttle === 0)
      }

      // Fetch v4-v11: every version returns all six records and the
      // version-appropriate partition header fields
      (4 to 11).foreach { v =>
        val fr = request(sock, 1, v.toShort, 300 + v) { b =>
          W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
            W.FetchTopic("vm", Seq(W.FetchPartition(0, 0L, 1 << 20))))), v)
        }
        val parts = W.readFetchResponseClassic(fr, v)
        assert(parts.head._1 === "vm", s"fetch v$v")
        val p0 = parts.head._2.head
        assert(p0.error === 0 && p0.highWatermark === 6L, s"fetch v$v")
        if (v >= 5) assert(p0.logStart === 0L, s"fetch v$v")
        val decoded = RecordBatchCodec.decode(p0.records)
        assert(decoded.records.map(r => new String(r.key)) ===
          (3 to 8).map(i => s"k$i"), s"fetch v$v")
      }
      sock.close()

      // an UNADVERTISED version is never misparsed: the broker drops the
      // connection instead of decoding the body with the wrong layout
      val sock2 = new Socket("127.0.0.1", broker.boundPort)
      intercept[java.io.IOException] {
        request(sock2, 1, 3, 999) { b =>
          W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
            W.FetchTopic("vm", Seq(W.FetchPartition(0, 0L, 1 << 20))))), 4)
        }
      }
      sock2.close()
    } finally broker.close()
  }

  test("every advertised version of the coordinator/offset plane round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-cp").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("cp", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      var corr = 400
      // one call shape for the whole matrix: flexible versions get a
      // header-v2 request and their response tagged-fields skipped
      def call(api: Short, v: Int)(w: ByteBuffer => Unit): ByteBuffer = {
        corr += 1
        val flex = W.isFlexible(api, v.toShort)
        val r = if (flex) flexRequest(sock, api, v.toShort, corr)(w)
                else request(sock, api, v.toShort, corr)(w)
        if (flex) W.skipTaggedFields(r)
        r
      }

      // FindCoordinator v0-v6 (v5/v6 wire-identical to v4)
      (0 to 6).foreach { v =>
        val r = call(10, v)(b => W.writeFindCoordinator(b, "cg", v))
        val (e, _, h, p) = W.readFindCoordinatorResponse(r, v)
        assert(e === 0 && h === "127.0.0.1" && p === broker.boundPort, s"findCoord v$v")
      }

      // the full membership flow at every JoinGroup version, a fresh
      // group per version (Sync/Heartbeat/Leave at their capped maxes)
      (0 to 9).foreach { v =>
        val g = s"cg$v"
        val jr0 = call(11, v) { b =>
          W.writeJoinGroup(b, W.JoinGroupRequest(g, 30000, "", "consumer",
            Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("cp"))))), v)
        }
        val jr = W.readJoinGroupResponse(jr0, v)
        assert(jr.error === 0 && jr.leader === jr.memberId, s"join v$v")
        assert(jr.members.map(_._1) === Seq(jr.memberId), s"join v$v members")

        val sv = math.min(v, 5)
        val sr0 = call(14, sv) { b =>
          W.writeSyncGroup(b,
            W.SyncGroupRequest(g, jr.generation, jr.memberId, Seq.empty), sv)
        }
        val (se, assign) = W.readSyncGroupResponse(sr0, sv)
        assert(se === 0, s"sync v$sv")
        assert(W.decodeAssignment(assign) === Seq("cp" -> Seq(0, 1)), s"sync v$sv")

        val hv = math.min(v, 4)
        val hr = call(12, hv)(b =>
          W.writeHeartbeat(b, g, jr.generation, jr.memberId, hv))
        assert(W.readErrorResponse(hr, hv, hv >= 4) === 0, s"heartbeat v$hv")

        val lv = math.min(v, 5)
        val lr0 = call(13, lv)(b =>
          W.writeLeaveGroupBatch(b, g, Seq(jr.memberId), lv))
        val (le, lm) = W.readLeaveGroupResponse(lr0, lv)
        assert(le === 0, s"leave v$lv")
        if (lv >= 3) assert(lm === Seq(jr.memberId -> 0.toShort), s"leave v$lv")
      }

      // OffsetCommit v0-v9 (v9 wire-identical to v8) / OffsetFetch
      // v0-v7 on one group
      (0 to 9).foreach { v =>
        val r = call(8, v) { b =>
          W.writeOffsetCommit(b, W.OffsetCommitRequest("og", Seq(
            W.CommitTopic("cp", Seq(W.CommitPartition(0, 100L + v, ""))))), v)
        }
        assert(W.readOffsetCommitResponse(r, v) ===
          Seq("cp" -> Seq((0, 0.toShort))), s"offsetCommit v$v")
      }
      (0 to 7).foreach { v =>
        val r = call(9, v)(b =>
          W.writeOffsetFetch(b, W.OffsetFetchRequest("og", Seq("cp" -> Seq(0))), v))
        assert(W.readOffsetFetchResponse(r, v) ===
          Seq("cp" -> Seq((0, 109L))), s"offsetFetch v$v")
      }
      // a null topic array (v2+) returns every offset the group holds
      val all = call(9, 7)(b =>
        W.writeOffsetFetch(b, W.OffsetFetchRequest("og", null), 7))
      assert(W.readOffsetFetchResponse(all, 7) === Seq("cp" -> Seq((0, 109L))))
      // OffsetFetch v8-v9 (KIP-709): one request batches several
      // groups, null topics still mean "everything the group holds"
      (8 to 9).foreach { v =>
        val r = call(9, v) { b =>
          W.writeOffsetFetchV8(b, Seq(
            W.OffsetFetchRequest("og", Seq("cp" -> Seq(0))),
            W.OffsetFetchRequest("og", null),
            W.OffsetFetchRequest("ghost-group", null)), v)
        }
        assert(W.readOffsetFetchResponseV8(r) === Seq(
          "og" -> Seq("cp" -> Seq((0, 109L))),
          "og" -> Seq("cp" -> Seq((0, 109L))),
          "ghost-group" -> Nil), s"offsetFetch v$v")
      }
      sock.close()
    } finally broker.close()
  }

  test("max.message.bytes over the wire: oversized produce gets MESSAGE_TOO_LARGE") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("cap", 1,
      Map(graft.model.Model.ConfigKey.MaxMessageBytes -> "16"))
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def oneRecord(v: Array[Byte]) = RecordBatchCodec.encode(
        RecordBatchCodec.Batch(0L, 0, 0, 1704067200000L, 1704067200000L,
          -1L, -1, -1, Seq(RecordBatchCodec.Record(0, 0L, "k".getBytes, v, Nil))))
      // 64-byte value over a 16-byte cap: the partition reports error 10
      val big = request(sock, 0, 3, 1) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("cap", Seq(W.ProducePartition(0,
            oneRecord(Array.fill[Byte](64)('x'))))))))
      }
      assert(big.getInt === 1); assert(W.readString(big) === "cap")
      assert(big.getInt === 1); assert(big.getInt === 0)
      assert(big.getShort === 10, "expected MESSAGE_TOO_LARGE") // error code
      // the rejected batch must not have consumed offsets: a small
      // record lands at base offset 0
      val ok = request(sock, 0, 3, 2) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("cap", Seq(W.ProducePartition(0,
            oneRecord("v".getBytes)))))))
      }
      ok.getInt; W.readString(ok); ok.getInt; ok.getInt
      assert(ok.getShort === 0)
      assert(ok.getLong === 0L) // base offset: nothing was reserved before
      sock.close()
    } finally broker.close()
  }

  test("produce/fetch round-trip over the wire (S1/S2/S3 end-to-end)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("wire", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // ApiVersions
      val av = request(sock, 18, 0, 1)(_ => ())
      assert(av.getShort === 0)
      assert(av.getInt === W.SupportedApis.size)

      // Produce one batch of 3 records
      val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
        0L, 0, 0, 1704067200000L, 1704067200002L, -1L, -1, -1,
        (0 until 3).map(i => RecordBatchCodec.Record(
          i, i.toLong, s"k$i".getBytes, s"v$i".getBytes, Nil))))
      val pr = request(sock, 0, 3, 2) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("wire", Seq(W.ProducePartition(0, batch))))))
      }
      assert(pr.getInt === 1) // one topic
      assert(W.readString(pr) === "wire")
      assert(pr.getInt === 1) // one partition
      assert(pr.getInt === 0) // partition id
      assert(pr.getShort === 0) // no error
      assert(pr.getLong === 0L) // base offset

      // Fetch them back
      val fr = request(sock, 1, 4, 3) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
          W.FetchTopic("wire", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      fr.getInt // throttle
      assert(fr.getInt === 1)
      assert(W.readString(fr) === "wire")
      assert(fr.getInt === 1)
      assert(fr.getInt === 0) // partition
      assert(fr.getShort === 0) // error
      assert(fr.getLong === 3L) // high watermark
      fr.getLong // lso
      fr.getInt // aborted count
      val records = W.readBytes(fr)
      val decoded = RecordBatchCodec.decode(records)
      assert(decoded.records.size === 3)
      assert(new String(decoded.records.head.value) === "v0")

      // ListOffsets: latest (-1), earliest (-2), by-timestamp
      val lo = request(sock, 2, 1, 7) { b =>
        W.writeListOffsets(b, W.ListOffsetsRequest(0, Seq(
          W.ListOffsetsTopic("wire", Seq(
            W.ListOffsetsPartition(0, -1L))))))
      }
      assert(lo.getInt === 1)
      assert(W.readString(lo) === "wire")
      assert(lo.getInt === 1)
      assert(lo.getInt === 0) // partition
      assert(lo.getShort === 0) // error
      lo.getLong // echoed timestamp
      assert(lo.getLong === 3L) // latest offset = high watermark

      // OffsetCommit then OffsetFetch round-trip (consumer progress)
      val oc = request(sock, 8, 2, 10) { b =>
        W.writeOffsetCommit(b, W.OffsetCommitRequest("g1", Seq(
          W.CommitTopic("wire", Seq(W.CommitPartition(0, 2L, ""))))))
      }
      oc.getInt; W.readString(oc); oc.getInt; oc.getInt
      assert(oc.getShort === 0)
      val of = request(sock, 9, 1, 11) { b =>
        W.writeOffsetFetch(b, W.OffsetFetchRequest("g1", Seq("wire" -> Seq(0))))
      }
      of.getInt; W.readString(of); of.getInt; of.getInt
      assert(of.getLong === 2L) // committed offset round-trips

      // Metadata sees the topic
      val md = request(sock, 3, 1, 4)(b => b.putInt(-1))
      md.getInt // broker count
      md.getInt // node id
      assert(W.readString(md) === "127.0.0.1")

      sock.close()
    } finally broker.close()
  }

  test("read_committed fetch over the wire omits aborted records") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("txw", 1)
    val tp = graft.model.Model.Topition("txw", 0)
    import spark.implicits._
    def rows(n: Int, from: Int) = (from until from + n)
      .map(i => (new java.sql.Timestamp(1704067200000L + i), s"k$i", s"v$i"))
      .toDF("timestamp", "key", "value")
    assert(storage.produce(tp, rows(2, 0)).isRight) // committed 0..1
    val (pid, _) = storage.initProducer("tx-wire")
    storage.txnBegin(pid, tp)
    assert(storage.produce(tp, rows(3, 2), producerId = pid,
      producerEpoch = 0, baseSequence = 0).isRight) // txn 2..4
    assert(storage.txnEnd(pid, commit = false) === graft.model.Model.ErrorCode.None)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      // the re-encoded wire batch has producerId=-1 and no markers, so
      // the server itself must drop the aborted rows under isolation=1
      val fr = request(sock, 1, 4, 3) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 1, Seq(
          W.FetchTopic("txw", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      fr.getInt; fr.getInt; W.readString(fr); fr.getInt; fr.getInt
      assert(fr.getShort === 0)
      fr.getLong; fr.getLong
      val nAborted = fr.getInt
      assert(nAborted === 1) // the aborted range is still reported
      fr.position(fr.position() + nAborted * 16) // (pid, first_offset) pairs
      val decoded = RecordBatchCodec.decode(W.readBytes(fr))
      val values = decoded.records.map(r => new String(r.value)).toSet
      assert(values === Set("v0", "v1"), s"aborted rows leaked: $values")
      sock.close()
    } finally broker.close()
  }

  test("binary payloads round-trip byte-exact (no UTF-8 laundering)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("bin", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      // every byte value 0..255 plus sequences that are invalid UTF-8
      // (0x80 continuation without lead, truncated multi-byte) — the
      // shape of real Avro/proto payloads
      val payload = (0 until 256).map(_.toByte).toArray ++
        Array[Byte](-128, -61, 0, -1, -2)
      val key = Array[Byte](-27, 1, -128)
      val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
        0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
        Seq(RecordBatchCodec.Record(0, 0L, key, payload, Nil))))
      val pr = request(sock, 0, 3, 2) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("bin", Seq(W.ProducePartition(0, batch))))))
      }
      pr.getInt; W.readString(pr); pr.getInt; pr.getInt
      assert(pr.getShort === 0)
      val fr = request(sock, 1, 4, 3) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
          W.FetchTopic("bin", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      fr.getInt; fr.getInt; W.readString(fr); fr.getInt; fr.getInt
      assert(fr.getShort === 0)
      fr.getLong; fr.getLong; fr.getInt
      val decoded = RecordBatchCodec.decode(W.readBytes(fr))
      assert(decoded.records.size === 1)
      assert(decoded.records.head.key.toSeq === key.toSeq)
      assert(decoded.records.head.value.toSeq === payload.toSeq)
      sock.close()
    } finally broker.close()
  }

  test("consumer-group membership flow over the wire (T11/T12 + S2)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker3").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("gt", 1)
    // seed 4 partitions so range assignment has something to split: the
    // facade's partition probe counts dirs with data, so produce a row each
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // FindCoordinator: single broker — always ourselves
      val fc = request(sock, 10, 0, 20)(b => W.writeString(b, "wg"))
      assert(fc.getShort === 0)
      fc.getInt // node id
      assert(W.readString(fc) === "127.0.0.1")
      assert(fc.getInt === broker.boundPort)

      // Member A joins (new member: empty member_id)
      val ja = request(sock, 11, 0, 21) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("wg", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("gt"))))))
      }
      assert(ja.getShort === 0)
      val genA = ja.getInt
      assert(W.readString(ja) === "range")
      val leaderA = W.readString(ja)
      val memberA = W.readString(ja)
      assert(leaderA === memberA) // first joiner leads
      assert(ja.getInt === 1)     // roster visible to the leader
      assert(W.readString(ja) === memberA)
      assert(W.decodeSubscriptionTopics(W.readBytes(ja)) === Seq("gt"))

      // Member B joins the SAME rebalance cohort — one generation for the
      // whole cohort (per-join bumps would livelock concurrent joiners)
      val jb = request(sock, 11, 0, 22) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("wg", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("gt"))))))
      }
      assert(jb.getShort === 0)
      val genB = jb.getInt
      assert(genB === genA)
      assert(W.readString(jb) === "range") // negotiated protocol
      assert(W.readString(jb) === memberA) // still A-led
      val memberBId = W.readString(jb)
      assert(jb.getInt === 0) // non-leader gets no roster

      val staleSync = request(sock, 14, 0, 23) { b =>
        W.writeSyncGroup(b, W.SyncGroupRequest("wg", genA - 1, memberA, Seq.empty))
      }
      assert(staleSync.getShort === 22) // ILLEGAL_GENERATION

      // Leader syncs at the current generation → gets its assignment
      val sa = request(sock, 14, 0, 24) { b =>
        W.writeSyncGroup(b, W.SyncGroupRequest("wg", genB, memberA, Seq.empty))
      }
      assert(sa.getShort === 0)
      val aAssign = W.decodeAssignment(W.readBytes(sa))
      val sb = request(sock, 14, 0, 25) { b =>
        W.writeSyncGroup(b, W.SyncGroupRequest("wg", genB, memberBId, Seq.empty))
      }
      assert(sb.getShort === 0)
      val bAssign = W.decodeAssignment(W.readBytes(sb))
      val all = (aAssign ++ bAssign).flatMap { case (t, ps) => ps.map(t -> _) }
      assert(all.toSet === Set("gt" -> 0)) // one partition, assigned once

      // Heartbeats: current gen ok, stale gen → REBALANCE_IN_PROGRESS
      val hb = request(sock, 12, 0, 26) { b =>
        W.writeHeartbeat(b, "wg", genB, memberA)
      }
      assert(hb.getShort === 0)
      val hbStale = request(sock, 12, 0, 27) { b =>
        W.writeHeartbeat(b, "wg", genA - 1, memberA)
      }
      assert(hbStale.getShort === 27)

      // Leave: B departs, group re-forms
      val lv = request(sock, 13, 0, 28) { b =>
        W.writeLeaveGroup(b, "wg", memberBId)
      }
      assert(lv.getShort === 0)
      val hbAfterLeave = request(sock, 12, 0, 29) { b =>
        W.writeHeartbeat(b, "wg", genB, memberA)
      }
      assert(hbAfterLeave.getShort === 27) // generation bumped by the leave

      sock.close()
    } finally broker.close()
  }

  test("topic lifecycle + transactional produce over the wire (S1/T5)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker4").toString
    val storage = new ParquetStorage(spark, root)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // CreateTopics: new topic ok, duplicate → TOPIC_ALREADY_EXISTS
      val ct = request(sock, 19, 0, 30) { b =>
        W.writeCreateTopics(b, Seq(W.CreateTopic("tx", 1, 1,
          Map("cleanup.policy" -> "delete"))), 30000)
      }
      assert(ct.getInt === 1)
      assert(W.readString(ct) === "tx")
      assert(ct.getShort === 0)
      val ctDup = request(sock, 19, 0, 31) { b =>
        W.writeCreateTopics(b, Seq(W.CreateTopic("tx", 1, 1, Map.empty)), 30000)
      }
      ctDup.getInt; W.readString(ctDup)
      assert(ctDup.getShort === 36)

      // InitProducerId → AddPartitionsToTxn → Produce → EndTxn(commit)
      val ip = request(sock, 22, 0, 32) { b =>
        W.writeInitProducerId(b, "txn-1", 60000)
      }
      ip.getInt // throttle
      assert(ip.getShort === 0)
      val pid = ip.getLong
      val epoch = ip.getShort
      assert(pid >= 0)

      val ap = request(sock, 24, 0, 33) { b =>
        W.writeAddPartitionsToTxn(b, W.AddPartitionsToTxnRequest(
          "txn-1", pid, epoch, Seq("tx" -> Seq(0))))
      }
      ap.getInt // throttle
      assert(ap.getInt === 1)
      assert(W.readString(ap) === "tx")
      ap.getInt
      assert(ap.getInt === 0)
      assert(ap.getShort === 0)

      val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
        0L, 0, 0, 1704067200000L, 1704067200000L, pid, epoch, 0,
        Seq(RecordBatchCodec.Record(0, 0L, "k".getBytes, "v".getBytes, Nil))))
      val pr = request(sock, 0, 3, 34) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("tx", Seq(W.ProducePartition(0, batch))))))
      }
      pr.getInt; W.readString(pr); pr.getInt; pr.getInt
      assert(pr.getShort === 0)

      // Before commit: read_committed fetch sees nothing
      val frUncommitted = request(sock, 1, 4, 35) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 1, Seq(
          W.FetchTopic("tx", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      frUncommitted.getInt; frUncommitted.getInt; W.readString(frUncommitted)
      frUncommitted.getInt; frUncommitted.getInt; frUncommitted.getShort
      frUncommitted.getLong // hw
      val lsoBefore = frUncommitted.getLong
      assert(lsoBefore === 0L) // open txn pins the last stable offset

      val et = request(sock, 26, 0, 36) { b =>
        W.writeEndTxn(b, "txn-1", pid, epoch, committed = true)
      }
      et.getInt // throttle
      assert(et.getShort === 0)

      // After commit the record is stable and fetchable at read_committed
      val fr = request(sock, 1, 4, 37) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 1, Seq(
          W.FetchTopic("tx", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
      }
      fr.getInt; fr.getInt; W.readString(fr); fr.getInt
      fr.getInt; fr.getShort
      fr.getLong; fr.getLong; fr.getInt
      val records = W.readBytes(fr)
      assert(records.nonEmpty)
      assert(new String(RecordBatchCodec.decode(records).records.head.value) === "v")

      // DeleteTopics: drops it; unknown topic errors
      val dt = request(sock, 20, 0, 38) { b =>
        W.writeDeleteTopics(b, Seq("tx"), 30000)
      }
      dt.getInt; W.readString(dt)
      assert(dt.getShort === 0)
      val dtMissing = request(sock, 20, 0, 39) { b =>
        W.writeDeleteTopics(b, Seq("nope"), 30000)
      }
      dtMissing.getInt; W.readString(dtMissing)
      assert(dtMissing.getShort === 3)

      sock.close()
    } finally broker.close()
  }

  test("admin + txn-offset APIs over the wire (DescribeGroups/ListGroups/DeleteRecords/TxnOffsetCommit)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker5").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("adm", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // form a group so Describe/List have something to show
      val ja = request(sock, 11, 0, 50) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("ag", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("adm"))))))
      }
      assert(ja.getShort === 0)
      val gen = ja.getInt
      W.readString(ja); W.readString(ja)
      val member = W.readString(ja)
      val sg = request(sock, 14, 0, 51) { b =>
        W.writeSyncGroup(b, W.SyncGroupRequest("ag", gen, member, Seq.empty))
      }
      assert(sg.getShort === 0)
      // declared partition count flows into the assignment: both
      // partitions of the EMPTY topic are assigned (no data probe)
      assert(W.decodeAssignment(W.readBytes(sg)) === Seq("adm" -> Seq(0, 1)))

      val lg = request(sock, 16, 0, 52)(_ => ())
      assert(W.readListGroupsResponse(lg) === Seq("ag"))

      val dg = request(sock, 15, 0, 53)(b => W.writeDescribeGroups(b, Seq("ag", "nope")))
      val described = W.readDescribeGroupsResponse(dg)
      assert(described.head.error === 0 && described.head.state === "Stable")
      assert(described.head.members.map(_.memberId) === Seq(member))
      assert(W.decodeAssignment(described.head.members.head.assignment) ===
        Seq("adm" -> Seq(0, 1)))
      assert(described(1).error === 69) // GROUP_ID_NOT_FOUND

      // DeleteRecords advances the low watermark
      import spark.implicits._
      val tp0 = graft.model.Model.Topition("adm", 0)
      storage.produce(tp0, (0 until 6).map(i =>
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"k$i", s"v$i"))
        .toSeq.toDF("timestamp", "key", "value"))
      val dr = request(sock, 21, 0, 54) { b =>
        W.writeDeleteRecords(b, Seq("adm" -> Seq((0, 4L))), 30000)
      }
      assert(W.readDeleteRecordsResponse(dr) === Seq("adm" -> Seq((0, 4L, 0.toShort))))
      assert(storage.listEarliestOffset(tp0) === 4L)
      assert(storage.fetch(tp0, 0, Long.MaxValue).count() === 2) // 4..5 remain

      // DescribeConfigs: topic configs from storage; unknown topic errors
      storage.createTopic("cfgd", 1, Map("cleanup.policy" -> "compact",
        "retention.ms" -> "1000"))
      val dc = request(sock, 32, 0, 59) { b =>
        W.writeDescribeConfigs(b, Seq(
          (2: Byte, "cfgd", None),
          (2: Byte, "cfgd", Some(Seq("cleanup.policy"))),
          (2: Byte, "nope", None)))
      }
      val cfgs = W.readDescribeConfigsResponse(dc)
      assert(cfgs(0)._1 === 0)
      assert(cfgs(0)._4 === Seq("cleanup.policy" -> "compact", "retention.ms" -> "1000"))
      assert(cfgs(1)._4 === Seq("cleanup.policy" -> "compact"))
      assert(cfgs(2)._1 === 3) // UNKNOWN_TOPIC_OR_PARTITION

      // TxnOffsetCommit: staged under the txn, applied on EndTxn(commit)
      val ip = request(sock, 22, 0, 55)(b => W.writeInitProducerId(b, "etl", 60000))
      ip.getInt; assert(ip.getShort === 0)
      val pid = ip.getLong; val epoch = ip.getShort
      val ap = request(sock, 24, 0, 56) { b =>
        W.writeAddPartitionsToTxn(b, W.AddPartitionsToTxnRequest(
          "etl", pid, epoch, Seq("adm" -> Seq(0))))
      }
      ap.getInt
      val toc = request(sock, 28, 0, 57) { b =>
        W.writeTxnOffsetCommit(b, W.TxnOffsetCommitRequest(
          "etl", "ag", pid, epoch, Seq("adm" -> Seq(0 -> 5L))))
      }
      toc.getInt // throttle
      assert(toc.getInt === 1); assert(W.readString(toc) === "adm")
      assert(toc.getInt === 1); assert(toc.getInt === 0)
      assert(toc.getShort === 0)
      assert(storage.offsetFetch("ag", tp0) === None) // invisible pre-commit
      val et = request(sock, 26, 0, 58) { b =>
        W.writeEndTxn(b, "etl", pid, epoch, committed = true)
      }
      et.getInt; assert(et.getShort === 0)
      assert(storage.offsetFetch("ag", tp0) === Some(5L))

      sock.close()
    } finally broker.close()
  }

  test("SASL SCRAM-SHA-256 over the wire: gate, handshake, mutual auth (F9)") {
    import graft.facade.Scram
    val root = java.nio.file.Files.createTempDirectory("graft-broker7").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("sec", 1)
    val broker = new BrokerServer(storage, scramUsers = Map("alice" -> "secret"))
    try {
      // pre-auth: ApiVersions is allowed, anything else drops the conn
      val gated = new Socket("127.0.0.1", broker.boundPort)
      val av = request(gated, 18, 0, 80)(_ => ())
      assert(av.getShort === 0)
      val out = new DataOutputStream(gated.getOutputStream)
      val md = ByteBuffer.allocate(64)
      md.putShort(3); md.putShort(1); md.putInt(81); W.writeString(md, "c"); md.putInt(-1)
      md.flip()
      out.writeInt(md.remaining())
      val f = new Array[Byte](md.remaining()); md.get(f); out.write(f); out.flush()
      assert(new DataInputStream(gated.getInputStream).read() === -1) // closed
      gated.close()

      // full exchange with the right password → mutual auth
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val hs = request(sock, 17, 1, 82)(b => W.writeSaslHandshake(b, Scram.Mechanism))
      assert(hs.getShort === 0)
      assert((0 until hs.getInt).map(_ => W.readString(hs)) ===
        Scram.Mechanisms.map(_.name))
      val cFirst = Scram.clientFirst("alice", "cnonce123")
      val sFirstResp = request(sock, 36, 0, 83) { b =>
        W.writeSaslAuthenticate(b, cFirst.getBytes("UTF-8"))
      }
      assert(sFirstResp.getShort === 0)
      W.readString(sFirstResp) // error message (null)
      val sFirst = new String(W.readBytes(sFirstResp), "UTF-8")
      val (cFinal, expectedServerFinal) = Scram.clientFinal("secret", cFirst, sFirst)
      val sFinalResp = request(sock, 36, 0, 84) { b =>
        W.writeSaslAuthenticate(b, cFinal.getBytes("UTF-8"))
      }
      assert(sFinalResp.getShort === 0)
      W.readString(sFinalResp)
      // server proves knowledge of the credential too (mutual auth)
      assert(new String(W.readBytes(sFinalResp), "UTF-8") === expectedServerFinal)
      // authenticated: normal APIs now served on this connection
      val md2 = request(sock, 3, 1, 85)(b => b.putInt(-1))
      md2.getInt; md2.getInt
      assert(W.readString(md2) === "127.0.0.1")
      sock.close()

      // wrong password → SASL_AUTHENTICATION_FAILED
      val bad = new Socket("127.0.0.1", broker.boundPort)
      request(bad, 17, 1, 86)(b => W.writeSaslHandshake(b, Scram.Mechanism))
      val bFirst = Scram.clientFirst("alice", "cnonce456")
      val bFirstResp = request(bad, 36, 0, 87) { b =>
        W.writeSaslAuthenticate(b, bFirst.getBytes("UTF-8"))
      }
      bFirstResp.getShort; W.readString(bFirstResp)
      val bsFirst = new String(W.readBytes(bFirstResp), "UTF-8")
      val (bFinal, _) = Scram.clientFinal("wrong", bFirst, bsFirst)
      val bFinalResp = request(bad, 36, 0, 88) { b =>
        W.writeSaslAuthenticate(b, bFinal.getBytes("UTF-8"))
      }
      assert(bFinalResp.getShort === 58)
      bad.close()
    } finally broker.close()
  }

  test("SCRAM-SHA-512 credentials persist: a restarted broker authenticates with no config") {
    import graft.facade.Scram
    val root = java.nio.file.Files.createTempDirectory("graft-broker-512").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("sec2", 1)
    // first broker registers the user's credentials (both mechanisms)
    new BrokerServer(storage, scramUsers = Map("bob" -> "hunter2")).close()

    // fresh process over the same root: NO passwords supplied — the
    // credential store on disk both enables the auth gate and serves the
    // SHA-512 exchange
    val storage2 = new ParquetStorage(spark, root)
    assert(storage2.listScramCredentials() ===
      Seq("bob" -> "SCRAM-SHA-256", "bob" -> "SCRAM-SHA-512"))
    val broker = new BrokerServer(storage2)
    try {
      // the gate is active purely from persisted credentials
      val gated = new Socket("127.0.0.1", broker.boundPort)
      val out = new DataOutputStream(gated.getOutputStream)
      val md = ByteBuffer.allocate(64)
      md.putShort(3); md.putShort(1); md.putInt(70); W.writeString(md, "c"); md.putInt(-1)
      md.flip()
      out.writeInt(md.remaining())
      val f = new Array[Byte](md.remaining()); md.get(f); out.write(f); out.flush()
      assert(new DataInputStream(gated.getInputStream).read() === -1)
      gated.close()

      // SHA-512 mutual auth end to end
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val hs = request(sock, 17, 1, 71)(b => W.writeSaslHandshake(b, "SCRAM-SHA-512"))
      assert(hs.getShort === 0)
      val cFirst = Scram.clientFirst("bob", "nonce512")
      val sFirstResp = request(sock, 36, 0, 72) { b =>
        W.writeSaslAuthenticate(b, cFirst.getBytes("UTF-8"))
      }
      assert(sFirstResp.getShort === 0)
      W.readString(sFirstResp)
      val sFirst = new String(W.readBytes(sFirstResp), "UTF-8")
      val (cFinal, expectedServerFinal) =
        Scram.clientFinal("hunter2", cFirst, sFirst, Scram.Sha512)
      val sFinalResp = request(sock, 36, 0, 73) { b =>
        W.writeSaslAuthenticate(b, cFinal.getBytes("UTF-8"))
      }
      assert(sFinalResp.getShort === 0)
      W.readString(sFinalResp)
      assert(new String(W.readBytes(sFinalResp), "UTF-8") === expectedServerFinal)
      // authenticated connection serves normal APIs
      val md2 = request(sock, 3, 1, 74)(b => b.putInt(-1))
      md2.getInt; md2.getInt
      assert(W.readString(md2) === "127.0.0.1")
      sock.close()
    } finally broker.close()
  }

  test("DeleteGroups / OffsetDelete: admin removal of groups and committed offsets") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-og").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("odel", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def fetchOffset(group: String, p: Int): Long = {
        val of = request(sock, 9, 1, 60) { b =>
          W.writeOffsetFetch(b, W.OffsetFetchRequest(group, Seq("odel" -> Seq(p))))
        }
        of.getInt; W.readString(of); of.getInt; of.getInt
        of.getLong
      }

      // commit offsets on both partitions for a memberless group
      val oc = request(sock, 8, 2, 61) { b =>
        W.writeOffsetCommit(b, W.OffsetCommitRequest("gone", Seq(
          W.CommitTopic("odel", Seq(
            W.CommitPartition(0, 11L, ""), W.CommitPartition(1, 22L, ""))))))
      }
      oc.getInt; W.readString(oc); oc.getInt; oc.getInt
      assert(oc.getShort === 0)
      assert(fetchOffset("gone", 0) === 11L)

      // OffsetDelete removes one partition's offset, keeps the other
      val od = request(sock, 47, 0, 62) { b =>
        W.writeOffsetDelete(b, "gone", Seq("odel" -> Seq(1)))
      }
      val (oe, ops) = W.readOffsetDeleteResponse(od)
      assert(oe === 0 && ops === Seq("odel" -> Seq((1, 0.toShort))))
      assert(fetchOffset("gone", 0) === 11L)
      assert(fetchOffset("gone", 1) === -1L)

      // DeleteGroups: unknown group errors, known group is removed whole
      val dg = request(sock, 42, 0, 63) { b =>
        W.writeDeleteGroups(b, Seq("gone", "never-was"))
      }
      assert(W.readDeleteGroupsResponse(dg).toSet ===
        Set("gone" -> 0.toShort, "never-was" -> 69.toShort))
      assert(fetchOffset("gone", 0) === -1L)

      // a group with a live member refuses deletion (NON_EMPTY_GROUP),
      // and offsets of a topic it subscribes stay (GROUP_SUBSCRIBED_TO_TOPIC)
      val ja = request(sock, 11, 0, 64) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("live", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("odel"))))))
      }
      assert(ja.getShort === 0)
      val oc2 = request(sock, 8, 2, 65) { b =>
        W.writeOffsetCommit(b, W.OffsetCommitRequest("live", Seq(
          W.CommitTopic("odel", Seq(W.CommitPartition(0, 3L, ""))))))
      }
      oc2.getInt; W.readString(oc2); oc2.getInt; oc2.getInt
      assert(oc2.getShort === 0)
      val dg2 = request(sock, 42, 0, 66)(b => W.writeDeleteGroups(b, Seq("live")))
      assert(W.readDeleteGroupsResponse(dg2) === Seq("live" -> 68.toShort))
      val od2 = request(sock, 47, 0, 67) { b =>
        W.writeOffsetDelete(b, "live", Seq("odel" -> Seq(0)))
      }
      val (oe2, ops2) = W.readOffsetDeleteResponse(od2)
      assert(oe2 === 0 && ops2 === Seq("odel" -> Seq((0, 86.toShort))))
      assert(fetchOffset("live", 0) === 3L)
      sock.close()
    } finally broker.close()
  }

  test("SCRAM password rotation: a changed config password replaces the stored credential") {
    import graft.facade.Scram
    val root = java.nio.file.Files.createTempDirectory("graft-broker-rot").toString
    new BrokerServer(new ParquetStorage(spark, root),
      scramUsers = Map("carol" -> "oldpass")).close()
    // restart with a ROTATED password: the stored credential no longer
    // verifies it, so the broker re-derives and upserts — the old
    // password must stop working and the new one must authenticate
    val broker = new BrokerServer(new ParquetStorage(spark, root),
      scramUsers = Map("carol" -> "newpass"))
    try {
      def tryAuth(pw: String): Short = {
        val sock = new Socket("127.0.0.1", broker.boundPort)
        try {
          request(sock, 17, 1, 75)(b => W.writeSaslHandshake(b, Scram.Mechanism))
          val cFirst = Scram.clientFirst("carol", "noncerot")
          val r1 = request(sock, 36, 0, 76) { b =>
            W.writeSaslAuthenticate(b, cFirst.getBytes("UTF-8"))
          }
          r1.getShort; W.readString(r1)
          val sFirst = new String(W.readBytes(r1), "UTF-8")
          val (cFinal, _) = Scram.clientFinal(pw, cFirst, sFirst)
          val r2 = request(sock, 36, 0, 77) { b =>
            W.writeSaslAuthenticate(b, cFinal.getBytes("UTF-8"))
          }
          r2.getShort
        } finally sock.close()
      }
      assert(tryAuth("newpass") === 0)
      assert(tryAuth("oldpass") === 58) // SASL_AUTHENTICATION_FAILED
    } finally broker.close()
  }

  test("produce quota: past the byte budget the response carries throttle_time_ms (T10)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker8").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("q", 1)
    val broker = new BrokerServer(storage, produceQuotaBytesPerSec = 64)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def produceOnce(corr: Int): Int = {
        val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200000L, -1L, -1, -1,
          Seq(RecordBatchCodec.Record(0, 0L, "k".getBytes,
            Array.fill[Byte](100)(65), Nil))))
        val pr = request(sock, 0, 3, corr) { b =>
          W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("q", Seq(W.ProducePartition(0, batch))))))
        }
        val (results, throttle) = W.readProduceResponse(pr)
        assert(results.head._2.head._2 === 0) // still accepted
        throttle
      }
      // one ~170 B batch blows the 64 B/s window: the response itself
      // carries a positive throttle (bytes are counted at request time)
      assert(produceOnce(90) > 0)
      sock.close()
    } finally broker.close()
  }

  test("produce with invalid batch returns INVALID_RECORD, not a hang") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker2").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("wire", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val pr = request(sock, 0, 3, 9) { b =>
        W.writeProduce(b, W.ProduceRequest(1, 30000, Seq(
          W.ProduceTopic("wire", Seq(W.ProducePartition(0, Array[Byte](1, 2, 3)))))))
      }
      pr.getInt; W.readString(pr); pr.getInt; pr.getInt
      assert(pr.getShort === 87) // INVALID_RECORD
      sock.close()
    } finally broker.close()
  }

  test("every advertised version of the admin and txn planes round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-ap").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("ap", 1)
    import spark.implicits._
    val tp = graft.model.Model.Topition("ap", 0)
    // three records at distinct timestamps; the MIDDLE one is newest —
    // so ListOffsets -1 (latest=HW) and -3 (max-timestamp offset) differ
    Seq((new java.sql.Timestamp(1000L), "a", "1"),
        (new java.sql.Timestamp(9000L), "b", "2"),
        (new java.sql.Timestamp(5000L), "c", "3"))
      .foreach { r =>
        storage.produce(tp, Seq(r).toDF("timestamp", "key", "value"))
      }
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      var corr = 800
      def call(api: Short, v: Int)(w: ByteBuffer => Unit): ByteBuffer = {
        corr += 1
        val flex = W.isFlexible(api, v.toShort)
        val r = if (flex) flexRequest(sock, api, v.toShort, corr)(w)
                else request(sock, api, v.toShort, corr)(w)
        if (flex) W.skipTaggedFields(r)
        r
      }

      // ListOffsets v0-v9 (v9 wire-identical to v8): earliest(-2) = 0
      // and latest(-1) = HW = 3 at every version; v7+ also resolves -3
      // to the max-timestamp offset
      (0 to 9).foreach { v =>
        val r = call(2, v) { b =>
          W.writeListOffsets(b, W.ListOffsetsRequest(0, Seq(
            W.ListOffsetsTopic("ap", Seq(W.ListOffsetsPartition(0, -1L))))), v)
        }
        val Seq(("ap", parts)) = W.readListOffsetsResponse(r, v)
        assert(parts === Seq((0, 0.toShort, 3L)), s"listOffsets v$v latest")
        val r2 = call(2, v) { b =>
          W.writeListOffsets(b, W.ListOffsetsRequest(0, Seq(
            W.ListOffsetsTopic("ap", Seq(W.ListOffsetsPartition(0, -2L))))), v)
        }
        assert(W.readListOffsetsResponse(r2, v).head._2.head._3 === 0L,
          s"listOffsets v$v earliest")
        if (v >= 7) {
          val r3 = call(2, v) { b =>
            W.writeListOffsets(b, W.ListOffsetsRequest(0, Seq(
              W.ListOffsetsTopic("ap", Seq(W.ListOffsetsPartition(0, -3L))))), v)
          }
          assert(W.readListOffsetsResponse(r3, v).head._2.head._3 === 1L,
            s"listOffsets v$v max-timestamp")
        }
      }

      // CreateTopics v0-v7 / DescribeConfigs v0-v4 / DeleteTopics v0-v6:
      // a fresh topic per CreateTopics version, described then deleted
      (0 to 7).foreach { v =>
        val name = s"ct$v"
        val r = call(19, v) { b =>
          W.writeCreateTopics(b,
            Seq(W.CreateTopic(name, 2, 1, Map("retention.ms" -> "1000"))),
            30000, v)
        }
        assert(W.readCreateTopicsResponse(r, v) === Seq(name -> 0.toShort),
          s"createTopics v$v")
        assert(storage.partitionCount(name) === 2)

        val dv = math.min(v, 4)
        val dc = call(32, dv) { b =>
          W.writeDescribeConfigs(b, Seq((2: Byte, name, None)), dv)
        }
        val Seq((dcErr, _, dcName, cfg)) = W.readDescribeConfigsResponse(dc, dv)
        assert(dcErr === 0 && dcName === name, s"describeConfigs v$dv")
        assert(cfg.toMap.get("retention.ms") === Some("1000"))

        val delV = math.min(v, 6)
        val del = call(20, delV)(b => W.writeDeleteTopics(b, Seq(name), 30000, delV))
        assert(W.readTopicErrorsResponse(del, 20, delV) === Seq(name -> 0.toShort),
          s"deleteTopics v$delV")
        assert(!storage.topics.contains(name))
      }

      // validate_only (v1+): a dry run reports success, creates nothing
      val dry = call(19, 7) { b =>
        W.writeCreateTopics(b, Seq(W.CreateTopic("dry", 2, 1, Map.empty)),
          30000, 7, validateOnly = true)
      }
      assert(W.readCreateTopicsResponse(dry, 7) === Seq("dry" -> 0.toShort))
      assert(!storage.topics.contains("dry"))

      // IncrementalAlterConfigs v0-v1: SET then DELETE, each observed
      // through topicConfig (the maintain() input)
      (0 to 1).foreach { v =>
        val r = call(44, v) { b =>
          W.writeIncrementalAlterConfigs(b, Seq((2: Byte, "ap", Seq(
            W.AlterConfigOp("retention.ms", 0, s"500$v"),
            W.AlterConfigOp("cleanup.policy", 0, "compact")))), false, v)
        }
        assert(W.readIncrementalAlterConfigsResponse(r, v) ===
          Seq((0.toShort, 2: Byte, "ap")), s"incrAlter v$v")
        assert(storage.topicConfig("ap").get("retention.ms") === Some(s"500$v"))
        val d = call(44, v) { b =>
          W.writeIncrementalAlterConfigs(b, Seq((2: Byte, "ap", Seq(
            W.AlterConfigOp("cleanup.policy", 1, null)))), false, v)
        }
        assert(W.readIncrementalAlterConfigsResponse(d, v).head._1 === 0)
        assert(!storage.topicConfig("ap").contains("cleanup.policy"))
      }
      // unknown topic and APPEND op are rejected
      val bad = call(44, 1) { b =>
        W.writeIncrementalAlterConfigs(b, Seq(
          (2: Byte, "nope", Seq(W.AlterConfigOp("retention.ms", 0, "1"))),
          (2: Byte, "ap", Seq(W.AlterConfigOp("retention.ms", 2, "1")))), false, 1)
      }
      assert(W.readIncrementalAlterConfigsResponse(bad, 1).map(_._1) ===
        Seq(3.toShort, 42.toShort))

      // DeleteRecords v0-v2 (cut one offset per version)
      (0 to 2).foreach { v =>
        val r = call(21, v)(b =>
          W.writeDeleteRecords(b, Seq("ap" -> Seq(0 -> (v + 1).toLong)), 30000, v))
        assert(W.readDeleteRecordsResponse(r, v) ===
          Seq("ap" -> Seq((0, (v + 1).toLong, 0.toShort))), s"deleteRecords v$v")
      }

      // groups: one joined member; DescribeGroups v0-v5 + ListGroups
      // v0-v4 see it, DeleteGroups v0-v2 refuses while it lives
      val jr = W.readJoinGroupResponse(call(11, 6) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("ag", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("ap"))))), 6)
      }, 6)
      assert(jr.error === 0)
      (0 to 5).foreach { v =>
        val r = call(15, v)(b => W.writeDescribeGroups(b, Seq("ag", "ghost"), v))
        val groups = W.readDescribeGroupsResponse(r, v)
        assert(groups.map(g => g.group -> g.error) ===
          Seq("ag" -> 0.toShort, "ghost" -> 69.toShort), s"describeGroups v$v")
        assert(groups.head.members.map(_.memberId) === Seq(jr.memberId))
      }
      (0 to 5).foreach { v =>
        val r = call(16, v)(b => W.writeListGroups(b, Nil, v))
        assert(W.readListGroupsResponse(r, v) === Seq("ag"), s"listGroups v$v")
      }
      // v4 states filter: no Stable groups before SyncGroup completes →
      // filtered out; Empty/PreparingRebalance filter keeps it
      val sf = call(16, 4)(b => W.writeListGroups(b, Seq("Dead"), 4))
      assert(W.readListGroupsResponse(sf, 4) === Seq.empty)
      (0 to 2).foreach { v =>
        val r = call(42, v)(b => W.writeDeleteGroups(b, Seq("ag"), v))
        assert(W.readDeleteGroupsResponse(r, v) === Seq("ag" -> 68.toShort),
          s"deleteGroups v$v (NON_EMPTY_GROUP)")
      }

      // txn plane: InitProducerId v0-v5, then the full EOS flow at the
      // AddPartitions/AddOffsets/TxnOffsetCommit/EndTxn max versions
      var pid = -1L
      var epoch: Short = -1
      (0 to 5).foreach { v =>
        val r = call(22, v)(b => W.writeInitProducerId(b, "txn-ap", 60000, v))
        val (e, p0, ep) = W.readInitProducerIdResponse(r, v)
        assert(e === 0 && p0 > 0, s"initProducerId v$v")
        pid = p0; epoch = ep
      }
      (0 to 3).foreach { v =>
        val r = call(24, v) { b =>
          W.writeAddPartitionsToTxn(b,
            W.AddPartitionsToTxnRequest("txn-ap", pid, epoch, Seq("ap" -> Seq(0))), v)
        }
        assert(W.readAddPartitionsToTxnResponse(r, v) ===
          Seq("ap" -> Seq((0, 0.toShort))), s"addPartitions v$v")
      }
      // v4-v5 (KIP-890) batched-transaction form: the add leg re-adds
      // the ongoing partition; the verify_only leg confirms membership
      // for it and rejects a partition the txn never touched
      (4 to 5).foreach { v =>
        val r = call(24, v) { b =>
          W.writeAddPartitionsToTxnV4(b, Seq(
            W.TxnPartitions("txn-ap", pid, epoch, verifyOnly = false,
              Seq("ap" -> Seq(0))),
            W.TxnPartitions("txn-ap", pid, epoch, verifyOnly = true,
              Seq("ap" -> Seq(0, 1)))))
        }
        assert(W.readAddPartitionsToTxnResponseV4(r) === Seq(
          "txn-ap" -> Seq("ap" -> Seq((0, 0.toShort))),
          "txn-ap" -> Seq("ap" -> Seq((0, 0.toShort), (1, 48.toShort)))),
          s"addPartitions v$v") // 48 = INVALID_TXN_STATE
      }
      // KIP-890 fencing: verification is an identity check, not a txn-id
      // lookup — a stale producerId answers INVALID_PRODUCER_ID_MAPPING
      // (49), a stale epoch INVALID_PRODUCER_EPOCH (47), and neither
      // "verifies" membership the real producer owns
      locally {
        val r = call(24, 4) { b =>
          W.writeAddPartitionsToTxnV4(b, Seq(
            W.TxnPartitions("txn-ap", pid + 999, epoch, verifyOnly = true,
              Seq("ap" -> Seq(0))),
            W.TxnPartitions("txn-ap", pid, (epoch + 1).toShort,
              verifyOnly = true, Seq("ap" -> Seq(0)))))
        }
        assert(W.readAddPartitionsToTxnResponseV4(r) === Seq(
          "txn-ap" -> Seq("ap" -> Seq((0, 49.toShort))),
          "txn-ap" -> Seq("ap" -> Seq((0, 47.toShort)))),
          "verify_only must fence stale producer id/epoch")
      }
      (0 to 4).foreach { v =>
        val r = call(25, v)(b =>
          W.writeAddOffsetsToTxn(b, "txn-ap", pid, epoch, "ag2", v))
        assert(W.readErrorResponse(r, v, v >= 3, throttleFrom = 0) === 0,
          s"addOffsets v$v")
      }
      (0 to 4).foreach { v =>
        val r = call(28, v) { b =>
          W.writeTxnOffsetCommit(b, W.TxnOffsetCommitRequest("txn-ap", "ag2",
            pid, epoch, Seq("ap" -> Seq(0 -> (40L + v)))), v)
        }
        assert(W.readTxnOffsetCommitResponse(r, v) ===
          Seq("ap" -> Seq((0, 0.toShort))), s"txnOffsetCommit v$v")
      }
      (0 to 4).foreach { v =>
        // commit at v4; earlier versions each run a fresh begin/abort
        val commit = v == 4
        val r = call(26, v)(b =>
          W.writeEndTxn(b, "txn-ap", pid, epoch, commit, v))
        assert(W.readErrorResponse(r, v, v >= 3, throttleFrom = 0) === 0,
          s"endTxn v$v")
        if (!commit) { // reopen for the next version's round
          call(25, 0)(b => W.writeAddOffsetsToTxn(b, "txn-ap", pid, epoch, "ag2"))
          call(28, 0) { b =>
            W.writeTxnOffsetCommit(b, W.TxnOffsetCommitRequest("txn-ap", "ag2",
              pid, epoch, Seq("ap" -> Seq(0 -> (40L + v + 1)))), 0)
          }
          ()
        }
      }
      // the commit-only flow's staged offset landed (no produce involved)
      assert(storage.offsetFetch("ag2", tp) === Some(44L))

      // FindCoordinator v4 (batched keys)
      val fc = call(10, 4)(b => W.writeFindCoordinator(b, "ag2", 4))
      val (fce, _, fch, fcp) = W.readFindCoordinatorResponse(fc, 4)
      assert(fce === 0 && fch === "127.0.0.1" && fcp === broker.boundPort)

      sock.close()
    } finally broker.close()
  }

  test("cluster/topic introspection + ACL admin APIs over the wire") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-in").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("intro", 3)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // DescribeCluster v0-v1
      (0 to 1).foreach { v =>
        val r = flexRequest(sock, 60, v.toShort, 900 + v)(b =>
          W.writeDescribeCluster(b, v))
        W.skipTaggedFields(r)
        val (cid, h, p) = W.readDescribeClusterResponse(r, v)
        assert(cid === "graft" && h === "127.0.0.1" && p === broker.boundPort,
          s"describeCluster v$v")
      }

      // DescribeTopicPartitions: explicit topic + unknown topic
      val dtp = flexRequest(sock, 75, 0, 910)(b =>
        W.writeDescribeTopicPartitions(b, Seq("intro", "ghost")))
      W.skipTaggedFields(dtp)
      assert(W.readDescribeTopicPartitionsResponse(dtp) ===
        Seq(("intro", 3, 0.toShort), ("ghost", 0, 3.toShort)))

      // ListPartitionReassignments: none in flight, static replica echo
      val lpr = flexRequest(sock, 46, 0, 911)(b =>
        W.writeListPartitionReassignments(b, Some(Seq("intro" -> Seq(0, 2)))))
      W.skipTaggedFields(lpr)
      assert(W.readListPartitionReassignmentsResponse(lpr) ===
        Seq("intro" -> Seq(0, 2)))

      // GetTelemetrySubscriptions: echoes the instance id, no metrics
      val cid = java.util.UUID.randomUUID()
      val gts = flexRequest(sock, 71, 0, 912)(b =>
        W.writeGetTelemetrySubscriptions(b, cid))
      W.skipTaggedFields(gts)
      assert(W.readGetTelemetrySubscriptionsResponse(gts) === cid)

      // ElectLeaders v0 (classic encoding): the single node is already
      // every partition's preferred leader -> ELECTION_NOT_NEEDED (84);
      // unknown topics -> UNKNOWN_TOPIC_OR_PARTITION (3)
      val el0 = request(sock, 43, 0, 913)(b =>
        W.writeElectLeaders(b, 0,
          Some(Seq("intro" -> Seq(0, 1), "ghost" -> Seq(0)))))
      assert(W.readElectLeadersResponse(el0, 0) === Seq(
        "intro" -> Seq((0, 84.toShort), (1, 84.toShort)),
        "ghost" -> Seq((0, 3.toShort))))

      // ElectLeaders v2 (flexible, null topics = all partitions)
      val el2 = flexRequest(sock, 43, 2, 914)(b =>
        W.writeElectLeaders(b, 2, None))
      W.skipTaggedFields(el2)
      val elAll = W.readElectLeadersResponse(el2, 2)
      val intro = elAll.find(_._1 == "intro")
      assert(intro.isDefined, s"null-topics election missed 'intro': $elAll")
      assert(intro.get._2.map(_._1).sorted === Seq(0, 1, 2))
      assert(intro.get._2.forall(_._2 === 84.toShort))

      // AlterPartitionReassignments v0: [0] accepted (instantly
      // complete), any other replica set refused (39), a cancellation
      // finds nothing in flight (85), unknown topic 3
      val apr = flexRequest(sock, 45, 0, 915)(b =>
        W.writeAlterPartitionReassignments(b, Seq(
          "intro" -> Seq((0, Some(Seq(0))), (1, Some(Seq(1, 2))), (2, None)),
          "ghost" -> Seq((0, Some(Seq(0)))))))
      W.skipTaggedFields(apr)
      assert(W.readAlterPartitionReassignmentsResponse(apr) === Seq(
        "intro" -> Seq((0, 0.toShort), (1, 39.toShort), (2, 85.toShort)),
        "ghost" -> Seq((0, 3.toShort))))

      // ACLs: create two bindings, filter-describe, survive a restart
      val acl1 = W.AclBinding(2, "intro", 3, "User:alice", "*", 3, 3) // topic READ allow
      val acl2 = W.AclBinding(3, "cg", 3, "User:bob", "*", 3, 3)     // group READ allow
      val ca = flexRequest(sock, 30, 2, 913)(b =>
        W.writeCreateAcls(b, Seq(acl1, acl2), 2))
      W.skipTaggedFields(ca)
      assert(W.readCreateAclsResponse(ca, 2) === Seq(0.toShort, 0.toShort))

      def describeAcls(s: Socket, corr: Int, f: W.AclFilter): Seq[W.AclBinding] = {
        val r = flexRequest(s, 29, 2, corr)(b => W.writeDescribeAcls(b, f, 2))
        W.skipTaggedFields(r)
        W.readDescribeAclsResponse(r, 2)
      }
      // ANY filter sees both; topic-typed filter sees only the topic ACL
      assert(describeAcls(sock, 914,
        W.AclFilter(1, null, 1, null, null, 1, 1)).toSet === Set(acl1, acl2))
      assert(describeAcls(sock, 915,
        W.AclFilter(2, null, 1, null, null, 1, 1)) === Seq(acl1))
      assert(describeAcls(sock, 916,
        W.AclFilter(1, null, 1, "User:bob", null, 1, 1)) === Seq(acl2))
      sock.close()

      // restart: ACLs recover from acls.json alone
      broker.close()
      val storage2 = new ParquetStorage(spark, root)
      val broker2 = new BrokerServer(storage2)
      try {
        val sock2 = new Socket("127.0.0.1", broker2.boundPort)
        assert(describeAcls(sock2, 917,
          W.AclFilter(1, null, 1, null, null, 1, 1)).toSet === Set(acl1, acl2))
        sock2.close()
      } finally broker2.close()
    } finally broker.close()
  }

  test("SCRAM admin APIs + legacy SaslHandshake v0 bare-token exchange") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-sa").toString
    val storage = new ParquetStorage(spark, root)
    val broker = new BrokerServer(storage,
      scramUsers = Map("admin" -> "admin-pw"))
    try {
      // ---- legacy path: SaslHandshake v0, then BARE token frames
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val hs = request(sock, 17, 0, 950)(b =>
        W.writeSaslHandshake(b, "SCRAM-SHA-256"))
      assert(hs.getShort === 0)

      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      def bareToken(msg: String): String = {
        val bytes = msg.getBytes("UTF-8")
        out.writeInt(bytes.length); out.write(bytes); out.flush()
        val reply = new Array[Byte](in.readInt())
        in.readFully(reply)
        new String(reply, "UTF-8")
      }
      val cf = graft.facade.Scram.clientFirst("admin", "legacy-nonce")
      val serverFirst = bareToken(cf)
      val (clientFinal, expectServerFinal) =
        graft.facade.Scram.clientFinal("admin-pw", cf, serverFirst)
      assert(bareToken(clientFinal) === expectServerFinal) // mutual auth

      // authenticated: the same connection now serves Kafka frames again
      val md = request(sock, 3, 1, 951)(b => W.writeMetadataClassic(b, None, 1))

      // ---- SCRAM admin: upsert a SHA-512 user via the salted password
      val salt = Array.tabulate[Byte](16)(_.toByte)
      val iters = 4096
      val sp = graft.facade.Scram.saltedPassword("eve-pw", salt, iters,
        graft.facade.Scram.Sha512)
      val alter = flexRequest(sock, 51, 0, 952) { b =>
        W.writeAlterUserScram(b, Seq.empty,
          Seq(W.ScramUpsertion("eve", 2, iters, salt, sp)))
      }
      W.skipTaggedFields(alter)
      assert(W.readAlterUserScramResponse(alter) === Seq("eve" -> 0.toShort))

      // DescribeUserScramCredentials sees both users
      val desc = flexRequest(sock, 50, 0, 953)(b =>
        W.writeDescribeUserScram(b, None))
      W.skipTaggedFields(desc)
      val described = W.readDescribeUserScramResponse(desc)
      assert(described.exists { case (u, e, infos) =>
        u === "eve" && e === 0 && infos === Seq((2: Byte, iters)) })
      assert(described.exists { case (u, e, _) => u === "admin" && e === 0 })
      // unknown user → RESOURCE_NOT_FOUND
      val descGhost = flexRequest(sock, 50, 0, 954)(b =>
        W.writeDescribeUserScram(b, Some(Seq("ghost"))))
      W.skipTaggedFields(descGhost)
      assert(W.readDescribeUserScramResponse(descGhost) ===
        Seq(("ghost", 91.toShort, Seq.empty)))
      sock.close()

      // ---- restart with NO configured users: eve authenticates via
      // SHA-512 + SaslAuthenticate v2 (flexible), proving the admin
      // upsert persisted through Storage
      broker.close()
      val storage2 = new ParquetStorage(spark, root)
      val broker2 = new BrokerServer(storage2)
      try {
        val sock2 = new Socket("127.0.0.1", broker2.boundPort)
        val hs2 = request(sock2, 17, 1, 960)(b =>
          W.writeSaslHandshake(b, "SCRAM-SHA-512"))
        assert(hs2.getShort === 0)
        val cf2 = graft.facade.Scram.clientFirst("eve", "nonce2")
        val sa1 = flexRequest(sock2, 36, 2, 961)(b =>
          W.writeSaslAuthenticate(b, cf2.getBytes("UTF-8"), 2))
        W.skipTaggedFields(sa1)
        val (e1, _, sfBytes) = W.readSaslAuthenticateResponse(sa1, 2)
        assert(e1 === 0)
        val (cfin, expSf) = graft.facade.Scram.clientFinal("eve-pw", cf2,
          new String(sfBytes, "UTF-8"), graft.facade.Scram.Sha512)
        val sa2 = flexRequest(sock2, 36, 2, 962)(b =>
          W.writeSaslAuthenticate(b, cfin.getBytes("UTF-8"), 2))
        W.skipTaggedFields(sa2)
        val (e2, _, sfin) = W.readSaslAuthenticateResponse(sa2, 2)
        assert(e2 === 0 && new String(sfin, "UTF-8") === expSf)

        // deletion removes the credential
        val del = flexRequest(sock2, 51, 0, 963)(b =>
          W.writeAlterUserScram(b, Seq("eve" -> (2: Byte)), Seq.empty))
        W.skipTaggedFields(del)
        assert(W.readAlterUserScramResponse(del) === Seq("eve" -> 0.toShort))
        assert(storage2.scramCredential("eve", "SCRAM-SHA-512").isEmpty)
        sock2.close()
      } finally broker2.close()
    } finally broker.close()
  }

  test("JoinGroup with a different assignor than the group's is rejected (23)") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-ip").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("ip", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val j1 = W.readJoinGroupResponse(request(sock, 11, 0, 990) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("ipg", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("ip"))))))
      })
      assert(j1.error === 0)
      // a second member offering a different assignor must not silently
      // switch the group's protocol — INCONSISTENT_GROUP_PROTOCOL
      val j2 = W.readJoinGroupResponse(request(sock, 11, 0, 991) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("ipg", 30000, "", "consumer",
          Seq(W.JoinProtocol("roundrobin", W.encodeSubscription(Seq("ip"))))))
      })
      assert(j2.error === 23)
      sock.close()
    } finally broker.close()
  }

  test("Metadata auto-creates requested topics only when both sides opt in") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-ac").toString
    val storage = new ParquetStorage(spark, root)
    val broker = new BrokerServer(storage, autoCreateTopics = true,
      autoCreatePartitions = 3)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      // request says allow_auto_topic_creation=false → UNKNOWN, untouched
      val md0 = flexRequest(sock, 3, 9, 980)(b =>
        W.writeMetadataV9(b, Some(Seq("fresh")), allowAutoCreate = false))
      W.skipTaggedFields(md0)
      val (_, _, t0) = W.readMetadataResponseV9(md0)
      assert(t0.map(t => t.name -> t.error) === Seq("fresh" -> 3.toShort))
      assert(!storage.topics.contains("fresh"))

      // both sides opt in → the topic is REALLY created (declared
      // partition count, durable) and reported healthy
      val md1 = flexRequest(sock, 3, 9, 981)(b =>
        W.writeMetadataV9(b, Some(Seq("fresh")), allowAutoCreate = true))
      W.skipTaggedFields(md1)
      val (_, _, t1) = W.readMetadataResponseV9(md1)
      assert(t1.map(t => (t.name, t.partitions.size, t.error)) ===
        Seq(("fresh", 3, 0.toShort)))
      assert(storage.partitionCount("fresh") === 3)
      sock.close()
    } finally broker.close()

    // broker with auto-create OFF (the default): flag or not, error 3
    val broker2 = new BrokerServer(storage)
    try {
      val sock2 = new Socket("127.0.0.1", broker2.boundPort)
      val md2 = flexRequest(sock2, 3, 9, 982)(b =>
        W.writeMetadataV9(b, Some(Seq("fresh2")), allowAutoCreate = true))
      W.skipTaggedFields(md2)
      assert(W.readMetadataResponseV9(md2)._3.head.error === 3.toShort)
      assert(!storage.topics.contains("fresh2"))
      sock2.close()
    } finally broker2.close()
  }

  test("request-decode fuzz: hostile frames never wedge the broker") {
    // the socket analog of the reference's fuzz_request_decode corpus
    // (fuzz/fuzz_targets/fuzz_request_decode.rs): arbitrary bytes into
    // the framing layer must produce a response or a dropped connection
    // — never a hang, never a dead server. Seeded, so failures replay.
    val root = java.nio.file.Files.createTempDirectory("graft-broker-fz").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("fz", 1)
    val broker = new BrokerServer(storage)
    val rnd = new scala.util.Random(42)
    try {
      (0 until 60).foreach { i =>
        val sock = new Socket("127.0.0.1", broker.boundPort)
        sock.setSoTimeout(15000) // a hang surfaces as a timeout failure
        try {
          val out = new DataOutputStream(sock.getOutputStream)
          val n = 1 + rnd.nextInt(48)
          val frame = new Array[Byte](n)
          rnd.nextBytes(frame)
          // half the corpus routes to REAL api keys (hostile version +
          // truncated/garbage body) so the fuzz reaches body parsers,
          // not just the unknown-key arm
          if (i % 2 == 0 && n >= 8) {
            val keys = Array[Byte](0, 1, 2, 3, 8, 9, 10, 11, 17, 18, 19, 32)
            frame(0) = 0
            frame(1) = keys(rnd.nextInt(keys.length))
          }
          out.writeInt(frame.length)
          out.write(frame)
          out.flush()
          // a response byte or an orderly close are both fine
          try sock.getInputStream.read()
          catch { case _: java.net.SocketException => } // reset = dropped
        } finally sock.close()
      }
      // hostile length fields (negative, 2 GiB) must drop, not allocate
      Seq(Int.MinValue, -1, Int.MaxValue).foreach { badLen =>
        val sock = new Socket("127.0.0.1", broker.boundPort)
        sock.setSoTimeout(15000)
        try {
          val out = new DataOutputStream(sock.getOutputStream)
          out.writeInt(badLen)
          out.write(Array[Byte](1, 2, 3, 4))
          out.flush()
          try assert(sock.getInputStream.read() === -1)
          catch { case _: java.net.SocketException => }
        } finally sock.close()
      }
      // the server is still healthy: a clean client round-trips
      val sock = new Socket("127.0.0.1", broker.boundPort)
      sock.setSoTimeout(15000)
      val r = request(sock, 18, 0, 4242)(_ => ())
      assert(r.getShort === 0) // ApiVersions error code 0
      sock.close()
    } finally broker.close()
  }

  test("undeclared-topic partition probe is cached and produce-invalidated") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-pc").toString
    val storage = new ParquetStorage(spark, root)
    val broker = new BrokerServer(storage)
    try {
      // a topic directory created OUT OF BAND (no topic.json, no
      // partition dirs) is the case with no declared count — metadata
      // must fall back to the storage probe
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/log/probe"))
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def mdPartitions(corr: Int): Int = {
        val md = flexRequest(sock, 3, 9, corr)(b =>
          W.writeMetadataV9(b, Some(Seq("probe")), allowAutoCreate = false))
        W.skipTaggedFields(md)
        W.readMetadataResponseV9(md)._3.head.partitions.size
      }
      assert(mdPartitions(990) === 1) // empty probe defaults to 1
      assert(mdPartitions(991) === 1) // served from the cache
      // a broker-side produce raises a cached probe count so partition 5
      // is not hidden from metadata/assignment by a stale entry
      broker.noteProducedPartition("probe", 5)
      assert(mdPartitions(992) === 6)
      // unknown topics never enter the cache: raising one is a no-op
      broker.noteProducedPartition("ghost", 9)
      val md = flexRequest(sock, 3, 9, 993)(b =>
        W.writeMetadataV9(b, Some(Seq("ghost")), allowAutoCreate = false))
      W.skipTaggedFields(md)
      assert(W.readMetadataResponseV9(md)._3.head.error === 3.toShort)
      sock.close()
    } finally broker.close()
  }

  test("ConsumerGroupDescribe reflects the classic coordinator's state") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-cg").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("cgd", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      // form a one-member group with a completed assignment
      val jr = W.readJoinGroupResponse(request(sock, 11, 0, 970) { b =>
        W.writeJoinGroup(b, W.JoinGroupRequest("cgd-g", 30000, "", "consumer",
          Seq(W.JoinProtocol("range", W.encodeSubscription(Seq("cgd"))))))
      })
      assert(jr.error === 0)
      val sr = request(sock, 14, 0, 971) { b =>
        W.writeSyncGroup(b, W.SyncGroupRequest("cgd-g", jr.generation,
          jr.memberId, Seq.empty))
      }
      assert(W.readSyncGroupResponse(sr)._1 === 0)

      val r = flexRequest(sock, 69, 0, 972)(b =>
        W.writeConsumerGroupDescribe(b, Seq("cgd-g", "ghost")))
      W.skipTaggedFields(r)
      val Seq(live, ghost) = W.readConsumerGroupDescribeResponse(r)
      assert(live.error === 0 && live.group === "cgd-g" && live.state === "Stable")
      assert(live.epoch === jr.generation && live.assignor === "range")
      assert(live.members.map(_.memberId) === Seq(jr.memberId))
      assert(live.members.head.subscribed === Seq("cgd"))
      assert(live.members.head.assignment === Seq("cgd" -> Seq(0, 1)))
      assert(ghost.error === 69 && ghost.state === "Dead")
      sock.close()
    } finally broker.close()
  }

  test("multi-batch produce blobs are atomic: all-or-nothing, sequences intact") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-mb").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("mb", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def batch(pid: Long, seq: Int, vals: Seq[String]): Array[Byte] =
        RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200000L, pid, 0, seq,
          vals.zipWithIndex.map { case (v, i) =>
            RecordBatchCodec.Record(i, i.toLong, s"k$v".getBytes, v.getBytes, Nil)
          }))
      def produceBlob(corr: Int, blob: Array[Byte]): (Short, Long) = {
        val pr = flexRequest(sock, 0, 9, corr) { b =>
          W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("mb", Seq(W.ProducePartition(0, blob))))))
        }
        W.skipTaggedFields(pr)
        val (res, _) = W.readProduceResponseV9(pr)
        val (_, err, base) = res.head._2.head
        (err, base)
      }
      def hw: Long =
        storage.offsetStage(graft.model.Model.Topition("mb", 0)).highWatermark

      // non-contiguous idempotent blob (second batch skips sequences):
      // rejected up front — NOTHING from the first batch lands in the log
      val bad = produceBlob(60, batch(7L, 0, Seq("a", "b")) ++ batch(7L, 5, Seq("c")))
      assert(bad._1 === 45) // OUT_OF_ORDER_SEQUENCE_NUMBER
      assert(hw === 0L)

      // mixed producer identities in one blob: invalid, nothing lands
      assert(produceBlob(61,
        batch(7L, 0, Seq("a")) ++ batch(8L, 0, Seq("b")))._1 === 87)
      assert(hw === 0L)

      // a contiguous two-batch blob appends as one unit
      val ok = produceBlob(62, batch(7L, 0, Seq("a", "b")) ++ batch(7L, 2, Seq("c")))
      assert(ok === ((0.toShort, 0L)))
      assert(hw === 3L)

      // the combined append advanced the expected sequence to base+n:
      // the next in-order batch (seq 3) is accepted, a replay (seq 0) is
      // a duplicate
      assert(produceBlob(63, batch(7L, 3, Seq("d")))._1 === 0)
      assert(produceBlob(64, batch(7L, 0, Seq("a", "b")))._1 === 46) // DUPLICATE_SEQUENCE_NUMBER
      assert(hw === 4L)
      sock.close()
    } finally broker.close()
  }

  test("DeleteTopics v6 by-id echoes the requested uuid for unresolved ids") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-dt").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("delx", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      val V = graft.functions.Varint
      def readCompactStr(b: ByteBuffer): String = {
        val n = V.readUnsignedVarint(b)
        if (n == 0) null
        else {
          val a = new Array[Byte](n - 1); b.get(a); new String(a, "UTF-8")
        }
      }
      def deleteById(corr: Int, id: java.util.UUID): (String, java.util.UUID, Short) = {
        val r = flexRequest(sock, 20, 6, corr) { b =>
          V.writeUnsignedVarint(2, b) // compact array: 1 topic
          V.writeUnsignedVarint(0, b) // null name — by id only
          W.putUuid(b, id)
          V.writeUnsignedVarint(0, b) // topic tags
          b.putInt(30000)
          V.writeUnsignedVarint(0, b) // request tags
        }
        W.skipTaggedFields(r)
        r.getInt // throttle
        assert(V.readUnsignedVarint(r) === 2) // 1 result row
        val n = Option(readCompactStr(r)).getOrElse("")
        val uuid = W.getUuid(r)
        val err = r.getShort
        readCompactStr(r) // error_message
        W.skipTaggedFields(r); W.skipTaggedFields(r)
        (n, uuid, err)
      }
      // unknown id: error 3 with the REQUESTED id echoed for correlation
      val ghost = new java.util.UUID(0x1234L, 0x5678L)
      val (gn, gid, gerr) = deleteById(70, ghost)
      assert(gerr === 3 && gid === ghost && gn === "")
      // known id resolves, deletes, echoes name + its uuid
      val (dn, did, derr) = deleteById(71, W.topicUuid("delx"))
      assert(derr === 0 && dn === "delx" && did === W.topicUuid("delx"))
      assert(!storage.topics.contains("delx"))
      sock.close()
    } finally broker.close()
  }

  test("round-8 admin breadth: CreatePartitions/AlterConfigs/quotas/KIP-664 introspection") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-broker-r8").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("padmin", 2)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)

      // CreatePartitions v3 (flexible): grow 2 -> 4; shrink and unknown
      // topic are rejected per-topic
      val cp = flexRequest(sock, 37, 3, 900) { b =>
        W.writeCreatePartitions(b,
          Seq(("padmin", 4), ("padmin", 1), ("ghost", 5)),
          validateOnly = false, version = 3)
      }
      W.skipTaggedFields(cp)
      val cprSeq = W.readCreatePartitionsResponse(cp, 3)
      assert(cprSeq.map(r => (r._1, r._2)) ===
        Seq(("padmin", 0.toShort), ("padmin", 37.toShort), ("ghost", 3.toShort)))
      assert(storage.partitionCount("padmin") === 4)
      // grown partitions accept produce immediately
      val b0 = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "k", "v"))
        .toDF("timestamp", "key", "value")
      assert(storage.produce(graft.model.Model.Topition("padmin", 3), b0).isRight)

      // AlterConfigs v1 (classic, legacy REPLACE semantics): first set
      // two keys, then one - the unspecified key must vanish
      storage.alterTopicConfig("padmin",
        Map("cleanup.policy" -> "compact"), Nil)
      val ac = request(sock, 33, 1, 901) { b =>
        W.writeAlterConfigs(b,
          Seq((2.toByte, "padmin", Seq(("retention.ms", "12345")))),
          validateOnly = false, version = 1)
      }
      val acr = W.readAlterConfigsResponse(ac, 1)
      assert(acr === Seq((0.toShort, null, 2.toByte, "padmin")))
      assert(storage.topicConfig("padmin") === Map("retention.ms" -> "12345"))

      // AlterClientQuotas v1 (flexible) + DescribeClientQuotas v1:
      // durable producer_byte_rate, default entity
      val aq = flexRequest(sock, 49, 1, 902) { b =>
        W.writeAlterClientQuotas(b,
          Seq((Seq(("client-id", null)),
            Seq(("producer_byte_rate", 1048576.0, false)))),
          validateOnly = false, version = 1)
      }
      W.skipTaggedFields(aq)
      assert(W.readAlterClientQuotasResponse(aq, 1).head._1 === 0)
      val dq = flexRequest(sock, 48, 1, 903) { b =>
        W.writeDescribeClientQuotas(b,
          Seq(("client-id", 1.toByte, null)), strict = false, version = 1)
      }
      W.skipTaggedFields(dq)
      val entries = W.readDescribeClientQuotasResponse(dq, 1)
      assert(entries === Seq((Seq(("client-id", null)),
        Seq(("producer_byte_rate", 1048576.0)))))
      // the stored rate survives restart into a fresh broker's window
      assert(storage.listClientQuotas()(("client-id", None))("producer_byte_rate")
        === 1048576.0)
      // a component naming a DIFFERENT entity type excludes the entry
      // outright (Kafka's filter contract — strict is not the gate)
      storage.alterClientQuotas(Seq((("user", Some("alice")),
        Seq(("consumer_byte_rate", Some(2048.0))))))
      val dq2 = flexRequest(sock, 48, 1, 933) { b =>
        W.writeDescribeClientQuotas(b,
          Seq(("user", 0.toByte, "alice")), strict = false, version = 1)
      }
      W.skipTaggedFields(dq2)
      assert(W.readDescribeClientQuotasResponse(dq2, 1) ===
        Seq((Seq(("user", "alice")), Seq(("consumer_byte_rate", 2048.0)))))
      // match_type 2 = any SPECIFIED name: default entries excluded
      val dq3 = flexRequest(sock, 48, 1, 934) { b =>
        W.writeDescribeClientQuotas(b,
          Seq(("client-id", 2.toByte, null)), strict = false, version = 1)
      }
      W.skipTaggedFields(dq3)
      assert(W.readDescribeClientQuotasResponse(dq3, 1) === Nil)

      // KIP-664: an ongoing transaction with one produced partition
      val (pid, epoch) = storage.initProducer("txn-r8")
      storage.txnBegin(pid, graft.model.Model.Topition("padmin", 0), epoch)
      val tb = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "tk", "tv"))
        .toDF("timestamp", "key", "value")
      assert(storage.produce(graft.model.Model.Topition("padmin", 0), tb,
        pid, epoch, 0).isRight)

      val dp = flexRequest(sock, 61, 0, 904) { b =>
        W.writeDescribeProducers(b, Seq(("padmin", Seq(0, 1)), ("ghost", Seq(0))))
      }
      W.skipTaggedFields(dp)
      val dpr = W.readDescribeProducersResponse(dp)
      val padmin = dpr.find(_._1 == "padmin").get._2
      val p0 = padmin.find(_._1 == 0).get
      assert(p0._2 === 0)
      val prow = p0._3.find(_._1 == pid).get
      assert(prow._2 === epoch && prow._3 === 0) // lastSequence 0 (one record)
      assert(prow._6 >= 0L) // inside an open txn: real start offset
      assert(dpr.find(_._1 == "ghost").get._2.head._2 === 3) // unknown topic

      val dt = flexRequest(sock, 65, 0, 905) { b =>
        W.writeDescribeTransactions(b, Seq("txn-r8", "nope"))
      }
      W.skipTaggedFields(dt)
      val dtr = W.readDescribeTransactionsResponse(dt)
      val ongoing = dtr.find(_._2 == "txn-r8").get
      assert(ongoing._1 === 0 && ongoing._3 === "Ongoing" &&
        ongoing._6 === pid && ongoing._7 === epoch.toShort)
      assert(ongoing._8 === Seq(("padmin", Seq(0))))
      assert(dtr.find(_._2 == "nope").get._1 === 105)

      val lt = flexRequest(sock, 66, 1, 906) { b =>
        W.writeListTransactions(b, Seq("Ongoing", "Bogus"), Nil,
          minDurationMs = -1L, version = 1)
      }
      W.skipTaggedFields(lt)
      val (unknownF, ltStates) = W.readListTransactionsResponse(lt)
      assert(unknownF === Seq("Bogus"))
      assert(ltStates === Seq(("txn-r8", pid, "Ongoing")))

      // commit flips the reported state and empties the partition list
      storage.txnEnd(pid, commit = true, epoch)
      val dt2 = flexRequest(sock, 65, 0, 907) { b =>
        W.writeDescribeTransactions(b, Seq("txn-r8"))
      }
      W.skipTaggedFields(dt2)
      val done = W.readDescribeTransactionsResponse(dt2).head
      assert(done._3 === "CompleteCommit" && done._8 === Nil)

      sock.close()
    } finally broker.close()
  }

  test("round-8 admin version matrix: every advertised version round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-r8m").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("vm", 1)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      var corr = 950
      def call(api: Short, v: Short)(body: ByteBuffer => Unit): ByteBuffer = {
        corr += 1
        val r =
          if (W.isFlexible(api, v)) flexRequest(sock, api, v, corr)(body)
          else request(sock, api, v, corr)(body)
        if (W.isFlexible(api, v)) W.skipTaggedFields(r)
        r
      }
      // AlterConfigs v0-v2
      (0 to 2).foreach { v =>
        val r = call(33, v.toShort)(b => W.writeAlterConfigs(b,
          Seq((2.toByte, "vm", Seq(("retention.ms", s"${1000 + v}")))),
          validateOnly = false, version = v))
        assert(W.readAlterConfigsResponse(r, v) ===
          Seq((0.toShort, null, 2.toByte, "vm")), s"v$v")
        assert(storage.topicConfig("vm") === Map("retention.ms" -> s"${1000 + v}"))
      }
      // CreatePartitions v0-v3 (each call grows by one)
      (0 to 3).foreach { v =>
        val want = storage.partitionCount("vm") + 1
        val r = call(37, v.toShort)(b => W.writeCreatePartitions(b,
          Seq(("vm", want)), validateOnly = false, version = v))
        assert(W.readCreatePartitionsResponse(r, v) ===
          Seq(("vm", 0.toShort, null)), s"v$v")
        assert(storage.partitionCount("vm") === want)
      }
      // Alter/DescribeClientQuotas v0-v1
      (0 to 1).foreach { v =>
        val rate = 500000.0 + v
        val ar = call(49, v.toShort)(b => W.writeAlterClientQuotas(b,
          Seq((Seq(("user", "alice")),
            Seq(("producer_byte_rate", rate, false)))),
          validateOnly = false, version = v))
        assert(W.readAlterClientQuotasResponse(ar, v).head._1 === 0, s"v$v")
        val dr = call(48, v.toShort)(b => W.writeDescribeClientQuotas(b,
          Seq(("user", 0.toByte, "alice")), strict = false, version = v))
        val got = W.readDescribeClientQuotasResponse(dr, v)
        assert(got === Seq((Seq(("user", "alice")),
          Seq(("producer_byte_rate", rate)))), s"v$v")
      }
      // ListTransactions v0-v1 (empty store: no states, no unknowns)
      (0 to 1).foreach { v =>
        val r = call(66, v.toShort)(b =>
          W.writeListTransactions(b, Nil, Nil, -1L, v))
        assert(W.readListTransactionsResponse(r) === ((Nil, Nil)), s"v$v")
      }
      sock.close()
    } finally broker.close()
  }

  test("fetch quota: a stored consumer_byte_rate throttles the fetch response") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-broker-fq").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("fq", 1)
    val batch = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
      "k", "v" * 200)).toDF("timestamp", "key", "value")
    assert(storage.produce(graft.model.Model.Topition("fq", 0), batch).isRight)
    // a 64 B/s consumer rate stored BEFORE the broker starts: the
    // restart-recovery path must arm the fetch window
    storage.alterClientQuotas(Seq((("client-id", None),
      Seq(("consumer_byte_rate", Some(64.0))))))
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      def fetchThrottle(corr: Int): Int = {
        val fr = flexRequest(sock, 1, 12, corr) { b =>
          W.writeFetchV12(b, W.FetchRequest(0, 0, 1 << 20, 0, Seq(
            W.FetchTopic("fq", Seq(W.FetchPartition(0, 0L, 1 << 20))))))
        }
        W.skipTaggedFields(fr)
        fr.getInt // throttle_time_ms leads the v12 body
      }
      // the ~200+ B response blows the 64 B window immediately
      assert(fetchThrottle(940) > 0)
      sock.close()
    } finally broker.close()
  }

  test("OffsetForLeaderEpoch + DescribeLogDirs round-trip at every advertised version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-broker-ld").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("ld", 2)
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "k1", "v1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "k2", "v2"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), "k3", "v3"))
      .toDF("timestamp", "key", "value")
    assert(storage.produce(graft.model.Model.Topition("ld", 0), batch).isRight)
    val broker = new BrokerServer(storage)
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      var corr = 960
      def call(api: Short, v: Short)(body: ByteBuffer => Unit): ByteBuffer = {
        corr += 1
        val r =
          if (W.isFlexible(api, v)) flexRequest(sock, api, v, corr)(body)
          else request(sock, api, v, corr)(body)
        if (W.isFlexible(api, v)) W.skipTaggedFields(r)
        r
      }
      // OffsetForLeaderEpoch v0-v4: end offset = log end, epoch 0,
      // unknown topic = 3 per partition
      (0 to 4).foreach { v =>
        val r = call(23, v.toShort)(b => W.writeOffsetForLeaderEpoch(b,
          Seq(("ld", Seq((0, 5), (1, 7))), ("ghost", Seq((0, 1)))), v))
        val got = W.readOffsetForLeaderEpochResponse(r, v)
        val ld = got.find(_._1 == "ld").get._2
        assert(ld.map(p => (p._1, p._2, p._4)) ===
          Seq((0.toShort, 0, 3L), (0.toShort, 1, 0L)), s"v$v")
        if (v >= 1) assert(ld.forall(_._3 === 0), s"v$v epoch")
        assert(got.find(_._1 == "ghost").get._2.head._1 === 3, s"v$v")
      }
      // DescribeLogDirs v0-v4: explicit topics and the null
      // describe-everything form; sizes are real bytes on disk (v3 adds
      // the top-level error, v4 the real filesystem total/usable bytes)
      (0 to 4).foreach { v =>
        val r = call(35, v.toShort)(b => W.writeDescribeLogDirs(b,
          Some(Seq(("ld", Seq(0, 1)))), v))
        val (dir, topics) = W.readDescribeLogDirsResponse(r, v)
        assert(dir === root, s"v$v")
        val parts = topics.find(_._1 == "ld").get._2.toMap
        assert(parts(0) > 0L, s"v$v produced partition has bytes")
        assert(parts(1) === 0L, s"v$v empty partition")
        val rAll = call(35, v.toShort)(b => W.writeDescribeLogDirs(b, None, v))
        val (_, all) = W.readDescribeLogDirsResponse(rAll, v)
        assert(all.map(_._1).contains("ld"), s"v$v null form")
      }
      sock.close()
    } finally broker.close()
  }

  test("fast round trips stay fast: 50 sequential OffsetCommit v8 in under 1 s") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-rtt").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("rtt", 1)
    val broker = new BrokerServer(storage)
    val sock = new Socket("127.0.0.1", broker.boundPort)
    try {
      // the client sends each frame in ONE write with Nagle off, so any
      // stall left is the broker's
      sock.setTcpNoDelay(true)
      val out = sock.getOutputStream
      val in = new DataInputStream(sock.getInputStream)
      def commit(corr: Int): Unit = {
        val buf = ByteBuffer.allocate(1 << 16)
        buf.putInt(0) // frame length, patched below
        buf.putShort(8).putShort(8).putInt(corr)
        W.writeString(buf, "graft-test")
        graft.functions.Varint.writeUnsignedVarint(0, buf) // no tagged fields
        W.writeOffsetCommit(buf, W.OffsetCommitRequest("rtt-g", Seq(
          W.CommitTopic("rtt", Seq(W.CommitPartition(0, corr.toLong, ""))))), 8)
        buf.putInt(0, buf.position() - 4)
        out.write(buf.array(), 0, buf.position())
        out.flush()
        val resp = new Array[Byte](in.readInt())
        in.readFully(resp)
        val r = ByteBuffer.wrap(resp)
        assert(r.getInt === corr)
        W.skipTaggedFields(r)
        assert(W.readOffsetCommitResponse(r, 8) === Seq("rtt" -> Seq((0, 0.toShort))))
      }
      commit(0) // warm-up: first touch of the group's storage
      val t0 = System.nanoTime()
      (1 to 50).foreach(commit)
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < 1000, s"50 OffsetCommit round trips took $ms ms")
      assert(storage.offsetFetch("rtt-g", graft.model.Model.Topition("rtt", 0)) === Some(50L))
    } finally { sock.close(); broker.close() }
  }

  test("a wire fetch starts no Spark job or SQL execution, and its reused response buffer adds no bytes") {
    val root = java.nio.file.Files.createTempDirectory("graft-broker-local").toString
    val storage = new ParquetStorage(spark, root)
    storage.createTopic("local", 1)
    val broker = new BrokerServer(storage)
    val sock = new Socket("127.0.0.1", broker.boundPort)
    val value = (i: Int) => s"v$i-" + "x" * (i * 97)
    // every frame holds exactly its response, whatever came before it on
    // the connection
    def fetch(from: Int, corr: Int): Unit = {
      val fr = request(sock, 1, 4, corr) { b =>
        W.writeFetch(b, W.FetchRequest(500, 1, 1 << 20, 0, Seq(
          W.FetchTopic("local", Seq(W.FetchPartition(0, from.toLong, 1 << 20))))))
      }
      fr.getInt; fr.getInt; W.readString(fr); fr.getInt // throttle, topics, name, partitions
      assert(fr.getInt === 0)
      assert(fr.getShort === 0)
      assert(fr.getLong === 12L)
      fr.getLong; fr.getInt // lso, aborted count
      val decoded = RecordBatchCodec.decode(W.readBytes(fr))
      assert(fr.remaining() === 0)
      assert(decoded.baseOffset === from.toLong)
      assert(decoded.records.map(r => new String(r.value)) === (from until 12).map(value))
    }
    try {
      (0 until 4).foreach { b =>
        val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
          0L, 0, 0, 1704067200000L, 1704067200002L, -1L, -1, -1,
          (0 until 3).map(i => RecordBatchCodec.Record(
            i, i.toLong, s"k${b * 3 + i}".getBytes, value(b * 3 + i).getBytes, Nil))))
        request(sock, 0, 3, b) { buf =>
          W.writeProduce(buf, W.ProduceRequest(1, 30000, Seq(
            W.ProduceTopic("local", Seq(W.ProducePartition(0, batch))))))
        }
      }
      fetch(0, 99) // the partition's first fetch recovers its aborted ranges once
      Thread.sleep(500) // let the produce and recovery jobs' listener events drain
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          events.add(s"job ${js.jobId}"); ()
        }
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              events.add(s"SQL execution ${x.description}"); ()
            case _ =>
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try (Seq(0, 11, 5, 0, 11) ++ (0 until 12)).zipWithIndex.foreach {
        case (from, corr) => fetch(from, 100 + corr)
      } finally {
        Thread.sleep(500) // let listener events drain
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(events.isEmpty, events.toArray.mkString("; "))
    } finally { sock.close(); broker.close() }
  }
}
