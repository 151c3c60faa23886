package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.facade.{WireProtocol => W}
import graft.functions.{RecordBatchCodec, Varint}

/** Generator-driven adversarial decode sweeps — the ScalaTest port of
  * the reference fuzz targets (`fuzz/fuzz_targets/fuzz_request_decode.rs`,
  * `fuzz_deflated_batch.rs`, `fuzz_varint.rs`, `fuzz_member_metadata.rs`):
  * random AND mutated-valid byte inputs against every wire decode
  * boundary. The pinned contract per target:
  *
  *   - only TYPED frame errors (the allowed exception set below) — never
  *     a codec-library throwable, a VM Error, or an unclassified
  *     exception escaping to the caller;
  *   - never over-allocate: a declared length drives no allocation
  *     beyond the remaining input (checkedLen / decompressBounded), so
  *     a hostile 2 GiB length field or a gzip bomb costs a typed throw,
  *     not an OOM;
  *   - never loop: varint readers bound their shift, count loops fail
  *     on the first underflowing element.
  *
  * 10k+ cases per target (deterministic seeds via [[PropSupport]]), so
  * a regression in any guard surfaces as a seedable case number.
  */
class FuzzSpec extends AnyFunSuite with PropSupport {

  /** The typed frame-error contract: everything a hostile frame may
    * cause. BufferUnderflowException/IllegalArgumentException are the
    * ByteBuffer-native bounds signals; IllegalState/Unsupported cover
    * the protocol-level rejections (bad version, unknown codec).
    */
  private def typed(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException => true // require() + checkedLen
    case _: java.nio.BufferUnderflowException => true
    case _: UnsupportedOperationException => true
    case _: IllegalStateException => true
    case _ => false
  }

  private def assertTyped(target: String, input: Array[Byte])(body: => Any): Unit =
    try { body; () }
    catch {
      case e: Throwable if typed(e) => // contract holds
      case e: Throwable =>
        throw new AssertionError(
          s"$target leaked untyped ${e.getClass.getName} on " +
            s"${input.length}-byte input " +
            input.take(64).map(b => f"$b%02x").mkString, e)
    }

  private val randomBytes: Gen[Array[Byte]] = for {
    n <- Gen.frequency(4 -> Gen.choose(0, 64), 2 -> Gen.choose(64, 512),
      1 -> Gen.choose(512, 4096))
    bs <- Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield bs

  /** One random single-byte mutation + an optional truncation of a
    * valid base frame — the mutated-corpus half of every fuzz target
    * (random bytes almost never pass the front guards; mutations reach
    * the deep field readers).
    */
  private def mutatedGen(base: Array[Byte]): Gen[Array[Byte]] = for {
    pos <- Gen.choose(0, base.length - 1)
    b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
    cut <- Gen.frequency(3 -> Gen.const(base.length),
      1 -> Gen.choose(0, base.length))
  } yield {
    val a = java.util.Arrays.copyOf(base, math.min(cut, base.length))
    if (pos < a.length) a(pos) = b
    a
  }

  // ------------------------------------------------------------- varint

  test("fuzz_varint: random buffers — typed errors only, bounded loops") {
    forAllGen(randomBytes, cases = 10000) { bs =>
      assertTyped("readVarlong", bs)(Varint.readVarlong(ByteBuffer.wrap(bs)))
      assertTyped("readVarint", bs)(Varint.readVarint(ByteBuffer.wrap(bs)))
      assertTyped("readUnsignedVarint", bs)(
        Varint.readUnsignedVarint(ByteBuffer.wrap(bs)))
    }
  }

  test("fuzz_varint: all-continuation bytes terminate with the typed error") {
    // the classic infinite-loop input: nothing but 0x80 continuations
    for (n <- Seq(1, 9, 10, 11, 64, 4096)) {
      val bs = Array.fill(n)(0x80.toByte)
      assertTyped("readVarlong", bs)(Varint.readVarlong(ByteBuffer.wrap(bs)))
      assertTyped("readUnsignedVarint", bs)(
        Varint.readUnsignedVarint(ByteBuffer.wrap(bs)))
      if (n >= 11) {
        // enough input to overrun the 64-bit shift: MUST be the bound
        // require, not an underflow (proves the loop check fires first)
        val e = intercept[IllegalArgumentException](
          Varint.readVarlong(ByteBuffer.wrap(bs)))
        assert(e.getMessage.contains("varlong too long"))
      }
    }
  }

  test("fuzz_varint: write/read round-trip identity") {
    forAllGen(Gen.choose(Long.MinValue, Long.MaxValue), cases = 10000) { v =>
      val buf = ByteBuffer.allocate(10)
      Varint.writeVarlong(v, buf)
      buf.flip()
      assert(Varint.readVarlong(buf) === v)
      assert(buf.remaining() === 0)
    }
    forAllGen(Gen.choose(Int.MinValue, Int.MaxValue), cases = 10000) { v =>
      val buf = ByteBuffer.allocate(5)
      Varint.writeUnsignedVarint(v, buf)
      buf.flip()
      assert(Varint.readUnsignedVarint(buf) === v)
    }
  }

  // ----------------------------------------------------- request decode

  /** Readers across both wire styles (classic and flexible/compact),
    * each at a version it serves — the per-API body parsers the server
    * routes random frames into once the header passes.
    */
  private val requestReaders: Seq[(String, ByteBuffer => Any)] = Seq(
    "readHeader" -> (b => W.readHeader(b)),
    "readProduce" -> (b => W.readProduce(b)),
    "readProduce_v9" -> (b => W.readProduce(b, 9)),
    "readFetch_v4" -> (b => W.readFetch(b, 4)),
    "readListOffsets_v1" -> (b => W.readListOffsets(b, 1)),
    "readOffsetCommit_v2" -> (b => W.readOffsetCommit(b, 2)),
    "readOffsetFetch_v1" -> (b => W.readOffsetFetch(b, 1)),
    "readJoinGroup_v0" -> (b => W.readJoinGroup(b, 0)),
    "readSyncGroup_v0" -> (b => W.readSyncGroup(b, 0)),
    "readHeartbeat_v0" -> (b => W.readHeartbeat(b, 0)),
    "readLeaveGroup_v0" -> (b => W.readLeaveGroup(b, 0)),
    "readFindCoordinator_v0" -> (b => W.readFindCoordinator(b, 0)),
    "readInitProducerId_v0" -> (b => W.readInitProducerId(b, 0)),
    "readEndTxn_v0" -> (b => W.readEndTxn(b, 0)),
    "readSaslHandshake" -> (b => W.readSaslHandshake(b)),
    "readSaslAuthenticate_v0" -> (b => W.readSaslAuthenticate(b, 0)),
    "readDescribeGroups_v0" -> (b => W.readDescribeGroups(b, 0)),
    "readListGroups_v0" -> (b => W.readListGroups(b, 0)),
    "readDeleteGroups_v0" -> (b => W.readDeleteGroups(b, 0)),
    "readOffsetDelete" -> (b => W.readOffsetDelete(b)),
    "readMetadata_v9" -> (b => W.readMetadata(b, 9)),
    "readApiVersions_v3" -> (b => W.readApiVersions(b, 3)),
    "readCompactBytes" -> (b => W.readCompactBytes(b)),
    "readCompactString" -> (b => W.readCompactString(b)),
    "skipTaggedFields" -> (b => W.skipTaggedFields(b)),
    // versioned / flexible variants: the compact-codec paths have their
    // own length and tagged-field handling, so they fuzz separately
    "readFetch_v12" -> (b => W.readFetch(b, 12)),
    "readFetch_v16" -> (b => W.readFetch(b, 16, _ => null)),
    "readMetadata_v1" -> (b => W.readMetadata(b, 1)),
    "readMetadata_v12" -> (b => W.readMetadata(b, 12, _ => null)),
    "readJoinGroup_v6" -> (b => W.readJoinGroup(b, 6)),
    "readSyncGroup_v5" -> (b => W.readSyncGroup(b, 5)),
    "readOffsetCommit_v8" -> (b => W.readOffsetCommit(b, 8)),
    "readOffsetFetchV8" -> (b => W.readOffsetFetchV8(b)),
    "readCreateTopics_v5" -> (b => W.readCreateTopics(b, 5)),
    "readDeleteTopics_v6" -> (b => W.readDeleteTopics(b, 6)),
    "readAddPartitionsToTxn_v3" -> (b => W.readAddPartitionsToTxn(b, 3)),
    "readAddPartitionsToTxnV4" -> (b => W.readAddPartitionsToTxnV4(b)),
    "readTxnOffsetCommit_v3" -> (b => W.readTxnOffsetCommit(b, 3)),
    "readDeleteRecords_v2" -> (b => W.readDeleteRecords(b, 2)),
    "readDescribeConfigs_v4" -> (b => W.readDescribeConfigs(b, 4)),
    "readSaslAuthenticate_v2" -> (b => W.readSaslAuthenticate(b, 2)),
    "readListOffsets_v6" -> (b => W.readListOffsets(b, 6)),
    "readHeartbeat_v4" -> (b => W.readHeartbeat(b, 4)),
    "readLeaveGroup_v4" -> (b => W.readLeaveGroup(b, 4)),
    "readFindCoordinator_v4" -> (b => W.readFindCoordinator(b, 4)),
    "readDescribeGroups_v5" -> (b => W.readDescribeGroups(b, 5)),
    "readDeleteGroups_v2" -> (b => W.readDeleteGroups(b, 2)),
    "readInitProducerId_v4" -> (b => W.readInitProducerId(b, 4)),
    "readEndTxn_v3" -> (b => W.readEndTxn(b, 3)))

  test("fuzz_request_decode: random bodies through every reader — typed only") {
    forAllGen(randomBytes, cases = 10000) { bs =>
      requestReaders.foreach { case (name, rd) =>
        assertTyped(name, bs)(rd(ByteBuffer.wrap(bs)))
      }
    }
  }

  test("fuzz_request_decode: hostile declared lengths never allocate") {
    // a 6-byte frame declaring a 2 GB string/array/bytes body: the
    // checkedLen guard must throw the typed error in ~constant time
    // (an allocation-driven decode would OOM or stall the suite)
    val huge = ByteBuffer.allocate(8)
    huge.putInt(Int.MaxValue); huge.putInt(Int.MaxValue)
    val t0 = System.nanoTime()
    (0 until 1000).foreach { _ =>
      requestReaders.foreach { case (name, rd) =>
        assertTyped(name, huge.array())(rd(ByteBuffer.wrap(huge.array())))
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // generous ceiling: 49k constant-time rejections take well under a
    // second; an ALLOCATION-driven decode of 2 GB declared lengths would
    // take minutes (or OOM). The slack absorbs loaded-box scheduling
    // noise without masking the regression class this pins.
    assert(elapsed < 60.0,
      f"hostile-length decode took $elapsed%.1f s — an allocation leak")
  }

  test("fuzz_request_decode: mutated valid frames — typed only") {
    // a real JoinGroup v5 frame (flexible-adjacent classic body with
    // nested protocols/metadata) and a real Produce v3 body carrying an
    // encoded record batch: single-byte mutations reach the deep field
    // readers that random bytes cannot
    val join = ByteBuffer.allocate(1024)
    W.writeJoinGroup(join, W.JoinGroupRequest("grp", 30000, "m1",
      "consumer", Seq(W.JoinProtocol("range",
        Array[Byte](0, 0, 0, 0, 0, 2, 0, 1, 97, 0, 1, 98)))), 5)
    join.flip()
    val joinBytes = new Array[Byte](join.remaining()); join.get(joinBytes)

    val batch = RecordBatchCodec.encode(RecordBatchCodec.Batch(
      0L, 0, 0, 1704067200000L, 1704067200001L, -1L, -1, -1,
      (0 until 3).map(i => RecordBatchCodec.Record(
        i, i.toLong, s"k$i".getBytes, s"v$i".getBytes,
        Seq(RecordBatchCodec.Header("h", Array[Byte](1, 2)))))))
    val prod = ByteBuffer.allocate(1024 + batch.length)
    W.writeProduce(prod, W.ProduceRequest(1, 30000,
      Seq(W.ProduceTopic("t", Seq(W.ProducePartition(0, batch))))))
    prod.flip()
    val prodBytes = new Array[Byte](prod.remaining()); prod.get(prodBytes)

    forAllGen(mutatedGen(joinBytes), cases = 5000) { bs =>
      assertTyped("readJoinGroup_v5", bs)(W.readJoinGroup(ByteBuffer.wrap(bs), 5))
    }
    forAllGen(mutatedGen(prodBytes), cases = 5000) { bs =>
      assertTyped("readProduce", bs)(W.readProduce(ByteBuffer.wrap(bs)))
    }
  }

  // ----------------------------------------------------- deflated batch

  private def validBatch(codec: Int): Array[Byte] = {
    val records = (0 until 4).map(i => RecordBatchCodec.Record(
      i, i * 10L, if (i % 2 == 0) s"key$i".getBytes else null,
      s"value-$i-payload".getBytes,
      if (i == 1) Seq(RecordBatchCodec.Header("hk", Array[Byte](9)),
        RecordBatchCodec.Header("nk", null)) else Nil))
    RecordBatchCodec.encode(RecordBatchCodec.Batch(
      100L, 1, (codec & 0x07).toShort, 1704067200000L, 1704067200400L,
      77L, 3, 42, records))
  }

  /** Recompute and patch the CRC-32C after a mutation, so the fuzz
    * reaches the post-CRC field readers (attributes, codec, varint
    * record internals) instead of dying at the checksum every time.
    */
  private def fixCrc(wire: Array[Byte]): Array[Byte] = {
    if (wire.length < 21) return wire
    val crc = RecordBatchCodec.crc32c(wire, 21, wire.length - 21)
    val buf = ByteBuffer.wrap(wire)
    buf.putInt(17, crc.toInt)
    wire
  }

  test("fuzz_deflated_batch: random bytes — typed errors only") {
    forAllGen(randomBytes, cases = 10000) { bs =>
      assertTyped("decode", bs)(RecordBatchCodec.decode(bs))
      assertTyped("decodeAll", bs)(RecordBatchCodec.decodeAll(bs))
    }
  }

  test("fuzz_deflated_batch: CRC-fixed mutations of valid batches — typed only") {
    // all four codecs: a CRC-valid mutation lands in the decompressor,
    // whose library-specific throwables (snappy-java's is an Error!)
    // must be normalized to the typed frame error
    for (codec <- 0 to 4) {
      val base = validBatch(codec)
      forAllGen(mutatedGen(base), cases = 2500) { bs =>
        assertTyped(s"decode(codec=$codec)", bs)(
          RecordBatchCodec.decode(fixCrc(bs)))
      }
    }
  }

  test("fuzz_deflated_batch: decompression bomb is rejected, not inflated") {
    // ~600 MiB of zeros gzips to ~600 KiB; wrapped as a CRC-valid batch
    // it must fail the MaxInflatedBytes bound with the typed error
    // rather than materialize the sum on the heap
    val bomb = RecordBatchCodec.compress(RecordBatchCodec.CodecGzip,
      new Array[Byte](600 * 1024 * 1024))
    assert(bomb.length < 2 * 1024 * 1024, "bomb unexpectedly incompressible")
    // hand-assemble the batch frame around the bomb payload
    val header = ByteBuffer.allocate(61)
    header.putLong(0L) // baseOffset
    header.putInt(49 + bomb.length) // batchLength
    header.putInt(0) // partitionLeaderEpoch
    header.put(2.toByte) // magic
    header.putInt(0) // crc placeholder
    header.putShort(RecordBatchCodec.CodecGzip.toShort) // attributes
    header.putInt(0); header.putLong(0L); header.putLong(0L) // deltas/ts
    header.putLong(-1L); header.putShort(-1); header.putInt(-1) // producer
    header.putInt(1) // recordCount
    val wire = new Array[Byte](61 + bomb.length)
    System.arraycopy(header.array(), 0, wire, 0, 61)
    System.arraycopy(bomb, 0, wire, 61, bomb.length)
    fixCrc(wire)
    val e = intercept[IllegalArgumentException](RecordBatchCodec.decode(wire))
    assert(e.getMessage.contains("corrupt compressed payload") ||
      e.getMessage.contains("exceeds"),
      s"wrong rejection: ${e.getMessage}")
  }

  // ---------------------------------------------------- member metadata

  test("fuzz_member_metadata: random + mutated subscription/assignment") {
    forAllGen(randomBytes, cases = 10000) { bs =>
      assertTyped("decodeSubscriptionTopics", bs)(W.decodeSubscriptionTopics(bs))
      assertTyped("decodeAssignment", bs)(W.decodeAssignment(bs))
    }
    val subscription = {
      val buf = ByteBuffer.allocate(64)
      buf.putShort(0); buf.putInt(2)
      W.writeString(buf, "topic-a"); W.writeString(buf, "topic-b")
      buf.putInt(-1)
      buf.flip()
      val a = new Array[Byte](buf.remaining()); buf.get(a); a
    }
    val assignment = W.encodeAssignment(
      Seq("topic-a" -> Seq(0, 1, 2), "topic-b" -> Seq(5)))
    forAllGen(mutatedGen(subscription), cases = 5000) { bs =>
      assertTyped("decodeSubscriptionTopics", bs)(W.decodeSubscriptionTopics(bs))
    }
    forAllGen(mutatedGen(assignment), cases = 5000) { bs =>
      assertTyped("decodeAssignment", bs)(W.decodeAssignment(bs))
    }
  }

  // ----------------------------------------------------- SCRAM messages

  test("fuzz_scram: hostile client messages always answer Left, never throw") {
    import graft.facade.Scram
    val cred = Scram.credential("pw", Array[Byte](1, 2, 3, 4), 4096,
      Scram.Sha256)
    def session() = new Scram.ServerSession(
      u => if (u == "alice") Some(cred) else None, mech = Scram.Sha256)
    val hostileString: Gen[String] = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      2 -> randomBytes.map(new String(_, "ISO-8859-1")),
      2 -> Gen.asciiPrintableStr.map("n,," + _),
      1 -> Gen.asciiPrintableStr.map(s => s"n,,n=alice,r=$s"),
      1 -> Gen.asciiPrintableStr.map(s => s"c=biws,r=$s,p=$s"))
    forAllGen(hostileString, cases = 10000) { msg =>
      val s1 = session()
      s1.handleClientFirst(msg) // Either by contract — never a throw
      ()
    }
    forAllGen(hostileString, cases = 10000) { msg =>
      val s2 = session()
      s2.handleClientFirst("n,,n=alice,r=cnonce00")
      assert(s2.handleClientFinal(msg).isLeft,
        "a random client-final must never authenticate")
      ()
    }
    // out-of-order final before first: typed Left, state intact
    assert(session().handleClientFinal("c=biws,r=x,p=x").isLeft)
  }

  // ------------------------------------------------- server robustness

  test("server survives a random-frame barrage and still serves") {
    val spark = SparkSpec.session
    val root = java.nio.file.Files.createTempDirectory("graft-fuzz-srv").toString
    val storage = new graft.storage.ParquetStorage(spark, root)
    storage.createTopic("fz", 1)
    val broker = new graft.facade.BrokerServer(storage)
    try {
      val rnd = new scala.util.Random(7)
      (0 until 500).foreach { _ =>
        val sock = new java.net.Socket("127.0.0.1", broker.boundPort)
        sock.setSoTimeout(5000)
        try {
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          val frame = new Array[Byte](rnd.nextInt(128))
          rnd.nextBytes(frame)
          out.writeInt(frame.length); out.write(frame); out.flush()
          // the server either answers or drops the connection; it must
          // never hang past the socket timeout
          try new java.io.DataInputStream(sock.getInputStream).readInt()
          catch { case _: java.io.IOException => }
        } finally sock.close()
      }
      // after 500 hostile connections the broker still speaks: a clean
      // ApiVersions v0 round-trips on a fresh socket
      val sock = new java.net.Socket("127.0.0.1", broker.boundPort)
      sock.setSoTimeout(5000)
      try {
        val body = ByteBuffer.allocate(64)
        body.putShort(18); body.putShort(0); body.putInt(99)
        W.writeString(body, "fuzz-client")
        body.flip()
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val frame = new Array[Byte](body.remaining()); body.get(frame)
        out.writeInt(frame.length); out.write(frame); out.flush()
        val in = new java.io.DataInputStream(sock.getInputStream)
        val len = in.readInt()
        val resp = new Array[Byte](len)
        in.readFully(resp)
        val rb = ByteBuffer.wrap(resp)
        assert(rb.getInt === 99, "correlation id must round-trip")
        assert(rb.getShort === 0, "error code must be NONE")
      } finally sock.close()
    } finally broker.close()
  }
}
