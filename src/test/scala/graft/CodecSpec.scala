package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.Arbitrary.arbitrary
import graft.functions.{RecordBatchCodec, Varint}
import graft.functions.RecordBatchCodec.{Batch, Header, Record}

/** Mirrors the reference's property tests
  * (`nisshi-sans-io/tests/proptest.rs:79-190`: varint/zigzag round-trips,
  * batch serde with compression) and the CRC golden behavior
  * (`deflated.rs:155-165`).
  */
class CodecSpec extends AnyFunSuite with PropSupport {

  test("zigzag round-trips and maps small magnitudes to small codes") {
    forAllGen(arbitrary[Long]) { v => assert(Varint.unzigzag(Varint.zigzag(v)) === v) }
    assert(Varint.zigzag(0L) === 0L)
    assert(Varint.zigzag(-1L) === 1L)
    assert(Varint.zigzag(1L) === 2L)
  }

  test("varlong round-trips arbitrary values") {
    forAllGen(arbitrary[Long]) { v =>
      val buf = java.nio.ByteBuffer.allocate(10)
      Varint.writeVarlong(v, buf)
      assert(buf.position() === Varint.sizeOfVarlong(v))
      buf.flip()
      assert(Varint.readVarlong(buf) === v)
    }
  }

  private val genRecord: Gen[Record] = for {
    od <- Gen.choose(0, 100)
    td <- Gen.choose(0L, 1000000L)
    key <- Gen.option(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    value <- Gen.option(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    hs <- Gen.listOfN(2, Gen.alphaStr.map(k => Header(k, Array[Byte](1, 2))))
  } yield Record(od, td, key.orNull, value.orNull, hs)

  private val genBatch: Gen[Batch] = for {
    base <- Gen.choose(0L, 1L << 40)
    n <- Gen.choose(0, 20)
    recs <- Gen.listOfN(n, genRecord)
    codec <- Gen.oneOf(RecordBatchCodec.CodecNone, RecordBatchCodec.CodecGzip,
      RecordBatchCodec.CodecSnappy, RecordBatchCodec.CodecLz4,
      RecordBatchCodec.CodecZstd)
  } yield Batch(base, 0, codec.toShort, 1704067200000L, 1704067300000L,
    -1L, -1, -1, recs.zipWithIndex.map { case (r, i) => r.copy(offsetDelta = i) })

  test("record batch encode/decode round-trips (none/gzip/snappy/lz4/zstd)") {
    forAllGen(genBatch, cases = 60) { b =>
      val decoded = RecordBatchCodec.decode(RecordBatchCodec.encode(b))
      assert(decoded.baseOffset === b.baseOffset)
      assert(decoded.records.size === b.records.size)
      decoded.records.zip(b.records).foreach { case (d, o) =>
        assert(d.offsetDelta === o.offsetDelta)
        assert(d.timestampDelta === o.timestampDelta)
        assert(java.util.Arrays.equals(
          Option(d.key).getOrElse(Array.empty[Byte]),
          Option(o.key).getOrElse(Array.empty[Byte])))
        assert(java.util.Arrays.equals(
          Option(d.value).getOrElse(Array.empty[Byte]),
          Option(o.value).getOrElse(Array.empty[Byte])))
      }
    }
  }

  test("multi-batch record sets decode batch by batch (client retry shape)") {
    def mkBatch(base: Long, codec: Int, vs: Seq[String]) =
      RecordBatchCodec.encode(Batch(base, 0, codec.toShort, 1000L, 1001L,
        -1L, -1, -1, vs.zipWithIndex.map { case (v, i) =>
          Record(i, i.toLong, s"k$i".getBytes, v.getBytes, Nil)
        }))
    // two consecutive batches, DIFFERENT codecs — slicing at the declared
    // batch length is what keeps batch 2's bytes out of batch 1's
    // decompressor
    val wire = mkBatch(0L, RecordBatchCodec.CodecGzip, Seq("a", "b")) ++
      mkBatch(2L, RecordBatchCodec.CodecNone, Seq("c"))
    val all = RecordBatchCodec.decodeAll(wire)
    assert(all.map(_.baseOffset) === Seq(0L, 2L))
    assert(all.flatMap(_.records.map(r => new String(r.value))) ===
      Seq("a", "b", "c"))
    // the single-batch form returns the FIRST batch, unconfused
    assert(RecordBatchCodec.decode(wire).records.size === 2)
    // hostile declared batch length fails cleanly, before any CRC read
    val hostile = wire.clone()
    val bb = java.nio.ByteBuffer.wrap(hostile)
    bb.putInt(8, Int.MaxValue - 5) // batchLength field
    intercept[IllegalArgumentException](RecordBatchCodec.decode(hostile))
  }

  test("corrupted batch fails CRC check (every codec)") {
    Seq(RecordBatchCodec.CodecNone, RecordBatchCodec.CodecGzip,
      RecordBatchCodec.CodecSnappy, RecordBatchCodec.CodecLz4,
      RecordBatchCodec.CodecZstd).foreach { codec =>
      val b = Batch(0L, 0, codec.toShort, 0L, 0L, -1L, -1, -1,
        Seq(Record(0, 0L, "k".getBytes, "v".getBytes, Nil)))
      val wire = RecordBatchCodec.encode(b)
      wire(wire.length - 1) = (wire(wire.length - 1) ^ 0xff).toByte
      val e = intercept[IllegalArgumentException] { RecordBatchCodec.decode(wire) }
      assert(e.getMessage.contains("CRC"))
    }
  }

  test("compressed frames really are the advertised codec framing") {
    val payload = Array.fill[Byte](256)(7)
    // magic bytes: gzip 1f 8b, xerial snappy stream (-126 'S' 'N' 'A'),
    // LZ4 frame 04 22 4d 18, zstd 28 b5 2f fd
    assert(RecordBatchCodec.compress(RecordBatchCodec.CodecGzip, payload)
      .take(2).toSeq === Seq(0x1f.toByte, 0x8b.toByte))
    assert(RecordBatchCodec.compress(RecordBatchCodec.CodecSnappy, payload)
      .slice(1, 4).map(_.toChar).mkString === "SNA")
    assert(RecordBatchCodec.compress(RecordBatchCodec.CodecLz4, payload)
      .take(4).toSeq === Seq(0x04.toByte, 0x22.toByte, 0x4d.toByte, 0x18.toByte))
    assert(RecordBatchCodec.compress(RecordBatchCodec.CodecZstd, payload)
      .take(4).toSeq === Seq(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte))
    // and each round-trips through its decompressor
    Seq(RecordBatchCodec.CodecGzip, RecordBatchCodec.CodecSnappy,
      RecordBatchCodec.CodecLz4, RecordBatchCodec.CodecZstd).foreach { c =>
      assert(RecordBatchCodec.decompress(c,
        RecordBatchCodec.compress(c, payload)).toSeq === payload.toSeq)
    }
  }

  test("tombstone (null value) round-trips as null") {
    val b = Batch(5L, 0, 0, 0L, 0L, -1L, -1, -1,
      Seq(Record(0, 0L, "k".getBytes, null, Nil)))
    val d = RecordBatchCodec.decode(RecordBatchCodec.encode(b))
    assert(d.records.head.value === null)
    assert(d.records.head.key !== null)
  }

  test("Produce/Fetch/Metadata/ApiVersions bodies match pinned bytes at every layout change") {
    // Round trips run the same codec on both ends, so a mistake both
    // ends share (say, classic strings in a flexible version) would pass
    // them. These are the exact body bytes, one fixed request and one
    // fixed response at each version where a field appears or goes.
    import java.nio.ByteBuffer
    import graft.facade.WireProtocol._
    def hex(write: ByteBuffer => Unit): String = {
      val b = ByteBuffer.allocate(1 << 16)
      write(b)
      b.flip()
      Iterator.continually(b.get()).take(b.remaining())
        .map(x => f"${x & 0xff}%02x").mkString
    }
    // the reader of a pinned body must consume exactly its bytes
    def parsed[T](h: String)(read: ByteBuffer => T): T = {
      val b = ByteBuffer.wrap(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      val r = read(b)
      assert(b.remaining() === 0, s"trailing bytes after $h")
      r
    }

    val produce = ProduceRequest(1, 30000, Seq(
      ProduceTopic("t", Seq(ProducePartition(0, Array[Byte](1, 2, 3))))))
    val produced = Seq("t" -> Seq((0, 0.toShort, 5L, 2L)))
    Seq(
      3 -> (
        "ffff00010000753000000001000174000000010000000000000003010203",
        "00000001000174000000010000000000000000000000000005ffffffffffffff" +
        "ff00000007"),
      5 -> (
        "ffff00010000753000000001000174000000010000000000000003010203",
        "00000001000174000000010000000000000000000000000005ffffffffffffff" +
        "ff000000000000000200000007"),
      8 -> (
        "ffff00010000753000000001000174000000010000000000000003010203",
        "00000001000174000000010000000000000000000000000005ffffffffffffff" +
        "ff000000000000000200000000ffff00000007"),
      9 -> (
        "00000100007530020274020000000004010203000000",
        "020274020000000000000000000000000005ffffffffffffffff000000000000" +
        "0002010000000000000700"),
      11 -> (
        "00000100007530020274020000000004010203000000",
        "020274020000000000000000000000000005ffffffffffffffff000000000000" +
        "0002010000000000000700")).foreach { case (v, (req, resp)) =>
      assert(hex(writeProduce(_, produce, v)) === req, s"produce v$v")
      assert(hex(writeProduceResponse(_, produced, 7, v)) === resp,
        s"produce response v$v")
      val got = parsed(req)(readProduce(_, v))
      assert(got.acks === 1 && got.timeoutMs === 30000 &&
        got.topics.map(t => t.topic -> t.partitions.map(p =>
          p.partition -> p.records.toSeq)) ===
        Seq("t" -> Seq(0 -> Seq[Byte](1, 2, 3))), s"produce v$v")
      assert(parsed(resp)(readProduceResponse(_, v)) ===
        (Seq("t" -> Seq((0, 0.toShort, 5L))), 7), s"produce response v$v")
    }

    val unk = java.util.UUID.fromString("deadbeef-0000-4000-8000-00000000000f")
    val resolve: java.util.UUID => String =
      u => if (u == topicUuid("t")) "t" else null
    val fetch = FetchRequest(500, 1, 65536, 1, Seq(
      FetchTopic("t", Seq(FetchPartition(0, 7L, 4096)))),
      sessionId = 42, sessionEpoch = 5, forgotten = Seq("t" -> Seq(2)))
    val fetched = Seq("t" -> Seq(FetchV12PartResult(0, 0, 10L, 9L, 1L,
      Seq((77L, 3L)), Array[Byte](1, 2, 3))))
    val unknownFetched = Seq(unk -> Seq(FetchV12PartResult(5, 100, -1L, -1L,
      -1L, Nil, Array.empty[Byte])))
    Seq(
      4 -> (
        "ffffffff000001f4000000010001000001000000010001740000000100000000" +
        "000000000000000700001000",
        "000000070000000100017400000001000000000000000000000000000a000000" +
        "000000000900000001000000000000004d000000000000000300000003010203"),
      5 -> (
        "ffffffff000001f4000000010001000001000000010001740000000100000000" +
        "0000000000000007ffffffffffffffff00001000",
        "000000070000000100017400000001000000000000000000000000000a000000" +
        "0000000009000000000000000100000001000000000000004d00000000000000" +
        "0300000003010203"),
      7 -> (
        "ffffffff000001f40000000100010000010000002a0000000500000001000174" +
        "00000001000000000000000000000007ffffffffffffffff0000100000000001" +
        "0001740000000100000002",
        "0000000700000000002a00000001000174000000010000000000000000000000" +
        "00000a0000000000000009000000000000000100000001000000000000004d00" +
        "0000000000000300000003010203"),
      9 -> (
        "ffffffff000001f40000000100010000010000002a0000000500000001000174" +
        "0000000100000000ffffffff0000000000000007ffffffffffffffff00001000" +
        "000000010001740000000100000002",
        "0000000700000000002a00000001000174000000010000000000000000000000" +
        "00000a0000000000000009000000000000000100000001000000000000004d00" +
        "0000000000000300000003010203"),
      11 -> (
        "ffffffff000001f40000000100010000010000002a0000000500000001000174" +
        "0000000100000000ffffffff0000000000000007ffffffffffffffff00001000" +
        "0000000100017400000001000000020000",
        "0000000700000000002a00000001000174000000010000000000000000000000" +
        "00000a0000000000000009000000000000000100000001000000000000004d00" +
        "00000000000003ffffffff00000003010203"),
      12 -> (
        "ffffffff000001f40000000100010000010000002a0000000502027402000000" +
        "00ffffffff0000000000000007ffffffffffffffffffffffff00001000000002" +
        "02740200000002000100",
        "0000000700000000002a02027402000000000000000000000000000a00000000" +
        "00000009000000000000000102000000000000004d000000000000000300ffff" +
        "ffff04010203000000"),
      13 -> (
        "ffffffff000001f40000000100010000010000002a00000005023e7e65b039d3" +
        "37318511722a503ef5c20200000000ffffffff0000000000000007ffffffffff" +
        "ffffffffffffff000010000000023e7e65b039d337318511722a503ef5c20200" +
        "000002000100",
        "0000000700000000002a033e7e65b039d337318511722a503ef5c20200000000" +
        "0000000000000000000a00000000000000090000000000000001020000000000" +
        "00004d000000000000000300ffffffff040102030000deadbeef000040008000" +
        "00000000000f02000000050064ffffffffffffffffffffffffffffffffffffff" +
        "ffffffffff01ffffffff01000000"),
      15 -> (
        "000001f40000000100010000010000002a00000005023e7e65b039d337318511" +
        "722a503ef5c20200000000ffffffff0000000000000007ffffffffffffffffff" +
        "ffffff000010000000023e7e65b039d337318511722a503ef5c2020000000200" +
        "0100",
        "0000000700000000002a033e7e65b039d337318511722a503ef5c20200000000" +
        "0000000000000000000a00000000000000090000000000000001020000000000" +
        "00004d000000000000000300ffffffff040102030000deadbeef000040008000" +
        "00000000000f02000000050064ffffffffffffffffffffffffffffffffffffff" +
        "ffffffffff01ffffffff01000000"),
      17 -> (
        "000001f40000000100010000010000002a00000005023e7e65b039d337318511" +
        "722a503ef5c20200000000ffffffff0000000000000007ffffffffffffffffff" +
        "ffffff000010000000023e7e65b039d337318511722a503ef5c2020000000200" +
        "0100",
        "0000000700000000002a033e7e65b039d337318511722a503ef5c20200000000" +
        "0000000000000000000a00000000000000090000000000000001020000000000" +
        "00004d000000000000000300ffffffff040102030000deadbeef000040008000" +
        "00000000000f02000000050064ffffffffffffffffffffffffffffffffffffff" +
        "ffffffffff01ffffffff01000000")).foreach { case (v, (req, resp)) =>
      assert(hex(writeFetch(_, fetch, v)) === req, s"fetch v$v")
      assert(hex(writeFetchResponse(_, fetched, v, 0, 42, 7, unknownFetched)) ===
        resp, s"fetch response v$v")
      val got = parsed(req)(readFetch(_, v, resolve))
      assert(got.topics.map(t => t.topic -> t.partitions) ===
        Seq("t" -> Seq(FetchPartition(0, 7L, 4096))), s"fetch v$v")
      assert((got.maxWaitMs, got.minBytes, got.maxBytes, got.isolation) ===
        ((500, 1, 65536, 1: Byte)), s"fetch v$v")
      if (v >= 7) assert(got.sessionId === 42 && got.sessionEpoch === 5 &&
        got.forgotten === Seq("t" -> Seq(2)), s"fetch v$v")
      val (err, sid, topics) = parsed(resp)(readFetchResponse(_, v, resolve))
      assert((err, sid) === (if (v >= 7) (0.toShort, 42) else (0.toShort, 0)),
        s"fetch response v$v")
      assert(topics.map(_._1) ===
        (if (v >= 13) Seq("t", unk.toString) else Seq("t")), s"fetch response v$v")
      val p = topics.head._2.head
      assert((p.highWatermark, p.lastStable, p.logStart, p.aborted, p.records.toSeq) ===
        ((10L, 9L, if (v >= 5) 1L else -1L, Seq((77L, 3L)), Seq[Byte](1, 2, 3))),
        s"fetch response v$v")
    }

    val described = Seq(("t", 2, 0.toShort), ("u", 0, 3.toShort))
    Seq(
      1 -> (
        "00000002000174000175",
        "000000010000000000016800002384ffff000000000000000200000001740000" +
        "0000020000000000000000000000000001000000000000000100000000000000" +
        "0000010000000000000001000000000000000100000000000300017500000000" +
        "00"),
      2 -> (
        "00000002000174000175",
        "000000010000000000016800002384ffff000567726166740000000000000002" +
        "0000000174000000000200000000000000000000000000010000000000000001" +
        "0000000000000000000100000000000000010000000000000001000000000003" +
        "0001750000000000"),
      3 -> (
        "00000002000174000175",
        "00000000000000010000000000016800002384ffff0005677261667400000000" +
        "0000000200000001740000000002000000000000000000000000000100000000" +
        "0000000100000000000000000001000000000000000100000000000000010000" +
        "000000030001750000000000"),
      4 -> (
        "0000000200017400017501",
        "00000000000000010000000000016800002384ffff0005677261667400000000" +
        "0000000200000001740000000002000000000000000000000000000100000000" +
        "0000000100000000000000000001000000000000000100000000000000010000" +
        "000000030001750000000000"),
      5 -> (
        "0000000200017400017501",
        "00000000000000010000000000016800002384ffff0005677261667400000000" +
        "0000000200000001740000000002000000000000000000000000000100000000" +
        "0000000100000000000000000000000000010000000000000001000000000000" +
        "0001000000000000000000030001750000000000"),
      7 -> (
        "0000000200017400017501",
        "00000000000000010000000000016800002384ffff0005677261667400000000" +
        "0000000200000001740000000002000000000000000000000000000000000001" +
        "0000000000000001000000000000000000000000000100000000000000000000" +
        "00010000000000000001000000000000000000030001750000000000"),
      8 -> (
        "00000002000174000175010000",
        "00000000000000010000000000016800002384ffff0005677261667400000000" +
        "0000000200000001740000000002000000000000000000000000000000000001" +
        "0000000000000001000000000000000000000000000100000000000000000000" +
        "0001000000000000000100000000000000008000000000030001750000000000" +
        "8000000080000000"),
      9 -> (
        "0302740002750001000000",
        "0000000002000000000268000023840000066772616674000000000300000274" +
        "0003000000000000000000000000000002000000000200000000010000000000" +
        "0001000000000000000002000000000200000000010080000000000003027500" +
        "0180000000008000000000"),
      10 -> (
        "0300000000000000000000000000000000027400000000000000000000000000" +
        "0000000002750001000000",
        "0000000002000000000268000023840000066772616674000000000400000274" +
        "3e7e65b039d337318511722a503ef5c200030000000000000000000000000000" +
        "0200000000020000000001000000000000010000000000000000020000000002" +
        "0000000001008000000000000302755325e80da2f3356ab173b2f8028b0e3300" +
        "018000000000006401deadbeef00004000800000000000000f00018000000000" +
        "8000000000"),
      11 -> (
        "0300000000000000000000000000000000027400000000000000000000000000" +
        "00000000027500010000",
        "0000000002000000000268000023840000066772616674000000000400000274" +
        "3e7e65b039d337318511722a503ef5c200030000000000000000000000000000" +
        "0200000000020000000001000000000000010000000000000000020000000002" +
        "0000000001008000000000000302755325e80da2f3356ab173b2f8028b0e3300" +
        "018000000000006401deadbeef00004000800000000000000f00018000000000" +
        "00"),
      12 -> (
        "0300000000000000000000000000000000027400000000000000000000000000" +
        "00000000027500010000",
        "0000000002000000000268000023840000066772616674000000000400000274" +
        "3e7e65b039d337318511722a503ef5c200030000000000000000000000000000" +
        "0200000000020000000001000000000000010000000000000000020000000002" +
        "0000000001008000000000000302755325e80da2f3356ab173b2f8028b0e3300" +
        "018000000000006400deadbeef00004000800000000000000f00018000000000" +
        "00")).foreach { case (v, (req, resp)) =>
      assert(hex(writeMetadata(_, Some(Seq("t", "u")), version = v)) === req,
        s"metadata v$v")
      assert(hex(writeMetadataResponse(_, "h", 9092, described, v, Seq(unk))) ===
        resp, s"metadata response v$v")
      val (topics, allowAuto) = parsed(req)(readMetadata(_, v))
      assert(topics.map(_.map(_._1)) === Some(Seq("t", "u")) && allowAuto,
        s"metadata v$v")
      val (host, port, mdTopics) = parsed(resp)(readMetadataResponse(_, v))
      assert(host === "h" && port === 9092, s"metadata response v$v")
      assert(mdTopics.map(t => (t.name, t.partitions.size, t.error)).take(2) ===
        described, s"metadata response v$v")
      assert(mdTopics.drop(2).map(_.topicId) === (if (v >= 10) Seq(unk) else Nil),
        s"metadata response v$v")
    }

    // ApiVersions: the request body is empty before v3; the response
    // lists SupportedApis, gains throttle_time_ms at v1 and turns
    // flexible at v3 (header v0 still)
    val n = SupportedApis.size
    val table = SupportedApis.map { case (k, lo, hi) => f"$k%04x$lo%04x$hi%04x" }
    Seq(
      0 -> ("", f"0000$n%08x" + table.mkString),
      1 -> ("", f"0000$n%08x" + table.mkString + "00000000"),
      2 -> ("", f"0000$n%08x" + table.mkString + "00000000"),
      3 -> ("0263023100",
        f"0000${n + 1}%02x" + table.map(_ + "00").mkString + "00000000" + "00")
    ).foreach { case (v, (req, resp)) =>
      assert(hex(writeApiVersions(_, "c", "1", v)) === req, s"api versions v$v")
      assert(hex(writeApiVersionsResponse(_, version = v)) === resp,
        s"api versions response v$v")
      parsed(req)(readApiVersions(_, v))
      assert(parsed(resp)(readApiVersionsResponse(_, v)) === SupportedApis,
        s"api versions response v$v")
    }
  }
}

/** CRC-32C Catalyst expression: correctness + codegen survival. */
class Crc32CSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.Crc32C

  test("crc32c matches java.util.zip.CRC32C and differs from IEEE crc32") {
    val df = Seq("hello", "", "graft").toDF("s")
      .withColumn("b", col("s").cast("binary"))
      .withColumn("ours", Crc32C.crc32c(col("b")))
      .withColumn("ieee", crc32(col("b")))
    val rows = df.collect()
    rows.foreach { r =>
      val expected = Crc32C.compute(r.getAs[Array[Byte]]("b"))
      assert(r.getAs[Long]("ours") === expected)
    }
    // Castagnoli poly != IEEE poly on non-empty input
    assert(rows.filter(_.getAs[String]("s").nonEmpty)
      .forall(r => r.getAs[Long]("ours") != r.getAs[Long]("ieee")))
  }

  test("crc32c works over 10k rows through codegen") {
    val out = spark.range(10000)
      .withColumn("b", col("id").cast("string").cast("binary"))
      .withColumn("c", Crc32C.crc32c(col("b")))
      .agg(countDistinct("c")).head().getLong(0)
    assert(out === 10000L)
  }
}

class DecoderFuzzSpec extends AnyFunSuite with PropSupport {

  test("fuzz: random bytes never hang or over-allocate in any decoder") {
    // the reference's fuzz targets (fuzz_deflated_batch,
    // fuzz_request_decode, fuzz_varint) as a property: every decoder
    // either returns or throws an orderly exception — no hangs, and a
    // hostile length field never drives an allocation (checked lengths)
    import graft.facade.WireProtocol
    val proto = graft.schema.ProtoSchema.parse(
      """message Inner { int64 a = 1; }
        |message Value { int64 id = 1; string s = 2; Inner i = 3;
        |  repeated int64 ns = 4; map<string, int64> m = 5; }""".stripMargin)
    val genBytes = Gen.choose(0, 240)
      .flatMap(n => Gen.listOfN(n, arbitrary[Byte]).map(_.toArray))
    def orderly(f: => Any): Unit =
      try { f; () } catch { case _: Exception => () }
    forAllGen(genBytes, cases = 400) { bytes =>
      def buf = java.nio.ByteBuffer.wrap(bytes)
      orderly(RecordBatchCodec.decode(bytes))
      orderly(WireProtocol.readHeader(buf))
      orderly(WireProtocol.readProduce(buf))
      orderly(WireProtocol.readProduce(buf, 9))
      orderly(WireProtocol.readFetch(buf, 11))
      orderly(WireProtocol.readFetch(buf, 16, _ => null))
      orderly(WireProtocol.readListOffsets(buf, 8))
      orderly(WireProtocol.readOffsetCommit(buf, 8))
      orderly(WireProtocol.readOffsetFetchV8(buf, 9))
      orderly(WireProtocol.readAddPartitionsToTxnV4(buf))
      orderly(WireProtocol.readMetadata(buf, 12, _ => null))
      orderly(WireProtocol.readMetadata(buf, 1))
      orderly(WireProtocol.readApiVersions(buf, 3))
      orderly(WireProtocol.readJoinGroup(buf, 9))
      orderly(WireProtocol.readCreateTopics(buf, 7))
      orderly(WireProtocol.readIncrementalAlterConfigs(buf, 1))
      orderly(WireProtocol.readDescribeAcls(buf, 2))
      orderly(WireProtocol.readAlterUserScram(buf))
      orderly(graft.schema.ProtoSchema.decode(proto, "Value", bytes))
      orderly(Varint.readVarint(buf))
    }
    // a well-formed prefix with a hostile declared length fails fast and
    // cheaply instead of allocating gigabytes
    val hostile = java.nio.ByteBuffer.allocate(8)
    hostile.putInt(Int.MaxValue) // bytes length = 2 GiB
    hostile.flip()
    intercept[IllegalArgumentException](WireProtocol.readBytes(hostile))
  }

  test("round-10 wire structures round-trip at every served version") {
    import graft.facade.WireProtocol._
    def buf() = java.nio.ByteBuffer.allocate(1 << 16)

    // Fetch v12-v17: topic-id addressing resolves through the
    // name-derived scheme; v15+ drops the leading replica_id
    val topics = Seq("alpha", "beta-2")
    val resolve: java.util.UUID => String =
      u => topics.find(t => topicUuid(t) == u).orNull
    (12 to 17).foreach { v =>
      val req = FetchRequest(500, 1, 1 << 20, 1, Seq(
        FetchTopic("alpha", Seq(FetchPartition(0, 7L, 4096),
          FetchPartition(3, 9L, 8192))),
        FetchTopic("beta-2", Seq(FetchPartition(1, 0L, 1024)))),
        sessionId = 42, sessionEpoch = 5,
        forgotten = Seq("alpha" -> Seq(2)))
      val b = buf()
      writeFetch(b, req, v)
      b.flip()
      val got = readFetch(b, v, resolve)
      assert(b.remaining() === 0, s"fetch v$v trailing bytes")
      assert(got.topics.map(t => t.topic -> t.partitions) ===
        req.topics.map(t => t.topic -> t.partitions), s"fetch v$v")
      assert(got.forgotten === req.forgotten && got.sessionId === 42 &&
        got.sessionEpoch === 5 && got.isolation === 1, s"fetch v$v")
    }
    // Fetch response v13+: named rows carry their uuid, unknownIds echo
    (13 to 16).foreach { v =>
      val parts = Seq(FetchV12PartResult(0, 0, 10L, 10L, 0L,
        Seq((77L, 3L)), Array[Byte](1, 2, 3)))
      val unk = java.util.UUID.fromString("deadbeef-0000-4000-8000-00000000000f")
      val b = buf()
      writeFetchResponse(b, Seq("alpha" -> parts), v, 0, 42, 0,
        unknownIds = Seq(unk -> Seq(FetchV12PartResult(5, 100, -1L, -1L,
          -1L, Nil, Array.empty[Byte]))))
      b.flip()
      val got = readFetchResponse(b, v,
        u => Option(resolve(u)).getOrElse(if (u == unk) "UNK" else null))._3
      assert(b.remaining() === 0, s"fetch resp v$v trailing bytes")
      assert(got.map(_._1) === Seq("alpha", "UNK"), s"fetch resp v$v")
      assert(got.head._2.head.aborted === Seq((77L, 3L)))
      assert(got(1)._2.head.error === 100 && got(1)._2.head.partition === 5)
    }

    // OffsetFetch v8-v9 (KIP-709 batched groups, null topics preserved)
    (8 to 9).foreach { v =>
      val groups = Seq(
        OffsetFetchRequest("g1", Seq("t" -> Seq(0, 1))),
        OffsetFetchRequest("g2", null))
      val b = buf()
      writeOffsetFetchV8(b, groups, v)
      b.flip()
      val got = readOffsetFetchV8(b, v)
      assert(b.remaining() === 0, s"offsetFetch v$v trailing bytes")
      assert(got.map(_.group) === Seq("g1", "g2"))
      assert(got.head.topics === Seq("t" -> Seq(0, 1)) && got(1).topics === null)
      val rb = buf()
      writeOffsetFetchResponseV8(rb, Seq(
        "g1" -> Seq("t" -> Seq((0, 5L), (1, -1L))), "g2" -> Nil))
      rb.flip()
      val rgot = readOffsetFetchResponseV8(rb)
      assert(rb.remaining() === 0)
      assert(rgot === Seq("g1" -> Seq("t" -> Seq((0, 5L), (1, -1L))),
        "g2" -> Nil))
    }

    // AddPartitionsToTxn v4-v5 (KIP-890 batched transactions)
    val txns = Seq(
      TxnPartitions("tx-a", 9L, 2, verifyOnly = false, Seq("t" -> Seq(0, 1))),
      TxnPartitions("tx-b", 10L, 0, verifyOnly = true, Seq("u" -> Seq(3))))
    val tb = buf()
    writeAddPartitionsToTxnV4(tb, txns)
    tb.flip()
    assert(readAddPartitionsToTxnV4(tb) === txns && tb.remaining() === 0)
    val trb = buf()
    writeAddPartitionsToTxnResponseV4(trb, Seq(
      "tx-a" -> Seq("t" -> Seq((0, 0.toShort), (1, 0.toShort))),
      "tx-b" -> Seq("u" -> Seq((3, 48.toShort)))))
    trb.flip()
    assert(readAddPartitionsToTxnResponseV4(trb) === Seq(
      "tx-a" -> Seq("t" -> Seq((0, 0.toShort), (1, 0.toShort))),
      "tx-b" -> Seq("u" -> Seq((3, 48.toShort)))) && trb.remaining() === 0)

    // Metadata response v9-v12: uuid rows from v10, unknown-id echo
    (9 to 12).foreach { v =>
      val b = buf()
      val unk = java.util.UUID.fromString("deadbeef-1111-4000-8000-000000000001")
      writeMetadataResponse(b, "h", 9092, Seq(("alpha", 2, 0.toShort)), v,
        unknownIds = Seq(unk))
      b.flip()
      val (host, port, ts) = readMetadataResponse(b, v)
      assert(b.remaining() === 0, s"metadata v$v trailing bytes")
      assert(host === "h" && port === 9092)
      assert(ts.head.name === "alpha" && ts.head.partitions === Seq(0, 1))
      if (v >= 10) {
        assert(ts.head.topicId === topicUuid("alpha"), s"metadata v$v")
        // Name is nullable only at v12+ (nullableVersions 12+); v10/v11
        // unknown-id rows carry the empty string a strict client accepts
        val wantName = if (v >= 12) null else ""
        assert(ts(1).name === wantName && ts(1).topicId === unk &&
          ts(1).error === 100, s"metadata v$v unknown row")
      } else assert(ts.size === 1, s"metadata v$v must drop unknown rows")
    }

    // JoinGroup v7-v9 / SyncGroup v5 / LeaveGroup v5: the new fields
    // survive a write→read cycle with no trailing bytes
    (7 to 9).foreach { v =>
      val b = buf()
      writeJoinGroup(b, JoinGroupRequest("g", 30000, "m1", "consumer",
        Seq(JoinProtocol("range", Array[Byte](1)))), v)
      b.flip()
      val r = readJoinGroup(b, v)
      assert(b.remaining() === 0 && r.group === "g" && r.memberId === "m1")
      val rb = buf()
      writeJoinGroupResponse(rb, 0, 3, "range", "m1", "m1",
        Seq("m1" -> Array[Byte](2)), v)
      rb.flip()
      val jr = readJoinGroupResponse(rb, v)
      assert(rb.remaining() === 0 && jr.generation === 3 &&
        jr.protocol === "range" && jr.members.map(_._1) === Seq("m1"),
        s"joinGroup v$v")
    }
    val sb = buf()
    writeSyncGroup(sb, SyncGroupRequest("g", 3, "m1",
      Seq("m1" -> Array[Byte](9))), 5)
    sb.flip()
    val sr = readSyncGroup(sb, 5)
    assert(sb.remaining() === 0 && sr.assignments.map(_._1) === Seq("m1"))
    val lb = buf()
    writeLeaveGroupBatch(lb, "g", Seq("m1", "m2"), 5)
    lb.flip()
    assert(readLeaveGroup(lb, 5) === (("g", Seq("m1", "m2"))) &&
      lb.remaining() === 0)
  }
}
