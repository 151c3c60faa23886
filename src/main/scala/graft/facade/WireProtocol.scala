package graft.facade

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Kafka wire-protocol codec for the APIs the facade serves —
  * hand-written counterpart of the reference's codegen'd ser/de
  * (`nisshi-sans-io/src/ser.rs`, `de.rs`, driven by the 185 protocol
  * JSONs in `nisshi-sans-io/message/`). [[SupportedApis]] lists the
  * served version range of each API and every one of those versions is
  * encoded/decoded; [[isFlexible]] says where each API switches to the
  * flexible encoding. Each API has one reader and one writer per
  * direction, gated on version, with `Codec` picking the classic or
  * compact primitives.
  *
  * Layout notes the codec bodies do not show:
  *  - frames are INT32 length-prefixed; request header v1 classic, v2
  *    (tagged fields) for flexible versions, and the ApiVersions
  *    response always uses header v0;
  *  - record batches travel as opaque magic-v2 bytes (`RecordBatchCodec`);
  *  - topic ids (Fetch v13+, Metadata v10+, DeleteTopics v6) are the
  *    name-derived uuids of [[topicUuid]].
  */
object WireProtocol {

  final case class RequestHeader(apiKey: Short, apiVersion: Short,
                                 correlationId: Int, clientId: String)

  // ------------------------------------------------------------- primitives

  /** Length sanity guard: a declared length beyond the remaining bytes
    * is a malformed frame — fail BEFORE allocating, so a hostile 2 GiB
    * length field costs nothing (the reference's decode fuzz targets
    * exist to catch exactly this class).
    */
  private def checkedLen(buf: ByteBuffer, n: Int): Int = {
    if (n > buf.remaining())
      throw new IllegalArgumentException(
        s"declared length $n exceeds remaining ${buf.remaining()}")
    n
  }

  def readString(buf: ByteBuffer): String = {
    val n = buf.getShort
    if (n < 0) null
    else {
      val a = new Array[Byte](checkedLen(buf, n))
      buf.get(a)
      new String(a, StandardCharsets.UTF_8)
    }
  }

  def writeString(buf: ByteBuffer, s: String): Unit =
    if (s == null) buf.putShort(-1)
    else {
      val a = s.getBytes(StandardCharsets.UTF_8)
      buf.putShort(a.length.toShort)
      buf.put(a)
    }

  def readBytes(buf: ByteBuffer): Array[Byte] = {
    val n = buf.getInt
    if (n < 0) null
    else {
      val a = new Array[Byte](checkedLen(buf, n))
      buf.get(a)
      a
    }
  }

  def writeBytes(buf: ByteBuffer, a: Array[Byte]): Unit =
    if (a == null) buf.putInt(-1)
    else {
      buf.putInt(a.length)
      buf.put(a)
    }

  // ------------------------------------------- flexible-version primitives

  import graft.functions.Varint.{readUnsignedVarint, writeUnsignedVarint}

  /** Compact (nullable) string: uvarint of length+1, 0 = null. */
  def readCompactString(buf: ByteBuffer): String = {
    val n = readUnsignedVarint(buf) - 1
    if (n < 0) null
    else {
      val a = new Array[Byte](checkedLen(buf, n))
      buf.get(a)
      new String(a, StandardCharsets.UTF_8)
    }
  }

  def writeCompactString(buf: ByteBuffer, s: String): Unit =
    if (s == null) writeUnsignedVarint(0, buf)
    else {
      val a = s.getBytes(StandardCharsets.UTF_8)
      writeUnsignedVarint(a.length + 1, buf)
      buf.put(a)
      ()
    }

  /** Compact array length: uvarint of count+1, 0 = null array. */
  def readCompactArrayLen(buf: ByteBuffer): Int = readUnsignedVarint(buf) - 1
  def writeCompactArrayLen(buf: ByteBuffer, n: Int): Unit =
    writeUnsignedVarint(n + 1, buf)

  /** Tagged fields: skip unknown tags (forward compatibility — the whole
    * point of the flexible encoding). Count, then per field tag + size +
    * payload, all uvarints.
    */
  def skipTaggedFields(buf: ByteBuffer): Unit = {
    val n = readUnsignedVarint(buf)
    (0 until n).foreach { _ =>
      readUnsignedVarint(buf) // tag
      val size = readUnsignedVarint(buf)
      buf.position(buf.position() + size)
    }
  }

  def writeEmptyTaggedFields(buf: ByteBuffer): Unit =
    writeUnsignedVarint(0, buf)

  /** Per-version primitive selector: one codec body serves a whole
    * version range — flexible versions use the compact encodings and
    * carry tagged-field blocks, classic versions the fixed-width ones
    * (the same split the reference's codegen derives per version from
    * each protocol JSON, `nisshi-sans-io/build.rs:1336`).
    */
  private[facade] final class Codec(val flexible: Boolean) {
    def str(buf: ByteBuffer): String =
      if (flexible) readCompactString(buf) else readString(buf)
    def putStr(buf: ByteBuffer, s: String): Unit =
      if (flexible) writeCompactString(buf, s) else writeString(buf, s)
    def bytes(buf: ByteBuffer): Array[Byte] =
      if (flexible) readCompactBytes(buf) else readBytes(buf)
    def putBytes(buf: ByteBuffer, a: Array[Byte]): Unit =
      if (flexible) writeCompactBytes(buf, a) else writeBytes(buf, a)
    def len(buf: ByteBuffer): Int =
      if (flexible) readCompactArrayLen(buf) else buf.getInt
    def putLen(buf: ByteBuffer, n: Int): Unit =
      if (flexible) writeCompactArrayLen(buf, n) else { buf.putInt(n); () }
    def tags(buf: ByteBuffer): Unit = if (flexible) skipTaggedFields(buf)
    def putTags(buf: ByteBuffer): Unit =
      if (flexible) writeEmptyTaggedFields(buf)
  }

  /** Which (api, version) pairs this facade serves with the flexible
    * encoding (compact strings/arrays, tagged fields, request header v2).
    */
  def isFlexible(apiKey: Short, apiVersion: Short): Boolean =
    (apiKey.toInt, apiVersion.toInt) match {
      case (18, v) => v >= 3 // ApiVersions
      case (3, v) => v >= 9  // Metadata
      case (0, v) => v >= 9  // Produce
      case (1, v) => v >= 12 // Fetch
      case (2, v) => v >= 6  // ListOffsets
      case (8, v) => v >= 8  // OffsetCommit
      case (9, v) => v >= 6  // OffsetFetch
      case (10, v) => v >= 3 // FindCoordinator
      case (11, v) => v >= 6 // JoinGroup
      case (12, v) => v >= 4 // Heartbeat
      case (13, v) => v >= 4 // LeaveGroup
      case (14, v) => v >= 4 // SyncGroup
      case (15, v) => v >= 5 // DescribeGroups
      case (16, v) => v >= 3 // ListGroups
      case (19, v) => v >= 5 // CreateTopics
      case (20, v) => v >= 4 // DeleteTopics
      case (21, v) => v >= 2 // DeleteRecords
      case (22, v) => v >= 2 // InitProducerId
      case (24, v) => v >= 3 // AddPartitionsToTxn
      case (25, v) => v >= 3 // AddOffsetsToTxn
      case (26, v) => v >= 3 // EndTxn
      case (28, v) => v >= 3 // TxnOffsetCommit
      case (29, v) => v >= 2 // DescribeAcls
      case (30, v) => v >= 2 // CreateAcls
      case (23, v) => v >= 4 // OffsetForLeaderEpoch
      case (32, v) => v >= 4 // DescribeConfigs
      case (35, v) => v >= 2 // DescribeLogDirs
      case (33, v) => v >= 2 // AlterConfigs
      case (36, v) => v >= 2 // SaslAuthenticate
      case (37, v) => v >= 2 // CreatePartitions
      case (42, v) => v >= 2 // DeleteGroups
      case (43, v) => v >= 2 // ElectLeaders
      case (44, v) => v >= 1 // IncrementalAlterConfigs
      case (45, _) => true   // AlterPartitionReassignments
      case (46, _) => true   // ListPartitionReassignments
      case (48, v) => v >= 1 // DescribeClientQuotas
      case (49, v) => v >= 1 // AlterClientQuotas
      case (50, _) => true   // DescribeUserScramCredentials
      case (51, _) => true   // AlterUserScramCredentials
      case (60, _) => true   // DescribeCluster
      case (61, _) => true   // DescribeProducers
      case (65, _) => true   // DescribeTransactions
      case (66, _) => true   // ListTransactions
      case (69, _) => true   // ConsumerGroupDescribe
      case (71, _) => true   // GetTelemetrySubscriptions
      case (75, _) => true   // DescribeTopicPartitions
      case _ => false
    }

  /** Request header: v1 (classic) or v2 (flexible — same fields, then
    * tagged fields; client_id stays a classic nullable string, a protocol
    * quirk). The api key/version decide which one the client sent.
    */
  def readHeader(buf: ByteBuffer): RequestHeader = {
    val h = RequestHeader(buf.getShort, buf.getShort, buf.getInt, readString(buf))
    if (isFlexible(h.apiKey, h.apiVersion)) skipTaggedFields(buf)
    h
  }

  // ------------------------------------------------------------- requests

  final case class ProducePartition(partition: Int, records: Array[Byte])
  final case class ProduceTopic(topic: String, partitions: Seq[ProducePartition])
  final case class ProduceRequest(acks: Short, timeoutMs: Int, topics: Seq[ProduceTopic])

  /** Produce v3-v11 (ProduceRequest.json): transactional_id acks
    * timeout [topic [partition records]]; the layout is constant, only
    * the encoding turns flexible at v9.
    */
  def readProduce(buf: ByteBuffer, version: Int = 3): ProduceRequest = {
    val c = new Codec(version >= 9)
    c.str(buf) // transactional_id (ignored in this slice)
    val acks = buf.getShort
    val timeout = buf.getInt
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = ProducePartition(buf.getInt, c.bytes(buf))
        c.tags(buf)
        p
      }
      c.tags(buf)
      ProduceTopic(t, parts)
    }
    c.tags(buf)
    ProduceRequest(acks, timeout, topics)
  }

  def writeProduce(buf: ByteBuffer, r: ProduceRequest, version: Int = 3): Unit = {
    val c = new Codec(version >= 9)
    c.putStr(buf, null)
    buf.putShort(r.acks)
    buf.putInt(r.timeoutMs)
    c.putLen(buf, r.topics.size)
    r.topics.foreach { t =>
      c.putStr(buf, t.topic)
      c.putLen(buf, t.partitions.size)
      t.partitions.foreach { p =>
        buf.putInt(p.partition)
        c.putBytes(buf, p.records)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  final case class FetchPartition(partition: Int, fetchOffset: Long, maxBytes: Int)
  /** `topicId` is non-null only on Fetch v13+ requests (KIP-516 — topics
    * addressed by uuid); `topic` is null there when the id did not
    * resolve to a known topic (the broker answers UNKNOWN_TOPIC_ID).
    */
  final case class FetchTopic(topic: String, partitions: Seq[FetchPartition],
                              topicId: java.util.UUID = null)
  /** sessionEpoch -1 = sessionless (the pre-KIP-227 behavior); 0 = full
    * fetch that establishes a session; n+1 = incremental fetch on
    * sessionId where `topics` carries only adds/updates and `forgotten`
    * carries removals.
    */
  final case class FetchRequest(maxWaitMs: Int, minBytes: Int, maxBytes: Int,
                                isolation: Byte, topics: Seq[FetchTopic],
                                sessionId: Int = 0, sessionEpoch: Int = -1,
                                forgotten: Seq[(String, Seq[Int])] = Nil)

  /** Fetch v4-v17 (FetchRequest.json): replica_id (v4-v14) max_wait
    * min_bytes max_bytes isolation session(v7+) [topic [partition
    * current_leader_epoch(v9+) fetch_offset last_fetched_epoch(v12+)
    * log_start(v5+) partition_max_bytes]] forgotten(v7+) rack_id(v11+).
    * v13+ addresses topics by uuid (KIP-516): `resolveId` maps ids back
    * to names (null = unknown id, answered UNKNOWN_TOPIC_ID). v15+ moves
    * replica_id into the tagged ReplicaState field (KIP-903), which the
    * trailing tagged-field skip consumes.
    */
  def readFetch(buf: ByteBuffer, version: Int = 4,
                resolveId: java.util.UUID => String = null): FetchRequest = {
    val c = new Codec(version >= 12)
    if (version <= 14) buf.getInt // replica_id
    val maxWait = buf.getInt
    val minBytes = buf.getInt
    val maxBytes = buf.getInt
    val isolation = buf.get()
    val (sid, sep) =
      if (version >= 7) (buf.getInt, buf.getInt) else (0, -1)
    def topicKey(): (String, java.util.UUID) =
      if (version >= 13) {
        val u = getUuid(buf)
        (if (resolveId ne null) resolveId(u) else null, u)
      } else (c.str(buf), null)
    val topics = (0 until c.len(buf)).map { _ =>
      val (t, id) = topicKey()
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        if (version >= 9) buf.getInt // current_leader_epoch
        val off = buf.getLong
        if (version >= 12) buf.getInt // last_fetched_epoch
        if (version >= 5) buf.getLong // log_start_offset (follower-only)
        val pmax = buf.getInt
        c.tags(buf)
        FetchPartition(p, off, pmax)
      }
      c.tags(buf)
      FetchTopic(t, parts, id)
    }
    val forgotten =
      if (version >= 7)
        (0 until c.len(buf)).map { _ =>
          val (t, _) = topicKey()
          val ps = (0 until c.len(buf)).map(_ => buf.getInt).toSeq
          c.tags(buf)
          t -> ps
        }
      else Seq.empty
    if (version >= 11) c.str(buf) // rack_id
    c.tags(buf)
    FetchRequest(maxWait, minBytes, maxBytes, isolation, topics,
      sid, sep, forgotten)
  }

  def writeFetch(buf: ByteBuffer, r: FetchRequest, version: Int = 4): Unit = {
    val c = new Codec(version >= 12)
    if (version <= 14) buf.putInt(-1)
    buf.putInt(r.maxWaitMs)
    buf.putInt(r.minBytes)
    buf.putInt(r.maxBytes)
    buf.put(r.isolation)
    if (version >= 7) { buf.putInt(r.sessionId); buf.putInt(r.sessionEpoch) }
    def putTopicKey(name: String, id: java.util.UUID): Unit =
      if (version >= 13)
        putUuid(buf, if (id != null) id else topicUuid(name))
      else c.putStr(buf, name)
    c.putLen(buf, r.topics.size)
    r.topics.foreach { t =>
      putTopicKey(t.topic, t.topicId)
      c.putLen(buf, t.partitions.size)
      t.partitions.foreach { p =>
        buf.putInt(p.partition)
        if (version >= 9) buf.putInt(-1) // current_leader_epoch
        buf.putLong(p.fetchOffset)
        if (version >= 12) buf.putInt(-1) // last_fetched_epoch
        if (version >= 5) buf.putLong(-1L) // log_start_offset
        buf.putInt(p.maxBytes)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    if (version >= 7) {
      c.putLen(buf, r.forgotten.size)
      r.forgotten.foreach { case (t, ps) =>
        putTopicKey(t, null)
        c.putLen(buf, ps.size); ps.foreach(buf.putInt)
        c.putTags(buf)
      }
    }
    if (version >= 11) c.putStr(buf, "") // rack_id
    c.putTags(buf)
  }

  // ------------------------------------------------------------- responses

  final case class ListOffsetsPartition(partition: Int, timestamp: Long)
  final case class ListOffsetsTopic(topic: String, partitions: Seq[ListOffsetsPartition])
  final case class ListOffsetsRequest(isolation: Byte, topics: Seq[ListOffsetsTopic])

  /** ListOffsets v0-v8 (ListOffsetsRequest.json): replica_id
    * isolation_level (v2+) [topic [partition current_leader_epoch (v4+)
    * timestamp max_num_offsets (v0 only)]]; flexible v6+. Timestamp -1 =
    * latest, -2 = earliest, -3 = max-timestamp offset (v7+) — the A5/J4
    * operators on the wire.
    */
  def readListOffsets(buf: ByteBuffer, version: Int = 1): ListOffsetsRequest = {
    val c = new Codec(version >= 6)
    buf.getInt // replica_id
    val isolation = if (version >= 2) buf.get() else 0: Byte
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        if (version >= 4) buf.getInt // current_leader_epoch
        val ts = buf.getLong
        if (version == 0) buf.getInt // max_num_offsets
        c.tags(buf)
        ListOffsetsPartition(p, ts)
      }
      c.tags(buf)
      ListOffsetsTopic(t, parts)
    }
    c.tags(buf)
    ListOffsetsRequest(isolation, topics)
  }

  def writeListOffsets(buf: ByteBuffer, r: ListOffsetsRequest,
                       version: Int = 1): Unit = {
    val c = new Codec(version >= 6)
    buf.putInt(-1)
    if (version >= 2) buf.put(r.isolation)
    c.putLen(buf, r.topics.size)
    r.topics.foreach { t =>
      c.putStr(buf, t.topic)
      c.putLen(buf, t.partitions.size)
      t.partitions.foreach { p =>
        buf.putInt(p.partition)
        if (version >= 4) buf.putInt(-1)
        buf.putLong(p.timestamp)
        if (version == 0) buf.putInt(1)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** ListOffsets response: throttle (v2+) [topic [partition error
    * [offsets] (v0) / timestamp offset (v1+) leader_epoch (v4+)]].
    */
  def writeListOffsetsResponse(buf: ByteBuffer,
                               results: Seq[(String, Seq[(Int, Short, Long, Long)])],
                               version: Int = 1): Unit = {
    val c = new Codec(version >= 6)
    if (version >= 2) buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (topic, parts) =>
      c.putStr(buf, topic)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, err, ts, off) =>
        buf.putInt(p)
        buf.putShort(err)
        if (version == 0) {
          // old-style offsets array: one entry per request
          buf.putInt(if (off < 0) 0 else 1)
          if (off >= 0) buf.putLong(off)
        } else {
          buf.putLong(ts)
          buf.putLong(off)
          if (version >= 4) buf.putInt(-1) // leader_epoch
        }
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readListOffsetsResponse(buf: ByteBuffer,
                              version: Int = 1): Seq[(String, Seq[(Int, Short, Long)])] = {
    val c = new Codec(version >= 6)
    if (version >= 2) buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        val off =
          if (version == 0) {
            val offs = (0 until buf.getInt).map(_ => buf.getLong)
            offs.headOption.getOrElse(-1L)
          } else {
            buf.getLong // timestamp
            val o = buf.getLong
            if (version >= 4) buf.getInt
            o
          }
        c.tags(buf)
        (p, err, off)
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    r
  }

  final case class CommitPartition(partition: Int, offset: Long, metadata: String)
  final case class CommitTopic(topic: String, partitions: Seq[CommitPartition])
  final case class OffsetCommitRequest(group: String, topics: Seq[CommitTopic])

  /** OffsetCommit v0-v8 (OffsetCommitRequest.json): group
    * generation+member (v1+) group_instance_id (v7+) retention_time
    * (v2-v4 only) [topic [partition offset commit_timestamp (v1 only)
    * leader_epoch (v6+) metadata]]; flexible v8.
    */
  def readOffsetCommit(buf: ByteBuffer, version: Int = 2): OffsetCommitRequest = {
    val c = new Codec(version >= 8)
    val group = c.str(buf)
    if (version >= 1) { buf.getInt; c.str(buf) } // generation, member
    if (version >= 7) c.str(buf) // group_instance_id
    if (version >= 2 && version <= 4) buf.getLong // retention_time
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val off = buf.getLong
        if (version == 1) buf.getLong // commit_timestamp
        if (version >= 6) buf.getInt // committed_leader_epoch
        val meta = c.str(buf)
        c.tags(buf)
        CommitPartition(p, off, meta)
      }
      c.tags(buf)
      CommitTopic(t, parts)
    }
    c.tags(buf)
    OffsetCommitRequest(group, topics)
  }

  def writeOffsetCommit(buf: ByteBuffer, r: OffsetCommitRequest,
                        version: Int = 2): Unit = {
    val c = new Codec(version >= 8)
    c.putStr(buf, r.group)
    if (version >= 1) { buf.putInt(-1); c.putStr(buf, "") }
    if (version >= 7) c.putStr(buf, null)
    if (version >= 2 && version <= 4) buf.putLong(-1L)
    c.putLen(buf, r.topics.size)
    r.topics.foreach { t =>
      c.putStr(buf, t.topic)
      c.putLen(buf, t.partitions.size)
      t.partitions.foreach { p =>
        buf.putInt(p.partition)
        buf.putLong(p.offset)
        if (version == 1) buf.putLong(-1L)
        if (version >= 6) buf.putInt(-1)
        c.putStr(buf, p.metadata)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** OffsetCommit response: throttle (v3+) [topic [partition error]]. */
  def writeOffsetCommitResponse(buf: ByteBuffer,
                                results: Seq[(String, Seq[(Int, Short)])],
                                version: Int = 2): Unit = {
    val c = new Codec(version >= 8)
    if (version >= 3) buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, err) =>
        buf.putInt(p); buf.putShort(err); c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readOffsetCommitResponse(buf: ByteBuffer,
                               version: Int = 2): Seq[(String, Seq[(Int, Short)])] = {
    val c = new Codec(version >= 8)
    if (version >= 3) buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = (buf.getInt, buf.getShort); c.tags(buf); p
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    r
  }

  /** topics == null means "all topics the group has offsets for" (v2+). */
  final case class OffsetFetchRequest(group: String,
                                      topics: Seq[(String, Seq[Int])])

  /** OffsetFetch v0-v7 (OffsetFetchRequest.json): group [topic
    * [partition]] (array nullable v2+) require_stable (v7); flexible v6+.
    */
  def readOffsetFetch(buf: ByteBuffer, version: Int = 1): OffsetFetchRequest = {
    val c = new Codec(version >= 6)
    val group = c.str(buf)
    val n = c.len(buf)
    val topics =
      if (n < 0) null
      else (0 until n).map { _ =>
        val t = c.str(buf)
        val parts = (0 until c.len(buf)).map(_ => buf.getInt)
        c.tags(buf)
        t -> parts
      }
    if (version >= 7) buf.get // require_stable
    c.tags(buf)
    OffsetFetchRequest(group, topics)
  }

  def writeOffsetFetch(buf: ByteBuffer, r: OffsetFetchRequest,
                       version: Int = 1): Unit = {
    val c = new Codec(version >= 6)
    c.putStr(buf, r.group)
    if (r.topics == null) c.putLen(buf, -1)
    else {
      c.putLen(buf, r.topics.size)
      r.topics.foreach { case (t, parts) =>
        c.putStr(buf, t)
        c.putLen(buf, parts.size)
        parts.foreach(buf.putInt)
        c.putTags(buf)
      }
    }
    if (version >= 7) buf.put(0.toByte)
    c.putTags(buf)
  }

  /** OffsetFetch response: throttle (v3+) [topic [partition offset
    * leader_epoch (v5+) metadata error]] error (v2+).
    */
  def writeOffsetFetchResponse(buf: ByteBuffer,
                               results: Seq[(String, Seq[(Int, Long)])],
                               version: Int = 1): Unit = {
    val c = new Codec(version >= 6)
    if (version >= 3) buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, off) =>
        buf.putInt(p)
        buf.putLong(off)
        if (version >= 5) buf.putInt(-1) // leader_epoch
        c.putStr(buf, "")
        buf.putShort(0)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    if (version >= 2) buf.putShort(0) // top-level error
    c.putTags(buf)
  }

  def readOffsetFetchResponse(buf: ByteBuffer,
                              version: Int = 1): Seq[(String, Seq[(Int, Long)])] = {
    val c = new Codec(version >= 6)
    if (version >= 3) buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val off = buf.getLong
        if (version >= 5) buf.getInt
        c.str(buf) // metadata
        buf.getShort // error
        c.tags(buf)
        (p, off)
      }
      c.tags(buf)
      t -> parts
    }
    if (version >= 2) buf.getShort
    c.tags(buf)
    r
  }

  /** OffsetFetch v8-v9 (KIP-709): the request batches GROUPS —
    * [group_id member_id (v9+, nullable) member_epoch (v9+) topics
    * (nullable)] require_stable. The classic coordinator ignores the
    * new-protocol member fields (epoch fencing belongs to KIP-848
    * groups).
    */
  def readOffsetFetchV8(buf: ByteBuffer,
                        version: Int = 8): Seq[OffsetFetchRequest] = {
    val c = new Codec(true)
    val groups = (0 until c.len(buf)).map { _ =>
      val g = c.str(buf)
      if (version >= 9) { c.str(buf); buf.getInt } // member_id, member_epoch
      val n = c.len(buf)
      val topics =
        if (n < 0) null
        else (0 until n).map { _ =>
          val t = c.str(buf)
          val ps = (0 until c.len(buf)).map(_ => buf.getInt)
          c.tags(buf)
          t -> ps
        }
      c.tags(buf)
      OffsetFetchRequest(g, topics)
    }
    buf.get() // require_stable
    c.tags(buf)
    groups
  }

  def writeOffsetFetchV8(buf: ByteBuffer, groups: Seq[OffsetFetchRequest],
                         version: Int = 8): Unit = {
    val c = new Codec(true)
    c.putLen(buf, groups.size)
    groups.foreach { r =>
      c.putStr(buf, r.group)
      if (version >= 9) { c.putStr(buf, null); buf.putInt(-1) }
      if (r.topics == null) c.putLen(buf, -1)
      else {
        c.putLen(buf, r.topics.size)
        r.topics.foreach { case (t, parts) =>
          c.putStr(buf, t)
          c.putLen(buf, parts.size)
          parts.foreach(buf.putInt)
          c.putTags(buf)
        }
      }
      c.putTags(buf)
    }
    buf.put(0.toByte) // require_stable
    c.putTags(buf)
  }

  /** OffsetFetch v8-v9 response: throttle [group_id [topic [partition
    * offset leader_epoch metadata error]] error].
    */
  def writeOffsetFetchResponseV8(
      buf: ByteBuffer,
      groups: Seq[(String, Seq[(String, Seq[(Int, Long)])])]): Unit = {
    val c = new Codec(true)
    buf.putInt(0) // throttle
    c.putLen(buf, groups.size)
    groups.foreach { case (g, results) =>
      c.putStr(buf, g)
      c.putLen(buf, results.size)
      results.foreach { case (t, parts) =>
        c.putStr(buf, t)
        c.putLen(buf, parts.size)
        parts.foreach { case (p, off) =>
          buf.putInt(p)
          buf.putLong(off)
          buf.putInt(-1) // leader_epoch
          c.putStr(buf, "")
          buf.putShort(0)
          c.putTags(buf)
        }
        c.putTags(buf)
      }
      buf.putShort(0) // per-group error
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readOffsetFetchResponseV8(buf: ByteBuffer)
      : Seq[(String, Seq[(String, Seq[(Int, Long)])])] = {
    val c = new Codec(true)
    buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val g = c.str(buf)
      val results = (0 until c.len(buf)).map { _ =>
        val t = c.str(buf)
        val parts = (0 until c.len(buf)).map { _ =>
          val p = buf.getInt
          val off = buf.getLong
          buf.getInt // leader_epoch
          c.str(buf) // metadata
          buf.getShort // error
          c.tags(buf)
          (p, off)
        }
        c.tags(buf)
        t -> parts
      }
      buf.getShort // per-group error
      c.tags(buf)
      g -> results
    }
    c.tags(buf)
    r
  }

  // ------------------------------------------- consumer protocol payloads

  /** ConsumerProtocol Subscription v0: version [topics] user_data —
    * the opaque `metadata` bytes inside JoinGroup protocols.
    * Sizing uses UTF-8 byte length, not char count (multi-byte topic
    * names would otherwise overflow the buffer).
    */
  def encodeSubscription(topics: Seq[String]): Array[Byte] = {
    val buf = ByteBuffer.allocate(
      64 + topics.map(_.getBytes(StandardCharsets.UTF_8).length + 8).sum)
    buf.putShort(0)
    buf.putInt(topics.size)
    topics.foreach(writeString(buf, _))
    buf.putInt(-1) // user_data
    buf.flip()
    val a = new Array[Byte](buf.remaining()); buf.get(a); a
  }

  def decodeSubscriptionTopics(metadata: Array[Byte]): Seq[String] = {
    val buf = ByteBuffer.wrap(metadata)
    buf.getShort // version
    (0 until buf.getInt).map(_ => readString(buf))
  }

  /** ConsumerProtocol Assignment v0: version [topic [partition]] user_data. */
  def encodeAssignment(parts: Seq[(String, Seq[Int])]): Array[Byte] = {
    val buf = ByteBuffer.allocate(64 + parts.map { case (t, ps) =>
      t.getBytes(StandardCharsets.UTF_8).length + 8 + 4 * ps.size }.sum)
    buf.putShort(0)
    buf.putInt(parts.size)
    parts.foreach { case (t, ps) =>
      writeString(buf, t)
      buf.putInt(ps.size)
      ps.foreach(buf.putInt)
    }
    buf.putInt(-1) // user_data
    buf.flip()
    val a = new Array[Byte](buf.remaining()); buf.get(a); a
  }

  def decodeAssignment(bytes: Array[Byte]): Seq[(String, Seq[Int])] = {
    val buf = ByteBuffer.wrap(bytes)
    buf.getShort
    (0 until buf.getInt).map { _ =>
      val t = readString(buf)
      t -> (0 until buf.getInt).map(_ => buf.getInt)
    }
  }

  // ------------------------------------------------ group membership APIs

  final case class JoinProtocol(name: String, metadata: Array[Byte])
  final case class JoinGroupRequest(group: String, sessionTimeoutMs: Int,
                                    memberId: String, protocolType: String,
                                    protocols: Seq[JoinProtocol])

  /** JoinGroup v0-v9 (JoinGroupRequest.json): group session_timeout
    * rebalance_timeout (v1+) member_id group_instance_id (v5+)
    * protocol_type [protocol_name metadata] reason (v8+, nullable);
    * flexible v6.
    */
  def readJoinGroup(buf: ByteBuffer, version: Int = 0): JoinGroupRequest = {
    val c = new Codec(version >= 6)
    val group = c.str(buf)
    val timeout = buf.getInt
    if (version >= 1) buf.getInt // rebalance_timeout
    val member = c.str(buf)
    if (version >= 5) c.str(buf) // group_instance_id
    val ptype = c.str(buf)
    val protocols = (0 until c.len(buf)).map { _ =>
      val p = JoinProtocol(c.str(buf), c.bytes(buf))
      c.tags(buf)
      p
    }
    if (version >= 8) c.str(buf) // reason
    c.tags(buf)
    JoinGroupRequest(group, timeout, member, ptype, protocols)
  }

  def writeJoinGroup(buf: ByteBuffer, r: JoinGroupRequest,
                     version: Int = 0): Unit = {
    val c = new Codec(version >= 6)
    c.putStr(buf, r.group)
    buf.putInt(r.sessionTimeoutMs)
    if (version >= 1) buf.putInt(r.sessionTimeoutMs * 2)
    c.putStr(buf, r.memberId)
    if (version >= 5) c.putStr(buf, null)
    c.putStr(buf, r.protocolType)
    c.putLen(buf, r.protocols.size)
    r.protocols.foreach { p =>
      c.putStr(buf, p.name)
      c.putBytes(buf, p.metadata)
      c.putTags(buf)
    }
    if (version >= 8) c.putStr(buf, null) // reason
    c.putTags(buf)
  }

  /** JoinGroup response: throttle (v2+) error generation protocol_type
    * (v7+, nullable) protocol leader skip_assignment (v9+, always false
    * — classic-protocol groups never skip the leader's assignment)
    * member_id [member_id group_instance_id (v5+) metadata] (members
    * only populated for the leader).
    */
  def writeJoinGroupResponse(buf: ByteBuffer, error: Short, generation: Int,
                             protocol: String, leader: String, memberId: String,
                             members: Seq[(String, Array[Byte])],
                             version: Int = 0,
                             protocolType: String = "consumer"): Unit = {
    val c = new Codec(version >= 6)
    if (version >= 2) buf.putInt(0) // throttle
    buf.putShort(error)
    buf.putInt(generation)
    if (version >= 7) c.putStr(buf, protocolType)
    c.putStr(buf, protocol)
    c.putStr(buf, leader)
    if (version >= 9) buf.put(0: Byte) // skip_assignment
    c.putStr(buf, memberId)
    c.putLen(buf, members.size)
    members.foreach { case (m, meta) =>
      c.putStr(buf, m)
      if (version >= 5) c.putStr(buf, null) // group_instance_id
      c.putBytes(buf, meta)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  final case class JoinGroupResult(error: Short, generation: Int,
                                   protocol: String, leader: String,
                                   memberId: String,
                                   members: Seq[(String, Array[Byte])])

  def readJoinGroupResponse(buf: ByteBuffer, version: Int = 0): JoinGroupResult = {
    val c = new Codec(version >= 6)
    if (version >= 2) buf.getInt // throttle
    val error = buf.getShort
    val gen = buf.getInt
    if (version >= 7) c.str(buf) // protocol_type
    val protocol = c.str(buf)
    val leader = c.str(buf)
    if (version >= 9) buf.get() // skip_assignment
    val member = c.str(buf)
    val members = (0 until c.len(buf)).map { _ =>
      val m = c.str(buf)
      if (version >= 5) c.str(buf)
      val meta = c.bytes(buf)
      c.tags(buf)
      m -> meta
    }
    c.tags(buf)
    JoinGroupResult(error, gen, protocol, leader, member, members)
  }

  final case class SyncGroupRequest(group: String, generation: Int,
                                    memberId: String,
                                    assignments: Seq[(String, Array[Byte])])

  /** SyncGroup v0-v5 (SyncGroupRequest.json): group generation member
    * group_instance_id (v3+) protocol_type protocol_name (v5+, both
    * nullable) [member_id assignment]; flexible v4.
    */
  def readSyncGroup(buf: ByteBuffer, version: Int = 0): SyncGroupRequest = {
    val c = new Codec(version >= 4)
    val group = c.str(buf)
    val gen = buf.getInt
    val member = c.str(buf)
    if (version >= 3) c.str(buf) // group_instance_id
    if (version >= 5) { c.str(buf); c.str(buf) } // protocol_type, protocol_name
    val assignments = (0 until c.len(buf)).map { _ =>
      val a = c.str(buf) -> c.bytes(buf)
      c.tags(buf)
      a
    }
    c.tags(buf)
    SyncGroupRequest(group, gen, member, assignments)
  }

  def writeSyncGroup(buf: ByteBuffer, r: SyncGroupRequest,
                     version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    c.putStr(buf, r.group)
    buf.putInt(r.generation)
    c.putStr(buf, r.memberId)
    if (version >= 3) c.putStr(buf, null)
    if (version >= 5) { c.putStr(buf, null); c.putStr(buf, null) }
    c.putLen(buf, r.assignments.size)
    r.assignments.foreach { case (m, a) =>
      c.putStr(buf, m)
      c.putBytes(buf, a)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** SyncGroup response: throttle (v1+) error protocol_type
    * protocol_name (v5+, nullable) assignment_bytes.
    */
  def writeSyncGroupResponse(buf: ByteBuffer, error: Short,
                             assignment: Array[Byte],
                             version: Int = 0,
                             protocolType: String = "consumer",
                             protocolName: String = null): Unit = {
    val c = new Codec(version >= 4)
    if (version >= 1) buf.putInt(0) // throttle
    buf.putShort(error)
    if (version >= 5) { c.putStr(buf, protocolType); c.putStr(buf, protocolName) }
    c.putBytes(buf, assignment)
    c.putTags(buf)
  }

  def readSyncGroupResponse(buf: ByteBuffer,
                            version: Int = 0): (Short, Array[Byte]) = {
    val c = new Codec(version >= 4)
    if (version >= 1) buf.getInt
    val err = buf.getShort
    if (version >= 5) { c.str(buf); c.str(buf) }
    val r = (err, c.bytes(buf))
    c.tags(buf)
    r
  }

  /** Heartbeat v0-v4 (HeartbeatRequest.json): group generation member
    * group_instance_id (v3+) → throttle (v1+) error; flexible v4.
    */
  def readHeartbeat(buf: ByteBuffer, version: Int = 0): (String, Int, String) = {
    val c = new Codec(version >= 4)
    val r = (c.str(buf), buf.getInt, c.str(buf))
    if (version >= 3) c.str(buf)
    c.tags(buf)
    r
  }

  def writeHeartbeat(buf: ByteBuffer, group: String, generation: Int,
                     memberId: String, version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    c.putStr(buf, group)
    buf.putInt(generation)
    c.putStr(buf, memberId)
    if (version >= 3) c.putStr(buf, null)
    c.putTags(buf)
  }

  /** Error-only response body (Heartbeat, LeaveGroup ≤v2). */
  def writeErrorResponse(buf: ByteBuffer, error: Short, version: Int,
                         flexible: Boolean, throttleFrom: Int = 1): Unit = {
    if (version >= throttleFrom) buf.putInt(0) // throttle
    buf.putShort(error)
    if (flexible) writeEmptyTaggedFields(buf)
  }

  def readErrorResponse(buf: ByteBuffer, version: Int, flexible: Boolean,
                        throttleFrom: Int = 1): Short = {
    if (version >= throttleFrom) buf.getInt
    val e = buf.getShort
    if (flexible) skipTaggedFields(buf)
    e
  }

  /** LeaveGroup v0-v4 (LeaveGroupRequest.json): group member (≤v2) /
    * [member_id group_instance_id] (v3+, batched); flexible v4.
    */
  def readLeaveGroup(buf: ByteBuffer, version: Int = 0): (String, Seq[String]) = {
    val c = new Codec(version >= 4)
    val group = c.str(buf)
    val members =
      if (version < 3) Seq(c.str(buf))
      else (0 until c.len(buf)).map { _ =>
        val m = c.str(buf)
        c.str(buf) // group_instance_id
        if (version >= 5) c.str(buf) // reason
        c.tags(buf)
        m
      }
    c.tags(buf)
    (group, members)
  }

  def writeLeaveGroup(buf: ByteBuffer, group: String, memberId: String,
                      version: Int = 0): Unit =
    writeLeaveGroupBatch(buf, group, Seq(memberId), version)

  def writeLeaveGroupBatch(buf: ByteBuffer, group: String,
                           members: Seq[String], version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    c.putStr(buf, group)
    if (version < 3) c.putStr(buf, members.head)
    else {
      c.putLen(buf, members.size)
      members.foreach { m =>
        c.putStr(buf, m)
        c.putStr(buf, null)
        if (version >= 5) c.putStr(buf, null) // reason
        c.putTags(buf)
      }
    }
    c.putTags(buf)
  }

  /** LeaveGroup response: throttle (v1+) error [member_id
    * group_instance_id error] (v3+).
    */
  def writeLeaveGroupResponse(buf: ByteBuffer,
                              results: Seq[(String, Short)],
                              version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    if (version >= 1) buf.putInt(0)
    buf.putShort(results.collectFirst { case (_, e) if e != 0 => e }.getOrElse(0))
    if (version >= 3) {
      c.putLen(buf, results.size)
      results.foreach { case (m, e) =>
        c.putStr(buf, m)
        c.putStr(buf, null)
        buf.putShort(e)
        c.putTags(buf)
      }
    }
    c.putTags(buf)
  }

  def readLeaveGroupResponse(buf: ByteBuffer,
                             version: Int = 0): (Short, Seq[(String, Short)]) = {
    val c = new Codec(version >= 4)
    if (version >= 1) buf.getInt
    val top = buf.getShort
    val members =
      if (version < 3) Nil
      else (0 until c.len(buf)).map { _ =>
        val m = c.str(buf); c.str(buf)
        val e = buf.getShort
        c.tags(buf)
        m -> e
      }
    c.tags(buf)
    (top, members)
  }

  /** FindCoordinator v0-v4 (FindCoordinatorRequest.json): key key_type
    * (v1+) → throttle (v1+) error error_message (v1+) node_id host port;
    * flexible v3. v4 (KIP-699) batches: key_type [coordinator_keys] →
    * throttle [key node_id host port error error_message].
    */
  def readFindCoordinator(buf: ByteBuffer, version: Int = 0): Seq[String] = {
    val c = new Codec(version >= 3)
    val keys =
      if (version >= 4) {
        buf.get // key_type
        (0 until c.len(buf)).map(_ => c.str(buf))
      } else {
        val k = c.str(buf)
        if (version >= 1) buf.get // key_type
        Seq(k)
      }
    c.tags(buf)
    keys
  }

  def writeFindCoordinator(buf: ByteBuffer, key: String,
                           version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    if (version >= 4) {
      buf.put(0.toByte)
      c.putLen(buf, 1)
      c.putStr(buf, key)
    } else {
      c.putStr(buf, key)
      if (version >= 1) buf.put(0.toByte)
    }
    c.putTags(buf)
  }

  def writeFindCoordinatorResponse(buf: ByteBuffer, error: Short, nodeId: Int,
                                   host: String, port: Int,
                                   version: Int = 0,
                                   keys: Seq[String] = Nil): Unit = {
    val c = new Codec(version >= 3)
    if (version >= 1) buf.putInt(0) // throttle
    if (version >= 4) {
      c.putLen(buf, keys.size)
      keys.foreach { k =>
        c.putStr(buf, k)
        buf.putInt(nodeId)
        c.putStr(buf, host)
        buf.putInt(port)
        buf.putShort(error)
        c.putStr(buf, null) // error_message
        c.putTags(buf)
      }
    } else {
      buf.putShort(error)
      if (version >= 1) c.putStr(buf, null) // error_message
      buf.putInt(nodeId)
      c.putStr(buf, host)
      buf.putInt(port)
    }
    c.putTags(buf)
  }

  def readFindCoordinatorResponse(buf: ByteBuffer,
                                  version: Int = 0): (Short, Int, String, Int) = {
    val c = new Codec(version >= 3)
    if (version >= 1) buf.getInt
    val r =
      if (version >= 4) {
        val n = c.len(buf)
        require(n >= 1, "empty coordinators array")
        val first = {
          c.str(buf)
          val node = buf.getInt
          val host = c.str(buf)
          val port = buf.getInt
          val e = buf.getShort
          c.str(buf)
          c.tags(buf)
          (e, node, host, port)
        }
        (1 until n).foreach { _ =>
          c.str(buf); buf.getInt; c.str(buf); buf.getInt; buf.getShort
          c.str(buf); c.tags(buf)
        }
        first
      } else {
        val e = buf.getShort
        if (version >= 1) c.str(buf)
        (e, buf.getInt, c.str(buf), buf.getInt)
      }
    c.tags(buf)
    r
  }

  // ------------------------------------------------- topic lifecycle APIs

  final case class CreateTopic(name: String, numPartitions: Int,
                               replicationFactor: Short,
                               configs: Map[String, String])

  /** Name-derived topic UUID: stable across calls and restarts without a
    * persisted id registry (single-broker — no cross-broker id exchange).
    */
  def topicUuid(name: String): java.util.UUID =
    java.util.UUID.nameUUIDFromBytes(("graft-topic:" + name).getBytes(StandardCharsets.UTF_8))

  def putUuid(buf: ByteBuffer, u: java.util.UUID): Unit = {
    buf.putLong(u.getMostSignificantBits)
    buf.putLong(u.getLeastSignificantBits)
    ()
  }

  def getUuid(buf: ByteBuffer): java.util.UUID =
    new java.util.UUID(buf.getLong, buf.getLong)

  /** CreateTopics v0-v7 (CreateTopicsRequest.json): [name num_partitions
    * replication_factor [partition [broker]] [config_key config_value]]
    * timeout validate_only (v1+); flexible v5+. Returns the topics and
    * the validate_only flag (false below v1).
    */
  def readCreateTopics(buf: ByteBuffer,
                       version: Int = 0): (Seq[CreateTopic], Boolean) = {
    val c = new Codec(version >= 5)
    val topics = (0 until c.len(buf)).map { _ =>
      val name = c.str(buf)
      val nParts = buf.getInt
      val rf = buf.getShort
      (0 until c.len(buf)).foreach { _ =>
        buf.getInt // partition
        (0 until c.len(buf)).foreach(_ => buf.getInt) // replicas
        c.tags(buf)
      }
      val configs = (0 until c.len(buf)).map { _ =>
        val kv = c.str(buf) -> c.str(buf)
        c.tags(buf)
        kv
      }.toMap
      c.tags(buf)
      CreateTopic(name, nParts, rf, configs)
    }
    buf.getInt // timeout_ms
    val validateOnly = if (version >= 1) buf.get() != 0 else false
    c.tags(buf)
    (topics, validateOnly)
  }

  def writeCreateTopics(buf: ByteBuffer, topics: Seq[CreateTopic],
                        timeoutMs: Int, version: Int = 0,
                        validateOnly: Boolean = false): Unit = {
    val c = new Codec(version >= 5)
    c.putLen(buf, topics.size)
    topics.foreach { t =>
      c.putStr(buf, t.name)
      buf.putInt(t.numPartitions)
      buf.putShort(t.replicationFactor)
      c.putLen(buf, 0) // no manual replica assignments
      c.putLen(buf, t.configs.size)
      t.configs.foreach { case (k, v) =>
        c.putStr(buf, k)
        c.putStr(buf, v)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.putInt(timeoutMs)
    if (version >= 1) buf.put(if (validateOnly) 1: Byte else 0: Byte)
    c.putTags(buf)
  }

  /** CreateTopics response: throttle (v2+) [name topic_id (v7+) error
    * error_message (v1+) num_partitions+replication_factor+configs (v5+)].
    * The v5+ echo carries the created topic's effective settings.
    */
  def writeCreateTopicsResponse(buf: ByteBuffer,
                                results: Seq[(String, Short, Int, Map[String, String])],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 5)
    if (version >= 2) buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (n, e, nParts, configs) =>
      c.putStr(buf, n)
      if (version >= 7) putUuid(buf, topicUuid(n))
      buf.putShort(e)
      if (version >= 1) c.putStr(buf, null) // error_message
      if (version >= 5) {
        buf.putInt(nParts)
        buf.putShort(1) // replication_factor
        c.putLen(buf, configs.size)
        configs.toSeq.sortBy(_._1).foreach { case (k, v) =>
          c.putStr(buf, k)
          c.putStr(buf, v)
          buf.put(0: Byte)  // read_only
          buf.put(1: Byte)  // config_source: DYNAMIC_TOPIC_CONFIG
          buf.put(0: Byte)  // is_sensitive
          c.putTags(buf)
        }
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readCreateTopicsResponse(buf: ByteBuffer,
                               version: Int = 0): Seq[(String, Short)] = {
    val c = new Codec(version >= 5)
    if (version >= 2) buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val n = c.str(buf)
      if (version >= 7) getUuid(buf)
      val e = buf.getShort
      if (version >= 1) c.str(buf)
      if (version >= 5) {
        buf.getInt; buf.getShort
        (0 until c.len(buf)).foreach { _ =>
          c.str(buf); c.str(buf); buf.get(); buf.get(); buf.get(); c.tags(buf)
        }
      }
      c.tags(buf)
      n -> e
    }
    c.tags(buf)
    r
  }

  /** DeleteTopics v0-v6 (DeleteTopicsRequest.json): [name] timeout — v6
    * restructures to [struct name topic_id] (topic addressable by either);
    * flexible v4+. Returns (name, topicId) pairs; a null name means
    * resolve by id.
    */
  def readDeleteTopics(buf: ByteBuffer,
                       version: Int = 0): Seq[(String, java.util.UUID)] = {
    val c = new Codec(version >= 4)
    val names =
      if (version >= 6)
        (0 until c.len(buf)).map { _ =>
          val n = c.str(buf)
          val id = getUuid(buf)
          c.tags(buf)
          (n, id)
        }
      else (0 until c.len(buf)).map { _ =>
        val n = c.str(buf)
        (n, new java.util.UUID(0L, 0L))
      }
    buf.getInt // timeout_ms
    c.tags(buf)
    names
  }

  def writeDeleteTopics(buf: ByteBuffer, names: Seq[String], timeoutMs: Int,
                        version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    c.putLen(buf, names.size)
    names.foreach { n =>
      if (version >= 6) {
        c.putStr(buf, n)
        putUuid(buf, new java.util.UUID(0L, 0L))
        c.putTags(buf)
      } else c.putStr(buf, n)
    }
    buf.putInt(timeoutMs)
    c.putTags(buf)
  }

  /** DeleteTopics response: throttle (v1+) [name topic_id (v6+) error
    * error_message (v5+)]. The uuid is caller-supplied so an UNRESOLVED
    * by-id entry echoes the REQUESTED id (the client correlates error
    * rows by topic id), not a uuid derived from an empty name.
    */
  def writeDeleteTopicsResponse(buf: ByteBuffer,
                                results: Seq[(String, java.util.UUID, Short)],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    if (version >= 1) buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (n, id, e) =>
      c.putStr(buf, n)
      if (version >= 6) putUuid(buf, id)
      buf.putShort(e)
      if (version >= 5) c.putStr(buf, null) // error_message
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readTopicErrorsResponse(buf: ByteBuffer, apiKey: Int,
                              version: Int = 0): Seq[(String, Short)] =
    if (apiKey == 19) readCreateTopicsResponse(buf, version)
    else {
      val c = new Codec(version >= 4)
      if (version >= 1) buf.getInt
      val r = (0 until c.len(buf)).map { _ =>
        val n = c.str(buf)
        if (version >= 6) getUuid(buf)
        val e = buf.getShort
        if (version >= 5) c.str(buf)
        c.tags(buf)
        n -> e
      }
      c.tags(buf)
      r
    }

  // -------------------------------------------------------- txn wire APIs

  /** InitProducerId v0-v4 (InitProducerIdRequest.json): transactional_id
    * transaction_timeout producer_id+producer_epoch (v3+, KIP-360 epoch
    * bump) → throttle error producer_id producer_epoch; flexible v2+.
    */
  def readInitProducerId(buf: ByteBuffer, version: Int = 0): (String, Int) = {
    val c = new Codec(version >= 2)
    val r = (c.str(buf), buf.getInt)
    if (version >= 3) { buf.getLong; buf.getShort } // current pid/epoch
    c.tags(buf)
    r
  }

  def writeInitProducerId(buf: ByteBuffer, txnId: String, timeoutMs: Int,
                          version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putStr(buf, txnId)
    buf.putInt(timeoutMs)
    if (version >= 3) { buf.putLong(-1L); buf.putShort(-1) }
    c.putTags(buf)
  }

  def writeInitProducerIdResponse(buf: ByteBuffer, error: Short,
                                  producerId: Long, epoch: Short,
                                  version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    buf.putShort(error)
    buf.putLong(producerId)
    buf.putShort(epoch)
    c.putTags(buf)
  }

  def readInitProducerIdResponse(buf: ByteBuffer,
                                 version: Int = 0): (Short, Long, Short) = {
    val c = new Codec(version >= 2)
    buf.getInt
    val r = (buf.getShort, buf.getLong, buf.getShort)
    c.tags(buf)
    r
  }

  final case class AddPartitionsToTxnRequest(txnId: String, producerId: Long,
                                             epoch: Short,
                                             topics: Seq[(String, Seq[Int])])

  /** AddPartitionsToTxn v0-v3: txn_id producer_id epoch
    * [topic [partition]]; flexible v3.
    */
  def readAddPartitionsToTxn(buf: ByteBuffer,
                             version: Int = 0): AddPartitionsToTxnRequest = {
    val c = new Codec(version >= 3)
    val txn = c.str(buf)
    val pid = buf.getLong
    val epoch = buf.getShort
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val ps = (0 until c.len(buf)).map(_ => buf.getInt)
      c.tags(buf)
      t -> ps
    }
    c.tags(buf)
    AddPartitionsToTxnRequest(txn, pid, epoch, topics)
  }

  def writeAddPartitionsToTxn(buf: ByteBuffer, r: AddPartitionsToTxnRequest,
                              version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    c.putStr(buf, r.txnId)
    buf.putLong(r.producerId)
    buf.putShort(r.epoch)
    c.putLen(buf, r.topics.size)
    r.topics.foreach { case (t, ps) =>
      c.putStr(buf, t)
      c.putLen(buf, ps.size)
      ps.foreach(buf.putInt)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** AddPartitionsToTxn response: throttle [topic [partition error]]. */
  def writeAddPartitionsToTxnResponse(buf: ByteBuffer,
                                      results: Seq[(String, Seq[(Int, Short)])],
                                      version: Int = 0): Unit =
    writePartitionErrorsResponse(buf, results, new Codec(version >= 3))

  def readAddPartitionsToTxnResponse(buf: ByteBuffer,
                                     version: Int = 0): Seq[(String, Seq[(Int, Short)])] =
    readPartitionErrorsResponse(buf, new Codec(version >= 3))

  private def writePartitionErrorsResponse(buf: ByteBuffer,
                                           results: Seq[(String, Seq[(Int, Short)])],
                                           c: Codec): Unit = {
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, e) =>
        buf.putInt(p); buf.putShort(e); c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  private def readPartitionErrorsResponse(
      buf: ByteBuffer, c: Codec): Seq[(String, Seq[(Int, Short)])] = {
    buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val pe = (buf.getInt, buf.getShort); c.tags(buf); pe
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    r
  }

  final case class TxnPartitions(txnId: String, producerId: Long,
                                 epoch: Short, verifyOnly: Boolean,
                                 topics: Seq[(String, Seq[Int])])

  /** AddPartitionsToTxn v4-v5 (KIP-890): the request batches
    * TRANSACTIONS — [txn_id producer_id epoch verify_only
    * [topic [partition]]] — and `verify_only` checks membership without
    * adding (the broker-side produce-path verification step).
    */
  def readAddPartitionsToTxnV4(buf: ByteBuffer): Seq[TxnPartitions] = {
    val c = new Codec(true)
    val txns = (0 until c.len(buf)).map { _ =>
      val id = c.str(buf)
      val pid = buf.getLong
      val epoch = buf.getShort
      val verify = buf.get() != 0
      val topics = (0 until c.len(buf)).map { _ =>
        val t = c.str(buf)
        val ps = (0 until c.len(buf)).map(_ => buf.getInt)
        c.tags(buf)
        t -> ps
      }
      c.tags(buf)
      TxnPartitions(id, pid, epoch, verify, topics)
    }
    c.tags(buf)
    txns
  }

  def writeAddPartitionsToTxnV4(buf: ByteBuffer,
                                txns: Seq[TxnPartitions]): Unit = {
    val c = new Codec(true)
    c.putLen(buf, txns.size)
    txns.foreach { x =>
      c.putStr(buf, x.txnId)
      buf.putLong(x.producerId)
      buf.putShort(x.epoch)
      buf.put(if (x.verifyOnly) 1: Byte else 0: Byte)
      c.putLen(buf, x.topics.size)
      x.topics.foreach { case (t, ps) =>
        c.putStr(buf, t)
        c.putLen(buf, ps.size)
        ps.foreach(buf.putInt)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** AddPartitionsToTxn v4-v5 response: throttle error
    * [txn_id [topic [partition error]]].
    */
  def writeAddPartitionsToTxnResponseV4(
      buf: ByteBuffer,
      results: Seq[(String, Seq[(String, Seq[(Int, Short)])])]): Unit = {
    val c = new Codec(true)
    buf.putInt(0) // throttle
    buf.putShort(0) // top-level error
    c.putLen(buf, results.size)
    results.foreach { case (id, topics) =>
      c.putStr(buf, id)
      c.putLen(buf, topics.size)
      topics.foreach { case (t, parts) =>
        c.putStr(buf, t)
        c.putLen(buf, parts.size)
        parts.foreach { case (p, e) =>
          buf.putInt(p); buf.putShort(e); c.putTags(buf)
        }
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readAddPartitionsToTxnResponseV4(buf: ByteBuffer)
      : Seq[(String, Seq[(String, Seq[(Int, Short)])])] = {
    val c = new Codec(true)
    buf.getInt // throttle
    buf.getShort // top-level error
    val r = (0 until c.len(buf)).map { _ =>
      val id = c.str(buf)
      val topics = (0 until c.len(buf)).map { _ =>
        val t = c.str(buf)
        val parts = (0 until c.len(buf)).map { _ =>
          val pe = (buf.getInt, buf.getShort); c.tags(buf); pe
        }
        c.tags(buf)
        t -> parts
      }
      c.tags(buf)
      id -> topics
    }
    c.tags(buf)
    r
  }

  /** EndTxn v0-v3: txn_id producer_id epoch committed → throttle error;
    * flexible v3.
    */
  def readEndTxn(buf: ByteBuffer, version: Int = 0): (String, Long, Short, Boolean) = {
    val c = new Codec(version >= 3)
    val r = (c.str(buf), buf.getLong, buf.getShort, buf.get() != 0)
    c.tags(buf)
    r
  }

  def writeEndTxn(buf: ByteBuffer, txnId: String, producerId: Long,
                  epoch: Short, committed: Boolean, version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    c.putStr(buf, txnId)
    buf.putLong(producerId)
    buf.putShort(epoch)
    buf.put(if (committed) 1: Byte else 0: Byte)
    c.putTags(buf)
  }

  def writeEndTxnResponse(buf: ByteBuffer, error: Short,
                          version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    buf.putInt(0) // throttle
    buf.putShort(error)
    c.putTags(buf)
  }

  final case class TxnOffsetCommitRequest(txnId: String, group: String,
                                          producerId: Long, epoch: Short,
                                          topics: Seq[(String, Seq[(Int, Long)])])

  /** TxnOffsetCommit v0-v3 (TxnOffsetCommitRequest.json): txn_id group
    * producer_id epoch generation+member+group_instance_id (v3+)
    * [topic [partition offset leader_epoch (v2+) metadata]] — consumer
    * offsets staged inside the transaction (EOS consume-transform-
    * produce); flexible v3.
    */
  def readTxnOffsetCommit(buf: ByteBuffer,
                          version: Int = 0): TxnOffsetCommitRequest = {
    val c = new Codec(version >= 3)
    val txn = c.str(buf)
    val group = c.str(buf)
    val pid = buf.getLong
    val epoch = buf.getShort
    if (version >= 3) { buf.getInt; c.str(buf); c.str(buf) }
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val off = buf.getLong
        if (version >= 2) buf.getInt // committed_leader_epoch
        c.str(buf) // metadata
        c.tags(buf)
        p -> off
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    TxnOffsetCommitRequest(txn, group, pid, epoch, topics)
  }

  def writeTxnOffsetCommit(buf: ByteBuffer, r: TxnOffsetCommitRequest,
                           version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    c.putStr(buf, r.txnId)
    c.putStr(buf, r.group)
    buf.putLong(r.producerId)
    buf.putShort(r.epoch)
    if (version >= 3) { buf.putInt(-1); c.putStr(buf, ""); c.putStr(buf, null) }
    c.putLen(buf, r.topics.size)
    r.topics.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, off) =>
        buf.putInt(p)
        buf.putLong(off)
        if (version >= 2) buf.putInt(-1)
        c.putStr(buf, null)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  /** TxnOffsetCommit response: throttle [topic [partition error]]. */
  def writeTxnOffsetCommitResponse(buf: ByteBuffer,
                                   results: Seq[(String, Seq[(Int, Short)])],
                                   version: Int = 0): Unit =
    writePartitionErrorsResponse(buf, results, new Codec(version >= 3))

  def readTxnOffsetCommitResponse(buf: ByteBuffer,
                                  version: Int = 0): Seq[(String, Seq[(Int, Short)])] =
    readPartitionErrorsResponse(buf, new Codec(version >= 3))

  /** AddOffsetsToTxn v0-v3 (25): txn_id producer_id epoch group_id →
    * throttle error — registers the group's offsets as txn participants
    * ahead of TxnOffsetCommit (reference TxnAddOffsetsService,
    * `nisshi-broker/src/service/storage.rs:583`); flexible v3.
    */
  def readAddOffsetsToTxn(buf: ByteBuffer,
                          version: Int = 0): (String, Long, Short, String) = {
    val c = new Codec(version >= 3)
    val r = (c.str(buf), buf.getLong, buf.getShort, c.str(buf))
    c.tags(buf)
    r
  }

  def writeAddOffsetsToTxn(buf: ByteBuffer, txnId: String, producerId: Long,
                           epoch: Short, group: String,
                           version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    c.putStr(buf, txnId)
    buf.putLong(producerId)
    buf.putShort(epoch)
    c.putStr(buf, group)
    c.putTags(buf)
  }

  // ---------------------------------------------------------- SASL (F9)

  /** SaslHandshake v0-v1 (17): mechanism → error [enabled mechanisms].
    * Identical layout both versions; the difference is the exchange that
    * follows — v0 clients send SASL tokens as BARE length-prefixed frames
    * (no Kafka header), v1 wraps them in SaslAuthenticate. Never flexible.
    */
  def readSaslHandshake(buf: ByteBuffer): String = readString(buf)
  def writeSaslHandshake(buf: ByteBuffer, mechanism: String): Unit =
    writeString(buf, mechanism)

  def writeSaslHandshakeResponse(buf: ByteBuffer, error: Short,
                                 mechanisms: Seq[String]): Unit = {
    buf.putShort(error)
    buf.putInt(mechanisms.size)
    mechanisms.foreach(writeString(buf, _))
  }

  /** SaslAuthenticate v0-v2 (36): auth bytes → error, message, auth
    * bytes, session_lifetime_ms (v1+); flexible v2.
    */
  def readSaslAuthenticate(buf: ByteBuffer, version: Int = 0): Array[Byte] = {
    val c = new Codec(version >= 2)
    val b = c.bytes(buf)
    c.tags(buf)
    b
  }

  def writeSaslAuthenticate(buf: ByteBuffer, bytes: Array[Byte],
                            version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putBytes(buf, bytes)
    c.putTags(buf)
  }

  def writeSaslAuthenticateResponse(buf: ByteBuffer, error: Short,
                                    message: String, bytes: Array[Byte],
                                    version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putShort(error)
    c.putStr(buf, message)
    c.putBytes(buf, bytes)
    if (version >= 1) buf.putLong(0L) // session_lifetime_ms: no expiry
    c.putTags(buf)
  }

  def readSaslAuthenticateResponse(buf: ByteBuffer,
                                   version: Int = 0): (Short, String, Array[Byte]) = {
    val c = new Codec(version >= 2)
    val r = (buf.getShort, c.str(buf), c.bytes(buf))
    if (version >= 1) buf.getLong
    c.tags(buf)
    r
  }

  // ------------------------------------------------ admin/introspection

  /** DescribeGroups v0-v5: [group_id] include_authorized_operations
    * (v3+) → throttle (v1+) [error group state protocol_type protocol
    * [member_id group_instance_id (v4+) client_id client_host metadata
    * assignment] authorized_operations (v3+)]; flexible v5.
    */
  def readDescribeGroups(buf: ByteBuffer, version: Int = 0): Seq[String] = {
    val c = new Codec(version >= 5)
    val groups = (0 until c.len(buf)).map(_ => c.str(buf))
    if (version >= 3) buf.get() // include_authorized_operations
    c.tags(buf)
    groups
  }

  def writeDescribeGroups(buf: ByteBuffer, groups: Seq[String],
                          version: Int = 0): Unit = {
    val c = new Codec(version >= 5)
    c.putLen(buf, groups.size)
    groups.foreach(c.putStr(buf, _))
    if (version >= 3) buf.put(0: Byte)
    c.putTags(buf)
  }

  final case class DescribedMember(memberId: String, metadata: Array[Byte],
                                   assignment: Array[Byte])
  final case class DescribedGroup(error: Short, group: String, state: String,
                                  protocolType: String, protocol: String,
                                  members: Seq[DescribedMember])

  def writeDescribeGroupsResponse(buf: ByteBuffer, groups: Seq[DescribedGroup],
                                  version: Int = 0): Unit = {
    val c = new Codec(version >= 5)
    if (version >= 1) buf.putInt(0) // throttle
    c.putLen(buf, groups.size)
    groups.foreach { g =>
      buf.putShort(g.error)
      c.putStr(buf, g.group)
      c.putStr(buf, g.state)
      c.putStr(buf, g.protocolType)
      c.putStr(buf, g.protocol)
      c.putLen(buf, g.members.size)
      g.members.foreach { m =>
        c.putStr(buf, m.memberId)
        if (version >= 4) c.putStr(buf, null) // group_instance_id
        c.putStr(buf, "") // client_id
        c.putStr(buf, "") // client_host
        c.putBytes(buf, m.metadata)
        c.putBytes(buf, m.assignment)
        c.putTags(buf)
      }
      if (version >= 3) buf.putInt(Int.MinValue) // authorized_operations
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDescribeGroupsResponse(buf: ByteBuffer,
                                 version: Int = 0): Seq[DescribedGroup] = {
    val c = new Codec(version >= 5)
    if (version >= 1) buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val err = buf.getShort
      val group = c.str(buf)
      val state = c.str(buf)
      val ptype = c.str(buf)
      val proto = c.str(buf)
      val members = (0 until c.len(buf)).map { _ =>
        val id = c.str(buf)
        if (version >= 4) c.str(buf)
        c.str(buf); c.str(buf)
        val m = DescribedMember(id, c.bytes(buf), c.bytes(buf))
        c.tags(buf)
        m
      }
      if (version >= 3) buf.getInt
      c.tags(buf)
      DescribedGroup(err, group, state, ptype, proto, members)
    }
    c.tags(buf)
    r
  }

  /** ListGroups v0-v4: states_filter (v4+) → throttle (v1+) error
    * [group_id protocol_type group_state (v4+)]; flexible v3+.
    */
  def readListGroups(buf: ByteBuffer, version: Int = 0): Seq[String] = {
    val c = new Codec(version >= 3)
    val states =
      if (version >= 4) (0 until c.len(buf)).map(_ => c.str(buf))
      else Seq.empty
    // types_filter (v5+): every group here is classic, so a filter
    // naming only other types yields the empty list at the handler
    if (version >= 5) (0 until c.len(buf)).foreach(_ => c.str(buf))
    c.tags(buf)
    states
  }

  def writeListGroups(buf: ByteBuffer, statesFilter: Seq[String] = Nil,
                      version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    if (version >= 4) {
      c.putLen(buf, statesFilter.size)
      statesFilter.foreach(c.putStr(buf, _))
    }
    if (version >= 5) c.putLen(buf, 0) // types_filter
    c.putTags(buf)
  }

  def writeListGroupsResponse(buf: ByteBuffer, groups: Seq[(String, String)],
                              version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    if (version >= 1) buf.putInt(0) // throttle
    buf.putShort(0) // error
    c.putLen(buf, groups.size)
    groups.foreach { case (g, state) =>
      c.putStr(buf, g)
      c.putStr(buf, "consumer")
      if (version >= 4) c.putStr(buf, state)
      if (version >= 5) c.putStr(buf, "classic") // group_type
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readListGroupsResponse(buf: ByteBuffer, version: Int = 0): Seq[String] = {
    val c = new Codec(version >= 3)
    if (version >= 1) buf.getInt
    buf.getShort
    val r = (0 until c.len(buf)).map { _ =>
      val g = c.str(buf)
      c.str(buf) // protocol_type
      if (version >= 4) c.str(buf) // group_state
      if (version >= 5) c.str(buf) // group_type
      c.tags(buf)
      g
    }
    c.tags(buf)
    r
  }

  /** DeleteRecords v0-v2: [topic [partition offset]] timeout →
    * throttle [topic [partition low_watermark error]]; flexible v2.
    */
  def readDeleteRecords(buf: ByteBuffer,
                        version: Int = 0): Seq[(String, Seq[(Int, Long)])] = {
    val c = new Codec(version >= 2)
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val po = (buf.getInt, buf.getLong); c.tags(buf); po
      }
      c.tags(buf)
      t -> parts
    }
    buf.getInt // timeout_ms
    c.tags(buf)
    topics
  }

  def writeDeleteRecords(buf: ByteBuffer, topics: Seq[(String, Seq[(Int, Long)])],
                         timeoutMs: Int, version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, off) =>
        buf.putInt(p); buf.putLong(off); c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.putInt(timeoutMs)
    c.putTags(buf)
  }

  def writeDeleteRecordsResponse(buf: ByteBuffer,
                                 results: Seq[(String, Seq[(Int, Long, Short)])],
                                 version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, lw, e) =>
        buf.putInt(p); buf.putLong(lw); buf.putShort(e); c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDeleteRecordsResponse(buf: ByteBuffer,
                                version: Int = 0): Seq[(String, Seq[(Int, Long, Short)])] = {
    val c = new Codec(version >= 2)
    buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val x = (buf.getInt, buf.getLong, buf.getShort); c.tags(buf); x
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    r
  }

  /** (api_key, min_version, max_version) triples this facade serves. */
  val SupportedApis: Seq[(Int, Int, Int)] = Seq(
    (0, 3, 11), (1, 4, 17), (2, 0, 9), (3, 1, 12),
    (8, 0, 9), (9, 0, 9), (10, 0, 6), (11, 0, 9), (12, 0, 4), (13, 0, 5),
    (14, 0, 5), (15, 0, 5), (16, 0, 5), (17, 0, 1), (18, 0, 4), (19, 0, 7),
    (20, 0, 6), (21, 0, 2), (22, 0, 5), (24, 0, 5), (25, 0, 4), (26, 0, 4),
    (23, 0, 4), (28, 0, 4), (29, 0, 3), (30, 0, 3), (32, 0, 4), (33, 0, 2),
    (35, 0, 4), (36, 0, 2),
    (37, 0, 3), (42, 0, 2),
    (43, 0, 2), (44, 0, 1), (45, 0, 0),
    (46, 0, 0), (47, 0, 0), (48, 0, 1), (49, 0, 1), (50, 0, 0), (51, 0, 0),
    (60, 0, 1), (61, 0, 0), (65, 0, 0), (66, 0, 1),
    (69, 0, 0), (71, 0, 0), (75, 0, 0))

  /** DeleteGroups v0-v2 (42): [group] → throttle [group error]
    * (reference `nisshi-sans-io/message/DeleteGroupsRequest.json`);
    * flexible v2.
    */
  def readDeleteGroups(buf: ByteBuffer, version: Int = 0): Seq[String] = {
    val c = new Codec(version >= 2)
    val r = (0 until c.len(buf)).map(_ => c.str(buf))
    c.tags(buf)
    r
  }

  def writeDeleteGroups(buf: ByteBuffer, groups: Seq[String],
                        version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putLen(buf, groups.size)
    groups.foreach(c.putStr(buf, _))
    c.putTags(buf)
  }

  def writeDeleteGroupsResponse(buf: ByteBuffer,
                                results: Seq[(String, Short)],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (g, e) =>
      c.putStr(buf, g); buf.putShort(e); c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDeleteGroupsResponse(buf: ByteBuffer,
                               version: Int = 0): Seq[(String, Short)] = {
    val c = new Codec(version >= 2)
    buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val ge = (c.str(buf), buf.getShort); c.tags(buf); ge
    }
    c.tags(buf)
    r
  }

  /** OffsetDelete v0 (47): group [topic [partition]] →
    * error throttle [topic [partition error]] (reference
    * `nisshi-sans-io/message/OffsetDeleteRequest.json`).
    */
  def readOffsetDelete(buf: ByteBuffer): (String, Seq[(String, Seq[Int])]) = {
    val g = readString(buf)
    val topics = (0 until buf.getInt).map { _ =>
      val t = readString(buf)
      t -> (0 until buf.getInt).map(_ => buf.getInt)
    }
    (g, topics)
  }

  def writeOffsetDelete(buf: ByteBuffer, group: String,
                        topics: Seq[(String, Seq[Int])]): Unit = {
    writeString(buf, group)
    buf.putInt(topics.size)
    topics.foreach { case (t, parts) =>
      writeString(buf, t)
      buf.putInt(parts.size)
      parts.foreach(buf.putInt)
    }
  }

  def writeOffsetDeleteResponse(buf: ByteBuffer, error: Short,
                                results: Seq[(String, Seq[(Int, Short)])]): Unit = {
    buf.putShort(error)
    buf.putInt(0) // throttle
    buf.putInt(results.size)
    results.foreach { case (t, parts) =>
      writeString(buf, t)
      buf.putInt(parts.size)
      parts.foreach { case (p, e) => buf.putInt(p); buf.putShort(e) }
    }
  }

  def readOffsetDeleteResponse(buf: ByteBuffer): (Short, Seq[(String, Seq[(Int, Short)])]) = {
    val error = buf.getShort
    buf.getInt // throttle
    val topics = (0 until buf.getInt).map { _ =>
      val t = readString(buf)
      t -> (0 until buf.getInt).map(_ => (buf.getInt, buf.getShort))
    }
    (error, topics)
  }

  /** DescribeConfigs v0-v4 (32): [resource_type resource_name
    * [config_name]] include_synonyms (v1+) include_documentation (v3+)
    * → throttle [error error_msg resource_type resource_name
    * [name value read_only is_default (v0) / config_source (v1+)
    * is_sensitive synonyms (v1+) config_type+documentation (v3+)]];
    * flexible v4.
    */
  def readDescribeConfigs(buf: ByteBuffer,
                          version: Int = 0): Seq[(Byte, String, Option[Seq[String]])] = {
    val c = new Codec(version >= 4)
    val r = (0 until c.len(buf)).map { _ =>
      val rt = buf.get()
      val name = c.str(buf)
      val n = c.len(buf)
      val keys = if (n < 0) None else Some((0 until n).map(_ => c.str(buf)))
      c.tags(buf)
      (rt, name, keys)
    }
    if (version >= 1) buf.get() // include_synonyms
    if (version >= 3) buf.get() // include_documentation
    c.tags(buf)
    r
  }

  def writeDescribeConfigs(buf: ByteBuffer,
                           resources: Seq[(Byte, String, Option[Seq[String]])],
                           version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    c.putLen(buf, resources.size)
    resources.foreach { case (rt, name, keys) =>
      buf.put(rt)
      c.putStr(buf, name)
      keys match {
        case None => c.putLen(buf, -1)
        case Some(ks) => c.putLen(buf, ks.size); ks.foreach(c.putStr(buf, _))
      }
      c.putTags(buf)
    }
    if (version >= 1) buf.put(0: Byte)
    if (version >= 3) buf.put(0: Byte)
    c.putTags(buf)
  }

  def writeDescribeConfigsResponse(
      buf: ByteBuffer,
      results: Seq[(Short, Byte, String, Seq[(String, String)])],
      version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (err, rt, name, configs) =>
      buf.putShort(err)
      c.putStr(buf, null) // error_message
      buf.put(rt)
      c.putStr(buf, name)
      c.putLen(buf, configs.size)
      configs.foreach { case (k, v) =>
        c.putStr(buf, k)
        c.putStr(buf, v)
        buf.put(0: Byte) // read_only
        if (version == 0) buf.put(0: Byte) // is_default
        else buf.put(1: Byte) // config_source: DYNAMIC_TOPIC_CONFIG
        buf.put(0: Byte) // is_sensitive
        if (version >= 1) c.putLen(buf, 0) // synonyms
        if (version >= 3) {
          buf.put(0: Byte) // config_type: UNKNOWN
          c.putStr(buf, null) // documentation
        }
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDescribeConfigsResponse(
      buf: ByteBuffer,
      version: Int = 0): Seq[(Short, Byte, String, Seq[(String, String)])] = {
    val c = new Codec(version >= 4)
    buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val err = buf.getShort
      c.str(buf)
      val rt = buf.get()
      val name = c.str(buf)
      val configs = (0 until c.len(buf)).map { _ =>
        val k = c.str(buf)
        val v = c.str(buf)
        buf.get(); buf.get(); buf.get()
        if (version >= 1)
          (0 until c.len(buf)).foreach { _ =>
            c.str(buf); c.str(buf); buf.get(); c.tags(buf)
          }
        if (version >= 3) { buf.get(); c.str(buf) }
        c.tags(buf)
        k -> v
      }
      c.tags(buf)
      (err, rt, name, configs)
    }
    c.tags(buf)
    r
  }

  /** ApiVersions v0-v4 request: empty before v3; v3+ carries the client
    * software name and version (compact strings) + tagged fields —
    * identification only, read and skipped.
    */
  def readApiVersions(buf: ByteBuffer, version: Int = 0): Unit =
    if (version >= 3 && buf.hasRemaining) {
      readCompactString(buf)
      readCompactString(buf)
      skipTaggedFields(buf)
    }

  def writeApiVersions(buf: ByteBuffer, name: String, softwareVersion: String,
                       version: Int = 0): Unit =
    if (version >= 3) {
      writeCompactString(buf, name)
      writeCompactString(buf, softwareVersion)
      writeEmptyTaggedFields(buf)
    }

  /** ApiVersions response: error [api_key min max] throttle_time_ms
    * (v1+), flexible v3+. NOTE the protocol quirk: the ApiVersions
    * RESPONSE always uses header v0 (no header tagged fields) so that
    * clients can parse the error path before versions are negotiated.
    */
  def writeApiVersionsResponse(buf: ByteBuffer, error: Short = 0,
                               version: Int = 0): Unit = {
    val c = new Codec(version >= 3)
    buf.putShort(error)
    c.putLen(buf, SupportedApis.size)
    SupportedApis.foreach { case (k, lo, hi) =>
      buf.putShort(k.toShort)
      buf.putShort(lo.toShort)
      buf.putShort(hi.toShort)
      c.putTags(buf)
    }
    if (version >= 1) buf.putInt(0) // throttle_time_ms
    c.putTags(buf)
  }

  def readApiVersionsResponse(buf: ByteBuffer, version: Int = 0): Seq[(Int, Int, Int)] = {
    val c = new Codec(version >= 3)
    val err = buf.getShort
    require(err == 0, s"ApiVersions error $err")
    val apis = (0 until c.len(buf)).map { _ =>
      val t = (buf.getShort.toInt, buf.getShort.toInt, buf.getShort.toInt)
      c.tags(buf)
      t
    }
    if (version >= 1) buf.getInt // throttle
    c.tags(buf)
    apis
  }

  /** Metadata v1-v12 request (MetadataRequest.json): [topic] (null array
    * = all), allow_auto_topic_creation (v4+; earlier versions implicitly
    * allow it, KIP-4), include_cluster_authorized_operations (v8-v10),
    * include_topic_authorized_operations (v8+); flexible v9+. v10+ topics
    * carry (TopicId, Name) with the name NULLABLE — by-id addressing,
    * resolved through the name-derived uuid scheme (an unresolved id
    * surfaces as (null, id) for the caller's UNKNOWN_TOPIC_ID row).
    * Returns (requested topics, None = all; allow_auto_topic_creation).
    */
  def readMetadata(buf: ByteBuffer, version: Int = 1,
                   resolveId: java.util.UUID => String = null)
      : (Option[Seq[(String, java.util.UUID)]], Boolean) = {
    val c = new Codec(version >= 9)
    val n = c.len(buf)
    val topics =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val id = if (version >= 10) getUuid(buf) else null
        val named = c.str(buf)
        val t =
          if (named != null || id == null) named
          else if (resolveId ne null) resolveId(id)
          else null
        c.tags(buf)
        (t, id)
      })
    val allowAuto = if (version >= 4) buf.get() != 0 else true
    if (version >= 8 && version <= 10) buf.get() // include_cluster_authorized_operations
    if (version >= 8) buf.get() // include_topic_authorized_operations
    c.tags(buf)
    (topics, allowAuto)
  }

  def writeMetadata(buf: ByteBuffer, topics: Option[Seq[String]],
                    allowAutoCreate: Boolean = true, version: Int = 1): Unit = {
    val c = new Codec(version >= 9)
    topics match {
      case None => c.putLen(buf, -1)
      case Some(ts) =>
        c.putLen(buf, ts.size)
        ts.foreach { t =>
          if (version >= 10) putUuid(buf, new java.util.UUID(0L, 0L))
          c.putStr(buf, t)
          c.putTags(buf)
        }
    }
    if (version >= 4) buf.put(if (allowAutoCreate) 1: Byte else 0: Byte)
    if (version >= 8 && version <= 10) buf.put(0: Byte)
    if (version >= 8) buf.put(0: Byte)
    c.putTags(buf)
  }

  /** Metadata response v1-v12 (MetadataResponse.json): throttle(v3+)
    * [broker] cluster_id(v2+) controller_id [topic: error name
    * topic_id(v10+) is_internal [partition: error idx leader
    * leader_epoch(v7+) replicas isr offline(v5+)]
    * topic_authorized_operations(v8+)] cluster_authorized_operations
    * (v8-v10); flexible v9+. Topics carry a per-topic error (3 =
    * UNKNOWN_TOPIC_OR_PARTITION for explicitly requested absentees);
    * `unknownIds` rows (v10+ by-id requests naming no topic) echo the id
    * with a null name and UNKNOWN_TOPIC_ID.
    */
  def writeMetadataResponse(buf: ByteBuffer, host: String, port: Int,
                            topics: Seq[(String, Int, Short)],
                            version: Int = 1,
                            unknownIds: Seq[java.util.UUID] = Nil): Unit = {
    val c = new Codec(version >= 9)
    if (version >= 3) buf.putInt(0) // throttle
    c.putLen(buf, 1) // one broker
    buf.putInt(0) // node_id
    c.putStr(buf, host)
    buf.putInt(port)
    c.putStr(buf, null) // rack
    c.putTags(buf)
    if (version >= 2) c.putStr(buf, "graft") // cluster_id
    buf.putInt(0) // controller_id
    val unk = if (version >= 10) unknownIds else Nil
    c.putLen(buf, topics.size + unk.size)
    topics.foreach { case (t, nParts, err) =>
      buf.putShort(err)
      c.putStr(buf, t)
      if (version >= 10) putUuid(buf, topicUuid(t))
      buf.put(0: Byte) // is_internal
      c.putLen(buf, nParts)
      (0 until nParts).foreach { p =>
        buf.putShort(0) // error
        buf.putInt(p)   // partition
        buf.putInt(0)   // leader
        if (version >= 7) buf.putInt(0) // leader_epoch
        c.putLen(buf, 1); buf.putInt(0) // replicas
        c.putLen(buf, 1); buf.putInt(0) // isr
        if (version >= 5) c.putLen(buf, 0) // offline_replicas
        c.putTags(buf)
      }
      if (version >= 8) buf.putInt(Int.MinValue) // topic_authorized_operations: null
      c.putTags(buf)
    }
    unk.foreach { id =>
      buf.putShort(100) // UNKNOWN_TOPIC_ID
      // MetadataResponse.Name is nullable only at v12+ (nullableVersions
      // 12+): a strict v10/v11 decoder rejects a null compact string, so
      // emit "" there and null only where the schema allows it
      c.putStr(buf, if (version >= 12) null else "")
      putUuid(buf, id)
      buf.put(0: Byte) // is_internal
      c.putLen(buf, 0)
      buf.putInt(Int.MinValue)
      c.putTags(buf)
    }
    if (version >= 8 && version <= 10)
      buf.putInt(Int.MinValue) // cluster_authorized_operations
    c.putTags(buf)
  }

  final case class MetadataTopic(name: String, partitions: Seq[Int],
                                 error: Short = 0,
                                 topicId: java.util.UUID = null)

  def readMetadataResponse(buf: ByteBuffer, version: Int = 1)
      : (String, Int, Seq[MetadataTopic]) = {
    val c = new Codec(version >= 9)
    if (version >= 3) buf.getInt // throttle
    var host: String = null
    var port = 0
    (0 until c.len(buf)).foreach { _ =>
      buf.getInt // node_id
      host = c.str(buf)
      port = buf.getInt
      c.str(buf) // rack
      c.tags(buf)
    }
    if (version >= 2) c.str(buf) // cluster_id
    buf.getInt // controller
    val topics = (0 until c.len(buf)).map { _ =>
      val err = buf.getShort
      val name = c.str(buf)
      val id = if (version >= 10) getUuid(buf) else null
      buf.get() // is_internal
      val parts = (0 until c.len(buf)).map { _ =>
        buf.getShort
        val p = buf.getInt
        buf.getInt // leader
        if (version >= 7) buf.getInt // leader_epoch
        (0 until c.len(buf)).foreach(_ => buf.getInt) // replicas
        (0 until c.len(buf)).foreach(_ => buf.getInt) // isr
        if (version >= 5) (0 until c.len(buf)).foreach(_ => buf.getInt)
        c.tags(buf)
        p
      }
      if (version >= 8) buf.getInt // topic_authorized_operations
      c.tags(buf)
      MetadataTopic(name, parts, err, id)
    }
    if (version >= 8 && version <= 10) buf.getInt // cluster_authorized_operations
    c.tags(buf)
    (host, port, topics)
  }

  /** Compact (nullable) bytes: uvarint of length+1, 0 = null. */
  def readCompactBytes(buf: ByteBuffer): Array[Byte] = {
    val n = readUnsignedVarint(buf) - 1
    if (n < 0) null
    else {
      val a = new Array[Byte](checkedLen(buf, n))
      buf.get(a)
      a
    }
  }

  def writeCompactBytes(buf: ByteBuffer, a: Array[Byte]): Unit =
    if (a == null) writeUnsignedVarint(0, buf)
    else {
      writeUnsignedVarint(a.length + 1, buf)
      buf.put(a)
      ()
    }

  /** Produce response v3-v11 (ProduceResponse.json): [topic [partition
    * error base_offset log_append_time log_start_offset(v5+)
    * record_errors(v8+) error_message(v8+)]] throttle; flexible v9+. The
    * 4-tuple's last element is the partition's log-start offset.
    * throttleMs > 0 tells the client to back off — the client-quota
    * mechanism (T10 rate limiting).
    */
  def writeProduceResponse(buf: ByteBuffer,
                           results: Seq[(String, Seq[(Int, Short, Long, Long)])],
                           throttleMs: Int = 0, version: Int = 3): Unit = {
    val c = new Codec(version >= 9)
    c.putLen(buf, results.size)
    results.foreach { case (topic, parts) =>
      c.putStr(buf, topic)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, err, baseOffset, logStart) =>
        buf.putInt(p)
        buf.putShort(err)
        buf.putLong(baseOffset)
        buf.putLong(-1L) // log_append_time
        if (version >= 5) buf.putLong(logStart)
        if (version >= 8) {
          c.putLen(buf, 0) // record_errors: none (whole batch accepted/rejected)
          c.putStr(buf, null) // error_message
        }
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.putInt(throttleMs)
    c.putTags(buf)
  }

  /** Reads a Produce response incl. the trailing throttle. */
  def readProduceResponse(buf: ByteBuffer,
                          version: Int = 3): (Seq[(String, Seq[(Int, Short, Long)])], Int) = {
    val c = new Codec(version >= 9)
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        val off = buf.getLong
        buf.getLong // log_append_time
        if (version >= 5) buf.getLong // log_start_offset
        if (version >= 8) {
          (0 until c.len(buf)).foreach { _ =>
            buf.getInt; c.str(buf); c.tags(buf)
          }
          c.str(buf) // error_message
        }
        c.tags(buf)
        (p, err, off)
      }
      c.tags(buf)
      t -> parts
    }
    val throttle = buf.getInt
    c.tags(buf)
    (topics, throttle)
  }

  final case class FetchV12PartResult(partition: Int, error: Short,
                                      highWatermark: Long, lastStable: Long,
                                      logStart: Long,
                                      aborted: Seq[(Long, Long)],
                                      records: Array[Byte])

  /** Fetch response v4-v17 (FetchResponse.json): throttle
    * error+session(v7+) [topic [partition error hw lso log_start(v5+)
    * [aborted: pid first_offset] preferred_read_replica(v11+) records]];
    * flexible v12+. The aborted-transaction list is what read_committed
    * consumers use to drop aborted records client-side. v13+ keys topics
    * by uuid: named entries emit their name-derived uuid; `unknownIds`
    * entries (unresolved request ids, each echoed verbatim with
    * UNKNOWN_TOPIC_ID partitions) ride only on v13+ and are dropped from
    * earlier versions, which have no id to echo. v16's NodeEndpoints is a
    * tagged optional this single-broker facade rightly omits.
    */
  def writeFetchResponse(buf: ByteBuffer,
                         results: Seq[(String, Seq[FetchV12PartResult])],
                         version: Int = 4, error: Short = 0,
                         sessionId: Int = 0, throttleMs: Int = 0,
                         unknownIds: Seq[(java.util.UUID, Seq[FetchV12PartResult])] = Nil)
      : Unit = {
    val c = new Codec(version >= 12)
    buf.putInt(throttleMs)
    if (version >= 7) {
      buf.putShort(error)
      buf.putInt(sessionId)
    }
    val unk = if (version >= 13) unknownIds else Nil
    c.putLen(buf, results.size + unk.size)
    def putParts(parts: Seq[FetchV12PartResult]): Unit = {
      c.putLen(buf, parts.size)
      parts.foreach { r =>
        buf.putInt(r.partition)
        buf.putShort(r.error)
        buf.putLong(r.highWatermark)
        buf.putLong(r.lastStable)
        if (version >= 5) buf.putLong(r.logStart)
        c.putLen(buf, r.aborted.size)
        r.aborted.foreach { case (pid, first) =>
          buf.putLong(pid)
          buf.putLong(first)
          c.putTags(buf)
        }
        if (version >= 11) buf.putInt(-1) // preferred_read_replica
        c.putBytes(buf, r.records)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    results.foreach { case (topic, parts) =>
      if (version >= 13) putUuid(buf, topicUuid(topic))
      else c.putStr(buf, topic)
      putParts(parts)
    }
    unk.foreach { case (id, parts) =>
      putUuid(buf, id)
      putParts(parts)
    }
    c.putTags(buf)
  }

  /** (top-level error code, session id, topics) of a Fetch response;
    * (0, 0) before v7, which has no session header. For v13+ responses,
    * topics resolve through `resolveId` (an unresolvable id yields the
    * uuid's string form so the caller still sees the row).
    */
  def readFetchResponse(buf: ByteBuffer, version: Int = 4,
                        resolveId: java.util.UUID => String = null)
      : (Short, Int, Seq[(String, Seq[FetchV12PartResult])]) = {
    val c = new Codec(version >= 12)
    buf.getInt // throttle
    val (error, sessionId) =
      if (version >= 7) (buf.getShort, buf.getInt) else (0.toShort, 0)
    val topics = (0 until c.len(buf)).map { _ =>
      val t =
        if (version >= 13) {
          val u = getUuid(buf)
          Option(resolveId).flatMap(f => Option(f(u))).getOrElse(u.toString)
        } else c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        val hw = buf.getLong
        val lso = buf.getLong
        val ls = if (version >= 5) buf.getLong else -1L
        val aborted = (0 until c.len(buf)).map { _ =>
          val a = (buf.getLong, buf.getLong)
          c.tags(buf)
          a
        }
        if (version >= 11) buf.getInt // preferred_read_replica
        val records = c.bytes(buf)
        c.tags(buf)
        FetchV12PartResult(p, err, hw, lso, ls, aborted, records)
      }
      c.tags(buf)
      t -> parts
    }
    c.tags(buf)
    (error, sessionId, topics)
  }

  // The benchmark harness (perfbench) compiles against these names, so
  // they stay as aliases of the merged codecs at the versions it speaks.
  def writeProduceV9(buf: ByteBuffer, r: ProduceRequest): Unit = writeProduce(buf, r, 9)
  def readProduceResponseV9(buf: ByteBuffer): (Seq[(String, Seq[(Int, Short, Long)])], Int) =
    readProduceResponse(buf, 9)
  def writeFetchV12(buf: ByteBuffer, r: FetchRequest, version: Int = 12): Unit =
    writeFetch(buf, r, version)
  def readFetchResponseV12(buf: ByteBuffer, version: Int = 12,
                           resolveId: java.util.UUID => String = null)
      : Seq[(String, Seq[FetchV12PartResult])] =
    readFetchResponse(buf, version, resolveId)._3

  // ------------------------------------------------ ACL admin (29/30)

  /** One ACL binding (reference CreateAclsService/DescribeAclsService,
    * `nisshi-broker/src/service/storage.rs:142,163`). Operation and
    * permission_type use the Kafka AclOperation/AclPermissionType int8
    * enums; pattern_type 3 = LITERAL, 4 = PREFIXED.
    */
  final case class AclBinding(resourceType: Byte, resourceName: String,
                              patternType: Byte, principal: String,
                              host: String, operation: Byte,
                              permissionType: Byte)

  /** DescribeAcls v0-v3 (29): resource_type name_filter pattern_type
    * (v1+) principal_filter host_filter operation permission_type →
    * throttle error error_message [resource_type resource_name
    * pattern_type (v1+) [principal host operation permission_type]];
    * flexible v2+. A null filter field matches anything.
    */
  final case class AclFilter(resourceType: Byte, resourceName: String,
                             patternType: Byte, principal: String,
                             host: String, operation: Byte,
                             permissionType: Byte)

  def readDescribeAcls(buf: ByteBuffer, version: Int = 0): AclFilter = {
    val c = new Codec(version >= 2)
    val rt = buf.get()
    val rn = c.str(buf)
    val pt = if (version >= 1) buf.get() else 3: Byte
    val f = AclFilter(rt, rn, pt, c.str(buf), c.str(buf), buf.get(), buf.get())
    c.tags(buf)
    f
  }

  def writeDescribeAcls(buf: ByteBuffer, f: AclFilter, version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.put(f.resourceType)
    c.putStr(buf, f.resourceName)
    if (version >= 1) buf.put(f.patternType)
    c.putStr(buf, f.principal)
    c.putStr(buf, f.host)
    buf.put(f.operation)
    buf.put(f.permissionType)
    c.putTags(buf)
  }

  def writeDescribeAclsResponse(buf: ByteBuffer, acls: Seq[AclBinding],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    c.putStr(buf, null) // error_message
    val byResource = acls.groupBy(a => (a.resourceType, a.resourceName, a.patternType))
      .toSeq.sortBy { case ((rt, rn, pt), _) => (rt.toInt, rn, pt.toInt) }
    c.putLen(buf, byResource.size)
    byResource.foreach { case ((rt, rn, pt), as) =>
      buf.put(rt)
      c.putStr(buf, rn)
      if (version >= 1) buf.put(pt)
      c.putLen(buf, as.size)
      as.foreach { a =>
        c.putStr(buf, a.principal)
        c.putStr(buf, a.host)
        buf.put(a.operation)
        buf.put(a.permissionType)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDescribeAclsResponse(buf: ByteBuffer,
                               version: Int = 0): Seq[AclBinding] = {
    val c = new Codec(version >= 2)
    buf.getInt; buf.getShort; c.str(buf)
    val r = (0 until c.len(buf)).flatMap { _ =>
      val rt = buf.get()
      val rn = c.str(buf)
      val pt = if (version >= 1) buf.get() else 3: Byte
      val as = (0 until c.len(buf)).map { _ =>
        val a = AclBinding(rt, rn, pt, c.str(buf), c.str(buf), buf.get(), buf.get())
        c.tags(buf)
        a
      }
      c.tags(buf)
      as
    }
    c.tags(buf)
    r
  }

  /** CreateAcls v0-v3 (30): [resource_type resource_name pattern_type
    * (v1+) principal host operation permission_type] → throttle
    * [error error_message]; flexible v2+.
    */
  def readCreateAcls(buf: ByteBuffer, version: Int = 0): Seq[AclBinding] = {
    val c = new Codec(version >= 2)
    val r = (0 until c.len(buf)).map { _ =>
      val rt = buf.get()
      val rn = c.str(buf)
      val pt = if (version >= 1) buf.get() else 3: Byte
      val a = AclBinding(rt, rn, pt, c.str(buf), c.str(buf), buf.get(), buf.get())
      c.tags(buf)
      a
    }
    c.tags(buf)
    r
  }

  def writeCreateAcls(buf: ByteBuffer, acls: Seq[AclBinding],
                      version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putLen(buf, acls.size)
    acls.foreach { a =>
      buf.put(a.resourceType)
      c.putStr(buf, a.resourceName)
      if (version >= 1) buf.put(a.patternType)
      c.putStr(buf, a.principal)
      c.putStr(buf, a.host)
      buf.put(a.operation)
      buf.put(a.permissionType)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def writeCreateAclsResponse(buf: ByteBuffer, errors: Seq[Short],
                              version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    c.putLen(buf, errors.size)
    errors.foreach { e =>
      buf.putShort(e)
      c.putStr(buf, null)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readCreateAclsResponse(buf: ByteBuffer, version: Int = 0): Seq[Short] = {
    val c = new Codec(version >= 2)
    buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val e = buf.getShort; c.str(buf); c.tags(buf); e
    }
    c.tags(buf)
    r
  }

  // -------------------------------- IncrementalAlterConfigs (44, KIP-339)

  /** IncrementalAlterConfigs v0-v1: [resource_type resource_name
    * [config_name operation value]] validate_only → throttle
    * [error error_message resource_type resource_name]; flexible v1.
    * Operations: 0 SET, 1 DELETE, 2 APPEND, 3 SUBTRACT.
    */
  final case class AlterConfigOp(name: String, op: Byte, value: String)

  def readIncrementalAlterConfigs(buf: ByteBuffer, version: Int = 0)
      : (Seq[(Byte, String, Seq[AlterConfigOp])], Boolean) = {
    val c = new Codec(version >= 1)
    val resources = (0 until c.len(buf)).map { _ =>
      val rt = buf.get()
      val rn = c.str(buf)
      val ops = (0 until c.len(buf)).map { _ =>
        val o = AlterConfigOp(c.str(buf), buf.get(), c.str(buf))
        c.tags(buf)
        o
      }
      c.tags(buf)
      (rt, rn, ops)
    }
    val validateOnly = buf.get() != 0
    c.tags(buf)
    (resources, validateOnly)
  }

  def writeIncrementalAlterConfigs(buf: ByteBuffer,
                                   resources: Seq[(Byte, String, Seq[AlterConfigOp])],
                                   validateOnly: Boolean = false,
                                   version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    c.putLen(buf, resources.size)
    resources.foreach { case (rt, rn, ops) =>
      buf.put(rt)
      c.putStr(buf, rn)
      c.putLen(buf, ops.size)
      ops.foreach { o =>
        c.putStr(buf, o.name)
        buf.put(o.op)
        c.putStr(buf, o.value)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.put(if (validateOnly) 1: Byte else 0: Byte)
    c.putTags(buf)
  }

  def writeIncrementalAlterConfigsResponse(buf: ByteBuffer,
                                           results: Seq[(Short, Byte, String)],
                                           version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (e, rt, rn) =>
      buf.putShort(e)
      c.putStr(buf, null)
      buf.put(rt)
      c.putStr(buf, rn)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readIncrementalAlterConfigsResponse(buf: ByteBuffer,
                                          version: Int = 0): Seq[(Short, Byte, String)] = {
    val c = new Codec(version >= 1)
    buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val e = buf.getShort
      c.str(buf)
      val x = (e, buf.get(), c.str(buf))
      c.tags(buf)
      x
    }
    c.tags(buf)
    r
  }

  // ---------------------------- ElectLeaders (43, KIP-460)

  /** ElectLeaders v0-v2: [election_type v1+] topic_partitions (null =
    * all) timeout; flexible v2 (reference
    * `nisshi-sans-io/message/ElectLeadersRequest.json`). A single-node
    * broker IS every partition's preferred (and only) leader, so an
    * election request reports ELECTION_NOT_NEEDED (84) per known
    * partition — the same answer a balanced multi-broker cluster
    * gives — and UNKNOWN_TOPIC_OR_PARTITION (3) otherwise.
    */
  def readElectLeaders(buf: ByteBuffer, v: Int)
      : (Byte, Option[Seq[(String, Seq[Int])]]) = {
    val flex = v >= 2
    val electionType: Byte = if (v >= 1) buf.get else 0
    val n = if (flex) readCompactArrayLen(buf) else buf.getInt
    val topics =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val t = if (flex) readCompactString(buf) else readString(buf)
        val np = if (flex) readCompactArrayLen(buf) else buf.getInt
        val ps = (0 until np).map(_ => buf.getInt)
        if (flex) skipTaggedFields(buf)
        t -> ps.toSeq
      }.toSeq)
    buf.getInt // timeout_ms
    if (flex) skipTaggedFields(buf)
    (electionType, topics)
  }

  def writeElectLeaders(buf: ByteBuffer, v: Int,
                        topics: Option[Seq[(String, Seq[Int])]]): Unit = {
    val flex = v >= 2
    if (v >= 1) buf.put(0.toByte) // PREFERRED
    topics match {
      case None => if (flex) writeUnsignedVarint(0, buf) else buf.putInt(-1)
      case Some(ts) =>
        if (flex) writeCompactArrayLen(buf, ts.size) else buf.putInt(ts.size)
        ts.foreach { case (t, ps) =>
          if (flex) writeCompactString(buf, t) else writeString(buf, t)
          if (flex) writeCompactArrayLen(buf, ps.size) else buf.putInt(ps.size)
          ps.foreach(buf.putInt)
          if (flex) writeEmptyTaggedFields(buf)
        }
    }
    buf.putInt(30000) // timeout_ms
    if (flex) writeEmptyTaggedFields(buf)
  }

  def writeElectLeadersResponse(buf: ByteBuffer, v: Int,
      results: Seq[(String, Seq[(Int, Short, String)])]): Unit = {
    val flex = v >= 2
    buf.putInt(0) // throttle
    if (v >= 1) buf.putShort(0) // top-level error
    if (flex) writeCompactArrayLen(buf, results.size)
    else buf.putInt(results.size)
    results.foreach { case (t, prs) =>
      if (flex) writeCompactString(buf, t) else writeString(buf, t)
      if (flex) writeCompactArrayLen(buf, prs.size) else buf.putInt(prs.size)
      prs.foreach { case (p, err, msg) =>
        buf.putInt(p)
        buf.putShort(err)
        if (flex) writeCompactString(buf, msg) else writeString(buf, msg)
        if (flex) writeEmptyTaggedFields(buf)
      }
      if (flex) writeEmptyTaggedFields(buf)
    }
    if (flex) writeEmptyTaggedFields(buf)
  }

  def readElectLeadersResponse(buf: ByteBuffer, v: Int)
      : Seq[(String, Seq[(Int, Short)])] = {
    val flex = v >= 2
    buf.getInt // throttle
    if (v >= 1) buf.getShort // top-level error
    val n = if (flex) readCompactArrayLen(buf) else buf.getInt
    val r = (0 until n).map { _ =>
      val t = if (flex) readCompactString(buf) else readString(buf)
      val np = if (flex) readCompactArrayLen(buf) else buf.getInt
      val prs = (0 until np).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        if (flex) readCompactString(buf) else readString(buf) // message
        if (flex) skipTaggedFields(buf)
        (p, err)
      }
      if (flex) skipTaggedFields(buf)
      t -> prs.toSeq
    }
    if (flex) skipTaggedFields(buf)
    r.toSeq
  }

  // ------------------- AlterPartitionReassignments (45, KIP-455)

  /** AlterPartitionReassignments v0 (flexible): timeout [topic
    * [partition replicas?]] (null replicas = cancel). On a single-node
    * broker the only valid replica set is [0] (accepted, instantly
    * complete); any other target is INVALID_REPLICA_ASSIGNMENT (39),
    * and a cancellation finds NO_REASSIGNMENT_IN_PROGRESS (85).
    */
  def readAlterPartitionReassignments(buf: ByteBuffer)
      : Seq[(String, Seq[(Int, Option[Seq[Int]])])] = {
    buf.getInt // timeout_ms
    val ts = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      val ps = (0 until readCompactArrayLen(buf)).map { _ =>
        val p = buf.getInt
        val nr = readCompactArrayLen(buf)
        val reps =
          if (nr < 0) None else Some((0 until nr).map(_ => buf.getInt).toSeq)
        skipTaggedFields(buf)
        (p, reps)
      }
      skipTaggedFields(buf)
      t -> ps.toSeq
    }
    skipTaggedFields(buf)
    ts.toSeq
  }

  def writeAlterPartitionReassignments(buf: ByteBuffer,
      topics: Seq[(String, Seq[(Int, Option[Seq[Int]])])]): Unit = {
    buf.putInt(30000)
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { case (t, ps) =>
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, ps.size)
      ps.foreach { case (p, reps) =>
        buf.putInt(p)
        reps match {
          case None => writeUnsignedVarint(0, buf)
          case Some(rs) =>
            writeCompactArrayLen(buf, rs.size); rs.foreach(buf.putInt)
        }
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def writeAlterPartitionReassignmentsResponse(buf: ByteBuffer,
      results: Seq[(String, Seq[(Int, Short, String)])]): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // top-level error
    writeCompactString(buf, null)
    writeCompactArrayLen(buf, results.size)
    results.foreach { case (t, prs) =>
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, prs.size)
      prs.foreach { case (p, err, msg) =>
        buf.putInt(p)
        buf.putShort(err)
        writeCompactString(buf, msg)
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readAlterPartitionReassignmentsResponse(buf: ByteBuffer)
      : Seq[(String, Seq[(Int, Short)])] = {
    buf.getInt; buf.getShort; readCompactString(buf)
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      val ps = (0 until readCompactArrayLen(buf)).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        readCompactString(buf)
        skipTaggedFields(buf)
        (p, err)
      }
      skipTaggedFields(buf)
      t -> ps.toSeq
    }
    skipTaggedFields(buf)
    r.toSeq
  }

  // ---------------------------- ListPartitionReassignments (46, KIP-455)

  /** ListPartitionReassignments v0 (flexible): timeout [topic
    * [partition]] (null = all) → throttle error error_message [topic
    * [partition [replicas] [adding] [removing]]]. This broker never has
    * reassignments in flight, so every partition reports its static
    * replica set with empty adding/removing lists.
    */
  def readListPartitionReassignments(buf: ByteBuffer)
      : Option[Seq[(String, Seq[Int])]] = {
    buf.getInt // timeout_ms
    val n = readCompactArrayLen(buf)
    val topics =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val t = readCompactString(buf)
        val ps = (0 until readCompactArrayLen(buf)).map(_ => buf.getInt)
        skipTaggedFields(buf)
        t -> ps
      })
    skipTaggedFields(buf)
    topics
  }

  def writeListPartitionReassignments(buf: ByteBuffer,
                                      topics: Option[Seq[(String, Seq[Int])]]): Unit = {
    buf.putInt(30000)
    topics match {
      case None => writeUnsignedVarint(0, buf)
      case Some(ts) =>
        writeCompactArrayLen(buf, ts.size)
        ts.foreach { case (t, ps) =>
          writeCompactString(buf, t)
          writeCompactArrayLen(buf, ps.size)
          ps.foreach(buf.putInt)
          writeEmptyTaggedFields(buf)
        }
    }
    writeEmptyTaggedFields(buf)
  }

  def writeListPartitionReassignmentsResponse(
      buf: ByteBuffer, topics: Seq[(String, Seq[Int])]): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    writeCompactString(buf, null)
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { case (t, ps) =>
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, ps.size)
      ps.foreach { p =>
        buf.putInt(p)
        writeCompactArrayLen(buf, 1); buf.putInt(0) // replicas
        writeCompactArrayLen(buf, 0)                // adding
        writeCompactArrayLen(buf, 0)                // removing
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readListPartitionReassignmentsResponse(
      buf: ByteBuffer): Seq[(String, Seq[Int])] = {
    buf.getInt; buf.getShort; readCompactString(buf)
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      val ps = (0 until readCompactArrayLen(buf)).map { _ =>
        val p = buf.getInt
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        skipTaggedFields(buf)
        p
      }
      skipTaggedFields(buf)
      t -> ps
    }
    skipTaggedFields(buf)
    r
  }

  // ------------------------------------ SCRAM credential admin (50/51)

  /** Mechanism int8 enum of the SCRAM admin APIs (KIP-554):
    * 1 = SCRAM-SHA-256, 2 = SCRAM-SHA-512.
    */
  def scramMechanismCode(name: String): Byte = name match {
    case "SCRAM-SHA-256" => 1
    case "SCRAM-SHA-512" => 2
    case _ => 0
  }

  def scramMechanismName(code: Byte): Option[String] = code match {
    case 1 => Some("SCRAM-SHA-256")
    case 2 => Some("SCRAM-SHA-512")
    case _ => None
  }

  /** DescribeUserScramCredentials v0 (50, flexible): [user] (null = all)
    * → throttle error error_message [user error error_message
    * [mechanism iterations]].
    */
  def readDescribeUserScram(buf: ByteBuffer): Option[Seq[String]] = {
    val n = readCompactArrayLen(buf)
    val users =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val u = readCompactString(buf)
        skipTaggedFields(buf)
        u
      })
    skipTaggedFields(buf)
    users
  }

  def writeDescribeUserScram(buf: ByteBuffer, users: Option[Seq[String]]): Unit = {
    users match {
      case None => writeUnsignedVarint(0, buf)
      case Some(us) =>
        writeCompactArrayLen(buf, us.size)
        us.foreach { u =>
          writeCompactString(buf, u)
          writeEmptyTaggedFields(buf)
        }
    }
    writeEmptyTaggedFields(buf)
  }

  def writeDescribeUserScramResponse(
      buf: ByteBuffer,
      results: Seq[(String, Short, Seq[(Byte, Int)])]): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    writeCompactString(buf, null)
    writeCompactArrayLen(buf, results.size)
    results.foreach { case (user, err, infos) =>
      writeCompactString(buf, user)
      buf.putShort(err)
      writeCompactString(buf, null)
      writeCompactArrayLen(buf, infos.size)
      infos.foreach { case (mech, iters) =>
        buf.put(mech)
        buf.putInt(iters)
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readDescribeUserScramResponse(
      buf: ByteBuffer): Seq[(String, Short, Seq[(Byte, Int)])] = {
    buf.getInt; buf.getShort; readCompactString(buf)
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val u = readCompactString(buf)
      val e = buf.getShort
      readCompactString(buf)
      val infos = (0 until readCompactArrayLen(buf)).map { _ =>
        val mi = (buf.get(), buf.getInt)
        skipTaggedFields(buf)
        mi
      }
      skipTaggedFields(buf)
      (u, e, infos)
    }
    skipTaggedFields(buf)
    r
  }

  final case class ScramUpsertion(user: String, mechanism: Byte,
                                  iterations: Int, salt: Array[Byte],
                                  saltedPassword: Array[Byte])

  /** AlterUserScramCredentials v0 (51, flexible): [deletion: user
    * mechanism] [upsertion: user mechanism iterations salt
    * salted_password] → throttle [user error error_message]. The client
    * sends the SALTED password (KIP-554) — the server derives
    * StoredKey/ServerKey and never sees the cleartext.
    */
  def readAlterUserScram(buf: ByteBuffer)
      : (Seq[(String, Byte)], Seq[ScramUpsertion]) = {
    val deletions = (0 until readCompactArrayLen(buf)).map { _ =>
      val u = readCompactString(buf)
      val m = buf.get()
      skipTaggedFields(buf)
      (u, m)
    }
    val upsertions = (0 until readCompactArrayLen(buf)).map { _ =>
      val u = readCompactString(buf)
      val m = buf.get()
      val iters = buf.getInt
      val salt = readCompactBytes(buf)
      val sp = readCompactBytes(buf)
      skipTaggedFields(buf)
      ScramUpsertion(u, m, iters, salt, sp)
    }
    skipTaggedFields(buf)
    (deletions, upsertions)
  }

  def writeAlterUserScram(buf: ByteBuffer, deletions: Seq[(String, Byte)],
                          upsertions: Seq[ScramUpsertion]): Unit = {
    writeCompactArrayLen(buf, deletions.size)
    deletions.foreach { case (u, m) =>
      writeCompactString(buf, u)
      buf.put(m)
      writeEmptyTaggedFields(buf)
    }
    writeCompactArrayLen(buf, upsertions.size)
    upsertions.foreach { up =>
      writeCompactString(buf, up.user)
      buf.put(up.mechanism)
      buf.putInt(up.iterations)
      writeCompactBytes(buf, up.salt)
      writeCompactBytes(buf, up.saltedPassword)
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def writeAlterUserScramResponse(buf: ByteBuffer,
                                  results: Seq[(String, Short)]): Unit = {
    buf.putInt(0) // throttle
    writeCompactArrayLen(buf, results.size)
    results.foreach { case (u, e) =>
      writeCompactString(buf, u)
      buf.putShort(e)
      writeCompactString(buf, null)
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readAlterUserScramResponse(buf: ByteBuffer): Seq[(String, Short)] = {
    buf.getInt
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val u = readCompactString(buf)
      val e = buf.getShort
      readCompactString(buf)
      skipTaggedFields(buf)
      (u, e)
    }
    skipTaggedFields(buf)
    r
  }

  // ---------------------------------------------- DescribeCluster (60)

  /** DescribeCluster v0-v1 (flexible): include_authorized_operations
    * endpoint_type (v1+) → throttle error error_message endpoint_type
    * (v1+) cluster_id controller_id [broker_id host port rack]
    * cluster_authorized_operations (reference DescribeClusterService,
    * `nisshi-broker/src/service/storage.rs:289`).
    */
  def readDescribeCluster(buf: ByteBuffer, version: Int = 0): Unit = {
    buf.get() // include_cluster_authorized_operations
    if (version >= 1) buf.get() // endpoint_type
    skipTaggedFields(buf)
  }

  def writeDescribeCluster(buf: ByteBuffer, version: Int = 0): Unit = {
    buf.put(0: Byte)
    if (version >= 1) buf.put(1: Byte)
    writeEmptyTaggedFields(buf)
  }

  def writeDescribeClusterResponse(buf: ByteBuffer, clusterId: String,
                                   host: String, port: Int,
                                   version: Int = 0): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    writeCompactString(buf, null) // error_message
    if (version >= 1) buf.put(1: Byte) // endpoint_type: brokers
    writeCompactString(buf, clusterId)
    buf.putInt(0) // controller_id
    writeCompactArrayLen(buf, 1)
    buf.putInt(0) // broker_id
    writeCompactString(buf, host)
    buf.putInt(port)
    writeCompactString(buf, null) // rack
    writeEmptyTaggedFields(buf)
    buf.putInt(Int.MinValue) // cluster_authorized_operations
    writeEmptyTaggedFields(buf)
  }

  def readDescribeClusterResponse(buf: ByteBuffer,
                                  version: Int = 0): (String, String, Int) = {
    buf.getInt; buf.getShort; readCompactString(buf)
    if (version >= 1) buf.get()
    val clusterId = readCompactString(buf)
    buf.getInt
    val n = readCompactArrayLen(buf)
    require(n >= 1)
    buf.getInt
    val host = readCompactString(buf)
    val port = buf.getInt
    readCompactString(buf)
    skipTaggedFields(buf)
    (1 until n).foreach { _ =>
      buf.getInt; readCompactString(buf); buf.getInt; readCompactString(buf)
      skipTaggedFields(buf)
    }
    buf.getInt
    skipTaggedFields(buf)
    (clusterId, host, port)
  }

  // ------------------------------------- ConsumerGroupDescribe (69)

  final case class CgDescribeMember(memberId: String, epoch: Int,
                                    subscribed: Seq[String],
                                    assignment: Seq[(String, Seq[Int])])
  final case class CgDescribedGroup(error: Short, group: String,
                                    state: String, epoch: Int,
                                    assignor: String,
                                    members: Seq[CgDescribeMember])

  /** ConsumerGroupDescribe v0 (69, flexible, KIP-848 admin view over the
    * classic-protocol coordinator): [group_id]
    * include_authorized_operations → throttle [error error_message
    * group_id state epoch assignment_epoch assignor [member: id
    * instance_id rack_id epoch client_id client_host [subscribed_topic]
    * regex assignment target_assignment] authorized_operations].
    */
  def readConsumerGroupDescribe(buf: ByteBuffer): Seq[String] = {
    val groups = (0 until readCompactArrayLen(buf)).map(_ => readCompactString(buf))
    buf.get() // include_authorized_operations
    skipTaggedFields(buf)
    groups
  }

  def writeConsumerGroupDescribe(buf: ByteBuffer, groups: Seq[String]): Unit = {
    writeCompactArrayLen(buf, groups.size)
    groups.foreach(writeCompactString(buf, _))
    buf.put(0: Byte)
    writeEmptyTaggedFields(buf)
  }

  private def writeCgAssignment(buf: ByteBuffer,
                                assignment: Seq[(String, Seq[Int])]): Unit = {
    writeCompactArrayLen(buf, assignment.size)
    assignment.foreach { case (t, ps) =>
      putUuid(buf, topicUuid(t))
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, ps.size)
      ps.foreach(buf.putInt)
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def writeConsumerGroupDescribeResponse(buf: ByteBuffer,
                                         groups: Seq[CgDescribedGroup]): Unit = {
    buf.putInt(0) // throttle
    writeCompactArrayLen(buf, groups.size)
    groups.foreach { g =>
      buf.putShort(g.error)
      writeCompactString(buf, null) // error_message
      writeCompactString(buf, g.group)
      writeCompactString(buf, g.state)
      buf.putInt(g.epoch)            // group_epoch
      buf.putInt(g.epoch)            // assignment_epoch
      writeCompactString(buf, g.assignor)
      writeCompactArrayLen(buf, g.members.size)
      g.members.foreach { m =>
        writeCompactString(buf, m.memberId)
        writeCompactString(buf, null) // instance_id
        writeCompactString(buf, null) // rack_id
        buf.putInt(m.epoch)
        writeCompactString(buf, "")   // client_id
        writeCompactString(buf, "")   // client_host
        writeCompactArrayLen(buf, m.subscribed.size)
        m.subscribed.foreach(writeCompactString(buf, _))
        writeCompactString(buf, null) // subscribed_topic_regex
        writeCgAssignment(buf, m.assignment)        // assignment
        writeCgAssignment(buf, m.assignment)        // target_assignment
        writeEmptyTaggedFields(buf)
      }
      buf.putInt(Int.MinValue) // authorized_operations
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  private def readCgAssignment(buf: ByteBuffer): Seq[(String, Seq[Int])] = {
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      getUuid(buf)
      val t = readCompactString(buf)
      val ps = (0 until readCompactArrayLen(buf)).map(_ => buf.getInt)
      skipTaggedFields(buf)
      t -> ps
    }
    skipTaggedFields(buf)
    r
  }

  def readConsumerGroupDescribeResponse(buf: ByteBuffer): Seq[CgDescribedGroup] = {
    buf.getInt
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val err = buf.getShort
      readCompactString(buf)
      val group = readCompactString(buf)
      val state = readCompactString(buf)
      val epoch = buf.getInt
      buf.getInt
      val assignor = readCompactString(buf)
      val members = (0 until readCompactArrayLen(buf)).map { _ =>
        val id = readCompactString(buf)
        readCompactString(buf); readCompactString(buf)
        val me = buf.getInt
        readCompactString(buf); readCompactString(buf)
        val subscribed =
          (0 until readCompactArrayLen(buf)).map(_ => readCompactString(buf))
        readCompactString(buf)
        val assignment = readCgAssignment(buf)
        readCgAssignment(buf)
        skipTaggedFields(buf)
        CgDescribeMember(id, me, subscribed, assignment)
      }
      buf.getInt
      skipTaggedFields(buf)
      CgDescribedGroup(err, group, state, epoch, assignor, members)
    }
    skipTaggedFields(buf)
    r
  }

  // ------------------------------- GetTelemetrySubscriptions (71)

  /** GetTelemetrySubscriptions v0 (71, flexible, KIP-714): the broker
    * collects no client telemetry, so the response carries an empty
    * requested-metrics set and a long push interval — the spec'd way to
    * say "nothing subscribed" (reference GetTelemetrySubscriptionsService,
    * `nisshi-broker/src/service/storage.rs:562`).
    */
  def readGetTelemetrySubscriptions(buf: ByteBuffer): java.util.UUID = {
    val u = getUuid(buf)
    skipTaggedFields(buf)
    u
  }

  def writeGetTelemetrySubscriptions(buf: ByteBuffer,
                                     clientInstanceId: java.util.UUID): Unit = {
    putUuid(buf, clientInstanceId)
    writeEmptyTaggedFields(buf)
  }

  def writeGetTelemetrySubscriptionsResponse(
      buf: ByteBuffer, clientInstanceId: java.util.UUID): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    putUuid(buf,
      if (clientInstanceId.getMostSignificantBits == 0 &&
          clientInstanceId.getLeastSignificantBits == 0)
        java.util.UUID.nameUUIDFromBytes("graft-client".getBytes(StandardCharsets.UTF_8))
      else clientInstanceId)
    buf.putInt(0) // subscription_id
    writeCompactArrayLen(buf, 0) // accepted_compression_types
    buf.putInt(300000) // push_interval_ms
    buf.putInt(1024 * 1024) // telemetry_max_bytes
    buf.put(0: Byte) // delta_temporality
    writeCompactArrayLen(buf, 0) // requested_metrics: none
    writeEmptyTaggedFields(buf)
  }

  def readGetTelemetrySubscriptionsResponse(buf: ByteBuffer): java.util.UUID = {
    buf.getInt; buf.getShort
    val u = getUuid(buf)
    buf.getInt
    (0 until readCompactArrayLen(buf)).foreach(_ => buf.get())
    buf.getInt; buf.getInt; buf.get()
    (0 until readCompactArrayLen(buf)).foreach(_ => readCompactString(buf))
    skipTaggedFields(buf)
    u
  }

  // ------------------------------- DescribeTopicPartitions (75)

  /** DescribeTopicPartitions v0 (75, flexible, KIP-966 era metadata):
    * [topic_name] response_partition_limit cursor? → throttle
    * [error name topic_id is_internal [partition: error index leader
    * leader_epoch [replicas] [isr] elr? last_known_elr? [offline]]
    * authorized_operations] next_cursor? (reference
    * DescribeTopicPartitionsService, storage.rs:352). Nullable structs
    * encode as int8 -1 (absent) / 1 (present, fields follow).
    */
  def readDescribeTopicPartitions(buf: ByteBuffer): Seq[String] = {
    val topics = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      skipTaggedFields(buf)
      t
    }
    buf.getInt // response_partition_limit
    if (buf.get() >= 0) { // cursor present
      readCompactString(buf)
      buf.getInt
      skipTaggedFields(buf)
    }
    skipTaggedFields(buf)
    topics
  }

  def writeDescribeTopicPartitions(buf: ByteBuffer, topics: Seq[String]): Unit = {
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { t =>
      writeCompactString(buf, t)
      writeEmptyTaggedFields(buf)
    }
    buf.putInt(2000)
    buf.put(-1: Byte) // no cursor
    writeEmptyTaggedFields(buf)
  }

  def writeDescribeTopicPartitionsResponse(
      buf: ByteBuffer, topics: Seq[(String, Int, Short)]): Unit = {
    buf.putInt(0) // throttle
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { case (t, nParts, err) =>
      buf.putShort(err)
      writeCompactString(buf, t)
      putUuid(buf, topicUuid(t))
      buf.put(0: Byte) // is_internal
      writeCompactArrayLen(buf, nParts)
      (0 until nParts).foreach { p =>
        buf.putShort(0)
        buf.putInt(p)
        buf.putInt(0) // leader_id
        buf.putInt(0) // leader_epoch
        writeCompactArrayLen(buf, 1); buf.putInt(0) // replicas
        writeCompactArrayLen(buf, 1); buf.putInt(0) // isr
        writeUnsignedVarint(0, buf) // eligible_leader_replicas: null
        writeUnsignedVarint(0, buf) // last_known_elr: null
        writeCompactArrayLen(buf, 0) // offline_replicas
        writeEmptyTaggedFields(buf)
      }
      buf.putInt(Int.MinValue) // topic_authorized_operations
      writeEmptyTaggedFields(buf)
    }
    buf.put(-1: Byte) // next_cursor: null
    writeEmptyTaggedFields(buf)
  }

  def readDescribeTopicPartitionsResponse(
      buf: ByteBuffer): Seq[(String, Int, Short)] = {
    buf.getInt
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val err = buf.getShort
      val t = readCompactString(buf)
      getUuid(buf)
      buf.get()
      val nParts = readCompactArrayLen(buf)
      (0 until nParts).foreach { _ =>
        buf.getShort; buf.getInt; buf.getInt; buf.getInt
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        val elr = readCompactArrayLen(buf)
        if (elr > 0) (0 until elr).foreach(_ => buf.getInt)
        val lke = readCompactArrayLen(buf)
        if (lke > 0) (0 until lke).foreach(_ => buf.getInt)
        (0 until readCompactArrayLen(buf)).foreach(_ => buf.getInt)
        skipTaggedFields(buf)
      }
      buf.getInt
      skipTaggedFields(buf)
      (t, nParts, err)
    }
    if (buf.hasRemaining && buf.get() >= 0) {
      readCompactString(buf); buf.getInt; skipTaggedFields(buf)
    }
    if (buf.hasRemaining) skipTaggedFields(buf)
    r
  }
  // ------------------------------------------------ round-8 admin breadth

  /** AlterConfigs v0-v2 (33) — the LEGACY full-set alter: the submitted
    * config REPLACES the resource's whole dynamic config (Kafka's
    * pre-KIP-339 semantics, which is why IncrementalAlterConfigs
    * exists). Flexible v2+.
    */
  def readAlterConfigs(buf: ByteBuffer, version: Int = 0)
      : (Seq[(Byte, String, Seq[(String, String)])], Boolean) = {
    val c = new Codec(version >= 2)
    val res = (0 until c.len(buf)).map { _ =>
      val rt = buf.get()
      val rn = c.str(buf)
      val cfgs = (0 until c.len(buf)).map { _ =>
        val kv = (c.str(buf), c.str(buf)); c.tags(buf); kv
      }
      c.tags(buf)
      (rt, rn, cfgs)
    }
    val validateOnly = buf.get() != 0
    c.tags(buf)
    (res, validateOnly)
  }

  def writeAlterConfigs(buf: ByteBuffer,
                        res: Seq[(Byte, String, Seq[(String, String)])],
                        validateOnly: Boolean, version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putLen(buf, res.size)
    res.foreach { case (rt, rn, cfgs) =>
      buf.put(rt); c.putStr(buf, rn)
      c.putLen(buf, cfgs.size)
      cfgs.foreach { case (k, v) =>
        c.putStr(buf, k); c.putStr(buf, v); c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.put(if (validateOnly) 1.toByte else 0.toByte)
    c.putTags(buf)
  }

  def writeAlterConfigsResponse(buf: ByteBuffer,
                                results: Seq[(Short, String, Byte, String)],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (err, msg, rt, rn) =>
      buf.putShort(err); c.putStr(buf, msg); buf.put(rt); c.putStr(buf, rn)
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readAlterConfigsResponse(buf: ByteBuffer, version: Int = 0)
      : Seq[(Short, String, Byte, String)] = {
    val c = new Codec(version >= 2)
    buf.getInt // throttle
    val r = (0 until c.len(buf)).map { _ =>
      val e = (buf.getShort, c.str(buf), buf.get(), c.str(buf))
      c.tags(buf); e
    }
    c.tags(buf)
    r
  }

  /** CreatePartitions v0-v3 (37): grow a topic's partition count.
    * Placement assignments are read and ignored (single stateless
    * node). Flexible v2+.
    */
  def readCreatePartitions(buf: ByteBuffer, version: Int = 0)
      : (Seq[(String, Int)], Boolean) = {
    val c = new Codec(version >= 2)
    val topics = (0 until c.len(buf)).map { _ =>
      val name = c.str(buf)
      val count = buf.getInt
      val nAssign = c.len(buf)
      if (nAssign > 0) (0 until nAssign).foreach { _ =>
        (0 until c.len(buf)).foreach(_ => buf.getInt)
        c.tags(buf)
      }
      c.tags(buf)
      (name, count)
    }
    buf.getInt // timeout_ms
    val validateOnly = buf.get() != 0
    c.tags(buf)
    (topics, validateOnly)
  }

  def writeCreatePartitions(buf: ByteBuffer, topics: Seq[(String, Int)],
                            validateOnly: Boolean, version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    c.putLen(buf, topics.size)
    topics.foreach { case (t, n) =>
      c.putStr(buf, t); buf.putInt(n)
      c.putLen(buf, -1) // null assignments
      c.putTags(buf)
    }
    buf.putInt(30000)
    buf.put(if (validateOnly) 1.toByte else 0.toByte)
    c.putTags(buf)
  }

  def writeCreatePartitionsResponse(buf: ByteBuffer,
                                    results: Seq[(String, Short, String)],
                                    version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    c.putLen(buf, results.size)
    results.foreach { case (t, err, msg) =>
      c.putStr(buf, t); buf.putShort(err); c.putStr(buf, msg); c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readCreatePartitionsResponse(buf: ByteBuffer, version: Int = 0)
      : Seq[(String, Short, String)] = {
    val c = new Codec(version >= 2)
    buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val e = (c.str(buf), buf.getShort, c.str(buf)); c.tags(buf); e
    }
    c.tags(buf)
    r
  }

  /** DescribeProducers v0 (61, KIP-664): per-partition active
    * idempotent-producer state. Flexible from v0.
    */
  def readDescribeProducers(buf: ByteBuffer): Seq[(String, Seq[Int])] = {
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      val parts = (0 until readCompactArrayLen(buf)).map(_ => buf.getInt)
      skipTaggedFields(buf)
      (t, parts)
    }
    skipTaggedFields(buf)
    r
  }

  def writeDescribeProducers(buf: ByteBuffer,
                             topics: Seq[(String, Seq[Int])]): Unit = {
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, parts.size)
      parts.foreach(buf.putInt)
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  /** One active producer row: (producerId, epoch, lastSequence,
    * lastTimestamp, coordinatorEpoch, currentTxnStartOffset).
    */
  type ProducerRow = (Long, Int, Int, Long, Int, Long)

  def writeDescribeProducersResponse(
      buf: ByteBuffer,
      topics: Seq[(String, Seq[(Int, Short, Seq[ProducerRow])])]): Unit = {
    buf.putInt(0) // throttle
    writeCompactArrayLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      writeCompactString(buf, t)
      writeCompactArrayLen(buf, parts.size)
      parts.foreach { case (p, err, producers) =>
        buf.putInt(p); buf.putShort(err)
        writeCompactString(buf, null) // error_message
        writeCompactArrayLen(buf, producers.size)
        producers.foreach { case (pid, epoch, lastSeq, lastTs, ce, txnStart) =>
          buf.putLong(pid); buf.putInt(epoch); buf.putInt(lastSeq)
          buf.putLong(lastTs); buf.putInt(ce); buf.putLong(txnStart)
          writeEmptyTaggedFields(buf)
        }
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readDescribeProducersResponse(buf: ByteBuffer)
      : Seq[(String, Seq[(Int, Short, Seq[ProducerRow])])] = {
    buf.getInt
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val t = readCompactString(buf)
      val parts = (0 until readCompactArrayLen(buf)).map { _ =>
        val p = buf.getInt
        val err = buf.getShort
        readCompactString(buf)
        val producers = (0 until readCompactArrayLen(buf)).map { _ =>
          val row = (buf.getLong, buf.getInt, buf.getInt, buf.getLong,
            buf.getInt, buf.getLong)
          skipTaggedFields(buf)
          row
        }
        skipTaggedFields(buf)
        (p, err, producers)
      }
      skipTaggedFields(buf)
      (t, parts)
    }
    skipTaggedFields(buf)
    r
  }

  /** DescribeTransactions v0 (65, KIP-664). Flexible from v0. */
  def readDescribeTransactions(buf: ByteBuffer): Seq[String] = {
    val r = (0 until readCompactArrayLen(buf)).map(_ => readCompactString(buf))
    skipTaggedFields(buf)
    r
  }

  def writeDescribeTransactions(buf: ByteBuffer, ids: Seq[String]): Unit = {
    writeCompactArrayLen(buf, ids.size)
    ids.foreach(writeCompactString(buf, _))
    writeEmptyTaggedFields(buf)
  }

  /** One transaction state row: (error, txnId, state, timeoutMs,
    * startTimeMs, producerId, producerEpoch, topics -> partitions).
    */
  type TxnStateRow =
    (Short, String, String, Int, Long, Long, Short, Seq[(String, Seq[Int])])

  def writeDescribeTransactionsResponse(buf: ByteBuffer,
                                        states: Seq[TxnStateRow]): Unit = {
    buf.putInt(0) // throttle
    writeCompactArrayLen(buf, states.size)
    states.foreach { case (err, id, st, tmo, t0, pid, epoch, topics) =>
      buf.putShort(err)
      writeCompactString(buf, id)
      writeCompactString(buf, st)
      buf.putInt(tmo); buf.putLong(t0); buf.putLong(pid); buf.putShort(epoch)
      writeCompactArrayLen(buf, topics.size)
      topics.foreach { case (t, parts) =>
        writeCompactString(buf, t)
        writeCompactArrayLen(buf, parts.size)
        parts.foreach(buf.putInt)
        writeEmptyTaggedFields(buf)
      }
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readDescribeTransactionsResponse(buf: ByteBuffer): Seq[TxnStateRow] = {
    buf.getInt
    val r = (0 until readCompactArrayLen(buf)).map { _ =>
      val err = buf.getShort
      val id = readCompactString(buf)
      val st = readCompactString(buf)
      val tmo = buf.getInt
      val t0 = buf.getLong
      val pid = buf.getLong
      val epoch = buf.getShort
      val topics = (0 until readCompactArrayLen(buf)).map { _ =>
        val t = readCompactString(buf)
        val parts = (0 until readCompactArrayLen(buf)).map(_ => buf.getInt)
        skipTaggedFields(buf)
        (t, parts)
      }
      skipTaggedFields(buf)
      (err, id, st, tmo, t0, pid, epoch, topics)
    }
    skipTaggedFields(buf)
    r
  }

  /** ListTransactions v0-v1 (66, KIP-664): v1 adds a duration filter
    * (read and honoured against the txn start time). Flexible from v0.
    */
  def readListTransactions(buf: ByteBuffer, version: Int = 0)
      : (Seq[String], Seq[Long], Long) = {
    val states = (0 until readCompactArrayLen(buf)).map(_ => readCompactString(buf))
    val pids = (0 until readCompactArrayLen(buf)).map(_ => buf.getLong)
    val minDuration = if (version >= 1) buf.getLong else -1L
    skipTaggedFields(buf)
    (states, pids, minDuration)
  }

  def writeListTransactions(buf: ByteBuffer, stateFilters: Seq[String],
                            pidFilters: Seq[Long], minDurationMs: Long = -1L,
                            version: Int = 0): Unit = {
    writeCompactArrayLen(buf, stateFilters.size)
    stateFilters.foreach(writeCompactString(buf, _))
    writeCompactArrayLen(buf, pidFilters.size)
    pidFilters.foreach(buf.putLong)
    if (version >= 1) buf.putLong(minDurationMs)
    writeEmptyTaggedFields(buf)
  }

  def writeListTransactionsResponse(buf: ByteBuffer,
                                    unknownStateFilters: Seq[String],
                                    states: Seq[(String, Long, String)]): Unit = {
    buf.putInt(0) // throttle
    buf.putShort(0) // error_code
    writeCompactArrayLen(buf, unknownStateFilters.size)
    unknownStateFilters.foreach(writeCompactString(buf, _))
    writeCompactArrayLen(buf, states.size)
    states.foreach { case (id, pid, st) =>
      writeCompactString(buf, id); buf.putLong(pid); writeCompactString(buf, st)
      writeEmptyTaggedFields(buf)
    }
    writeEmptyTaggedFields(buf)
  }

  def readListTransactionsResponse(buf: ByteBuffer)
      : (Seq[String], Seq[(String, Long, String)]) = {
    buf.getInt; buf.getShort
    val unknown = (0 until readCompactArrayLen(buf)).map(_ => readCompactString(buf))
    val states = (0 until readCompactArrayLen(buf)).map { _ =>
      val e = (readCompactString(buf), buf.getLong, readCompactString(buf))
      skipTaggedFields(buf)
      e
    }
    skipTaggedFields(buf)
    (unknown, states)
  }

  /** DescribeClientQuotas v0-v1 (48): component filters over the quota
    * entity space. match_type: 0 = exact name, 1 = default entity,
    * 2 = any. Flexible v1+.
    */
  def readDescribeClientQuotas(buf: ByteBuffer, version: Int = 0)
      : (Seq[(String, Byte, String)], Boolean) = {
    val c = new Codec(version >= 1)
    val comps = (0 until c.len(buf)).map { _ =>
      val e = (c.str(buf), buf.get(), c.str(buf)); c.tags(buf); e
    }
    val strict = buf.get() != 0
    c.tags(buf)
    (comps, strict)
  }

  def writeDescribeClientQuotas(buf: ByteBuffer,
                                comps: Seq[(String, Byte, String)],
                                strict: Boolean, version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    c.putLen(buf, comps.size)
    comps.foreach { case (et, mt, m) =>
      c.putStr(buf, et); buf.put(mt); c.putStr(buf, m); c.putTags(buf)
    }
    buf.put(if (strict) 1.toByte else 0.toByte)
    c.putTags(buf)
  }

  def writeDescribeClientQuotasResponse(
      buf: ByteBuffer,
      entries: Seq[(Seq[(String, String)], Seq[(String, Double)])],
      version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    buf.putInt(0) // throttle
    buf.putShort(0) // error
    c.putStr(buf, null) // error_message
    c.putLen(buf, entries.size)
    entries.foreach { case (entity, values) =>
      c.putLen(buf, entity.size)
      entity.foreach { case (et, en) =>
        c.putStr(buf, et); c.putStr(buf, en); c.putTags(buf)
      }
      c.putLen(buf, values.size)
      values.foreach { case (k, v) =>
        c.putStr(buf, k); buf.putDouble(v); c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readDescribeClientQuotasResponse(buf: ByteBuffer, version: Int = 0)
      : Seq[(Seq[(String, String)], Seq[(String, Double)])] = {
    val c = new Codec(version >= 1)
    buf.getInt; buf.getShort; c.str(buf)
    val r = (0 until c.len(buf)).map { _ =>
      val entity = (0 until c.len(buf)).map { _ =>
        val e = (c.str(buf), c.str(buf)); c.tags(buf); e
      }
      val values = (0 until c.len(buf)).map { _ =>
        val v = (c.str(buf), buf.getDouble); c.tags(buf); v
      }
      c.tags(buf)
      (entity, values)
    }
    c.tags(buf)
    r
  }

  /** AlterClientQuotas v0-v1 (49): per-entity quota upserts/removes.
    * Flexible v1+.
    */
  def readAlterClientQuotas(buf: ByteBuffer, version: Int = 0)
      : (Seq[(Seq[(String, String)], Seq[(String, Double, Boolean)])], Boolean) = {
    val c = new Codec(version >= 1)
    val entries = (0 until c.len(buf)).map { _ =>
      val entity = (0 until c.len(buf)).map { _ =>
        val e = (c.str(buf), c.str(buf)); c.tags(buf); e
      }
      val ops = (0 until c.len(buf)).map { _ =>
        val o = (c.str(buf), buf.getDouble, buf.get() != 0); c.tags(buf); o
      }
      c.tags(buf)
      (entity, ops)
    }
    val validateOnly = buf.get() != 0
    c.tags(buf)
    (entries, validateOnly)
  }

  def writeAlterClientQuotas(
      buf: ByteBuffer,
      entries: Seq[(Seq[(String, String)], Seq[(String, Double, Boolean)])],
      validateOnly: Boolean, version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    c.putLen(buf, entries.size)
    entries.foreach { case (entity, ops) =>
      c.putLen(buf, entity.size)
      entity.foreach { case (et, en) =>
        c.putStr(buf, et); c.putStr(buf, en); c.putTags(buf)
      }
      c.putLen(buf, ops.size)
      ops.foreach { case (k, v, rm) =>
        c.putStr(buf, k); buf.putDouble(v)
        buf.put(if (rm) 1.toByte else 0.toByte); c.putTags(buf)
      }
      c.putTags(buf)
    }
    buf.put(if (validateOnly) 1.toByte else 0.toByte)
    c.putTags(buf)
  }

  def writeAlterClientQuotasResponse(
      buf: ByteBuffer,
      entries: Seq[(Short, String, Seq[(String, String)])],
      version: Int = 0): Unit = {
    val c = new Codec(version >= 1)
    buf.putInt(0) // throttle
    c.putLen(buf, entries.size)
    entries.foreach { case (err, msg, entity) =>
      buf.putShort(err); c.putStr(buf, msg)
      c.putLen(buf, entity.size)
      entity.foreach { case (et, en) =>
        c.putStr(buf, et); c.putStr(buf, en); c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readAlterClientQuotasResponse(buf: ByteBuffer, version: Int = 0)
      : Seq[(Short, String, Seq[(String, String)])] = {
    val c = new Codec(version >= 1)
    buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val err = buf.getShort
      val msg = c.str(buf)
      val entity = (0 until c.len(buf)).map { _ =>
        val e = (c.str(buf), c.str(buf)); c.tags(buf); e
      }
      c.tags(buf)
      (err, msg, entity)
    }
    c.tags(buf)
    r
  }
  /** OffsetForLeaderEpoch v0-v4 (23) — consumer truncation detection.
    * Field gating per version: current_leader_epoch v2+, replica_id
    * v3+, flexible v4. Single-node semantics: the served epoch is
    * always 0 and end_offset the log end, so a client's
    * truncation check always passes.
    */
  def readOffsetForLeaderEpoch(buf: ByteBuffer, version: Int = 0)
      : Seq[(String, Seq[(Int, Int)])] = {
    val c = new Codec(version >= 4)
    if (version >= 3) buf.getInt // replica_id
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        if (version >= 2) buf.getInt // current_leader_epoch
        val epoch = buf.getInt
        c.tags(buf)
        (p, epoch)
      }
      c.tags(buf)
      (t, parts)
    }
    c.tags(buf)
    r
  }

  def writeOffsetForLeaderEpoch(buf: ByteBuffer,
                                topics: Seq[(String, Seq[(Int, Int)])],
                                version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    if (version >= 3) buf.putInt(-1)
    c.putLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, epoch) =>
        buf.putInt(p)
        if (version >= 2) buf.putInt(-1)
        buf.putInt(epoch)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def writeOffsetForLeaderEpochResponse(
      buf: ByteBuffer,
      topics: Seq[(String, Seq[(Short, Int, Int, Long)])],
      version: Int = 0): Unit = {
    val c = new Codec(version >= 4)
    if (version >= 2) buf.putInt(0) // throttle
    c.putLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (err, p, epoch, end) =>
        buf.putShort(err)
        buf.putInt(p)
        if (version >= 1) buf.putInt(epoch)
        buf.putLong(end)
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    c.putTags(buf)
  }

  def readOffsetForLeaderEpochResponse(buf: ByteBuffer, version: Int = 0)
      : Seq[(String, Seq[(Short, Int, Int, Long)])] = {
    val c = new Codec(version >= 4)
    if (version >= 2) buf.getInt
    val r = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val err = buf.getShort
        val p = buf.getInt
        val epoch = if (version >= 1) buf.getInt else -1
        val end = buf.getLong
        c.tags(buf)
        (err, p, epoch, end)
      }
      c.tags(buf)
      (t, parts)
    }
    c.tags(buf)
    r
  }

  /** DescribeLogDirs v0-v2 (35): per-partition on-disk sizes of the
    * single log dir. Null topics = describe everything. Flexible v2.
    */
  def readDescribeLogDirs(buf: ByteBuffer, version: Int = 0)
      : Option[Seq[(String, Seq[Int])]] = {
    val c = new Codec(version >= 2)
    val n = c.len(buf)
    val r =
      if (n < 0) None
      else Some((0 until n).map { _ =>
        val t = c.str(buf)
        val parts = (0 until c.len(buf)).map(_ => buf.getInt)
        c.tags(buf)
        (t, parts)
      })
    c.tags(buf)
    r
  }

  def writeDescribeLogDirs(buf: ByteBuffer,
                           topics: Option[Seq[(String, Seq[Int])]],
                           version: Int = 0): Unit = {
    val c = new Codec(version >= 2)
    topics match {
      case None => c.putLen(buf, -1)
      case Some(ts) =>
        c.putLen(buf, ts.size)
        ts.foreach { case (t, parts) =>
          c.putStr(buf, t)
          c.putLen(buf, parts.size)
          parts.foreach(buf.putInt)
          c.putTags(buf)
        }
    }
    c.putTags(buf)
  }

  def writeDescribeLogDirsResponse(
      buf: ByteBuffer, logDir: String,
      topics: Seq[(String, Seq[(Int, Long)])],
      version: Int = 0,
      totalBytes: Long = -1L, usableBytes: Long = -1L): Unit = {
    val c = new Codec(version >= 2)
    buf.putInt(0) // throttle
    if (version >= 3) buf.putShort(0) // top-level error_code
    c.putLen(buf, 1) // one log dir on a single-node broker
    buf.putShort(0) // error_code
    c.putStr(buf, logDir)
    c.putLen(buf, topics.size)
    topics.foreach { case (t, parts) =>
      c.putStr(buf, t)
      c.putLen(buf, parts.size)
      parts.foreach { case (p, size) =>
        buf.putInt(p)
        buf.putLong(size)
        buf.putLong(0L) // offset_lag
        buf.put(0.toByte) // is_future_key
        c.putTags(buf)
      }
      c.putTags(buf)
    }
    if (version >= 4) { buf.putLong(totalBytes); buf.putLong(usableBytes) }
    c.putTags(buf)
    c.putTags(buf)
  }

  def readDescribeLogDirsResponse(buf: ByteBuffer, version: Int = 0)
      : (String, Seq[(String, Seq[(Int, Long)])]) = {
    val c = new Codec(version >= 2)
    buf.getInt // throttle
    if (version >= 3) buf.getShort // top-level error
    val n = c.len(buf)
    require(n == 1, s"single-node broker reports one log dir, got $n")
    buf.getShort // error
    val dir = c.str(buf)
    val topics = (0 until c.len(buf)).map { _ =>
      val t = c.str(buf)
      val parts = (0 until c.len(buf)).map { _ =>
        val p = buf.getInt
        val size = buf.getLong
        buf.getLong // offset_lag
        buf.get() // is_future_key
        c.tags(buf)
        (p, size)
      }
      c.tags(buf)
      (t, parts)
    }
    if (version >= 4) { buf.getLong; buf.getLong } // total/usable bytes
    c.tags(buf)
    c.tags(buf)
    (dir, topics)
  }
}
