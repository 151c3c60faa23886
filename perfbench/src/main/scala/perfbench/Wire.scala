package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import graft.facade.{WireProtocol => W}
import graft.functions.RecordBatchCodec

/** One Kafka client connection over loopback, speaking the flexible
  * request versions a current client sends. Requests are framed and
  * parsed with the program's own client-side codecs in `WireProtocol`,
  * the same ones its socket specs drive.
  *
  * Every call is one client-side span: `trace.request` marks the
  * connection busy, so a storage call on the broker thread can be tied
  * to the request that caused it.
  */
final class Wire(port: Int, val conn: Int, trace: Trace) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val buf = ByteBuffer.allocate(8 << 20)
  private var corr = 0

  private def call(api: Short, version: Short, name: String)
                  (body: ByteBuffer => Unit): ByteBuffer =
    trace.request(conn, name) {
      corr += 1
      buf.clear()
      buf.putShort(api).putShort(version).putInt(corr)
      W.writeString(buf, "perfbench")
      val flex = W.isFlexible(api, version)
      if (flex) W.writeEmptyTaggedFields(buf)
      body(buf)
      out.writeInt(buf.position())
      out.write(buf.array(), 0, buf.position())
      out.flush()
      val resp = new Array[Byte](in.readInt())
      in.readFully(resp)
      val r = ByteBuffer.wrap(resp)
      if (r.getInt != corr) throw new IllegalStateException("correlation id mismatch")
      if (flex) W.skipTaggedFields(r)
      r
    }

  /** Produce v9, acks=1, one record batch to one partition: (error, base offset). */
  def produce(topic: String, partition: Int, batch: Array[Byte]): (Short, Long) = {
    val r = call(0, 9, "produce") { b =>
      W.writeProduceV9(b, W.ProduceRequest(1, 30000, Seq(
        W.ProduceTopic(topic, Seq(W.ProducePartition(partition, batch))))))
    }
    W.readProduceResponseV9(r)._1 match {
      case Seq((_, Seq((_, err, base)))) => (err, base)
      case other => throw new IllegalStateException(s"unexpected produce response $other")
    }
  }

  /** Fetch v12, sessionless, read_uncommitted, one partition. */
  def fetch(topic: String, partition: Int, offset: Long,
            maxBytes: Int): W.FetchV12PartResult = {
    val r = call(1, 12, "fetch") { b =>
      W.writeFetchV12(b, W.FetchRequest(0, 1, maxBytes, 0, Seq(
        W.FetchTopic(topic, Seq(W.FetchPartition(partition, offset, maxBytes))))))
    }
    W.readFetchResponseV12(r) match {
      case Seq((_, Seq(p))) => p
      case other => throw new IllegalStateException(s"unexpected fetch response $other")
    }
  }

  def findCoordinator(group: String): Short = {
    val r = call(10, 4, "find_coordinator")(b => W.writeFindCoordinator(b, group, 4))
    W.readFindCoordinatorResponse(r, 4)._1
  }

  /** JoinGroup v6 then SyncGroup v5 as the group's only member; returns
    * the partitions the broker assigned to this member.
    */
  def joinAndSync(group: String, topic: String): Seq[(String, Seq[Int])] = {
    val jr = W.readJoinGroupResponse(call(11, 6, "join_group") { b =>
      W.writeJoinGroup(b, W.JoinGroupRequest(group, 30000, "", "consumer",
        Seq(W.JoinProtocol("range", W.encodeSubscription(Seq(topic))))), 6)
    }, 6)
    if (jr.error != 0) throw new IllegalStateException(s"JoinGroup error ${jr.error}")
    val (err, assignment) = W.readSyncGroupResponse(call(14, 5, "sync_group") { b =>
      W.writeSyncGroup(b, W.SyncGroupRequest(group, jr.generation, jr.memberId, Nil), 5)
    }, 5)
    if (err != 0) throw new IllegalStateException(s"SyncGroup error $err")
    W.decodeAssignment(assignment)
  }

  def offsetCommit(group: String, topic: String, partition: Int, offset: Long): Short = {
    val r = call(8, 8, "offset_commit") { b =>
      W.writeOffsetCommit(b, W.OffsetCommitRequest(group, Seq(
        W.CommitTopic(topic, Seq(W.CommitPartition(partition, offset, ""))))), 8)
    }
    W.readOffsetCommitResponse(r, 8) match {
      case Seq((_, Seq((_, e)))) => e
      case other => throw new IllegalStateException(s"unexpected commit response $other")
    }
  }

  def close(): Unit = sock.close()
}

object Wire {
  /** One uncompressed record batch of (key, value) records, with a fixed
    * timestamp so that the bytes sent depend on the seed alone.
    */
  def batch(records: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val ts = 1704067200000L
    RecordBatchCodec.encode(RecordBatchCodec.Batch(0L, 0, 0, ts, ts, -1L, -1, -1,
      records.zipWithIndex.map { case ((k, v), i) =>
        RecordBatchCodec.Record(i, 0L, k, v, Nil)
      }))
  }
}
