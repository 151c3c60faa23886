package graft.facade

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.util.concurrent.{ArrayBlockingQueue, Executors}
import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import graft.functions.RecordBatchCodec
import graft.model.Model.{ErrorCode, Topition}
import graft.storage.Storage

/** S1/S2 — minimal Kafka-wire TCP facade over a [[Storage]] engine:
  * length-framed requests, per-connection thread, api-key router
  * (reference `nisshi-broker/src/broker.rs:216` listen,
  * `nisshi-service/src/stream.rs:41-133` per-conn service,
  * `nisshi-broker/src/service.rs:36-60` route).
  *
  * Serves 48 APIs (see [[WireProtocol.SupportedApis]]): the
  * produce/fetch/offsets data plane, the full consumer-group membership
  * flow (FindCoordinator → JoinGroup → SyncGroup → Heartbeat →
  * LeaveGroup, backed by [[graft.coordinator.GroupCoordinator]] —
  * assignments are computed by the coordinator's negotiated assignor, so
  * the leader's SyncGroup assignment payload is accepted but not
  * required), topic lifecycle + dynamic config
  * (CreateTopics/DeleteTopics/DescribeConfigs/IncrementalAlterConfigs),
  * the transactional flows (InitProducerId → AddPartitionsToTxn /
  * AddOffsetsToTxn → Produce/TxnOffsetCommit → EndTxn), ACL and SCRAM
  * credential admin, legacy full-set AlterConfigs, CreatePartitions,
  * durable client quotas (Describe/AlterClientQuotas feed both the
  * produce and fetch throttles), the KIP-664 introspection plane
  * (DescribeProducers,
  * DescribeTransactions, ListTransactions), and the
  * cluster-introspection set (DescribeCluster,
  * DescribeTopicPartitions, ConsumerGroupDescribe,
  * ListPartitionReassignments, GetTelemetrySubscriptions).
  *
  * This layer is deliberately thin and non-Spark: the storage engine
  * behind it does all data processing.
  */
final class BrokerServer(storage: Storage, host: String = "127.0.0.1",
                         port: Int = 0,
                         scramUsers: Map[String, String] = Map.empty,
                         produceQuotaBytesPerSec: Long = Long.MaxValue,
                         offsetsRetentionMs: Long = 7L * 24 * 60 * 60 * 1000,
                         // auto.create.topics.enable: a Metadata request
                         // naming an absent topic creates it (when the
                         // request's allow_auto_topic_creation agrees)
                         autoCreateTopics: Boolean = false,
                         autoCreatePartitions: Int = 1) {
  import WireProtocol._

  private val coordinator = new graft.coordinator.GroupCoordinator(storage)

  // SCRAM credentials live in Storage (reference
  // Storage::upsert_user_scram_credential, lib.rs:1420-1432):
  // constructor-supplied users are (re-)registered per mechanism — a
  // fresh credential is derived when none exists OR when the stored one
  // no longer verifies the configured password, so a password rotated in
  // config takes effect on restart instead of being silently ignored.
  scramUsers.foreach { case (u, pw) =>
    Scram.Mechanisms.foreach { m =>
      val matches = storage.scramCredential(u, m.name).exists { c =>
        java.security.MessageDigest.isEqual(
          Scram.credential(pw, c.salt, c.iterations, m).storedKey, c.storedKey)
      }
      if (!matches) {
        val salt = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(salt)
        val c = Scram.credential(pw, salt, Scram.DefaultIterations, m)
        storage.upsertScramCredential(u,
          graft.model.Model.ScramCredential(m.name, c.salt, c.iterations,
            c.storedKey, c.serverKey))
      }
    }
  }
  // evaluated per connection, not snapshotted at construction: a user
  // upserted out of band activates the gate for every later connection
  private def authRequired: Boolean =
    scramUsers.nonEmpty || storage.listScramCredentials().nonEmpty

  /** Per-connection authentication + in-flight SCRAM exchange. The auth
    * gate is latched at connect time from the credential store.
    */
  private final class ConnState(val gate: Boolean) {
    var scram: Option[Scram.ServerSession] = None
    var firstDone = false
    /** SaslHandshake v0 negotiated: the frames that follow are BARE SASL
      * tokens (no Kafka header, no correlation id) until auth completes —
      * the pre-KIP-152 exchange legacy clients still use.
      */
    var legacyTokens = false
    def authenticated: Boolean = scram.exists(_.authenticatedUser.isDefined)
  }

  /** Kafka's socket.request.max.bytes default (100 MiB). */
  private val MaxFrameBytes = 100 * 1024 * 1024

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(host, port))
  @volatile private var running = true
  private val pool = Executors.newCachedThreadPool()

  // maintenance tick: expire members whose session lapsed, so a consumer
  // that crashed without LeaveGroup releases its partitions
  private val maintenance =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-broker-maintenance"); t.setDaemon(true); t
    }
  maintenance.scheduleWithFixedDelay(
    () => try {
      coordinator.expireMembers()
      evictFetchSessions()
      // offsets.retention sweep: committed offsets of memberless groups
      // expire after the retention window (storage clock), as in Kafka
      storage.expireOffsets(offsetsRetentionMs, coordinator.hasMembers)
      ()
    } catch { case NonFatal(_) => },
    1, 1, java.util.concurrent.TimeUnit.SECONDS)

  val boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        pool.submit(new Runnable { def run(): Unit = serve(sock) })
        ()
      } catch { case NonFatal(_) if !running => case NonFatal(_) => }
    }
  }, "graft-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running = false
    server.close()
    pool.shutdownNow()
    maintenance.shutdownNow()
    ()
  }

  private def serve(sock: Socket): Unit = {
    // one buffered write and flush per response frame, sent at once: with
    // Nagle on, the second small write of a frame would wait for the
    // client's delayed ACK (about 40 ms) whenever the answer is fast
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val conn = new ConnState(authRequired)
    try {
      while (running) {
        val len = in.readInt()
        // socket.request.max.bytes discipline: a hostile length field
        // must not drive the allocation (drop the connection instead)
        if (len < 0 || len > MaxFrameBytes)
          throw new IllegalArgumentException(s"frame length $len out of bounds")
        val frame = new Array[Byte](len)
        in.readFully(frame)
        if (conn.legacyTokens && !conn.authenticated) {
          // SaslHandshake v0 exchange: the frame IS the SASL token and
          // the reply frame carries the raw server token, headerless
          val reply = legacySaslToken(frame, conn)
          out.writeInt(reply.length)
          out.write(reply)
          out.flush()
          if (conn.authenticated) conn.legacyTokens = false
        } else {
          val buf = ByteBuffer.wrap(frame)
          val header = readHeader(buf)
          val resp = route(header, buf, conn)
          out.writeInt(resp.length + 4)
          out.writeInt(header.correlationId)
          out.write(resp)
          out.flush()
        }
      }
    } catch {
      case _: java.io.EOFException => // client closed
      case NonFatal(_) =>
    } finally sock.close()
  }

  /** One step of the headerless SASL exchange behind SaslHandshake v0;
    * an auth failure throws, dropping the connection (the legacy
    * protocol has no error frame to send).
    */
  private def legacySaslToken(frame: Array[Byte], conn: ConnState): Array[Byte] = {
    val session = conn.scram.getOrElse(
      throw new IllegalStateException("no SASL session"))
    val msg = new String(frame, "UTF-8")
    val result =
      if (!conn.firstDone) { conn.firstDone = true; session.handleClientFirst(msg) }
      else session.handleClientFinal(msg)
    result match {
      case Right(reply) => reply.getBytes("UTF-8")
      case Left(err) => throw new IllegalStateException(s"SASL failed: $err")
    }
  }

  private def route(header: RequestHeader, buf: ByteBuffer,
                    conn: ConnState): Array[Byte] = {
    // SASL gate: with users configured, only ApiVersions and the SASL
    // exchange are served pre-auth; anything else drops the connection
    // (the standard broker behavior on an authenticated listener)
    if (conn.gate && !conn.authenticated &&
        header.apiKey != 18 && header.apiKey != 17 && header.apiKey != 36)
      throw new IllegalStateException("unauthenticated")
    // never parse a version we don't serve: outside the advertised range
    // the body layout is unknown, so drop the connection rather than
    // misparse (ApiVersions has its own downgrade dance and is exempt)
    if (header.apiKey != 18)
      SupportedApis.find(_._1 == header.apiKey).foreach { case (_, lo, hi) =>
        if (header.apiVersion < lo || header.apiVersion > hi)
          throw new UnsupportedOperationException(
            s"api ${header.apiKey} v${header.apiVersion} not served")
      }
    val out = responseBuffer()
    // flexible versions use response header v1 (correlation id + tagged
    // fields); ApiVersions is the protocol-mandated exception (always
    // header v0 so a confused client can still parse the downgrade), and
    // fetch writes its own header into its self-sized buffer
    if (header.apiKey != 18 && header.apiKey != 1 &&
        isFlexible(header.apiKey, header.apiVersion))
      writeEmptyTaggedFields(out)
    // fetch may swap in a bigger buffer sized from the materialized
    // records (the min-one-record overshoot can exceed any pre-size)
    var used = out
    header.apiKey match {
      case 17 =>
        val mechName = readSaslHandshake(buf)
        Scram.mechanism(mechName) match {
          case Some(m) if conn.gate =>
            conn.scram = Some(new Scram.ServerSession(
              u => storage.scramCredential(u, m.name).map(c =>
                Scram.Credential(c.salt, c.iterations, c.storedKey, c.serverKey)),
              mech = m))
            conn.firstDone = false
            // v0: the SASL tokens that follow arrive as bare frames
            conn.legacyTokens = header.apiVersion == 0
            writeSaslHandshakeResponse(out, 0, Scram.Mechanisms.map(_.name))
          case _ =>
            writeSaslHandshakeResponse(out, 33, // UNSUPPORTED_SASL_MECHANISM
              if (!conn.gate) Seq.empty else Scram.Mechanisms.map(_.name))
        }
      case 36 =>
        val v = header.apiVersion.toInt
        val bytes = Option(readSaslAuthenticate(buf, v)).getOrElse(Array.empty[Byte])
        val msg = new String(bytes, "UTF-8")
        conn.scram match {
          case None =>
            writeSaslAuthenticateResponse(out, 58, "handshake first",
              Array.empty, v)
          case Some(session) =>
            val result =
              if (!conn.firstDone) { conn.firstDone = true; session.handleClientFirst(msg) }
              else session.handleClientFinal(msg)
            result match {
              case Right(reply) =>
                writeSaslAuthenticateResponse(out, 0, null,
                  reply.getBytes("UTF-8"), v)
              case Left(err) => // SASL_AUTHENTICATION_FAILED
                writeSaslAuthenticateResponse(out, 58, err, Array.empty, v)
            }
        }
      case 18 =>
        // modern clients bootstrap with v3/v4 (v4 is wire-identical to
        // v3). Above our max: UNSUPPORTED_VERSION with the v0 body
        // listing what we serve, so the client can downgrade (the
        // standard ApiVersions dance).
        val v = header.apiVersion.toInt
        if (v > 4) writeApiVersionsResponse(out, error = 35)
        else {
          readApiVersions(buf, v)
          writeApiVersionsResponse(out, version = v)
        }
      case 3 =>
        val v = header.apiVersion.toInt
        lazy val known = storage.topics
        val (requested, allowAuto) = readMetadata(buf, v,
          resolveId = u => known.find(t => topicUuid(t) == u).orNull)
        // v10+ by-id entries naming no topic: echo the id with
        // UNKNOWN_TOPIC_ID; resolved/named entries flow as names
        val unknownIds = requested.toSeq.flatten
          .collect { case (null, id) if id != null => id }
        val names = requested.map(_.collect { case (n, _) if n != null => n })
        writeMetadataResponse(out, host, boundPort,
          metadataTopics(names, allowAuto), v, unknownIds)
      case 0 =>
        handleProduce(buf, out, header.apiVersion)
      case 1 =>
        used = handleFetch(buf, out, header.apiVersion)
      case 2 => handleListOffsets(buf, out, header.apiVersion.toInt)
      case 8 =>
        val v = header.apiVersion.toInt
        val req = readOffsetCommit(buf, v)
        val results = req.topics.map { t =>
          t.topic -> t.partitions.map { p =>
            storage.offsetCommit(req.group, Topition(t.topic, p.partition), p.offset)
            (p.partition, 0.toShort)
          }
        }
        writeOffsetCommitResponse(out, results, v)
      case 9 =>
        val v = header.apiVersion.toInt
        // a null topic array (v2+) asks for every offset the group has
        def resultsFor(req: OffsetFetchRequest)
            : Seq[(String, Seq[(Int, Long)])] = {
          val requested = Option(req.topics).getOrElse {
            storage.groupOffsets(req.group)
              .groupBy(_._1.topic).toSeq.sortBy(_._1)
              .map { case (t, os) => t -> os.map(_._1.partition).sorted }
          }
          requested.map { case (t, parts) =>
            t -> parts.map { p =>
              p -> storage.offsetFetch(req.group, Topition(t, p)).getOrElse(-1L)
            }
          }
        }
        if (v >= 8) {
          // KIP-709 batched-group form
          val groups = readOffsetFetchV8(buf, v)
          writeOffsetFetchResponseV8(out,
            groups.map(r => r.group -> resultsFor(r)))
        } else {
          val req = readOffsetFetch(buf, v)
          writeOffsetFetchResponse(out, resultsFor(req), v)
        }
      case 10 =>
        // group key — single-broker: always us (v4 batches keys)
        val keys = readFindCoordinator(buf, header.apiVersion.toInt)
        writeFindCoordinatorResponse(out, 0, 0, host, boundPort,
          header.apiVersion.toInt, keys)
      case 11 => handleJoinGroup(buf, out, header.apiVersion.toInt)
      case 12 =>
        val v = header.apiVersion.toInt
        val (group, gen, member) = readHeartbeat(buf, v)
        writeErrorResponse(out, coordinator.heartbeat(group, member, gen)
          .fold(groupError, _ => 0.toShort), v, v >= 4)
      case 13 =>
        val v = header.apiVersion.toInt
        val (group, members) = readLeaveGroup(buf, v)
        val results = members.map { m =>
          m -> coordinator.leave(group, m).fold(groupError, _ => 0.toShort)
        }
        writeLeaveGroupResponse(out, results, v)
      case 14 => handleSyncGroup(buf, out, header.apiVersion.toInt)
      case 15 =>
        val v = header.apiVersion.toInt
        val names = readDescribeGroups(buf, v)
        writeDescribeGroupsResponse(out, names.map(describeGroup), v)
      case 16 =>
        val v = header.apiVersion.toInt
        val statesFilter = readListGroups(buf, v).toSet
        val groups = coordinator.listGroups()
          .map(g => g -> groupKafkaState(g))
          .filter { case (_, st) =>
            statesFilter.isEmpty || statesFilter.contains(st)
          }
        writeListGroupsResponse(out, groups, v)
      case 42 =>
        val v = header.apiVersion.toInt
        val names = readDeleteGroups(buf, v)
        val results = names.map { g =>
          if (coordinator.hasMembers(g)) g -> 68.toShort // NON_EMPTY_GROUP
          else if (storage.groupState(g).isEmpty && storage.groupOffsets(g).isEmpty)
            g -> 69.toShort // GROUP_ID_NOT_FOUND
          else { storage.deleteGroup(g); g -> 0.toShort }
        }
        writeDeleteGroupsResponse(out, results, v)
      case 47 =>
        val (group, reqTopics) = readOffsetDelete(buf)
        if (storage.groupState(group).isEmpty && storage.groupOffsets(group).isEmpty)
          writeOffsetDeleteResponse(out, 69, Seq.empty) // GROUP_ID_NOT_FOUND
        else {
          val subscribed = coordinator.subscribedTopics(group)
          val results = reqTopics.map { case (t, parts) =>
            t -> parts.map { p =>
              if (subscribed.contains(t)) (p, 86.toShort) // GROUP_SUBSCRIBED_TO_TOPIC
              else { storage.deleteOffset(group, Topition(t, p)); (p, 0.toShort) }
            }
          }
          writeOffsetDeleteResponse(out, 0, results)
        }
      case 32 =>
        val v = header.apiVersion.toInt
        val req = readDescribeConfigs(buf, v)
        val results = req.map { case (rt, name, keys) =>
          if (rt != 2 || !storage.topics.contains(name)) // topic resources only
            (3.toShort, rt, name, Seq.empty[(String, String)])
          else {
            val cfg = storage.topicConfig(name).toSeq.sortBy(_._1)
            val selected = keys match {
              case None => cfg
              case Some(ks) => cfg.filter { case (k, _) => ks.contains(k) }
            }
            (0.toShort, rt, name, selected)
          }
        }
        writeDescribeConfigsResponse(out, results, v)
      case 21 =>
        val v = header.apiVersion.toInt
        val req = readDeleteRecords(buf, v)
        val results = req.map { case (t, parts) =>
          t -> parts.map { case (p, off) =>
            if (!storage.topics.contains(t)) (p, -1L, 3.toShort)
            else (p, storage.deleteRecords(Topition(t, p), off), 0.toShort)
          }
        }
        writeDeleteRecordsResponse(out, results, v)
      case 19 =>
        val v = header.apiVersion.toInt
        val (reqTopics, validateOnly) = readCreateTopics(buf, v)
        val results = reqTopics.map { t =>
          if (storage.topics.contains(t.name))
            (t.name, 36.toShort, -1, Map.empty[String, String]) // TOPIC_ALREADY_EXISTS
          else if (t.numPartitions > 10000)
            // INVALID_PARTITIONS: an absurd count would otherwise make
            // every later Metadata response overflow its buffer
            (t.name, 37.toShort, -1, Map.empty[String, String])
          else {
            val nParts = math.max(t.numPartitions, 1)
            // validate_only (v1+): report the outcome, create nothing
            if (!validateOnly) storage.createTopic(t.name, nParts, t.configs)
            (t.name, 0.toShort, nParts, t.configs)
          }
        }
        writeCreateTopicsResponse(out, results, v)
      case 20 =>
        val v = header.apiVersion.toInt
        val reqTopics = readDeleteTopics(buf, v)
        val known = storage.topics
        val results = reqTopics.map { case (name, id) =>
          // v6 may address by topic id alone — resolve via the
          // name-derived uuid scheme
          val n = Option(name).getOrElse(
            known.find(t => topicUuid(t) == id).orNull)
          if (n == null || !known.contains(n)) {
            // echo the REQUESTED id for unresolved by-id entries so the
            // client can correlate the error row
            val echoId = Option(n).map(topicUuid)
              .orElse(Option(id)).getOrElse(topicUuid(""))
            (Option(n).getOrElse(""), echoId, 3.toShort) // UNKNOWN_TOPIC_OR_PARTITION
          } else {
            storage.deleteTopic(n)
            probedPartitions.remove(n) // a recreated topic re-probes
            (n, topicUuid(n), 0.toShort)
          }
        }
        writeDeleteTopicsResponse(out, results, v)
      case 22 =>
        val v = header.apiVersion.toInt
        val (txnId, _) = readInitProducerId(buf, v)
        val (pid, epoch) = storage.initProducer(txnId)
        writeInitProducerIdResponse(out, 0, pid, epoch.toShort, v)
      case 24 =>
        val v = header.apiVersion.toInt
        if (v >= 4) {
          // KIP-890 batched-transaction form; verify_only checks the
          // partition is ALREADY in the ongoing txn without adding it
          val txns = readAddPartitionsToTxnV4(buf)
          val results = txns.map { x =>
            val desc = if (x.verifyOnly)
              storage.describeTransaction(x.txnId) else None
            // KIP-890 verification must fence stale producers: a txn id
            // alone is not an identity — the request's producerId/epoch
            // must match the coordinator's view before membership counts
            val fenceErr: Short = desc match {
              case _ if !x.verifyOnly => 0
              case Some(d) if d.producerId != x.producerId =>
                49 // INVALID_PRODUCER_ID_MAPPING
              case Some(d) if d.producerEpoch != x.epoch.toInt =>
                47 // INVALID_PRODUCER_EPOCH
              case _ => 0
            }
            val inTxn: Set[Topition] =
              if (fenceErr != 0) Set.empty
              else desc.filter(_.state == "Ongoing")
                .map(_.partitions.toSet).getOrElse(Set.empty)
            x.txnId -> x.topics.map { case (t, parts) =>
              t -> parts.map { p =>
                val tp = Topition(t, p)
                val e: Short =
                  if (x.verifyOnly) {
                    if (fenceErr != 0) fenceErr
                    else if (inTxn.contains(tp)) 0
                    else 48 // INVALID_TXN_STATE
                  } else storage.txnBegin(x.producerId, tp,
                    x.epoch.toInt).toShort
                (p, e)
              }
            }
          }
          writeAddPartitionsToTxnResponseV4(out, results)
        } else {
          val req = readAddPartitionsToTxn(buf, v)
          val results = req.topics.map { case (t, parts) =>
            t -> parts.map { p =>
              (p, storage.txnBegin(req.producerId, Topition(t, p),
                req.epoch.toInt).toShort)
            }
          }
          writeAddPartitionsToTxnResponse(out, results, v)
        }
      case 25 =>
        val v = header.apiVersion.toInt
        val (_, pid, epoch, group) = readAddOffsetsToTxn(buf, v)
        writeEndTxnResponse(out,
          storage.txnAddOffsets(pid, group, epoch.toInt).toShort, v)
      case 26 =>
        val v = header.apiVersion.toInt
        val (_, pid, epoch, committed) = readEndTxn(buf, v)
        writeEndTxnResponse(out,
          storage.txnEnd(pid, committed, epoch.toInt).toShort, v)
      case 28 =>
        val v = header.apiVersion.toInt
        val req = readTxnOffsetCommit(buf, v)
        val results = req.topics.map { case (t, parts) =>
          t -> parts.map { case (p, off) =>
            (p, storage.txnOffsetCommit(req.producerId, req.group,
              Topition(t, p), off, req.epoch.toInt).toShort)
          }
        }
        writeTxnOffsetCommitResponse(out, results, v)
      case 29 =>
        val v = header.apiVersion.toInt
        val f = readDescribeAcls(buf, v)
        def matches(filter: String, value: String): Boolean =
          filter == null || filter == value
        val acls = storage.listAcls().filter { a =>
          (f.resourceType == 1 || f.resourceType.toInt == a.resourceType) &&
            matches(f.resourceName, a.resourceName) &&
            // pattern_type_filter: 0 UNKNOWN / 1 ANY / 2 MATCH are
            // wildcard-ish here (single-broker, no prefix hierarchy)
            (f.patternType <= 2 || f.patternType.toInt == a.patternType) &&
            matches(f.principal, a.principal) &&
            matches(f.host, a.host) &&
            (f.operation == 1 || f.operation.toInt == a.operation) &&
            (f.permissionType == 1 || f.permissionType.toInt == a.permissionType)
        }.map(a => AclBinding(a.resourceType.toByte, a.resourceName,
          a.patternType.toByte, a.principal, a.host, a.operation.toByte,
          a.permissionType.toByte))
        writeDescribeAclsResponse(out, acls, v)
      case 30 =>
        val v = header.apiVersion.toInt
        val creations = readCreateAcls(buf, v)
        storage.createAcls(creations.map(a =>
          graft.model.Model.AclEntry(a.resourceType.toInt, a.resourceName,
            a.patternType.toInt, a.principal, a.host, a.operation.toInt,
            a.permissionType.toInt)))
        writeCreateAclsResponse(out, creations.map(_ => 0.toShort), v)
      case 44 =>
        val v = header.apiVersion.toInt
        val (resources, validateOnly) = readIncrementalAlterConfigs(buf, v)
        val results = resources.map { case (rt, rn, ops) =>
          if (rt != 2) (42.toShort, rt, rn) // INVALID_REQUEST: topics only
          else if (!storage.topics.contains(rn)) (3.toShort, rt, rn)
          else if (ops.exists(o => o.op != 0 && o.op != 1))
            (42.toShort, rt, rn) // APPEND/SUBTRACT: list configs unsupported
          else {
            if (!validateOnly) {
              val sets = ops.filter(_.op == 0).map(o => o.name -> o.value).toMap
              val dels = ops.filter(_.op == 1).map(_.name)
              storage.alterTopicConfig(rn, sets, dels)
            }
            (0.toShort, rt, rn)
          }
        }
        writeIncrementalAlterConfigsResponse(out, results, v)
      case 43 =>
        // ElectLeaders: this broker is every partition's preferred (and
        // only) leader, so a requested election is already satisfied —
        // ELECTION_NOT_NEEDED per known partition, the same answer a
        // balanced multi-broker cluster gives
        val electV = header.apiVersion.toInt
        val (_, requested) = readElectLeaders(buf, electV)
        val topics = requested.getOrElse(
          storage.topics.map(t => t -> (0 until partitionsOf(t)).toSeq))
        val electResults = topics.map { case (t, ps) =>
          val known = storage.topics.contains(t)
          val nPart = if (known) partitionsOf(t) else 0
          t -> ps.map { p =>
            if (!known || p < 0 || p >= nPart)
              (p, 3.toShort, "unknown topic or partition") // UNKNOWN_TOPIC_OR_PARTITION
            else
              (p, 84.toShort, "preferred leader already elected") // ELECTION_NOT_NEEDED
          }
        }
        writeElectLeadersResponse(out, electV, electResults)
      case 45 =>
        // AlterPartitionReassignments: the only valid replica set on a
        // single-node cluster is [0] (accepted, instantly complete);
        // anything else cannot be hosted, and a cancellation never
        // finds a reassignment in flight
        val reassignReqs = readAlterPartitionReassignments(buf)
        val reassignResults = reassignReqs.map { case (t, ps) =>
          val known = storage.topics.contains(t)
          val nPart = if (known) partitionsOf(t) else 0
          t -> ps.map { case (p, reps) =>
            if (!known || p < 0 || p >= nPart)
              (p, 3.toShort, "unknown topic or partition")
            else reps match {
              case None =>
                (p, 85.toShort, "no reassignment in progress") // NO_REASSIGNMENT_IN_PROGRESS
              case Some(Seq(0)) => (p, 0.toShort, null: String)
              case Some(_) =>
                (p, 39.toShort, // INVALID_REPLICA_ASSIGNMENT
                  "single-node cluster: the only valid replica set is [0]")
            }
          }
        }
        writeAlterPartitionReassignmentsResponse(out, reassignResults)
      case 46 =>
        val requested = readListPartitionReassignments(buf)
        val topics = requested.getOrElse(
          storage.topics.map(t => t -> (0 until partitionsOf(t))))
          .map { case (t, ps) =>
            t -> (if (ps.isEmpty) 0 until partitionsOf(t) else ps).toSeq
          }
        // no reassignments ever in flight on a single-node broker: echo
        // the static replica sets so admin tooling sees "none pending"
        writeListPartitionReassignmentsResponse(out,
          topics.filter { case (t, _) => storage.topics.contains(t) })
      case 50 =>
        val requested = readDescribeUserScram(buf)
        val byUser = storage.listScramCredentials()
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val users = requested.getOrElse(byUser.keys.toSeq.sorted)
        val results = users.map { u =>
          byUser.get(u) match {
            case Some(mechs) =>
              val infos = mechs.sorted.flatMap { m =>
                storage.scramCredential(u, m).map(c =>
                  (scramMechanismCode(m), c.iterations))
              }
              (u, 0.toShort, infos)
            case None => (u, 91.toShort, Nil) // RESOURCE_NOT_FOUND
          }
        }
        writeDescribeUserScramResponse(out, results)
      case 51 =>
        val (deletions, upsertions) = readAlterUserScram(buf)
        val delResults = deletions.map { case (u, mech) =>
          scramMechanismName(mech) match {
            case None => u -> 33.toShort // UNSUPPORTED_SASL_MECHANISM
            case Some(m) =>
              if (storage.deleteScramCredential(u, m)) u -> 0.toShort
              else u -> 91.toShort // RESOURCE_NOT_FOUND
          }
        }
        val upResults = upsertions.map { up =>
          (scramMechanismName(up.mechanism), Scram.mechanism(
            scramMechanismName(up.mechanism).getOrElse(""))) match {
            case (Some(name), Some(mech)) =>
              val c = Scram.credentialFromSaltedPassword(
                up.saltedPassword, up.salt, up.iterations, mech)
              storage.upsertScramCredential(up.user,
                graft.model.Model.ScramCredential(name, c.salt, c.iterations,
                  c.storedKey, c.serverKey))
              up.user -> 0.toShort
            case _ => up.user -> 33.toShort
          }
        }
        writeAlterUserScramResponse(out, delResults ++ upResults)
      case 60 =>
        val v = header.apiVersion.toInt
        readDescribeCluster(buf, v)
        writeDescribeClusterResponse(out, "graft", host, boundPort, v)
      case 69 =>
        val groups = readConsumerGroupDescribe(buf)
        writeConsumerGroupDescribeResponse(out, groups.map(cgDescribe))
      case 71 =>
        val clientId = readGetTelemetrySubscriptions(buf)
        writeGetTelemetrySubscriptionsResponse(out, clientId)
      case 75 =>
        val requested = readDescribeTopicPartitions(buf)
        val topics =
          if (requested.isEmpty) metadataTopics(None).sortBy(_._1)
          else metadataTopics(Some(requested))
        writeDescribeTopicPartitionsResponse(out, topics)
      case 23 =>
        // single stateless node: one leader epoch (0) forever, so the
        // end offset of ANY requested epoch is the log end — a
        // truncation check always passes
        val v = header.apiVersion.toInt
        val reqTopics = readOffsetForLeaderEpoch(buf, v)
        val topics = reqTopics.map { case (t, parts) =>
          val known = storage.topics.contains(t)
          (t, parts.map { case (p, _) =>
            if (!known || p < 0 || p >= partitionsOf(t))
              (3.toShort, p, -1, -1L)
            else (0.toShort, p, 0,
              storage.listLatestOffset(Topition(t, p)))
          })
        }
        writeOffsetForLeaderEpochResponse(out, topics, v)
      case 35 =>
        val v = header.apiVersion.toInt
        val requested = readDescribeLogDirs(buf, v)
        // unknown topics/partitions are OMITTED (real-broker shape) —
        // fabricated size-0 entries would read as phantom replicas to
        // log-dir tooling
        val wanted: Seq[(String, Seq[Int])] = requested match {
          case None =>
            storage.topics.sorted.map(t =>
              (t, (0 until partitionsOf(t)).toSeq))
          case Some(ts) =>
            ts.filter(t => storage.topics.contains(t._1)).map {
              case (t, parts) =>
                (t, parts.filter(p => p >= 0 && p < partitionsOf(t)))
            }
        }
        val topics = wanted.map { case (t, parts) =>
          (t, parts.map(p =>
            (p, storage.partitionSizeBytes(Topition(t, p)))))
        }
        // v4 reports real filesystem capacity for the log dir
        val dirFile = new java.io.File(storage.logDir)
        writeDescribeLogDirsResponse(out, storage.logDir, topics, v,
          totalBytes = dirFile.getTotalSpace,
          usableBytes = dirFile.getUsableSpace)
      case 33 =>
        // LEGACY full-set alter: the submitted config REPLACES the
        // topic's whole dynamic config (pre-KIP-339 semantics)
        val v = header.apiVersion.toInt
        val (resources, validateOnly) = readAlterConfigs(buf, v)
        val results = resources.map { case (rt, rn, cfgs) =>
          if (rt != 2) (42.toShort, "unsupported resource type", rt, rn)
          else if (!storage.topics.contains(rn))
            (3.toShort, "unknown topic", rt, rn)
          else {
            if (!validateOnly) {
              val existing = storage.topicConfig(rn).keys.toSeq
              storage.alterTopicConfig(rn, cfgs.toMap,
                existing.filterNot(cfgs.map(_._1).contains))
            }
            (0.toShort, null: String, rt, rn)
          }
        }
        writeAlterConfigsResponse(out, results, v)
      case 37 =>
        val v = header.apiVersion.toInt
        val (reqTopics, validateOnly) = readCreatePartitions(buf, v)
        val results = reqTopics.map { case (t, count) =>
          val err =
            if (validateOnly) {
              val cur = storage.partitionCount(t)
              if (!storage.topics.contains(t)) ErrorCode.UnknownTopicOrPartition
              else if (count <= cur) ErrorCode.InvalidPartitions
              else ErrorCode.None
            } else storage.increasePartitions(t, count)
          val msg = err match {
            case ErrorCode.UnknownTopicOrPartition => "unknown topic"
            case ErrorCode.InvalidPartitions =>
              "partition count must exceed the current count"
            case _ => null
          }
          (t, err.toShort, msg)
        }
        writeCreatePartitionsResponse(out, results, v)
      case 61 =>
        val reqTopics = readDescribeProducers(buf)
        val topics = reqTopics.map { case (t, parts) =>
          val known = storage.topics.contains(t)
          (t, parts.map { p =>
            if (!known) (p, 3.toShort, Nil)
            else (p, 0.toShort,
              storage.describeProducers(Topition(t, p)).map {
                case (pid, epoch, lastSeq, txnStart) =>
                  // last_timestamp/coordinator_epoch: not tracked by the
                  // single-node store — wire sentinels, like Kafka's -1
                  (pid, epoch, lastSeq, -1L, 0, txnStart)
              })
          })
        }
        writeDescribeProducersResponse(out, topics)
      case 65 =>
        val ids = readDescribeTransactions(buf)
        val states = ids.map { id =>
          storage.describeTransaction(id) match {
            case Some(d) =>
              val topics = d.partitions.groupBy(_.topic).toSeq.sortBy(_._1)
                .map { case (t, tps) => (t, tps.map(_.partition).sorted) }
              (0.toShort, d.txnId, d.state, d.timeoutMs, d.startTimeMs,
                d.producerId, d.producerEpoch.toShort, topics)
            case None =>
              (ErrorCode.TransactionalIdNotFound.toShort, id, "", 0, -1L,
                -1L, (-1).toShort, Nil)
          }
        }
        writeDescribeTransactionsResponse(out, states)
      case 66 =>
        val v = header.apiVersion.toInt
        val (stateFilters, pidFilters, minDurationMs) =
          readListTransactions(buf, v)
        val validStates = Set("Ongoing", "PrepareCommit", "PrepareAbort",
          "CompleteCommit", "CompleteAbort", "Empty", "Dead",
          "PrepareEpochFence")
        val unknown = stateFilters.filterNot(validStates.contains)
        val now = System.currentTimeMillis()
        val states = storage.listTransactions()
          .filter { case (_, pid, st) =>
            (stateFilters.isEmpty || stateFilters.contains(st)) &&
            (pidFilters.isEmpty || pidFilters.contains(pid))
          }
          .filter { case (id, _, _) =>
            minDurationMs <= 0 || storage.describeTransaction(id)
              .exists(d => d.startTimeMs > 0 && now - d.startTimeMs >= minDurationMs)
          }
        writeListTransactionsResponse(out, unknown, states)
      case 48 =>
        val v = header.apiVersion.toInt
        val (comps, strict) = readDescribeClientQuotas(buf, v)
        val entries = storage.listClientQuotas().toSeq
          .sortBy { case ((et, en), _) => (et, en.getOrElse("")) }
          .filter { case ((et, en), _) =>
            // Kafka's filter contract: an entry matches only if it has
            // the dimension EVERY component names and that dimension
            // satisfies the match — a component naming another entity
            // type excludes the entry outright (strict only further
            // constrains entries with EXTRA dimensions, which our
            // single-dimension store never produces). match_type 2
            // ("any specified name") takes named entries, not defaults.
            comps.forall { case (cet, matchType, m) =>
              cet == et && (matchType match {
                case 0 => en.contains(m) // exact name
                case 1 => en.isEmpty     // default entity
                case _ => en.isDefined   // any specified name
              })
            }
          }
          .map { case ((et, en), vals) =>
            (Seq((et, en.orNull)), vals.toSeq.sortBy(_._1))
          }
        writeDescribeClientQuotasResponse(out, entries, v)
      case 49 =>
        val v = header.apiVersion.toInt
        val (entries, validateOnly) = readAlterClientQuotas(buf, v)
        val results = entries.map { case (entity, ops) =>
          if (entity.size != 1)
            (42.toShort, "exactly one entity per entry supported", entity)
          else {
            if (!validateOnly) {
              val (et, en) = entity.head
              storage.alterClientQuotas(Seq(((et, Option(en)),
                ops.map { case (k, x, rm) =>
                  (k, if (rm) None else Some(x)) })))
              reloadDynamicQuota()
            }
            (0.toShort, null: String, entity)
          }
        }
        writeAlterClientQuotasResponse(out, results, v)
      case other =>
        throw new UnsupportedOperationException(s"api_key $other not served")
    }
    used.flip()
    val a = new Array[Byte](used.remaining())
    used.get(a)
    spareResponseBuffers.offer(out)
    a
  }

  // 4 MiB response buffers are reused, a few spares kept: a fresh 4 MiB
  // array per request is a humongous allocation per round trip, and at a
  // few hundred requests a second its collections set the pace. A fetch
  // whose records outgrow it writes into a buffer of its own size.
  private val spareResponseBuffers = new ArrayBlockingQueue[ByteBuffer](8)

  private def responseBuffer(): ByteBuffer = {
    val spare = spareResponseBuffers.poll()
    if (spare == null) ByteBuffer.allocate(1 << 22) else spare.clear()
  }

  /** Coordinator state → the Kafka group-state string of the admin APIs. */
  private def groupKafkaState(g: String): String =
    coordinator.describe(g) match {
      case Some((state, _, _)) =>
        if (state == "Formed") "Stable" else "PreparingRebalance"
      case None => "Dead"
    }

  /** Shared admin projection, ONE coordinator pass per group:
    * (kafka state, generation, negotiated protocol, members as (id,
    * sorted subscriptions, per-topic sorted assignment)) — both
    * DescribeGroups and ConsumerGroupDescribe render from this.
    */
  private def describedMembers(g: String)
      : Option[(String, Int, String, Seq[(String, Seq[String], Seq[(String, Seq[Int])])])] =
    coordinator.describe(g).map { case (state, generation, _) =>
      val kafkaState =
        if (state == "Formed") "Stable" else "PreparingRebalance"
      val protocol = coordinator.protocolOf(g).getOrElse("range")
      val assignment = coordinator.assignmentOf(g)
      val members = coordinator.membersOf(g).map { case (m, topics) =>
        val byTopic = assignment.getOrElse(m, Seq.empty)
          .groupBy(_.topic).toSeq.sortBy(_._1)
          .map { case (t, ps) => t -> ps.map(_.partition).sorted }
        (m, topics.toSeq.sorted, byTopic)
      }
      (kafkaState, generation, protocol, members)
    }

  /** One group's DescribeGroups row (classic admin view). */
  private def describeGroup(g: String): DescribedGroup =
    describedMembers(g) match {
      case Some((kafkaState, _, protocol, members)) =>
        DescribedGroup(0, g, kafkaState, "consumer", protocol,
          members.map { case (m, topics, byTopic) =>
            DescribedMember(m, encodeSubscription(topics),
              encodeAssignment(byTopic))
          })
      case None =>
        DescribedGroup(69, g, "Dead", "", "", Seq.empty) // GROUP_ID_NOT_FOUND
    }

  /** One group's ConsumerGroupDescribe row — the KIP-848 admin view
    * mapped onto the classic coordinator: generation = group/assignment
    * epoch, negotiated assignor name, per-member subscriptions and
    * current assignment (assignment == target: rebalances are atomic
    * here).
    */
  private def cgDescribe(g: String): CgDescribedGroup =
    describedMembers(g) match {
      case Some((kafkaState, generation, protocol, members)) =>
        CgDescribedGroup(0, g, kafkaState, generation, protocol,
          members.map { case (m, topics, byTopic) =>
            CgDescribeMember(m, generation, topics, byTopic)
          })
      case None =>
        CgDescribedGroup(69, g, "Dead", -1, "", Seq.empty)
    }

  /** Coordinator error string → Kafka error code. */
  private def groupError(e: String): Short = e match {
    case "UNKNOWN_GROUP" => 69         // GROUP_ID_NOT_FOUND
    case "ILLEGAL_GENERATION" => 22
    case "UNKNOWN_MEMBER_ID" => 25
    case "REBALANCE_IN_PROGRESS" => 27
    case _ => -1
  }

  private def handleJoinGroup(buf: ByteBuffer, out: ByteBuffer,
                              version: Int = 0): Unit = {
    val req = readJoinGroup(buf, version)
    // negotiate against the FULL preference list: a client advertising
    // [cooperative-sticky, range] must join a range group via range,
    // not bounce with INCONSISTENT_GROUP_PROTOCOL
    val protocol = coordinator.negotiate(req.group, req.protocols.map(_.name))
    val topics = req.protocols.find(_.name == protocol)
      .map(p => decodeSubscriptionTopics(p.metadata).toSet)
      .getOrElse(Set.empty[String])
    val (memberId, generation, isLeader) =
      try coordinator.join(
        req.group, Option(req.memberId).filter(_.nonEmpty), topics, protocol,
        sessionTimeoutMs = req.sessionTimeoutMs.toLong)
      catch {
        case _: graft.coordinator.GroupCoordinator.InconsistentGroupProtocol =>
          writeJoinGroupResponse(out, 23, -1, protocol, "", "", Seq.empty,
            version) // INCONSISTENT_GROUP_PROTOCOL
          return
      }
    val leaderId = coordinator.leaderOf(req.group).getOrElse(memberId)
    val members =
      if (isLeader)
        coordinator.membersOf(req.group).map { case (m, ts) =>
          m -> encodeSubscription(ts.toSeq.sorted)
        }
      else Seq.empty
    writeJoinGroupResponse(out, 0, generation, protocol, leaderId, memberId,
      members, version)
  }

  private def handleSyncGroup(buf: ByteBuffer, out: ByteBuffer,
                              version: Int = 0): Unit = {
    val req = readSyncGroup(buf, version)
    val topicMeta: Map[String, Int] =
      storage.topics.map(t => t -> partitionsOf(t)).toMap
    coordinator.sync(req.group, req.memberId, req.generation, topicMeta) match {
      case Right(tps) =>
        val byTopic = tps.groupBy(_.topic).toSeq.sortBy(_._1)
          .map { case (t, ps) => t -> ps.map(_.partition).sorted }
        writeSyncGroupResponse(out, 0, encodeAssignment(byTopic), version)
      case Left(err) =>
        writeSyncGroupResponse(out, groupError(err), Array.empty[Byte], version)
    }
  }

  // probe results for UNDECLARED topics are cached with a TTL: the
  // bounded 65-partition storage scan below sits on the Metadata/
  // assignment hot path and re-ran on every call. Invalidation: a
  // broker-side produce to partition p raises the entry to p+1
  // (noteProducedPartition), DeleteTopics drops it, and the TTL bounds
  // staleness from writers THIS broker never sees (a second stateless
  // broker over the same storage root, direct storage access) —
  // without it a sibling broker's produce to a higher partition would
  // stay hidden from this broker's metadata forever.
  private val probeTtlMs = 10000L
  private val probedPartitions =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()

  private[graft] def noteProducedPartition(topic: String, p: Int): Unit =
    probedPartitions.computeIfPresent(topic,
      (_, e) => (math.max(e._1, p + 1), e._2))

  private def partitionsOf(topic: String): Int = {
    // declared count from createTopic is the source of truth — empty
    // partitions included, so consumers get assigned all of them; the
    // data probe only covers topics produced to without createTopic
    val declared = storage.partitionCount(topic)
    if (declared > 0) return declared
    val now = System.currentTimeMillis()
    val cached = probedPartitions.get(topic)
    if (cached != null && now - cached._2 < probeTtlMs) return cached._1
    // scan the whole bounded probe range: key-hash skew can leave an
    // empty partition BELOW a populated one, and stopping at the first
    // empty would hide the higher partitions from metadata/assignment
    var maxSeen = -1
    var p = 0
    while (p <= 64) {
      if (storage.offsetStage(Topition(topic, p)).highWatermark > 0)
        maxSeen = p
      p += 1
    }
    val n = math.max(maxSeen + 1, 1)
    // merge, don't overwrite: a concurrent produce may have raised the
    // count past what this probe saw
    val merged = probedPartitions.merge(topic, (n, now),
      (old, fresh) => (math.max(old._1, fresh._1), fresh._2))
    merged._1
  }

  // T10 — produce byte quota (the Kafka client-quota mechanism): bytes
  // are counted over a sliding 1-second window; past the quota the
  // response carries throttle_time_ms telling the client to back off.
  // The rate is the constructor default unless the durable quota store
  // (AlterClientQuotas) carries a producer_byte_rate — the tightest
  // stored rate wins. Single-node caveat, documented: one aggregate
  // window, so per-entity rates gate the TOTAL inflow at the strictest
  // configured value rather than metering each client separately.
  private val produceWindow = new RateWindow
  @volatile private var dynamicProduceQuota: Option[Long] = None
  @volatile private var dynamicFetchQuota: Option[Long] = None
  private def reloadDynamicQuota(): Unit = {
    val stored = storage.listClientQuotas().valuesIterator.toSeq
    dynamicProduceQuota = stored
      .flatMap(_.get("producer_byte_rate")).reduceOption(_ min _)
      .map(_.toLong)
    dynamicFetchQuota = stored
      .flatMap(_.get("consumer_byte_rate")).reduceOption(_ min _)
      .map(_.toLong)
  }
  reloadDynamicQuota() // stored quotas survive restart

  // fetch-side mirror of the produce window: consumer_byte_rate from
  // the durable quota store gates the TOTAL outflow (same single-node
  // aggregate-window caveat as above)
  private val fetchWindow = new RateWindow

  private def fetchThrottleMs(bytes: Long): Int =
    fetchWindow.add(bytes, dynamicFetchQuota.getOrElse(Long.MaxValue))

  /** One sliding 1-second byte window, reset by CAS so concurrent
    * connections can never interleave a start/bytes reset (the lost or
    * double-counted window of the naive two-field form); the computed
    * throttle clamps to Int.MaxValue — the untruncated Long would go
    * NEGATIVE on the wire for a large burst against a tiny rate.
    */
  private final class RateWindow {
    private val ref = new java.util.concurrent.atomic.AtomicReference(
      (System.currentTimeMillis(),
        new java.util.concurrent.atomic.AtomicLong(0)))
    def add(bytes: Long, rate: Long): Int = {
      if (rate == Long.MaxValue) return 0
      val now = System.currentTimeMillis()
      var w = ref.get()
      if (now - w._1 >= 1000) {
        val fresh = (now, new java.util.concurrent.atomic.AtomicLong(0))
        w = if (ref.compareAndSet(w, fresh)) fresh else ref.get()
      }
      val total = w._2.addAndGet(bytes)
      if (total <= rate) 0
      else math.min(((total - rate) * 1000) / math.max(rate, 1L),
        Int.MaxValue.toLong).toInt
    }
  }

  private def produceThrottleMs(bytes: Long): Int =
    produceWindow.add(bytes,
      dynamicProduceQuota.getOrElse(produceQuotaBytesPerSec))

  /** Per-topic metadata rows: explicitly requested topics that don't
    * exist come back as UNKNOWN_TOPIC_OR_PARTITION (3) with no
    * partitions, never as a fabricated healthy topic — UNLESS
    * auto-creation is on (broker config AND the request's
    * allow_auto_topic_creation), in which case the topic is REALLY
    * created first, Kafka's auto.create.topics.enable semantics.
    */
  private def metadataTopics(requested: Option[Seq[String]],
                             allowAutoCreate: Boolean = false): Seq[(String, Int, Short)] =
    requested match {
      case None => storage.topics.map(t => (t, partitionsOf(t), 0.toShort))
      case Some(names) =>
        val known = storage.topics.toSet
        names.map { t =>
          if (known.contains(t)) (t, partitionsOf(t), 0.toShort)
          else if (autoCreateTopics && allowAutoCreate && t.nonEmpty) {
            storage.createTopic(t, autoCreatePartitions)
            (t, autoCreatePartitions, 0.toShort)
          } else (t, 0, 3.toShort)
        }
    }

  private def handleProduce(buf: ByteBuffer, out: ByteBuffer,
                            version: Int): Unit = {
    val req = readProduce(buf, version)
    val wireBytes = req.topics.iterator
      .flatMap(_.partitions.iterator.map(p =>
        Option(p.records).map(_.length.toLong).getOrElse(0L))).sum
    val throttle = produceThrottleMs(wireBytes)
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val results = req.topics.map { t =>
      val parts = t.partitions.map { p =>
        try {
          // a records blob may carry SEVERAL consecutive batches (client
          // retries, transactional batching) — appended as ONE atomic
          // produce so a failure never leaves earlier batches durably in
          // the log while the response says error (a retrying
          // non-idempotent client would duplicate them)
          val batches = RecordBatchCodec.decodeAll(p.records)
          val tp = Topition(t.topic, p.partition)
          if (batches.isEmpty) (p.partition, 87.toShort, -1L, -1L)
          else {
            val pid = batches.head.producerId
            val epoch = batches.head.producerEpoch
            val samePid = batches.forall(b =>
              b.producerId == pid && b.producerEpoch == epoch)
            // idempotent blobs must be sequence-contiguous: batch k starts
            // at batch0.baseSequence + rows(0..k-1) — checked BEFORE any
            // append, so the whole blob is rejected or accepted together
            val contiguous = pid < 0 || {
              var expect = batches.head.baseSequence.toLong
              batches.forall { b =>
                val ok = b.baseSequence == expect
                expect += b.records.length; ok
              }
            }
            if (!samePid)
              (p.partition, 87.toShort, -1L, -1L) // INVALID_RECORD: mixed producers
            else if (!contiguous)
              (p.partition, 45.toShort, -1L, -1L) // OUT_OF_ORDER_SEQUENCE_NUMBER
            else {
              // EXACT wire bytes into binary columns — never through a
              // String (invalid UTF-8 sequences would be replaced with
              // U+FFFD, corrupting any real Avro/proto payload)
              val rows = batches.flatMap { batch =>
                batch.records.map { r =>
                  (new java.sql.Timestamp(batch.baseTimestamp + r.timestampDelta),
                    r.key, r.value)
                }
              }
              val df = rows.toDF("timestamp", "key", "value")
              // one produce call: combined row count advances the expected
              // sequence to base+n, identical to per-batch appends of a
              // contiguous run (and what recoverProducerSeqs rebuilds)
              storage.produce(tp, df, pid, epoch.toInt,
                batches.head.baseSequence) match {
                case Right(base) =>
                  noteProducedPartition(t.topic, p.partition)
                  (p.partition, 0.toShort, base, storage.offsetStage(tp).logStart)
                case Left(e) => (p.partition, e.toShort, -1L, -1L)
              }
            }
          }
        } catch {
          case NonFatal(_) => (p.partition, 87.toShort, -1L, -1L) // INVALID_RECORD
        }
      }
      t.topic -> parts
    }
    writeProduceResponse(out, results, throttle, version)
  }

  private def handleListOffsets(buf: ByteBuffer, out: ByteBuffer,
                                version: Int): Unit = {
    val req = readListOffsets(buf, version)
    val readCommitted = req.isolation == 1
    val results = req.topics.map { t =>
      val parts = t.partitions.map { p =>
        val tp = Topition(t.topic, p.partition)
        val (err, offset) = p.timestamp match {
          case -2L => (0.toShort, storage.listEarliestOffset(tp))
          case -1L => // latest visible under the isolation level
            val stage = storage.offsetStage(tp)
            (0.toShort,
              if (readCommitted) stage.lastStable else stage.highWatermark)
          case -3L if version >= 7 => // KIP-734 max-timestamp offset
            (0.toShort, storage.maxTimestampOffset(tp).getOrElse(-1L))
          case ts if ts < 0 => // -3 below v7, or an unknown sentinel
            (42.toShort, -1L) // INVALID_REQUEST, as Kafka rejects these
          case ts =>
            (0.toShort, storage.offsetForTimestamp(tp, ts).getOrElse(-1L))
        }
        (p.partition, err, p.timestamp, offset)
      }
      t.topic -> parts
    }
    writeListOffsetsResponse(out, results, version)
  }

  /** One partition's records (maxBytes-bounded by the storage fetch, so
    * holding them is safe by construction) as a magic-v2 wire batch. The
    * fetch's local answer is read as it is: a select or collect over it
    * would run Catalyst and a SQL execution per request.
    */
  private def fetchRecords(tp: Topition, fetchOffset: Long, maxBytes: Long,
                           readCommitted: Boolean): Array[Byte] = {
    val fetched = storage.fetch(tp, fetchOffset, maxBytes, readCommitted)
    val Seq(offsetCol, tsCol, keyCol, valueCol, pidCol) =
      Seq("offset", "timestamp", "key", "value", "producer_id").map(fetched.schema.fieldIndex)
    // read_committed filtering happens SERVER-side: the re-encoded wire
    // batch carries producerId=-1 and no control batches, so a Kafka
    // client's own abort filter (which matches aborted pid ranges
    // against each batch's producerId) would match nothing — aborted
    // rows must never reach the response
    val aborted =
      if (readCommitted) storage.abortedTxns(tp, fetchOffset, Long.MaxValue) else Nil
    val rows = org.apache.spark.sql.graftshim.LocalParquet.rows(fetched)
      .filterNot { r =>
        val offset = r.getLong(offsetCol)
        aborted.exists(a => r.getLong(pidCol) == a.producerId &&
          offset >= a.offsetStart && offset <= a.offsetEnd)
      }
      .sortBy(_.getLong(offsetCol))
    def millis(r: InternalRow) = Math.floorDiv(r.getLong(tsCol), 1000L)
    def bytes(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getBinary(i)
    if (rows.isEmpty) Array.empty[Byte]
    else {
      val base = rows.head.getLong(offsetCol)
      val baseTs = millis(rows.head)
      RecordBatchCodec.encode(RecordBatchCodec.Batch(
        base, 0, 0, baseTs, millis(rows.last), -1L, -1, -1,
        rows.map { r =>
          RecordBatchCodec.Record((r.getLong(offsetCol) - base).toInt,
            millis(r) - baseTs, bytes(r, keyCol), bytes(r, valueCol), Nil)
        }))
    }
  }

  // ------------------------------------------- incremental fetch sessions

  /** KIP-227 fetch-session state: what the client last asked for per
    * partition and what we last told it, so incremental requests can
    * omit unchanged partitions in both directions. The no-news check is
    * an in-memory watermark compare — the expensive per-partition fetch
    * query only runs when there is something to say, which is what makes
    * high-fan-in long-polling affordable (reference
    * `nisshi-sans-io/message/FetchRequest.json` session fields).
    */
  private final class FetchPartState(var fetchOffset: Long, var maxBytes: Int) {
    var lastHwm: Long = Long.MinValue
    var lastLso: Long = Long.MinValue
    var lastLogStart: Long = Long.MinValue
  }
  private final class FetchSession {
    // next epoch an incremental request must carry (KIP-227: the
    // establishing full fetch is epoch 0, the first incremental is 1)
    var epoch: Int = 1
    @volatile var lastUsed: Long = System.currentTimeMillis()
    val parts =
      scala.collection.mutable.LinkedHashMap.empty[Topition, FetchPartState]
  }
  private val fetchSessions =
    scala.collection.concurrent.TrieMap.empty[Int, FetchSession]
  // ids are random, not sequential — a client can't guess (and close or
  // poison) another client's session
  private val fetchSessionRng = new java.security.SecureRandom()
  private val MaxFetchSessions = 1024
  private val FetchSessionTtlMs = 120000L

  private def newFetchSession(): (Int, FetchSession) = {
    val s = new FetchSession
    var id = 0
    while (id == 0 || fetchSessions.putIfAbsent(id, s).isDefined)
      id = fetchSessionRng.nextInt() & 0x7fffffff
    if (fetchSessions.size > MaxFetchSessions) evictFetchSessions()
    (id, s)
  }

  /** Bound the session cache (Kafka's FetchSessionCache): drop sessions
    * idle past the TTL — crashed consumers never LeaveGroup their fetch
    * session — then, if still over the cap, the least-recently-used.
    */
  private def evictFetchSessions(): Unit = {
    val now = System.currentTimeMillis()
    fetchSessions.foreach { case (id, s) =>
      if (now - s.lastUsed > FetchSessionTtlMs) fetchSessions.remove(id)
    }
    var over = fetchSessions.size - MaxFetchSessions
    while (over > 0) {
      fetchSessions.toSeq.sortBy(_._2.lastUsed).take(over)
        .foreach { case (id, _) => fetchSessions.remove(id) }
      over = fetchSessions.size - MaxFetchSessions
    }
  }

  /** One handler for every served Fetch version: classic v4-v11 and
    * flexible v12-v17 differ only in codec, not semantics. The
    * per-partition result carries the aborted-transaction list that
    * read_committed consumers use to drop aborted records client-side
    * (J3 interval overlap on the wire) — real on every version that can
    * encode it. v13+ requests address topics by uuid (KIP-516),
    * resolved through the name-derived id scheme; ids naming no known
    * topic are answered per-partition with UNKNOWN_TOPIC_ID (100), the
    * request id echoed so the client can correlate.
    */
  private def handleFetch(buf: ByteBuffer, out: ByteBuffer,
                          version: Int): ByteBuffer = {
    // resolve v13+ topic ids against the CURRENT topic set
    lazy val known = storage.topics
    val rawReq = readFetch(buf, version,
      resolveId = u => known.find(t => WireProtocol.topicUuid(t) == u).orNull)
    // unresolved ids split out of the session/read flow entirely: their
    // partitions answer UNKNOWN_TOPIC_ID without touching storage
    val (unknownTopics, knownTopics) =
      rawReq.topics.partition(t => t.topic == null)
    val unknownIdResults = unknownTopics.map { t =>
      (t.topicId, t.partitions.map(p =>
        WireProtocol.FetchV12PartResult(p.partition, 100, -1L, -1L, -1L,
          Nil, Array.empty[Byte])))
    }
    val req = rawReq.copy(topics = knownTopics,
      forgotten = rawReq.forgotten.filter(_._1 != null))
    val readCommitted = req.isolation == 1
    // request-level max_bytes caps the WHOLE response across partitions
    // (the first partition may overshoot by one batch, as in Kafka)
    var budget = math.max(req.maxBytes.toLong, 1L)

    def partResult(tp: Topition, fetchOffset: Long,
                   maxBytes: Int): WireProtocol.FetchV12PartResult = {
      val stage = storage.offsetStage(tp)
      val records =
        if (budget <= 0) Array.empty[Byte]
        else fetchRecords(tp, fetchOffset,
          math.min(maxBytes.toLong, budget), readCommitted)
      budget -= records.length.toLong
      val aborted = storage
        .abortedTxns(tp, fetchOffset, stage.highWatermark)
        .map(r => (r.producerId, r.offsetStart))
      WireProtocol.FetchV12PartResult(tp.partition, 0,
        stage.highWatermark, stage.lastStable, stage.logStart,
        aborted, records)
    }

    def fullResults: Seq[(String, Seq[WireProtocol.FetchV12PartResult])] =
      req.topics.map { t =>
        t.topic -> t.partitions.map(fp =>
          partResult(Topition(t.topic, fp.partition), fp.fetchOffset, fp.maxBytes))
      }

    var error: Short = 0
    var sessionId = 0
    var results: Seq[(String, Seq[WireProtocol.FetchV12PartResult])] = Nil

    if (version < 7 || req.sessionEpoch == -1) {
      // sessionless: full request, full response; id != 0 closes a session
      if (version >= 7 && req.sessionId != 0) fetchSessions.remove(req.sessionId)
      results = fullResults
    } else if (req.sessionEpoch == 0) {
      // full fetch establishing a fresh session
      if (req.sessionId != 0) fetchSessions.remove(req.sessionId)
      val (sid, s) = newFetchSession()
      req.topics.foreach(t => t.partitions.foreach { fp =>
        s.parts.put(Topition(t.topic, fp.partition),
          new FetchPartState(fp.fetchOffset, fp.maxBytes))
        ()
      })
      sessionId = sid
      results = fullResults
      results.foreach { case (t, ps) => ps.foreach { r =>
        s.parts.get(Topition(t, r.partition)).foreach { st =>
          st.lastHwm = r.highWatermark; st.lastLso = r.lastStable
          st.lastLogStart = r.logStart
        }
      } }
    } else fetchSessions.get(req.sessionId) match {
      case None => error = 70 // FETCH_SESSION_ID_NOT_FOUND
      case Some(s) => s.synchronized {
        s.lastUsed = System.currentTimeMillis()
        if (req.sessionEpoch != s.epoch) {
          error = 71 // INVALID_FETCH_SESSION_EPOCH
          sessionId = req.sessionId
        } else {
          // wraps past Int.MaxValue back to 1, as FetchSessionCache does
          s.epoch = if (req.sessionEpoch == Int.MaxValue) 1
                    else req.sessionEpoch + 1
          sessionId = req.sessionId
          req.topics.foreach(t => t.partitions.foreach { fp =>
            val tp = Topition(t.topic, fp.partition)
            s.parts.get(tp) match {
              case Some(st) =>
                st.fetchOffset = fp.fetchOffset; st.maxBytes = fp.maxBytes
              case None =>
                s.parts.put(tp, new FetchPartState(fp.fetchOffset, fp.maxBytes))
                ()
            }
          })
          req.forgotten.foreach { case (t, ps) =>
            ps.foreach(p => s.parts.remove(Topition(t, p)))
          }
          // incremental response: only partitions with news — new data
          // past the session's fetch offset or a moved watermark. The
          // skip path costs zero Spark jobs.
          val changed = s.parts.toSeq.flatMap { case (tp, st) =>
            val stage = storage.offsetStage(tp)
            val end = if (readCommitted) stage.lastStable else stage.highWatermark
            if (end > st.fetchOffset || stage.highWatermark != st.lastHwm ||
                stage.lastStable != st.lastLso || stage.logStart != st.lastLogStart) {
              val r = partResult(tp, st.fetchOffset, st.maxBytes)
              // only advance the sent-state when the pending data was
              // actually delivered — an empty result with data pending
              // (budget exhausted, publish in flight) must be retried
              if (r.records.nonEmpty || end <= st.fetchOffset) {
                st.lastHwm = r.highWatermark; st.lastLso = r.lastStable
                st.lastLogStart = r.logStart
              }
              Some(tp.topic -> r)
            } else None
          }
          results = changed.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
        }
      }
    }
    // size the response buffer from the materialized records, not the
    // request: fetchRecords always returns at least one batch (KIP-74),
    // so a single record bigger than max_bytes must still be delivered —
    // never BufferOverflow-and-drop, which would wedge the consumer
    val bound = 256 + results.iterator.map { case (t, ps) =>
      64 + t.length + ps.iterator.map { p =>
        128 + 16 * p.aborted.size +
          Option(p.records).map(_.length).getOrElse(0)
      }.sum
    }.sum + unknownIdResults.iterator.map(u => 64 + 128 * u._2.size).sum
    val b = if (bound <= out.remaining()) out else ByteBuffer.allocate(bound)
    val throttle = fetchThrottleMs(results.iterator.map(_._2.iterator
      .map(p => Option(p.records).map(_.length.toLong).getOrElse(0L)).sum).sum)
    if (isFlexible(1, version.toShort)) writeEmptyTaggedFields(b) // response header v1
    writeFetchResponse(b, results, version, error, sessionId, throttle,
      unknownIdResults)
    b
  }
}
