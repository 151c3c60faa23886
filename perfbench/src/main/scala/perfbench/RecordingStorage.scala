package perfbench

import org.apache.spark.sql.DataFrame
import graft.model.Model._
import graft.storage.Storage

/** A `Storage` that records a span around every call and delegates to
  * the real engine. `BrokerServer` sees only the `Storage` trait, so
  * passing this to its constructor puts a layer boundary between the
  * facade and the storage engine without touching either.
  */
final class RecordingStorage(inner: Storage, trace: Trace) extends Storage {
  import trace.{storage => rec}

  override def createTopic(topic: String, partitions: Int,
                           config: Map[String, String]): Unit =
    rec("createTopic")(inner.createTopic(topic, partitions, config))
  override def deleteTopic(topic: String): Unit = rec("deleteTopic")(inner.deleteTopic(topic))
  override def topics: Seq[String] = rec("topics")(inner.topics)
  override def topicConfig(topic: String): Map[String, String] =
    rec("topicConfig")(inner.topicConfig(topic))
  override def alterTopicConfig(topic: String, set: Map[String, String],
                                delete: Seq[String]): Boolean =
    rec("alterTopicConfig")(inner.alterTopicConfig(topic, set, delete))
  override def partitionCount(topic: String): Int =
    rec("partitionCount")(inner.partitionCount(topic))

  override def produce(tp: Topition, batch: DataFrame, producerId: Long,
                       producerEpoch: Int, baseSequence: Int): Either[Int, Long] =
    rec("produce")(inner.produce(tp, batch, producerId, producerEpoch, baseSequence))
  override def produceAll(topic: String, batch: DataFrame): Either[Int, Map[Int, Long]] =
    rec("produceAll")(inner.produceAll(topic, batch))
  override def fetch(tp: Topition, fetchOffset: Long, maxBytes: Long,
                     readCommitted: Boolean): DataFrame = {
    val df = rec("fetch")(inner.fetch(tp, fetchOffset, maxBytes, readCommitted))
    // outside the span: listing the plan's files is tracing work
    if (trace.on) trace.count("storage.fetch_files", df.inputFiles.length.toLong)
    df
  }

  override def offsetStage(tp: Topition): OffsetStage = rec("offsetStage")(inner.offsetStage(tp))
  override def listEarliestOffset(tp: Topition): Long =
    rec("listEarliestOffset")(inner.listEarliestOffset(tp))
  override def listLatestOffset(tp: Topition): Long =
    rec("listLatestOffset")(inner.listLatestOffset(tp))
  override def offsetForTimestamp(tp: Topition, tsMillis: Long): Option[Long] =
    rec("offsetForTimestamp")(inner.offsetForTimestamp(tp, tsMillis))
  override def maxTimestampOffset(tp: Topition): Option[Long] =
    rec("maxTimestampOffset")(inner.maxTimestampOffset(tp))

  override def offsetCommit(group: String, tp: Topition, offset: Long): Unit =
    rec("offsetCommit")(inner.offsetCommit(group, tp, offset))
  override def offsetFetch(group: String, tp: Topition): Option[Long] =
    rec("offsetFetch")(inner.offsetFetch(group, tp))
  override def updateGroup(group: String, state: String,
                           expectedVersion: Long): Option[Long] =
    rec("updateGroup")(inner.updateGroup(group, state, expectedVersion))
  override def groupState(group: String): Option[(String, Long)] =
    rec("groupState")(inner.groupState(group))
  override def groupOffsets(group: String): Seq[(Topition, Long, Long)] =
    rec("groupOffsets")(inner.groupOffsets(group))
  override def deleteOffset(group: String, tp: Topition): Boolean =
    rec("deleteOffset")(inner.deleteOffset(group, tp))
  override def deleteGroup(group: String): Unit = rec("deleteGroup")(inner.deleteGroup(group))
  override def storedGroups(): Seq[String] = rec("storedGroups")(inner.storedGroups())
  override def expireOffsets(retentionMs: Long,
                             groupIsActive: String => Boolean): Seq[(String, Topition)] =
    rec("expireOffsets")(inner.expireOffsets(retentionMs, groupIsActive))

  override def upsertScramCredential(user: String, cred: ScramCredential): Unit =
    rec("upsertScramCredential")(inner.upsertScramCredential(user, cred))
  override def scramCredential(user: String, mechanism: String): Option[ScramCredential] =
    rec("scramCredential")(inner.scramCredential(user, mechanism))
  override def listScramCredentials(): Seq[(String, String)] =
    rec("listScramCredentials")(inner.listScramCredentials())
  override def deleteScramCredential(user: String, mechanism: String): Boolean =
    rec("deleteScramCredential")(inner.deleteScramCredential(user, mechanism))

  override def createAcls(acls: Seq[AclEntry]): Unit = rec("createAcls")(inner.createAcls(acls))
  override def listAcls(): Seq[AclEntry] = rec("listAcls")(inner.listAcls())

  override def initProducer(txnId: String): (Long, Int) =
    rec("initProducer")(inner.initProducer(txnId))
  override def txnBegin(producerId: Long, tp: Topition, producerEpoch: Int): Int =
    rec("txnBegin")(inner.txnBegin(producerId, tp, producerEpoch))
  override def txnEnd(producerId: Long, commit: Boolean, producerEpoch: Int): Int =
    rec("txnEnd")(inner.txnEnd(producerId, commit, producerEpoch))
  override def txnAddOffsets(producerId: Long, group: String, producerEpoch: Int): Int =
    rec("txnAddOffsets")(inner.txnAddOffsets(producerId, group, producerEpoch))
  override def txnOffsetCommit(producerId: Long, group: String, tp: Topition,
                               offset: Long, producerEpoch: Int): Int =
    rec("txnOffsetCommit")(inner.txnOffsetCommit(producerId, group, tp, offset, producerEpoch))
  override def abortedTxns(tp: Topition, fromOffset: Long, toOffset: Long): Seq[TxnRange] =
    rec("abortedTxns")(inner.abortedTxns(tp, fromOffset, toOffset))

  override def maintain(): Unit = rec("maintain")(inner.maintain())
  override def deleteRecords(tp: Topition, beforeOffset: Long): Long =
    rec("deleteRecords")(inner.deleteRecords(tp, beforeOffset))
  override def increasePartitions(topic: String, newCount: Int): Int =
    rec("increasePartitions")(inner.increasePartitions(topic, newCount))
  override def describeProducers(tp: Topition): Seq[(Long, Int, Int, Long)] =
    rec("describeProducers")(inner.describeProducers(tp))
  override def describeTransaction(txnId: String): Option[TxnDescription] =
    rec("describeTransaction")(inner.describeTransaction(txnId))
  override def listTransactions(): Seq[(String, Long, String)] =
    rec("listTransactions")(inner.listTransactions())
  override def logDir: String = inner.logDir
  override def partitionSizeBytes(tp: Topition): Long =
    rec("partitionSizeBytes")(inner.partitionSizeBytes(tp))
  override def alterClientQuotas(
      entries: Seq[((String, Option[String]), Seq[(String, Option[Double])])]): Unit =
    rec("alterClientQuotas")(inner.alterClientQuotas(entries))
  override def listClientQuotas(): Map[(String, Option[String]), Map[String, Double]] =
    rec("listClientQuotas")(inner.listClientQuotas())
}
