package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's log/storage relational operators re-expressed as Spark
  * DataFrame transformations (SURVEY §2.2-§2.5).
  *
  * All operators take a log DataFrame with at least
  * (topic, partition, offset, timestamp, key, value, val_len) and stay fully
  * declarative so Catalyst pushes filters into the parquet scan and AQE
  * sizes the shuffles. Per-partition windows partition by (topic, partition)
  * — at 100 TB each window group is one Kafka partition's slice, which is
  * exactly the unit the storage layout co-locates, so no extra shuffle is
  * needed when the log table is bucketed by (topic, partition).
  */
object LogOps {

  private val tp: Seq[Column] = Seq(col("topic"), col("partition"))

  /** P1 — offset-range scan: `offset >= fetchOffset && offset < hw`
    * (reference `nisshi-storage/src/dynostore.rs:1046-1078`,
    * `pg/record_fetch.sql:38-44`). A pure filter — pushed down to the scan.
    */
  def fetchRange(log: DataFrame, fetchOffset: Long, highWatermark: Long): DataFrame =
    log.filter(col("offset") >= fetchOffset && col("offset") < highWatermark)

  /** The fetch-budget size of one record, the `val_len` of
    * [[fetchWithByteBudget]]: key + value bytes plus 16 bytes of
    * per-record framing, so a compacted topic of tombstones (null values)
    * still consumes budget and maxBytes stays effective;
    * `ParquetStorage.fetch` counts the same size per row.
    */
  val budgetBytes: Column =
    coalesce(octet_length(col("key").cast("binary")), lit(0)) +
      coalesce(octet_length(col("value").cast("binary")), lit(0)) + lit(16)

  /** P2/A4/W1 — byte-budget fetch: running byte sum per partition ordered by
    * offset, stop once the budget is exceeded (reference
    * `pg/record_fetch.sql:26,47`). The first batch is always returned even
    * if it alone exceeds the budget (Kafka semantics: progress guarantee).
    *
    * The reference definition of a fetch answer and the board's operator
    * over a log table; `ParquetStorage.fetch` streams the same window on
    * the driver and stops reading where it ends (the specs compare them).
    */
  def fetchWithByteBudget(log: DataFrame, fetchOffset: Long, maxBytes: Long): DataFrame = {
    val w = Window.partitionBy(tp: _*).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    log.filter(col("offset") >= fetchOffset)
      .withColumn("running_bytes", sum(col("val_len")).over(w))
      .filter(col("running_bytes") - col("val_len") < maxBytes)
  }

  /** P3 — batch-straddle adjust: the greatest batch start <= fetchOffset per
    * partition (reference `dynostore.rs:1080-1089`). Expressed as an
    * aggregate, not orderBy().limit(1), so it stays one partial+final agg.
    */
  def straddleStart(log: DataFrame, fetchOffset: Long): DataFrame =
    log.filter(col("offset") <= fetchOffset)
      .groupBy(tp: _*)
      .agg(max(col("offset")).as("batch_start"))

  /** A1 — high/low watermark per partition: low = min(offset),
    * high = max(offset)+1 (reference `dynostore.rs:766-791`,
    * `sql/watermark_select.sql`).
    */
  def watermarks(log: DataFrame): DataFrame =
    log.groupBy(tp: _*)
      .agg(
        min(col("offset")).as("low_watermark"),
        (max(col("offset")) + 1).as("high_watermark"),
        count(lit(1)).as("record_count"))

  /** A5/O1 — earliest/latest offset per partition with timestamps
    * (reference `sql/list_earliest_offset.sql`, `list_latest_offset_*.sql`).
    * min_by/max_by avoid a sort: single hash aggregate.
    */
  def earliestLatest(log: DataFrame): DataFrame =
    log.groupBy(tp: _*)
      .agg(
        min(col("offset")).as("earliest_offset"),
        min_by(col("timestamp"), col("offset")).as("earliest_ts"),
        max(col("offset")).as("latest_offset"),
        max_by(col("timestamp"), col("offset")).as("latest_ts"))

  /** J4 — as-of timestamp lookup: first offset whose timestamp >= ts per
    * partition (reference `sql/list_latest_offset_timestamp.sql`). At scale
    * this is a min-aggregate after a pushed-down timestamp filter — no sort.
    */
  def offsetForTimestamp(log: DataFrame, ts: Column): DataFrame =
    log.filter(col("timestamp") >= ts)
      .groupBy(tp: _*)
      .agg(min(col("offset")).as("offset_for_ts"))

  /** A3/J2/T8 — log compaction: keep the latest record per key, keyless
    * records always retained, offsets preserved with gaps (reference
    * `sql/policy_compact.sql:18-40`, `inflated.rs:224-276`).
    */
  def compact(log: DataFrame): DataFrame = {
    val keyed = log.filter(col("key").isNotNull)
    val keyless = log.filter(col("key").isNull)
    val w = Window.partitionBy(col("topic"), col("partition"), col("key"))
      .orderBy(col("offset").desc)
    keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .unionByName(keyless)
  }

  /** T7/J5 — retention sweep: records older than retention cutoff for topics
    * whose cleanup.policy includes delete (reference `sql/policy_delete.sql`).
    * Returns the survivor set; the maintenance job overwrites with it.
    */
  def applyRetention(log: DataFrame, config: DataFrame, nowTs: Column): DataFrame = {
    val cfg = config.select(
      col("topic").as("cfg_topic"),
      col("retention_ms"),
      col("cleanup_policy"))
    // millisecond precision: cast("long") truncates to whole seconds,
    // which deletes records up to 1s inside a sub-second retention
    // window (and keeps ones up to 1s outside it). Effectively-infinite
    // retentions short-circuit to an always-keep cutoff BEFORE the
    // subtraction — now - Long.MaxValue would overflow (ANSI error)
    val ret = coalesce(col("retention_ms"), lit(Long.MaxValue))
    val cutoff = when(ret >= lit(Long.MaxValue / 2), lit(Long.MinValue))
      .otherwise(unix_millis(nowTs) - ret)
    log.join(broadcast(cfg), col("topic") === col("cfg_topic"), "left")
      .filter(
        !coalesce(col("cleanup_policy"), lit("delete")).contains("delete") ||
        unix_millis(col("timestamp")) >= cutoff)
      .drop("cfg_topic", "retention_ms", "cleanup_policy")
  }

  /** J3 — aborted-transaction interval overlap: transactions whose
    * [offset_start, offset_end] overlaps [fetchOffset, lastStable)
    * (reference `sql/txn_produce_offset_select_overlapping_txn.sql`).
    * A theta-join; the txn table is tiny so it broadcasts.
    */
  def overlappingTxns(txns: DataFrame, fetchOffset: Long, lastStable: Long): DataFrame =
    txns.filter(
      col("state") === "Aborted" &&
      col("offset_start") < lastStable &&
      col("offset_end") >= fetchOffset)

  /** P8 — read_committed visibility: drop records inside aborted ranges
    * (reference `dynostore.rs:1037-1043`, `pg/record_fetch.sql:36`).
    * When BOTH sides carry `producer_id`, only the aborted producer's
    * records are dropped — Kafka client semantics: another producer's
    * committed records interleaved in the offset range stay visible.
    * Without the columns the match is range-only (the caller's ranges
    * are per-producer anyway).
    */
  def readCommitted(log: DataFrame, txns: DataFrame): DataFrame = {
    val matchProducer = log.columns.contains("producer_id") &&
      txns.columns.contains("producer_id")
    val aborted = txns.filter(col("state") === "Aborted")
      .select(Seq(
        col("topic").as("t_topic"), col("partition").as("t_partition"),
        col("offset_start"), col("offset_end")) ++
        (if (matchProducer) Seq(col("producer_id").as("t_pid")) else Nil): _*)
    val cond = col("topic") === col("t_topic") &&
      col("partition") === col("t_partition") &&
      col("offset") >= col("offset_start") && col("offset") <= col("offset_end") &&
      (if (matchProducer) col("producer_id") === col("t_pid") else lit(true))
    log.join(broadcast(aborted), cond, "left_anti")
  }

  /** P4+P8 — read-committed visibility derived purely from the log
    * stream, Kafka-replay style: a transactional data record is visible
    * iff the NEXT control marker from the same producer in the same
    * partition is a commit (reference `pg.rs:1027-1042` writes the
    * markers; consumers replay exactly this rule). One window per
    * (topic, partition, producer) — no join, no driver state; control
    * rows themselves are filtered out (the P4 control-batch filter).
    *
    * `isCommit` evaluates on control rows only (e.g.
    * `col("control_type") === "commit"`). Transactional records with no
    * following marker belong to an open transaction and are invisible;
    * NON-transactional records (producer_id < 0) are always visible —
    * Kafka never gates them on markers.
    */
  def readCommittedFromLog(log: DataFrame, isCommit: Column): DataFrame = {
    // "nearest FOLLOWING marker" expressed as a running frame over
    // descending offsets: an UnboundedPreceding..CurrentRow frame is
    // evaluated incrementally (O(rows)), whereas the literal
    // CurrentRow..UnboundedFollowing frame re-scans the remainder per row
    // (O(rows²) per producer — measured 4s vs 0.3s at sf0.1).
    val w = Window.partitionBy(col("topic"), col("partition"), col("producer_id"))
      .orderBy(col("offset").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    log.withColumn("__next_marker",
        last(when(col("is_control"), isCommit), ignoreNulls = true).over(w))
      .filter(!col("is_control") &&
        (col("producer_id") < 0 || col("__next_marker") === true))
      .drop("__next_marker")
  }

  /** T5 recovery — aborted transaction ranges recomputed from the log
    * alone: group each producer's records into transactions by counting
    * preceding control markers, keep groups terminated by an abort
    * marker, emit (producer_id, offset_start, offset_end). This is what
    * makes aborted-range state restart-safe: no driver-side map needed,
    * the markers ARE the durable state (reference `pg.rs:1027-1042`).
    */
  def abortedRangesFromLog(log: DataFrame): DataFrame = {
    val ctrl = when(col("is_control"), 1).otherwise(0)
    val w = Window.partitionBy(col("topic"), col("partition"), col("producer_id"))
      .orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = log.filter(col("producer_id") >= 0)
      .withColumn("txn_seq", sum(ctrl).over(w) - ctrl)
    val aborts = marked
      .filter(col("is_control") && col("control_type") === "abort")
      .select(col("topic").as("a_topic"), col("partition").as("a_partition"),
        col("producer_id").as("a_pid"), col("txn_seq").as("a_seq"))
    marked.filter(!col("is_control"))
      .join(broadcast(aborts),
        col("topic") === col("a_topic") && col("partition") === col("a_partition") &&
        col("producer_id") === col("a_pid") && col("txn_seq") === col("a_seq"))
      .groupBy(col("topic"), col("partition"), col("producer_id"), col("txn_seq"))
      .agg(min(col("offset")).as("offset_start"),
        max(col("offset")).as("offset_end"))
  }

  /** A6/T4 — idempotent-producer duplicate detection: records whose
    * (producer_id, producer_epoch, base_sequence) repeats within a partition
    * (reference `dynostore.rs:826-880`). Returns offending rows.
    */
  def duplicateSequences(log: DataFrame): DataFrame = {
    // non-idempotent rows (producer_id < 0) all share one sequence key
    // and are NOT duplicates of each other; control markers carry no
    // sequence either — both are out of scope for the check
    val eligible0 = log.filter(col("producer_id") >= 0)
    val eligible =
      if (log.columns.contains("is_control")) eligible0.filter(!col("is_control"))
      else eligible0
    val w = Window.partitionBy(
      col("topic"), col("partition"),
      col("producer_id"), col("producer_epoch"), col("base_sequence"))
      .orderBy(col("offset"))
    eligible.withColumn("dup_rank", row_number().over(w))
      .filter(col("dup_rank") > 1)
  }

  /** J6 — consumer-group offset lookup joined with live watermarks to
    * compute lag (reference `sql/consumer_offset_select_by_group.sql`).
    */
  def groupLag(log: DataFrame, offsets: DataFrame): DataFrame =
    watermarks(log)
      .join(offsets, Seq("topic", "partition"))
      .withColumn("lag", col("high_watermark") - col("committed_offset"))
}
