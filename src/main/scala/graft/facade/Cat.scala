package graft.facade

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Model.Topition
import graft.storage.Storage

/** S10/S11 — the `cat` CLI equivalents (reference `nisshi-cat/src/
  * produce.rs`, `consume.rs`): produce JSON documents into a topic and
  * consume a topic back out as JSON lines.
  *
  * Library-level API (a thin `main` can wrap these): everything flows
  * through the same validated Storage produce/fetch path the broker
  * uses.
  */
object Cat {

  /** Produce: read a JSON-lines file, route rows to partitions by key
    * hash, append through Storage.produce (validation + offsets apply).
    * Returns per-partition base offsets.
    *
    * With a registry, docs destined for an Avro or proto topic are
    * ENCODED per the topic schema before produce (the reference's
    * `AsKafkaRecord` path, `nisshi-schema/src/avro.rs:507-537`) — raw
    * JSON text would fail the topic's decode-validation. JSON-schema'd
    * and schemaless topics keep the JSON text value.
    */
  def produce(spark: SparkSession, storage: Storage, topic: String,
              partitions: Int, jsonPath: String,
              keyField: String = "key",
              registry: Option[graft.schema.SchemaRegistry] = None)
      : Seq[(Int, Either[Int, Long])] = {
    val docs = spark.read.json(jsonPath)
    // the routing key lives in its own column: overwriting a document
    // column named "key" (when keyField != "key") would corrupt the
    // encoded value payload, which must see the ORIGINAL doc fields
    val withKey =
      if (docs.columns.contains(keyField))
        docs.withColumn("__rkey", col(keyField).cast("string"))
      else docs.withColumn("__rkey", lit(null).cast("string"))
    // JSON inference yields long/double/string; the schema's Spark types
    // (int/float/decimal/...) drive the cast before binary encode
    def typedCols(struct0: org.apache.spark.sql.types.StructType) =
      struct0.fields.toSeq.map { f =>
        (if (docs.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }
    val valued = registry.flatMap(_.lookup(topic)) match {
      case Some(a: graft.schema.SchemaRegistry.AvroTopic) =>
        graft.schema.AvroDecoder.encodeColumn(
          withKey.select((col("__rkey") +: typedCols(a.struct)): _*),
          a.avsc, "value")
      case Some(p: graft.schema.SchemaRegistry.ProtoTopic) =>
        graft.schema.ProtoSchema.encodeColumn(
          withKey.select((col("__rkey") +: typedCols(p.valueType)): _*),
          p.text, p.valueMessage, "value")
      case _ =>
        withKey.withColumn("value", to_json(struct(docs.columns.map(col): _*)))
    }
    val routed = valued
      .withColumn("timestamp", current_timestamp())
      .withColumn("partition", pmod(hash(col("__rkey")), lit(partitions)))
      .select(col("timestamp"), col("__rkey").as("key"), col("value"),
        col("partition"))
      .cache()
    try {
      (0 until partitions).map { p =>
        val part = routed.filter(col("partition") === p).drop("partition")
        p -> (if (part.isEmpty) Right(-1L)
              else storage.produce(Topition(topic, p), part))
      }
    } finally { routed.unpersist(); () }
  }

  /** Consume: fetch [fromOffset, end) across partitions, emit JSON lines
    * (offset/key/value envelope like the reference's AsJsonValue).
    */
  def consume(storage: Storage, topic: String, partitions: Int,
              fromOffset: Long = 0L, maxBytes: Long = Long.MaxValue): DataFrame = {
    val frames = (0 until partitions).map { p =>
      storage.fetch(Topition(topic, p), fromOffset, maxBytes)
        .select(lit(p).as("partition"), col("offset"),
          col("key").cast("string").as("key"),
          col("value").cast("string").as("value"))
    }
    frames.reduce(_ unionByName _)
  }

  // collect() is safe by construction: each per-partition fetch is
  // maxBytes-bounded by the storage fetch, so the union is too —
  // this is a CLI tail, not an analytic path
  def consumeJson(storage: Storage, topic: String, partitions: Int): Seq[String] =
    consume(storage, topic, partitions)
      .orderBy("partition", "offset").toJSON.collect().toSeq
}
