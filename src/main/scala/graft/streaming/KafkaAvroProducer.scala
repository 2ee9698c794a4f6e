package graft.streaming

import graft.functions.AvroFunctions
import graft.sources.SchemaRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The producer path — the reference's test producer re-expressed
  * Spark-first (`GenericRecordKafkaProducer.java:58-96` drives a
  * `KafkaProducer` whose value serializer Avro-encodes each
  * GenericRecord, `KafkaAvroEventSerializer.java:30-49`).
  *
  * Here the per-record serializer is the native `to_avro_bytes`
  * expression over a struct projected in the topic's registered field
  * order (what GenericDatumWriter does). The wire frame
  * `(topic, value binary)` is exactly what `KafkaEtlPipeline` consumes,
  * so produce→consume round-trips in-process (StreamingSpec) with no
  * brokers; against a real cluster the caller writes the same frame
  * with Spark's Kafka sink (`format("kafka")` plus its broker options).
  *
  * Scale: encode is stateless per-record map work — no shuffle.
  */
object KafkaAvroProducer {

  /** Project `df`'s columns into the topic's registered schema (field
    * order from the schema) and Avro-encode: returns the wire frame
    * `(topic string, value binary)`. */
  def wireFrame(df: DataFrame, topic: String, registry: SchemaRegistry): DataFrame = {
    val schema = registry.avroSchema(topic)
    import scala.jdk.CollectionConverters._
    val fields = schema.getFields.asScala.map(f => col(f.name())).toSeq
    df.select(lit(topic).as("topic"),
              AvroFunctions.to_avro_bytes(struct(fields: _*), schema.toString).as("value"))
  }
}
