package graft.sources

import graft.functions.AvroCatalyst
import org.apache.avro.Schema
import org.apache.spark.sql.types.StructType

/** Per-topic Avro schema registry (SURVEY.md §1.3, §2 row 3).
  *
  * Mirrors the reference's `AvroDeserializeService` surface
  * (`/root/reference/src/main/java/kafka/etl/deserialize/AvroDeserializeService.java:20-28`):
  * a topic-keyed lookup, resolved ON THE DRIVER before query start and
  * embedded into the plan as literals — no executor-side registry traffic,
  * which is what makes the design hold at 1000 executors.
  *
  * Schemas are fixed at startup (the reference caches once in `init()`,
  * `AbstractAvroDeserializeService.java:19`, and never refreshes); we keep
  * that contract: `schemaJson` is pure and cacheable.
  */
trait SchemaRegistry extends Serializable {
  /** Raw Avro schema JSON for a topic; throws if unregistered (the
    * reference NPEs at decode time — we fail fast at plan time instead,
    * `AbstractAvroDeserializeService.java:47`). */
  def schemaJson(topic: String): String

  def avroSchema(topic: String): Schema =
    new Schema.Parser().parse(schemaJson(topic))

  def sparkSchema(topic: String): StructType =
    AvroCatalyst(avroSchema(topic)).dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"topic $topic: top-level Avro schema must be a record, got $other")
    }

  def topics: Set[String]
}

/** Fixed in-memory mapping (test + programmatic use). */
final class InMemorySchemaRegistry(mapping: Map[String, String]) extends SchemaRegistry {
  override def schemaJson(topic: String): String =
    mapping.getOrElse(topic, throw new NoSuchElementException(
      s"no Avro schema registered for topic '$topic'"))
  override def topics: Set[String] = mapping.keySet
}

/** Classpath-resource registry: topic → `.avsc` resource (reference:
  * `ClasspathAvroDeserializeService.java:23-42`, which loads
  * `Properties`-mapped resource paths at init).
  *
  * @param mapping topic → resource path (e.g. "avro/item-view-event.avsc")
  */
final class ClasspathSchemaRegistry(mapping: Map[String, String]) extends SchemaRegistry {
  override def schemaJson(topic: String): String = {
    val path = mapping.getOrElse(topic, throw new NoSuchElementException(
      s"no Avro schema resource mapped for topic '$topic'"))
    val in = Option(getClass.getClassLoader.getResourceAsStream(path))
      .getOrElse(throw new IllegalArgumentException(
        s"schema resource '$path' for topic '$topic' not found on classpath"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def topics: Set[String] = mapping.keySet
}

object ClasspathSchemaRegistry {
  /** Convention form: each topic maps to `avro/<topic>.avsc`. */
  def forTopics(topics: Seq[String]): ClasspathSchemaRegistry =
    new ClasspathSchemaRegistry(topics.map(t => t -> s"avro/$t.avsc").toMap)
}

/** Consul-KV registry (reference: `ConsulAvroDeserializeService.java:23-96`
  * — fetches a base64-encoded schema JSON from the KV HTTP API; a missing
  * key is a hard failure, `:39-42`).
  *
  * Network-gated: exercised only in environments with a reachable Consul
  * agent; construction is pure, each topic is fetched on its first
  * `schemaJson` call and kept (the reference's `init()` cache).
  *
  * @param mapping topic → KV key path (e.g. "schemas/item-view-event")
  */
final class ConsulSchemaRegistry(host: String, port: Int,
                                 mapping: Map[String, String]) extends SchemaRegistry {
  // one fetch per topic: schemas are fixed at startup, so a validated
  // schema is the one the pipeline later runs (a failed fetch is not kept)
  private val fetched = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def schemaJson(topic: String): String = fetched.computeIfAbsent(topic, fetch)

  private def fetch(topic: String): String = {
    val key = mapping.getOrElse(topic, throw new NoSuchElementException(
      s"no Consul KV path mapped for topic '$topic'"))
    val url = new java.net.URI(s"http://$host:$port/v1/kv/$key?raw=false").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val body =
      try new String(conn.getInputStream.readAllBytes(),
                     java.nio.charset.StandardCharsets.UTF_8)
      finally conn.disconnect()
    ConsulSchemaRegistry.parseKvValue(body).map { b64 =>
      new String(java.util.Base64.getDecoder.decode(b64),
                 java.nio.charset.StandardCharsets.UTF_8)
    }.getOrElse(throw new IllegalStateException(
      s"Consul KV $key returned no Value for topic '$topic'"))
  }
  override def topics: Set[String] = mapping.keySet
}

object ConsulSchemaRegistry {
  /** Extract the base64 `Value` from a Consul KV response
    * `[{"Key": …, "Value": "<base64>", …}, …]` with a real JSON parse
    * (jackson, already on the Spark classpath) — the reference does the
    * same via its JSON mapper (`ConsulAvroDeserializeService.java:63-96`);
    * a regex would corrupt on escaped quotes elsewhere in the response. */
  private[graft] def parseKvValue(body: String): Option[String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val node =
      if (root == null) null
      else if (root.isArray && root.size() > 0) root.get(0).get("Value")
      else if (root.isObject) root.get("Value")
      else null
    Option(node).filter(n => !n.isNull).map(_.asText())
  }
}
