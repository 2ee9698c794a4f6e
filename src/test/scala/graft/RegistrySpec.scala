package graft

import graft.sources.ConsulSchemaRegistry
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Consul KV registry: real JSON parse of the KV response (reference:
  * `ConsulAvroDeserializeService.java:63-96`), exercised against an
  * in-process HTTP stub — no live Consul needed (zero-egress CI).
  */
class RegistrySpec extends AnyFunSuite {

  // an Avro schema full of quotes — the payload the old regex parse
  // could garble when other response fields contain escaped quotes
  private val avsc =
    """{"type":"record","name":"t","doc":"say \"hi\"","fields":[
      |{"name":"id","type":"long"}]}""".stripMargin
  private val b64 = java.util.Base64.getEncoder.encodeToString(avsc.getBytes(UTF_8))

  test("parseKvValue: JSON-parses array and object responses, escaped quotes intact") {
    val resp =
      s"""[{"LockIndex":0,"Key":"schemas/t","Flags":0,
          "Notes":"a \\"quoted\\" note with \\"Value\\": \\"decoy\\"",
          "Value":"$b64","CreateIndex":5,"ModifyIndex":9}]"""
    assert(ConsulSchemaRegistry.parseKvValue(resp).contains(b64))
    // single-object form too
    assert(ConsulSchemaRegistry.parseKvValue(s"""{"Value":"$b64"}""").contains(b64))
    // null / absent Value → None (missing key is a hard failure upstream)
    assert(ConsulSchemaRegistry.parseKvValue("""[{"Key":"x","Value":null}]""").isEmpty)
    assert(ConsulSchemaRegistry.parseKvValue("""[]""").isEmpty)
  }

  /** Runs `f` against an in-process Consul KV stub that answers every
    * `/v1/kv/<key>` with the schema above; `f` gets the stub's port and a
    * view of the requests served so far, counted per path. */
  private def withConsulStub[A](f: (Int, () => Map[String, Int]) => A): A = {
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/v1/kv/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val path = ex.getRequestURI.getPath
        hits.merge(path, 1, (a: Integer, b: Integer) => a + b)
        val body =
          s"""[{"Key":"${path.stripPrefix("/v1/kv/")}","Notes":"has \\"escapes\\"","Value":"$b64"}]"""
            .getBytes(UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.start()
      f(server.getAddress.getPort, () => hits.asScala.map { case (k, v) => k -> v.intValue }.toMap)
    } finally server.stop(0)
  }

  test("end-to-end fetch against a local HTTP stub decodes the schema") {
    withConsulStub { (port, _) =>
      val reg = new graft.sources.ConsulSchemaRegistry(
        "127.0.0.1", port, Map("t" -> "schemas/t"))
      assert(reg.schemaJson("t") == avsc)
      // the fetched JSON is a valid Avro schema (quotes survived)
      assert(reg.avroSchema("t").getField("id") != null)
      intercept[NoSuchElementException] { reg.schemaJson("unmapped") }
    }
  }

  test("each topic's schema is fetched from Consul once, however often it is read") {
    withConsulStub { (port, hits) =>
      val reg = new graft.sources.ConsulSchemaRegistry(
        "127.0.0.1", port, Map("t" -> "schemas/t", "u" -> "schemas/u"))
      // validate, then start: every read a pipeline makes per topic
      for (_ <- 1 to 2; topic <- Seq("t", "u")) {
        reg.schemaJson(topic)
        reg.avroSchema(topic)
        reg.sparkSchema(topic)
      }
      assert(hits() == Map("/v1/kv/schemas/t" -> 1, "/v1/kv/schemas/u" -> 1))
    }
  }
}
