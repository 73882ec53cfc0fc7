package graft.filters

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode, NullNode}
import com.fasterxml.jackson.core.json.JsonReadFeature

/** JSON parse/serialize with the reference's NaN policy: parse accepts
  * NaN/Infinity literals; serialization emits them as `null`
  * (simplejson `ignore_nan=True` — `/root/reference/src/aerovaldb/
  * utils/json.py:11-18`). */
object JsonUtil {
  val mapper: ObjectMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  def parse(json: String): JsonNode = mapper.readTree(json)

  /** Replace non-finite numbers with null, recursively (in a copy). */
  def nanToNull(node: JsonNode): JsonNode = node match {
    case d: DoubleNode if d.doubleValue.isNaN || d.doubleValue.isInfinite =>
      NullNode.getInstance
    case o: ObjectNode =>
      val copy = o.objectNode()
      o.properties().forEach(e => copy.set[JsonNode](e.getKey, nanToNull(e.getValue)))
      copy
    case a: ArrayNode =>
      val copy = a.arrayNode()
      a.forEach(e => copy.add(nanToNull(e)))
      copy
    case other => other
  }

  def serialize(node: JsonNode): String = mapper.writeValueAsString(nanToNull(node))

  /** Parse-and-reserialize a JSON string applying the NaN policy. */
  def normalize(json: String): String = serialize(parse(json))

  /** Sorted-key canonical serialization: object keys ordered, no
    * whitespace — a formatting- and field-order-independent content
    * identity. Two backends that store the same asset with different
    * pretty-printing or key order canonicalize to the same string,
    * which is the equality a replica audit (av06) wants. */
  def canonicalize(n: JsonNode): String = {
    import scala.jdk.CollectionConverters._
    if (n.isObject)
      n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
        .sortBy(_._1)
        .map { case (k, v) => s"${mapper.writeValueAsString(k)}:${canonicalize(v)}" }
        .mkString("{", ",", "}")
    else if (n.isArray) n.asScala.map(canonicalize).mkString("[", ",", "]")
    else serialize(n)
  }

  def canonicalize(json: String): String = canonicalize(parse(json))

  def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  /** Hex MD5 of a JSON document's canonical form. */
  def canonicalMd5(json: String): String =
    md5hex(canonicalize(json).getBytes("UTF-8"))

  /** The content hash of a stored JSON-route document — the scalar the
    * replica audit (av06) computes per asset on both backends: the
    * [[canonicalMd5]] of a document that parses, the MD5 of the raw
    * text of one that does not. The stores keep an invalid document
    * as written, so its raw text is the identity both backends share,
    * and one such document no longer fails the whole audit. */
  def contentMd5(json: String): String =
    try canonicalMd5(json)
    catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException => md5hex(json.getBytes("UTF-8"))
    }
}
