package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Byte-format-exact Avro `.asvc` schema persistence — the reference's
  * on-disk schema artifact (Bootstrap.java:182-194), reproduced quirk for
  * quirk:
  *
  *   - the record is serialized as `"type":"error"` because
  *     `enableDefaultValue` rebuilds it with `isError = true`
  *     (Bootstrap.java:229; office365_signin/schema.asvc begins
  *     `{"type":"error",...}`) — semantically identical to a record for
  *     Avro/Parquet purposes;
  *   - every field is the union `["null", T]` with `"default":null`
  *     (Bootstrap.java:225-226);
  *   - every field carries the kite-style provenance doc
  *     `Type inferred from '<sample JSON literal>'`;
  *   - record name = rule name with `-` → `_` (Bootstrap.java:298);
  *   - single line, no trailing newline, Jackson-default JSON escaping.
  *
  * Byte parity with the committed reference schema is golden-tested in
  * SchemaInferSpec by regenerating office365_signin/schema.asvc from its own
  * doc samples. The engine's primary schema artifact remains the richer
  * StructType JSON (`schema.json`); this writer exists for drop-in output
  * compatibility with the reference.
  */
object AvroAsvc {

  private val mapper = new ObjectMapper()

  /** Avro primitive name for a sampled JSON value, following kite
    * `JsonUtil.inferSchema`'s literal-driven choices: integral fitting an
    * int → `int`, wider integral → `long`, any floating → `double`. Only
    * the flat primitive surface the reference ever meets is supported;
    * nested samples belong to the engine's StructType path. */
  def inferAvroType(node: JsonNode): String =
    if (node.isNull) "null"
    else if (node.isBoolean) "boolean"
    else if (node.isInt) "int"
    else if (node.isLong || node.isBigInteger) "long"
    else if (node.isFloatingPointNumber) "double"
    else if (node.isTextual) "string"
    else
      throw new IllegalArgumentException(
        s"asvc writer handles the reference's flat primitive surface; got ${node.getNodeType}"
      )

  /** Whether [[fromSampleJson]] renders `sampleJson`: a JSON object whose
    * values are all primitives or null. */
  def renders(sampleJson: String): Boolean =
    try {
      val root = mapper.readTree(sampleJson)
      root.isObject && !root.elements().asScala.exists(_.isContainerNode)
    } catch { case _: Exception => false }

  /** One field of the rendered schema. `sampleLiteral` is the exact JSON
    * serialization of the sampled value (quotes included for strings). */
  final case class AsvcField(name: String, avroType: String, sampleLiteral: String)

  /** Jackson-escaped JSON string literal (matches how Avro's own
    * Schema.toString, itself Jackson-backed, wrote the original file). */
  private def jstr(s: String): String = mapper.writeValueAsString(s)

  /** Render the single-line `.asvc` byte stream. */
  def render(ruleName: String, fields: Seq[AsvcField]): String = {
    val name = ruleName.replace("-", "_")
    val fs = fields.map { f =>
      s"""{"name":${jstr(f.name)},"type":["null","${f.avroType}"],""" +
        s""""doc":${jstr(s"Type inferred from '${f.sampleLiteral}'")},"default":null}"""
    }
    s"""{"type":"error","name":${jstr(name)},"fields":[${fs.mkString(",")}]}"""
  }

  /** Infer + render from one sampled JSON document (field order = document
    * order, as kite preserved it). */
  def fromSampleJson(ruleName: String, sampleJson: String): String = {
    val root = mapper.readTree(sampleJson)
    require(root.isObject, "sample must be a JSON object")
    val it = root.fields()
    val fields = Iterator
      .continually(it)
      .takeWhile(_.hasNext)
      .map(_.next())
      .map(e => AsvcField(e.getKey, inferAvroType(e.getValue), mapper.writeValueAsString(e.getValue)))
      .toSeq
    render(ruleName, fields)
  }
}
