package graft

import graft.sources.SchemaInfer
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Schema pipeline tests, including the golden test against the reference's
  * committed inferred schema (office365_signin/schema.asvc — each field's
  * doc string embeds the original sample value, a ready-made inference
  * fixture; SURVEY.md §5.4). */
class SchemaInferSpec extends SparkSpec {

  private val asvcPath = "/root/reference/office365_signin/schema.asvc"

  test("golden: inference from the reference schema's own samples recovers its field set") {
    val mapper = new ObjectMapper()
    val root   = mapper.readTree(new java.io.File(asvcPath))
    val fields = root.get("fields").elements().asScala.toSeq
    val sample = mapper.createObjectNode()
    val names  = fields.map { f =>
      val name = f.get("name").asText()
      val doc  = f.get("doc").asText() // "Type inferred from '<json>'"
      val raw  = doc.stripPrefix("Type inferred from '").stripSuffix("'")
      sample.set[com.fasterxml.jackson.databind.node.ObjectNode](name, mapper.readTree(raw))
      name
    }
    val st = SchemaInfer.allNullable(SchemaInfer.infer(spark, Seq(mapper.writeValueAsString(sample))))
    assert(st.fieldNames.toSet === names.toSet, "field set must match the reference schema")
    assert(st.fields.forall(_.nullable), "all fields nullable (enableDefaultValue parity)")
    // type compatibility: reference int/long -> spark integral; string -> string
    val refTypes = fields.map { f =>
      f.get("name").asText() -> f.get("type").elements().asScala.map(_.asText()).toSeq.filterNot(_ == "null").head
    }.toMap
    refTypes.foreach { case (n, rt) =>
      val dt = st(n).dataType
      rt match {
        case "string"        => assert(dt === StringType, s"$n")
        case "int" | "long"  => assert(dt === LongType || dt === IntegerType, s"$n")
        case "float" | "double" => assert(dt === DoubleType, s"$n")
        case _               => // nested/other: presence is enough for the golden check
      }
    }
  }

  test("golden BYTES: asvc writer regenerates the reference schema.asvc exactly") {
    // The doc strings embed each field's original sample value; rebuild the
    // sample document from them, run the writer, byte-diff against the
    // committed artifact — "type":"error" quirk, unions, docs, escaping,
    // single-line layout, no trailing newline, all of it.
    val mapper = new ObjectMapper()
    val root   = mapper.readTree(new java.io.File(asvcPath))
    val ruleName = root.get("name").asText()
    val fields   = root.get("fields").elements().asScala.toSeq
    val sampleJson = fields
      .map { f =>
        val name = f.get("name").asText()
        val doc  = f.get("doc").asText()
        val raw  = doc.stripPrefix("Type inferred from '").stripSuffix("'")
        s"${mapper.writeValueAsString(name)}:$raw"
      }
      .mkString("{", ",", "}")
    val regenerated = graft.sources.AvroAsvc.fromSampleJson(ruleName, sampleJson)
    val original    = java.nio.file.Files.readString(java.nio.file.Paths.get(asvcPath))
    assert(regenerated === original, "asvc byte stream must match the reference artifact")
  }

  test("asvc writer sanitizes rule names and persists without trailing newline") {
    // the export publishes this text as schema.asvc, byte for byte (ParquetSinkSpec)
    val text = graft.sources.AvroAsvc.fromSampleJson("my-rule-x", """{"k":1,"s":"v"}""")
    assert(text.startsWith("""{"type":"error","name":"my_rule_x","""), text)
    assert(text.contains(""""type":["null","int"]"""), text)
    assert(!text.endsWith("\n"))
  }

  test("widenMaxFields keeps the widest candidate (reference width-max semantics)") {
    val narrow = StructType(Seq(StructField("a", LongType)))
    val wide   = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    assert(SchemaInfer.widenMaxFields(Seq(narrow, wide)) === wide)
    assert(SchemaInfer.widenMaxFields(Seq(wide, narrow)) === wide)
  }

  test("widenUnion unions field sets, first type wins on collision") {
    val s1 = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val s2 = StructType(Seq(StructField("b", LongType), StructField("c", DoubleType)))
    val u  = SchemaInfer.widenUnion(Seq(s1, s2))
    assert(u.fieldNames.toSeq === Seq("a", "b", "c"))
    assert(u("b").dataType === StringType)
  }

  test("widenUnion is monotone: adding a candidate never loses fields") {
    val s1 = StructType(Seq(StructField("a", LongType)))
    val s2 = StructType(Seq(StructField("b", StringType)))
    val s3 = StructType(Seq(StructField("c", DoubleType)))
    val u12  = SchemaInfer.widenUnion(Seq(s1, s2))
    val u123 = SchemaInfer.widenUnion(Seq(s1, s2, s3))
    assert(u12.fieldNames.toSet.subsetOf(u123.fieldNames.toSet))
  }

  test("allNullable promotes recursively through structs and arrays") {
    val nested = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("s", StructType(Seq(StructField("y", StringType, nullable = false))), nullable = false),
      StructField("arr", ArrayType(StructType(Seq(StructField("z", LongType, nullable = false))), containsNull = false), nullable = false)
    ))
    val n = SchemaInfer.allNullable(nested)
    assert(n.fields.forall(_.nullable))
    assert(n("s").dataType.asInstanceOf[StructType].fields.forall(_.nullable))
    val at = n("arr").dataType.asInstanceOf[ArrayType]
    assert(at.containsNull)
    assert(at.elementType.asInstanceOf[StructType].fields.forall(_.nullable))
  }

  test("persist writes schema JSON readable back to the same StructType") {
    // the export publishes this JSON beside its data as schema.json
    val st   = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val dir  = java.nio.file.Files.createTempDirectory("graft_schema").toString
    val noRows = spark.range(0).select(org.apache.spark.sql.functions.current_timestamp().as("ts"))
    graft.sources.ParquetSink.writeByDay(noRows, dir, Map("schema.json" -> Some(SchemaInfer.allNullable(st).prettyJson)))
    val path = java.nio.file.Paths.get(s"$dir/schema.json")
    val back = DataType.fromJson(java.nio.file.Files.readString(path)).asInstanceOf[StructType]
    assert(back.fieldNames.toSeq === Seq("a", "b"))
  }

  // ---- driver-side inference is the reader's inference ----

  /** A session in a zone other than UTC; inference must not depend on it. */
  private lazy val nonUtc = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s
  }

  /** The driver-side schema of `json` equals `spark.read.json`'s, in the
    * UTC session and in a non-UTC one. */
  private def assertReaderSchema(json: Seq[String], clue: => String): Unit =
    Seq(spark, nonUtc).foreach { s =>
      import s.implicits._
      val reader = s.read.json(json.toDS()).schema
      assert(SchemaInfer.infer(s, json) === reader,
        s"$clue [${s.conf.get("spark.sql.session.timeZone")}]: ${json.take(5).mkString(" | ")}")
    }

  test("driver inference equals the reader's on the sf0.001 and sf0.01 events.props corpus") {
    import spark.implicits._
    for (dir <- Seq(sf, sf01)) {
      val ev    = Tables.events(spark, dir)
      val props = ev.orderBy($"event_id").select($"props").as[String].collect().toSeq
      assertReaderSchema(props, s"$dir all")
      assertReaderSchema(props.take(200), s"$dir first 200")
      for (t <- ev.select($"event_type").distinct().as[String].collect().sorted) {
        val typed = ev.where($"event_type" === t).orderBy($"event_id").select($"props").as[String].take(100)
        assertReaderSchema(typed.toSeq, s"$dir $t sample")
      }
    }
  }

  /** Office365-like props objects shaped as the benchmark corpus makes
    * them, every 40th cut in half (a malformed string). */
  private def office365Props(rnd: scala.util.Random, n: Int): Seq[String] = {
    def str(v: String) = "\"" + v + "\""
    def opt(p: Double, v: => String) = if (rnd.nextDouble() < p) "null" else v
    (0 until n).map { i =>
      val ms = 1709251200000L + rnd.nextInt(1000000000)
      val original = s"""{"id":"${rnd.nextLong().toHexString}","isInteractive":${rnd.nextBoolean()},""" +
        s""""location":{"city":"Boston","geoCoordinates":{"latitude":${rnd.nextDouble() * 80},"altitude":null}},""" +
        s""""status":{"errorCode":${rnd.nextInt(3) * 50000},"failureReason":null},"riskEventTypes":[]}"""
      val body = Seq(
        "application" -> str("Microsoft Teams"),
        "operating_system" -> opt(0.1, str("MacOs")),
        "receive_time" -> (ms + rnd.nextInt(120000)).toString,
        "event_level" -> rnd.nextInt(4).toString,
        "customize_country" -> opt(0.15, str("CN")),
        "occur_time" -> ms.toString,
        "original_log" -> ("\"" + original.replace("\"", "\\\"") + "\""),
        "id" -> (rnd.nextLong() >>> 11).toString,
        "createdDateTime" -> str("2024-03-01T12:00:00.000Z"),
        "client_app" -> opt(0.1, str("Browser")),
        "user_name" -> str(s"user${rnd.nextInt(1000)}@example.onmicrosoft.com")
      ).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
      if (i % 40 == 39) body.take(body.length / 2) else body
    }
  }

  test("driver inference equals the reader's on the benchmark's props shapes, malformed ones included") {
    val rnd = new scala.util.Random(11)
    val corpus = office365Props(rnd, 500)
    assertReaderSchema(corpus, "office365 500")
    assertReaderSchema(corpus.take(100), "office365 sample")
    assertReaderSchema(corpus.drop(39).take(5), "office365 malformed first")
    assertReaderSchema(corpus.filter(_.endsWith("}")).take(100), "office365 well-formed")
  }

  /** One random JSON value: scalars of every inferred kind, nested objects
    * and arrays; keys come from a small pool so types collide across rows. */
  private def randomValue(rnd: scala.util.Random, depth: Int): String = {
    val keys = Seq("a", "b", "c", "d", "e")
    rnd.nextInt(if (depth > 2) 9 else 12) match {
      case 0 => "null"
      case 1 => rnd.nextBoolean().toString
      case 2 => rnd.nextInt(100).toString
      case 3 => (Int.MaxValue.toLong + rnd.nextInt(1000)).toString
      case 4 => "123456789012345678901234567890" // beyond a long: a decimal
      case 5 => f"${rnd.nextDouble() * 100}%.3f"
      case 6 => "1.5e3"
      case 7 => "\"" + Seq("x", "2024-03-01", "2024-03-01T12:00:00Z", "1", "true", "").apply(rnd.nextInt(6)) + "\""
      case 8 => "{}"
      case 9 | 10 =>
        keys.filter(_ => rnd.nextInt(3) == 0).map(k => s""""$k":${randomValue(rnd, depth + 1)}""")
          .mkString("{", ",", "}")
      case _ => (0 until rnd.nextInt(3)).map(_ => randomValue(rnd, depth + 1)).mkString("[", ",", "]")
    }
  }

  /** One random document: mostly objects, sometimes a top-level array,
    * scalar, null string, empty or malformed text. */
  private def randomDoc(rnd: scala.util.Random): String = rnd.nextInt(20) match {
    case 0 => null
    case 1 => ""
    case 2 => """{"a": 1"""
    case 3 => "not json"
    case 4 => randomValue(rnd, 3) // a top-level scalar, {} or null
    case 5 | 6 => (0 until rnd.nextInt(3)).map(_ => randomValue(rnd, 1)).mkString("[", ",", "]")
    case _ => randomValue(rnd, 0) match {
      case obj if obj.startsWith("{") => obj
      case v => s"""{"a":$v}"""
    }
  }

  test("driver inference equals the reader's on random JSON: nulls, arrays, scalars, type mixes, malformed text") {
    val rnd = new scala.util.Random(7)
    for (i <- 0 until 60) {
      val docs = Seq.fill(1 + rnd.nextInt(12))(randomDoc(rnd))
      assertReaderSchema(docs, s"random corpus $i")
    }
    assertReaderSchema(Seq.empty, "no documents")
    assertReaderSchema(Seq(null), "one null string")
    assertReaderSchema(Seq("[]", "{}", "null"), "empty containers")
  }
}
