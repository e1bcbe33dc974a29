package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.{MalformedInputException, StandardCharsets}

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.util.Utils

/** The schema `spark.read.json` infers for a Dataset of JSON strings, for
  * strings already on the driver, inferred there without a Spark job.
  *
  * The steps are those of the reader's `JsonInferSchema.infer`, minus the
  * job that distributes them: the options come from the session conf as
  * `DataFrameReader.json` builds them (no reader options, so PERMISSIVE
  * mode and no sampling), each string is parsed from its UTF-8 bytes and
  * typed with `inferField`, a string that fails to parse types as the
  * `_corrupt_record` struct, the types fold with `compatibleRootType`
  * from the empty struct, and `canonicalizeType` finishes the root.
  * `canonicalizeType` is private to this package, so this one-file shim
  * sits here; [[org.apache.spark.sql.GraftBridge]] is the other.
  */
object GraftJsonInfer {

  def infer(spark: SparkSession, json: Seq[String]): StructType = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options   = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord)
      val inference = new JsonInferSchema(options)
      val factory   = options.buildJsonFactory()
      val corrupt: DataType = StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
      // the reader's row parser fails on a null string, and a parse
      // failure of any of these kinds is a malformed record
      def typeOf(s: String): DataType =
        if (s == null) corrupt
        else try {
          val bytes = s.getBytes(StandardCharsets.UTF_8)
          Utils.tryWithResource(factory.createParser(bytes, 0, bytes.length)) { parser =>
            parser.nextToken()
            inference.inferField(parser)
          }
        } catch {
          case _: RuntimeException | _: JsonProcessingException | _: MalformedInputException |
              _: CharConversionException => corrupt
        }
      val merge = JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
      // one partition's reduce, then the driver's fold from the empty struct
      val root  = json.map(typeOf).reduceOption(merge).foldLeft(StructType(Nil): DataType)(merge)
      inference.canonicalizeType(root, options).collect { case st: StructType => st }.getOrElse(StructType(Nil))
    }
  }
}
