package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.GraftJsonInfer
import org.apache.spark.sql.types._

/** Schema pipeline: sample → infer → widen → nullable-promote → persist.
  *
  * Reference semantics (SURVEY.md §1.3, O5-O9): infer an Avro schema from one
  * sampled JSON doc per partition (Bootstrap.java:294-298), keep the widest
  * candidate (:299-303), wrap every field nullable with null default
  * (:221-232), persist beside the output (:182-194).
  *
  * Spark-first re-expression: the samples are a bounded set already on the
  * driver (a pushed top-N, one search page, a `take`), and [[infer]] types
  * them there with Spark's own JSON inference code, which set-unions fields
  * across ALL samples (strictly better than width-max) and marks everything
  * nullable. Both merge strategies are exposed so the reference's width-max
  * behavior remains available and testable.
  */
object SchemaInfer {

  /** Infer a StructType from JSON strings on the driver (kite
    * `JsonUtil.inferSchema` analog): exactly the schema that
    * `spark.read.json` infers for the same strings as a Dataset, without
    * its Spark job ([[GraftJsonInfer]]). A string that does not parse as
    * JSON adds the session's `_corrupt_record` column, as in the reader. */
  def infer(spark: SparkSession, jsonSamples: Seq[String]): StructType =
    GraftJsonInfer.infer(spark, jsonSamples)

  /** Reference's width-max merge (Bootstrap.java:299-303): keep the candidate
    * with the most fields; no union, no type reconciliation. */
  def widenMaxFields(candidates: Seq[StructType]): StructType =
    candidates.maxBy(_.fields.length)

  /** Set-union merge — the engine's default, strictly wider than width-max.
    * Field name collisions keep the first type seen (consistent with the
    * reference never reconciling types). */
  def widenUnion(candidates: Seq[StructType]): StructType = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    for (st <- candidates; f <- st.fields) if (!seen.contains(f.name)) seen(f.name) = f
    StructType(seen.values.toSeq)
  }

  /** Nullable promotion (enableDefaultValue analog, Bootstrap.java:221-232):
    * every field — recursively — becomes nullable. */
  def allNullable(st: StructType): StructType =
    StructType(st.fields.map { f =>
      val dt = f.dataType match {
        case s: StructType => allNullable(s)
        case ArrayType(s: StructType, _) => ArrayType(allNullable(s), containsNull = true)
        case other => other
      }
      f.copy(dataType = dt, nullable = true)
    })

  /** Declared query: run the full pipeline over `events.props` at `sfDir`
    * and emit one row per inferred field — deterministic metadata output. */
  def inferPropsSchema(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val samples = graft.Tables
      .events(spark, sfDir)
      .orderBy($"event_id")
      .select($"props")
      .as[String]
      .take(200)
    val st = allNullable(infer(spark, samples.toIndexedSeq))
    st.fields.toSeq
      .map(f => (f.name, f.dataType.sql.toLowerCase, f.nullable))
      .toDF("field_name", "field_type", "nullable")
      .orderBy($"field_name")
  }
}
