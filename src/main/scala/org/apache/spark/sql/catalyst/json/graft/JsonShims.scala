package org.apache.spark.sql.catalyst.json.graft

import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferSchema}
import org.apache.spark.sql.types.DataType

/** The one package-private step of Spark's JSON schema inference that
  * an in-process inference needs (see `graft.sources.JsonImporter`). */
object JsonShims {

  /** The last step of `JsonInferSchema.infer`: erase the empty structs and
    * the placeholder types the record fold leaves. */
  def canonicalizeType(inference: JsonInferSchema, root: DataType,
      options: JSONOptions): Option[DataType] =
    inference.canonicalizeType(root, options)
}
