package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Bridge to `StructType.getFieldIndex` (`private[sql]`): a lookup in
  * the schema's own cached name → position map, where
  * `fieldNames.indexOf` allocates the name array on every call. Chunk
  * pruning looks a column up once per filter per chunk. */
object FieldIndex {
  def apply(schema: StructType, name: String): Option[Int] = schema.getFieldIndex(name)
}
