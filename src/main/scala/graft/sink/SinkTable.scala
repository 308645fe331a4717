package graft.sink

import org.apache.spark.sql.types.{MapType, StructType}

/**
 * Sink-side table metadata: schema + primary key + counter columns.
 *
 * Mirrors what the reference fetches from Cassandra table metadata at startup
 * to validate mappings and generate statements (reference:
 * sink/src/it/.../SimpleEndToEndSimulacronIT.java:285-316 — prepare-time
 * validation failure fails startup fast).
 *
 * @param partitionKey  columns hashed to place a row (batching key, SURVEY A2)
 * @param clusteringKey columns ordering rows within a partition
 * @param counterCols   counter columns: writes are increments, not assignments
 *                      (reference: sink/src/it/.../JsonEndToEndCCMIT.java:276-300)
 */
case class SinkTable(
    keyspace: String,
    name: String,
    schema: StructType,
    partitionKey: Seq[String],
    clusteringKey: Seq[String] = Seq.empty,
    counterCols: Seq[String] = Seq.empty) {

  val primaryKey: Seq[String] = partitionKey ++ clusteringKey
  def regularCols: Seq[String] =
    schema.fieldNames.toSeq.filterNot(c => primaryKey.contains(c))
  /** Regular MapType columns: reconciled per entry under `mergeMode=entry`. */
  def mapCols: Seq[String] =
    regularCols.filter(c => schema(c).dataType.isInstanceOf[MapType])
  def qualified: String = s"$keyspace.$name"

  require(primaryKey.nonEmpty, s"table $qualified needs a primary key")
  primaryKey.foreach { k =>
    require(schema.fieldNames.contains(k), s"PK column $k missing from schema of $qualified")
  }
}
