package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.GraftParquet
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The writer/reader pair for the Parquet datasets graft keeps — task
  * fields ([[Task.store]] / [[Task.load]]) and the persisted-index tiers
  * ([[graft.llm.Dedup]], [[graft.llm.Similarity]], [[graft.llm.GraphAnn]]).
  *
  * A bare `spark.read.parquet(dir)` must infer the schema, and Spark does
  * that with a footer-sampling JOB before any real work starts. The
  * writer therefore records the schema next to the data, in
  * `<dir>/_schema.json`, once the dataset is complete and before it is
  * published or renamed live; the reader hands that record to Spark, so
  * opening a stored dataset costs one small sidecar read and no job.
  * Partition columns are not in the record: Spark discovers them from
  * the `name=value` paths on the driver, as it always did.
  *
  * The record is the written frame's schema minus its `partitionBy`
  * columns, made nullable at every level — the form Spark reads Parquet
  * back in — so a read with the record has the schema and the rows of an
  * inferring read. The leading `_` hides the file from Spark's listing
  * and from graft's own `cell=` / `band=` / `req-` listings, and
  * [[Manifest.names]] lists directories only.
  *
  * A dir without a record (written before records existed, or by an
  * append-only path) reads exactly as before, with inference. Appends
  * into a live dir (index ingest) write with the dir's own encoder, so
  * its record stays valid; a record is only ever written for a dataset
  * the same call just wrote in full.
  *
  * Bounded state is read on the driver ([[collect]]): the one-row meta
  * tiers (IVF `meta`, IVF-PQ `pq_meta`, MinHash `meta`, k-NN graph
  * `meta`), the nlist-row `centroids`, the m×ksub-row `codebooks` and
  * the graph's one-row `entry`. Every caller already collected these
  * whole to the driver and put them into plans as literals, so reading
  * them there adds no size bound; it drops the Spark job each collect
  * launched, several per index call.
  */
object Stored {

  /** Name of the schema record inside a dataset dir. */
  val SchemaFile = "_schema.json"

  /** Overwrite `dir` with `df` (partitioned by `partitionBy`, if any),
    * then record its schema. */
  def write(df: DataFrame, dir: String, partitionBy: String*): Unit = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    recordSchema(dir, df.schema, partitionBy)
  }

  /** Record `schema` for the complete dataset this caller just wrote at
    * `dir` — for a dir that [[write]] did not write itself (one input
    * dir of a partitioned task-field write). */
  private[core] def recordSchema(dir: String, schema: StructType,
                                 partitionBy: Seq[String] = Nil): Unit = {
    val data = StructType(schema.filterNot(f => partitionBy.contains(f.name)))
    SidecarFs.writeStringAtomic(s"$dir/$SchemaFile", nullable(data).json)
  }

  /** The dataset at `dir`, read with its schema record when there is
    * one, with Spark's inference otherwise. */
  def read(spark: SparkSession, dir: String): DataFrame =
    recorded(dir) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** The rows of the dataset at `dir` — the schema and rows of
    * `read(spark, dir).collect()` — read on the driver from the Parquet
    * files directly under `dir`, with its schema record and Spark's own
    * Parquet read support: no job, no broadcast, no session conf change,
    * nothing persisted. For bounded, unpartitioned state only (see
    * above). A dir without a record is read by that collect. */
  def collect(spark: SparkSession, dir: String): Array[Row] =
    recorded(dir) match {
      case Some(schema) => GraftParquet.readLocal(spark, dir, schema)
      case None => read(spark, dir).collect()
    }

  private def recorded(dir: String): Option[StructType] =
    SidecarFs.readString(s"$dir/$SchemaFile")
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
