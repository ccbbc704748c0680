package graft.schema

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ten fixture tables (TESTDATA.md): the one module that knows
  * their layout, `<sfDir>/<name>.parquet`, and their schemas.
  *
  * Every table is read with its declared schema, so building the
  * DataFrame runs no Spark job to infer one from the parquet footers.
  * The DDL is Spark's own inference of the fixtures, identical at
  * every scale factor: the timestamps are TIMESTAMP(MICROS) without a
  * zone and read as TIMESTAMP_NTZ, and every field is nullable.
  * `TablesSpec` pins declared == inferred, so a renamed or retyped
  * fixture column fails there instead of reading as nulls.
  */
object Tables {

  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING")
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** Fixture table `name` under `sfDir`, read with its declared schema.
    * An unknown name throws; there is no fallback to inference.
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema = schemas.getOrElse(name, throw new IllegalArgumentException(
      s"unknown fixture table '$name' (known: ${schemas.keys.mkString(", ")})"))
    spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
  }
}
