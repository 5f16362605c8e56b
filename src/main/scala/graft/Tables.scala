package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

import graft.operators.TableStore

/** Loader for the driver-generated synthetic tables (see TESTDATA.md).
  *
  * One parquet file per table under the scale-factor directory. All
  * queries in [[SparkEntry.queries]] resolve their inputs through here so
  * the scale factor is a pure parameter.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[graft.GraftSession]]
    * / Verify / Bench) so the column arrives as nanos-since-epoch LONG;
    * this loader converts it back to a proper timestamp (microsecond
    * precision — Spark's native resolution).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = TableStore.readParquet(spark, Seq(s"$dir/$name.parquet"))
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Shared nanos-long → timestamp conversion for the events shape (used
    * by both the batch loader and the streaming reader so they can never
    * diverge).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // defense in depth for sessions built without GraftSession's
        // inferTimestampNTZ=false: reinterpret NTZ micros as UTC instants
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
}
