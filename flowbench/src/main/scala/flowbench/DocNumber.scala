package flowbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.pipeline.ActorPlugin

/** Pipeline plugin for the curate recipe: WARC documents carry their
  * record id (a string) as `doc_id`, while llm.dedup_near resolves
  * clusters over a numeric id — this adds `doc_num`, a 64-bit hash of
  * the record id. */
class DocNumber extends ActorPlugin {
  override def transform(spark: SparkSession, input: DataFrame,
                         params: Map[String, Any]): DataFrame =
    input.withColumn("doc_num", xxhash64(col("doc_id")))
}
