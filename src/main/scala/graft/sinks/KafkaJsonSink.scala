package graft.sinks

import graft.transforms.Cleanse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** Kafka JSON sink + topic router (SURVEY.md §2.2 K1/K3).
  *
  * Payload shape is the reference's: `value = to_json(struct(all cols
  * except provenance))`, optional `key` (batch id for the CSV flow,
  * mypy/preprocessproduce.py:71). The physical format is pluggable:
  * "kafka" in production (`spark-sql-kafka` on the cluster classpath),
  * anything file-based in tests — the payload computation, the part that
  * carries the semantics, is identical either way.
  */
object KafkaJsonSink {

  /** (key?, value) JSON payload rows (K1; reference mypy/xmlonly.py:121). */
  def payload(df: DataFrame, exclude: Set[String] = Set("input_file"),
      keyExpr: Option[Column] = None): DataFrame =
    Cleanse.jsonValue(df, exclude, keyExpr)

  /** Exact option map [[writeKafka]] hands the kafka connector —
    * factored out so the wire contract is spec-testable without a
    * broker (KafkaContractSpec). */
  def kafkaWriteOptions(topic: String, bootstrap: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap, "topic" -> topic)

  /** The kafka wire shape of a payload frame: binary key/value plus the
    * destination topic — exactly the columns the connector serializes.
    * A file-backed contract test (KafkaContractSpec) persists this
    * frame and decodes it as a subscriber would, exercising the
    * produce→consume path minus only the broker socket. */
  def wireFrame(payload: DataFrame, topic: String): DataFrame = {
    val key =
      if (payload.columns.contains("key")) col("key").cast("binary")
      else lit(null).cast("binary")
    payload.select(key.as("key"), col("value").cast("binary").as("value"),
      lit(topic).as("topic"))
  }

  /** Write payload rows to a Kafka topic. Requires the kafka connector
    * on the classpath (cluster deploy); tests use [[writeFiles]]. */
  def writeKafka(payload: DataFrame, topic: String, bootstrap: String): Unit =
    payload.write.format("kafka")
      .options(kafkaWriteOptions(topic, bootstrap))
      .save()

  /** File-based stand-in with the same payload (test/local target). */
  def writeFiles(payload: DataFrame, dir: String): Unit =
    payload.write.mode("append").parquet(dir)
}

/** K3: one input stream fanned out to per-topic sinks by a routing
  * column — the engine-side analogue of the reference's Logstash
  * topic→index router (logstash.conf:21-46). Used inside foreachBatch. */
object TopicRouter {

  /** Route `df` by `topicCol`: each topic's subset goes to its sink;
    * rows with unmatched topics go to `fallback` (if any). The batch is
    * cached once so N sinks don't rescan the source N times. */
  def route(df: DataFrame, topicCol: String,
      sinks: Map[String, DataFrame => Unit],
      fallback: Option[DataFrame => Unit] = None): Unit = {
    df.cache()
    try {
      sinks.foreach { case (topic, sink) =>
        val subset = df.filter(col(topicCol) === lit(topic))
        if (!subset.isEmpty) sink(subset)
      }
      fallback.foreach { sink =>
        // isNull OR NOT isin: a NULL routing column makes both the
        // per-topic equality and the bare !isin(...) predicate NULL —
        // without the explicit null arm such rows matched NO sink and
        // silently vanished, violating the dead-letter posture (q107)
        // that unroutable input is never dropped.
        val rest = df.filter(col(topicCol).isNull ||
          !col(topicCol).isin(sinks.keys.toSeq: _*))
        if (!rest.isEmpty) sink(rest)
      }
    } finally df.unpersist()
  }
}
