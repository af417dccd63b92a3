package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Startpoint

/** Kafka source/sink descriptors (reference:
  * samza-kafka/.../KafkaSystemConsumer.java,
  * samza-kafka/.../KafkaInputDescriptor.java /
  * KafkaOutputDescriptor.java) mapped onto the Structured Streaming
  * Kafka connector's option surface.
  *
  * The mapping itself — descriptor fields → exact connector options,
  * Startpoint variants → startingOffsets/startingTimestamp — is the
  * contract this module owns, and KafkaContractSpec pins it. The
  * CONNECTOR (spark-sql-kafka) is not present in this build
  * environment, so `read`/`readStream` are exercised only up to the
  * option map; they will load the source normally wherever the
  * connector jar is on the classpath.
  */
object Kafka {

  /** KafkaInputDescriptor analog. `startpoint` plays Samza's
    * per-stream startpoint (applied only when no checkpoint exists —
    * Spark gives checkpoints the same precedence). */
  final case class SourceConfig(
      bootstrapServers: String,
      topic: String,
      startpoint: Startpoint = Startpoint.Oldest,
      failOnDataLoss: Boolean = true,
      maxOffsetsPerTrigger: Option[Long] = None,
      consumerOverrides: Map[String, String] = Map.empty)

  /** The exact option map handed to `format("kafka")` — the unit the
    * contract spec asserts per Startpoint variant. Consumer overrides
    * get the connector's `kafka.` prefix (KafkaConsumerConfig's
    * pass-through of consumer properties). */
  def sourceOptions(c: SourceConfig): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> c.bootstrapServers,
      "subscribe" -> c.topic,
      "failOnDataLoss" -> c.failOnDataLoss.toString) ++
      c.startpoint.kafkaOptions ++
      c.maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      c.consumerOverrides.map { case (k, v) => s"kafka.$k" -> v }

  /** Streaming read: Kafka envelope columns (key, value, topic,
    * partition, offset, timestamp). */
  def readStream(spark: SparkSession, c: SourceConfig): DataFrame =
    spark.readStream.format("kafka").options(sourceOptions(c)).load()

  /** Bounded read of the same topic (Samza's bounded-consumption mode
    * over a Kafka stream). */
  def read(spark: SparkSession, c: SourceConfig): DataFrame =
    spark.read.format("kafka").options(sourceOptions(c)).load()

  /** KafkaOutputDescriptor analog → options for
    * `writeStream.format("kafka")`. The frame must carry `key`/`value`
    * columns (binary or string), matching the connector's contract. */
  def sinkOptions(bootstrapServers: String, topic: String,
      producerOverrides: Map[String, String] = Map.empty)
      : Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic) ++
      producerOverrides.map { case (k, v) => s"kafka.$k" -> v }
}
