package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Input-mode dispatch for the ingest job — the registry analog of the
 * reference's `InputMode {KAFKA, PULSAR, DATA_GEN}` switch
 * (opentsdb/.../AuraMetricsService.java:150-155), uniform with the P3/P4
 * source/sink factories: a scheme-keyed URI picks the stream source, and
 * every mode funnels through the one [[IngestJob.batchBody]]
 * ([[IngestJob.processBatch]] with the micro-batch id).
 *
 *   file:<dir>                — parquet file stream ([[IngestJob.run]])
 *   datagen:<rowsPerSecond>   — synthetic rate source ([[IngestJob.runDataGen]])
 *   kafka:<brokers>/<topic>   — broker stream ([[KafkaSource.run]])
 *   pulsar:<serviceUrl>/<topic> — broker stream ([[PulsarSource.run]])
 *
 * No broker of either kind exists in this environment; both broker modes
 * are wire-schema-tested through their `parse` stages.
 */
object IngestInputs {

  type Starter = (SparkSession, String, IngestJob.Config) => StreamingQuery

  private val modes = scala.collection.concurrent.TrieMap[String, Starter](
    "file" -> ((s, dir, cfg) => IngestJob.run(s, dir, cfg)),
    "datagen" -> ((s, rate, cfg) =>
      IngestJob.runDataGen(s, cfg, rowsPerSecond = rate.toIntOption.getOrElse(1000))),
    "kafka" -> ((s, rest, cfg) => rest.split("/", 2) match {
      case Array(brokers, topic) => KafkaSource.run(s, brokers, topic, cfg)
      case _ => throw new IllegalArgumentException(s"kafka:<brokers>/<topic> expected: $rest")
    }),
    "pulsar" -> ((s, rest, cfg) => rest.split("/", 2) match {
      case Array(url, topic) => PulsarSource.run(s, url, topic, cfg)
      case _ => throw new IllegalArgumentException(s"pulsar:<serviceUrl>/<topic> expected: $rest")
    }))

  def register(scheme: String, starter: Starter): Unit = modes.put(scheme, starter): Unit

  def start(spark: SparkSession, uri: String, cfg: IngestJob.Config): StreamingQuery =
    uri.split(":", 2) match {
      case Array(scheme, rest) if modes.contains(scheme) => modes(scheme)(spark, rest, cfg)
      case _ => throw new IllegalArgumentException(s"no ingest input mode for: $uri")
    }
}
