package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming source builders — the Spark-native re-expression of the
  * reference's source layer (SURVEY.md §2 S1–S5).
  *
  * The reference hand-manages Kafka consumers and offset persistence
  * (Redis/MySQL); in Structured Streaming the `kafka` source plus a
  * `checkpointLocation` subsumes all of it: offsets are tracked
  * per-batch in the checkpoint's write-ahead log and recovered on
  * restart (the S4/S5 rows — proven by the restart spec in
  * `SinkSpec`). Builders return the fully-configured options so the
  * wiring is unit-testable without a broker; `load()` needs the
  * `spark-sql-kafka` connector on the deploy classpath (not shipped in
  * this container, so the Kafka paths are config-only here, while the
  * file source runs end-to-end through `graft.streaming.Replay`).
  *
  * Embedded-broker attempt (round 15, recorded per the r14 brief): an
  * in-process loopback round trip (`kafkaSink` options → broker →
  * `kafkaLatest`) needs `spark-sql-kafka-0-10` + `kafka-clients` +
  * `kafka` (server) as test deps. All three were attempted against
  * the offline coursier cache (COURSIER_MODE=offline) in a scratch
  * sbt project on 2026-08-15 and all three fail resolution —
  * "Not found" for every coordinate (the cache holds only
  * scalatest/scalacheck + sbt internals; /opt/spark/jars ships no
  * kafka connector either). The executed-contract coverage therefore
  * remains the file-source replay harness, which exercises the same
  * checkpoint offset-tracking/restart semantics the Kafka source
  * shares (SinkSpec's restart contracts); the Kafka rows stay
  * config+spec by container constraint, not by omission.
  *
  * Re-checked 2026-08-16 (r18): the offline caches still hold no
  * kafka artifact (`find ~/.cache/coursier ~/.ivy2 -iname '*kafka*'`
  * empty; /opt/spark/jars ships no connector). New this round:
  * `KafkaIntegrationSpec` — an env-gated executed round trip (K1
  * produce → S1/S3 consume → parseEnvelope) that activates the moment
  * `SPARK_GRAFT_KAFKA_BROKER` is set and the connector jar is on the
  * classpath; it cancels (not fails) in this container.
  */
object Sources {

  /** S1 — Kafka topic from latest offsets
    * (ref utils/MykafkaUtil.scala:20-38, `auto.offset.reset=latest`).
    */
  def kafkaLatest(brokers: String, topic: String): KafkaSourceConfig =
    KafkaSourceConfig(Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> "latest"))

  /** S2 — Kafka topic with a consumer group id
    * (ref utils/MykafkaUtil.scala:40-57: per-app group). Structured
    * Streaming tracks progress in the checkpoint, not the group — the
    * group id is only advisory/monitoring metadata here.
    */
  def kafkaGroup(brokers: String, topic: String, groupId: String): KafkaSourceConfig =
    KafkaSourceConfig(Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "kafka.group.id" -> groupId,
      "startingOffsets" -> "latest"))

  /** S3 — Kafka topic resuming from explicit per-partition offsets
    * (ref utils/MykafkaUtil.scala:59-81 + OffsetManagerUtil: offsets
    * loaded from Redis and passed to the consumer). `offsetsJson` is
    * the SS equivalent: `{"topic":{"0":123,"1":456}}`.
    */
  def kafkaFromOffsets(brokers: String, topic: String, offsetsJson: String): KafkaSourceConfig =
    KafkaSourceConfig(Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> offsetsJson))

  /** Kafka value bytes → typed columns: the streaming form of P1
    * (ref dwd/Ods_to_DWD_order_info.scala:55-66 fastjson parse). Null
    * on malformed input, never a crash.
    */
  def parseEnvelope(kafka: DataFrame, schema: StructType): DataFrame =
    kafka
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("json"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
      .withColumn("parsed", from_json(col("json"), schema))

  /** S7 — JDBC batch source (ref utils/MySQLUtil.scala:29-59 arbitrary
    * SQL → row list, driver-side). Re-expressed as a partitioned scan:
    * `partitionColumn`/bounds/`numPartitions` split the read across
    * executors — the reference's single-connection fetch is a driver
    * bottleneck at any real scale. Config-only (JDBC driver jar is a
    * deploy-time dependency).
    */
  def jdbcPartitioned(url: String, table: String, partitionColumn: String,
                      lowerBound: Long, upperBound: Long,
                      numPartitions: Int): JdbcSourceConfig =
    JdbcSourceConfig(Map(
      "url" -> url,
      "dbtable" -> table,
      "partitionColumn" -> partitionColumn,
      "lowerBound" -> lowerBound.toString,
      "upperBound" -> upperBound.toString,
      "numPartitions" -> numPartitions.toString))

  /** S8 — Elasticsearch search/get as a distributed scan (ref
    * utils/MyESUtil.scala:89-114 Jest query-by-index search, :62-66
    * get; both driver-side, row-at-a-time). Spark-native form: the
    * elasticsearch-hadoop connector's `es` format reads an index as a
    * DataFrame, splitting the scan per shard and pushing the query to
    * the cluster — `es.query` carries the same query-DSL JSON the
    * reference builds with SearchSourceBuilder. A point `get` is the
    * degenerate query `{"query":{"ids":{"values":[id]}}}` — composed
    * here rather than a separate code path. Config-only like
    * Kafka/JDBC (connector jar is a deploy-time dependency; no ES in
    * this container).
    */
  def esSearch(nodes: String, index: String,
               queryJson: Option[String] = None): EsSourceConfig =
    EsSourceConfig(Map(
      "es.nodes" -> nodes,
      "es.resource" -> index) ++
      queryJson.map("es.query" -> _))

  /** JSON string-literal escape for values interpolated into query-DSL
    * JSON: backslash, quote, and all control chars — an id containing
    * `"` or `\` must not produce malformed (or injected) `es.query`
    * JSON.
    */
  private[sources] def jsonEscape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** S8 — ES get-by-id via [[esSearch]]'s query pushdown; the id is
    * JSON-escaped before interpolation (see [[jsonEscape]]).
    */
  def esGet(nodes: String, index: String, id: String): EsSourceConfig =
    esSearch(nodes, index,
      Some(s"""{"query":{"ids":{"values":["${jsonEscape(id)}"]}}}"""))

  /** S9 — properties/config loading (ref
    * utils/PropertiesReaderUtils.scala:15-20, classpath
    * `config.properties`). Returned as a plain map to feed
    * `SparkSession.Builder.config` / source options.
    */
  def loadProperties(in: java.io.InputStream): Map[String, String] = {
    val p = new java.util.Properties()
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
}

/** A fully-specified Kafka source: `options` is the unit-testable
  * contract; `load` applies it (requires the kafka connector jar at
  * deploy time).
  */
case class KafkaSourceConfig(options: Map[String, String]) {
  def load(spark: SparkSession): DataFrame =
    spark.readStream.format("kafka").options(options).load()
}

/** A fully-specified partitioned JDBC scan; `options` is the
  * unit-testable contract.
  */
case class JdbcSourceConfig(options: Map[String, String]) {
  def load(spark: SparkSession): DataFrame =
    spark.read.format("jdbc").options(options).load()
}

/** A fully-specified ES index scan; `options` is the unit-testable
  * contract (requires the elasticsearch-hadoop connector jar at
  * deploy time).
  */
case class EsSourceConfig(options: Map[String, String]) {
  def load(spark: SparkSession): DataFrame =
    spark.read.format("es").options(options).load()
}
