package graft

import graft.ais.{Enrich, FixtureWeatherClient, HttpWeatherClient, WeatherClient}
import graft.streaming.AisPipeline
import org.apache.spark.sql.streaming.Trigger

/** Production entry point for the live pipeline (SURVEY.md §3.1).
  *
  * Modes:
  *   socket  — consume the live NMEA feed (the reference's TCP source,
  *             config-template.ini:5-6): `runMain graft.App socket <host> <port> <outDir>`
  *   replay  — replay NMEA text files: `runMain graft.App replay <inPath> <outDir>`
  *   kafka   — the reference's deploy topology (README.md:195-202): raw NMEA
  *             lines from a topic → decode → the two Confluent-framed Avro
  *             topics (positions + compacted info, key = mmsi):
  *             `App kafka <bootstrap> <rawTopic> <checkpointRoot>`.
  *             Needs the spark-sql-kafka connector jar on the classpath
  *             (deploy-time; see README "Deploying").
  *
  * All modes run the same checkpointed decode pipeline. socket/replay land in
  * parquet append sinks (the MV analog) and weather-enrich the position sink;
  * weather uses the HTTP client when WEATHER_API_KEY is set (the reference's
  * WeatherAPI.com dependency, lib/weather.py), else the deterministic
  * fixture client.
  */
object App {
  private val usage =
    "usage: App socket <host> <port> <outDir> | App replay <inPath> <outDir> " +
      "| App kafka <bootstrap> <rawTopic> <checkpointRoot>"

  def main(args: Array[String]): Unit = {
    // per-mode arity: socket/kafka need 4 args, replay 3
    require(Seq("socket", "kafka").exists(args.headOption.contains) && args.length >= 4 ||
      args.headOption.contains("replay") && args.length >= 3, usage)
    // spark-submit provides the master on a cluster; default local otherwise
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    if (args(0) == "kafka") {
      // deploy topology: raw topic in, the two wire topics out; the
      // enrichment/serving consumers follow those topics (ClickHouse via
      // JdbcSink, or the reference's Kafka-engine tables directly)
      val raw = graft.streaming.KafkaWire.sourceReader(spark,
        graft.streaming.KafkaWire.Endpoint(args(1), args(2))).load()
      val (posW, infoW) = graft.streaming.KafkaWire.pipelineWriters(
        raw, bootstrap = args(1), checkpointRoot = args(3))
      posW.start(); infoW.start()
      spark.streams.awaitAnyTermination()
      return
    }

    val (raw, outDir) = args(0) match {
      case "socket" =>
        (spark.readStream.format("socket")
          .option("host", args(1)).option("port", args(2).toInt).load(),
          args(3))
      case "replay" =>
        (spark.readStream.text(args(1)).toDF("value"), args(2))
      case other => sys.error(s"unknown mode $other")
    }

    val qs = AisPipeline.start(raw, s"$outDir/ckpt", s"$outDir/positions",
      s"$outDir/info",
      trigger = Trigger.ProcessingTime("5 seconds"))

    // enrichment stage: follow the position sink, publish enriched parquet
    val clientFactory: () => WeatherClient = sys.env.get("WEATHER_API_KEY") match {
      case Some(key) => () => new HttpWeatherClient(key)
      case None      => () => new FixtureWeatherClient
    }
    import spark.implicits._
    val posStream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[ais.PositionEvent].schema)
      .parquet(s"$outDir/positions").as[ais.PositionEvent]
    val enriched = Enrich.withWeather(posStream, clientFactory)
    val wq = enriched.writeStream.outputMode("append").format("parquet")
      .option("path", s"$outDir/positions_wx")
      .option("checkpointLocation", s"$outDir/ckpt/wx")
      .trigger(Trigger.ProcessingTime("5 seconds")).start()

    spark.streams.awaitAnyTermination()
    qs.positions.stop(); qs.info.stop(); wq.stop()
  }
}
