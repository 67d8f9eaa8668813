package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.GraftSession
import graft.model.Aliccp
import graft.ops.{BronzeSilver, Categorify, SilverGold}
import graft.sources.Sources
import graft.store.FeatureStore
import graft.streaming.Streams

/** Runnable entrypoints mirroring the reference's spark-submit scripts
  * 1:1 — the switch-over surface: a reference user replaces each
  * `spark-submit <script>.py` with `spark-submit --class graft.jobs.<Job>`
  * and the same positional arguments' worth of configuration. Every job is
  * a thin `main` over a testable `run`/`transform` function that wires the
  * library operators; no logic lives only in a main.
  */
object Jobs {
  private[jobs] def session(): SparkSession =
    GraftSession.tune(SparkSession.builder()).getOrCreate()
}

/** `batch_process_Bronze_to_Silver.py` — headerless AliCCP CSVs to the
  * 25-column typed silver table. Skeleton CSV layout (:179-187):
  * _c0 sample_id, _c1 click, _c2 conversion, _c3 common-feature key,
  * _c4 feature count, _c5 KV blob; common CSV (:87-97): _c0 key,
  * _c1 feature count, _c2 KV blob. The reference collectAsMap'd the
  * common table to the driver and parsed with Python UDFs; here the
  * common side broadcasts and the parse is the codegen'd struct-extract
  * kernel. */
object BronzeToSilver {
  private def strings(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"_c$i", StringType)))

  def run(spark: SparkSession, skeletonCsv: String, commonCsv: String,
          outDir: String): Unit = {
    val skeleton = Sources.csv(spark, skeletonCsv, strings(6))
      .select(col("_c0").cast("long").as("sample_id"),
        col("_c1").cast("int").as("click"),
        col("_c2").cast("int").as("conversion"),
        col("_c3").as("key"), col("_c5").as("blob"))
    val common = Sources.csv(spark, commonCsv, strings(3))
      .select(col("_c0").as("key"), col("_c2").as("blob"))
    Sources.writeParquet(
      BronzeSilver.toSilver(skeleton, common, Aliccp.silverFields), outDir)
  }

  def main(args: Array[String]): Unit = args match {
    case Array(skeletonCsv, commonCsv, outDir) =>
      val spark = Jobs.session()
      try run(spark, skeletonCsv, commonCsv, outDir) finally spark.stop()
    case _ => sys.error(
      "usage: graft.jobs.BronzeToSilver <skeletonCsv> <commonCsv> <outDir>")
  }
}

/** `batch_process_Silver_to_Gold.py` — silver parquet to the 17-column
  * gold table: keep-list + na.drop, user/item raw copies, 16-column
  * frequency indexing (model persisted for the streaming job), cast
  * battery, load timestamps, plus the click==1 retrieval split. The two
  * JDBC sinks (:166-172) activate when connection args are given.
  *
  * Gold is computed once: the retrieval split and the JDBC sinks read the
  * committed gold output back, so they neither re-run the pipeline nor
  * re-take its load timestamps (a retrieval row equals its gold row). */
object SilverToGold {
  def run(spark: SparkSession, silverDir: String, goldDir: String,
          modelDir: String, jdbc: Option[(String, String, String, String)] = None): Unit = {
    val silver = spark.read.parquet(silverDir)
    val gold = SilverGold.toGold(silver, Aliccp.goldKeep,
      Aliccp.goldRawCopy, Aliccp.goldIndexCols)
    gold.model.save(modelDir)
    Sources.writeParquet(gold.table, goldDir)
    // the schema is known: reading it back needs no footer-inference job
    val written = spark.read.schema(gold.table.schema).parquet(goldDir)
    val retrieval = SilverGold.retrievalSplit(written)
    Sources.writeParquet(retrieval, s"$goldDir-retrieval")
    jdbc.foreach { case (url, table, user, password) =>
      Sources.writeJdbc(written, url, table, user, password)
      Sources.writeJdbc(retrieval, url, s"${table}retrieval", user, password)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 3 && args.length != 7) sys.error(
      "usage: graft.jobs.SilverToGold <silverDir> <goldDir> <modelDir> " +
        "[<jdbcUrl> <table> <user> <password>]")
    val jdbc = args.drop(3) match {
      case Array(url, table, user, pass) => Some((url, table, user, pass))
      case _ => None
    }
    val spark = Jobs.session()
    try run(spark, args(0), args(1), args(2), jdbc) finally spark.stop()
  }
}

/** `stream_silver_to_gold.py` — silver JSON records on a Kafka topic,
  * transformed with the BATCH-FITTED categorify model (stream-batch
  * consistency: the stream must index identically to the offline gold
  * table), re-encoded to a gold topic. [[transform]] is the testable
  * core; `main` wires it between Kafka endpoints. */
object StreamSilverToGold {
  /** The reference's stream transform (:78-152): raw-id copies, model
    * indexing, int cast battery, load timestamps. */
  def transform(parsed: DataFrame, model: Categorify.Model): DataFrame = {
    val kept = parsed.select(Aliccp.goldKeep.map(col): _*)
    val withRaw = Aliccp.goldRawCopy.foldLeft(kept)(
      (df, c) => df.withColumn(s"${c}_raw", col(c)))
    val indexed = model.transform(withRaw)
    Aliccp.goldIndexCols.foldLeft(indexed)(
      (df, c) => df.withColumn(c, col(c).cast("int")))
      .withColumn("created", current_timestamp())
      .withColumn("datetime", current_timestamp())
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 5) sys.error("usage: graft.jobs.StreamSilverToGold " +
      "<bootstrapServers> <inTopic> <outTopic> <checkpointDir> <modelDir>")
    val Array(servers, inTopic, outTopic, checkpoint, modelDir) = args
    val spark = Jobs.session()
    val model = Categorify.load(spark, modelDir, Aliccp.goldIndexCols)
    val parsed = Streams.decodeJson(
      Streams.fromKafka(spark, servers, inTopic), Aliccp.silverSchema)
    Streams.toKafka(transform(parsed, model), servers, outTopic, checkpoint)
      .start().awaitTermination()
  }
}

/** `ingest_stream_to_online_store.py` — entity records on a Kafka topic
  * upserted into the online store (latest-per-key by EVENT time, not
  * arrival order), with the reference's `preprocess_fn` hook. The record
  * schema arrives as a DDL string (e.g. "user_id LONG, ts_us LONG,
  * value DOUBLE") so one binary serves every feature view. */
object IngestStreamToOnlineStore {
  def main(args: Array[String]): Unit = {
    if (args.length != 7) sys.error("usage: graft.jobs.IngestStreamToOnlineStore " +
      "<bootstrapServers> <topic> <schemaDdl> <keyCol> <tsCol> <path> <checkpointDir>")
    val Array(servers, topic, schemaDdl, keyCol, tsCol, path, checkpoint) = args
    val spark = Jobs.session()
    val schema = StructType.fromDDL(schemaDdl)
    val parsed = Streams.decodeJson(
      Streams.fromKafka(spark, servers, topic), schema)
    Streams.upsertOnline(parsed, Seq(keyCol), tsCol, tieBreak = tsCol, path)
      .option("checkpointLocation", checkpoint)
      .start().awaitTermination()
  }
}

/** `get_fv.py` (`get_historical_features`) — point-in-time-correct
  * feature retrieval: for each entity row attach the newest source row
  * within the view's TTL. */
object GetHistoricalFeatures {
  def run(spark: SparkSession, entityDir: String, sourceDir: String,
          outDir: String, key: String, entityTs: String, eventTime: String,
          ttlUs: Long, features: Seq[String]): Unit = {
    val view = FeatureStore.FeatureView("historical", Seq(key), eventTime,
      ttlUs, features)
    Sources.writeParquet(
      FeatureStore.getHistoricalFeatures(
        spark.read.parquet(entityDir), view,
        spark.read.parquet(sourceDir), entityTs),
      outDir)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 8) sys.error("usage: graft.jobs.GetHistoricalFeatures " +
      "<entityDir> <sourceDir> <outDir> <key> <entityTsCol> <eventTimeCol> " +
      "<ttlMicros> <feature,feature,...>")
    val Array(entityDir, sourceDir, outDir, key, entityTs, eventTime, ttl, features) = args
    val spark = Jobs.session()
    try run(spark, entityDir, sourceDir, outDir, key, entityTs, eventTime,
      ttl.toLong, features.split(",").toSeq)
    finally spark.stop()
  }
}
