package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Aliccp
import graft.ops.Categorify

/** End-to-end run of the spark-submit-shaped jobs on handmade AliCCP CSV
  * fixtures — the switch-over path a reference user exercises first. */
class JobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = ""; private val W = ""; private val R = ""

  private val userIds = Set("101", "109_14", "110_14", "127_14", "150_14",
    "121", "122", "124", "125", "126", "127", "128", "129")

  private def blob(ids: Seq[String], base: Int): String =
    ids.zipWithIndex.map { case (id, i) => s"$id$K${base + i}${W}1.0" }
      .mkString(R)

  private def writeFixtures(root: String): (String, String) = {
    val itemIds = Aliccp.silverFields.map(_._1).filterNot(userIds)
    val sk = Seq(
      s"1,1,0,cf_1,9,${blob(itemIds, 50)}",
      s"2,0,1,cf_1,1,205${K}66${W}1.0",
      s"3,0,0,cf_2,1,205${K}9${W}1.0").mkString("\n")
    // common CSV layout is _c0 key, _c1 count, _c2 blob in the reference
    val cm = s"cf_1,13,${blob(Aliccp.silverFields.map(_._1).filter(userIds), 42)}"
    Files.writeString(Paths.get(s"$root/sk.csv"), sk)
    Files.writeString(Paths.get(s"$root/cm.csv"), cm)
    (s"$root/sk.csv", s"$root/cm.csv")
  }

  test("BronzeToSilver then SilverToGold run end-to-end on CSV fixtures") {
    val root = Files.createTempDirectory("jobs").toString
    val (sk, cm) = writeFixtures(root)

    BronzeToSilver.run(spark, sk, cm, s"$root/silver")
    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.columns.toSeq ===
      "sample_id" +: Aliccp.silverSchema.fieldNames.toSeq)
    // row 2 (click=0, conversion=1) filtered; rows 1 and 3 survive
    val byId = silver.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet === Set(1L, 3L))
    assert(byId(1L).getAs[Int]("user_id") === 42)
    assert(byId(1L).getAs[Int]("item_id") === 50)
    assert(byId(3L).isNullAt(silver.columns.indexOf("user_id")),
      "unmatched common key must leave user fields null")

    SilverToGold.run(spark, s"$root/silver", s"$root/gold", s"$root/model")
    val gold = spark.read.parquet(s"$root/gold")
    // na.drop across the keep-list drops row 3 (null user features)
    assert(gold.count() === 1)
    assert(gold.columns.contains("user_id_raw") &&
      gold.columns.contains("created") && gold.columns.contains("datetime"))
    assert(gold.select("user_id_raw").head().getInt(0) === 42)
    // retrieval split: the single gold row has click=1, and every column of
    // a retrieval row (load timestamps included) equals its gold row's
    val retrieval = spark.read.parquet(s"$root/gold-retrieval")
    assert(retrieval.count() === 1)
    val clicked = gold.filter(col("click") === 1)
    assert(retrieval.columns.toSeq === gold.columns.toSeq)
    assert(retrieval.exceptAll(clicked).isEmpty && clicked.exceptAll(retrieval).isEmpty,
      "retrieval rows differ from their gold rows")

    // stream transform applies the SAME persisted model (stream-batch
    // consistency): indices equal the batch gold table's
    val model = Categorify.load(spark, s"$root/model", Aliccp.goldIndexCols)
    val streamed = StreamSilverToGold.transform(
      silver.na.drop(), model)
    assert(streamed.select("user_id").head().getInt(0) ===
      gold.select("user_id").head().getInt(0))
  }

  /** Silver written by BronzeToSilver from the CSV fixtures. */
  private def silverFixture(): String = {
    val root = Files.createTempDirectory("jobs").toString
    val (sk, cm) = writeFixtures(root)
    BronzeToSilver.run(spark, sk, cm, s"$root/silver")
    root
  }

  test("SilverToGold leaves nothing cached") {
    val root = silverFixture()
    spark.catalog.clearCache()
    SilverToGold.run(spark, s"$root/silver", s"$root/gold", s"$root/model")
    assert(spark.sharedState.cacheManager.isEmpty,
      "SilverToGold.run left a cached plan behind")
  }

  test("SilverToGold runs a fixed number of Spark jobs") {
    // 10 jobs measured on this fixture, the same count as on 30k generated
    // rows (59 before the broadcast-vocabulary transform, the one-job save
    // and the read-back retrieval split); the margin of 2 leaves room for
    // an AQE stage split, not for a job per indexed column
    val budget = 10 + 2
    val root = silverFixture()
    val sc = spark.sparkContext
    val group = "silver-to-gold-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      try SilverToGold.run(spark, s"$root/silver", s"$root/gold", s"$root/model")
      finally sc.clearJobGroup()
      BusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() > 0 && jobs.get() <= budget,
      s"SilverToGold.run ran ${jobs.get()} Spark jobs, budget $budget")
  }

  test("CorpusClean filters, exact-dedups and collapses near-dup groups") {
    import spark.implicits._
    val root = Files.createTempDirectory("jobs3").toString
    val base = "the cat and the dog played in the garden all day and night"
    Seq(
      (1L, base),                                  // group rep
      (2L, base),                                  // exact clone of 1
      (3L, base.replace("night", "evening")),      // near-clone of 1
      (4L, "der hund und die katze und das haus und ist nicht ein zu"), // de
      (5L, "the end"),                             // too short
      (6L, "a completely different story about the spark engine and its optimizer plans"))
      .toDF("doc_id", "text").write.parquet(s"$root/docs")
    val stats = CorpusClean.run(spark, s"$root/docs", s"$root/clean",
      minQuality = 0.0, minTokens = 3, nearDup = "prefix", shingleK = 3,
      threshold = 0.5)
    assert(stats === CorpusClean.Stats(input = 6, afterFilter = 4,
      afterExact = 3, kept = 2))
    val kept = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 6L),
      "min-id reps survive; clones, near-clones, junk and non-en drop")
    // the bucketed (approximate) candidate path also runs end to end
    val s2 = CorpusClean.run(spark, s"$root/docs", s"$root/clean2",
      minQuality = 0.0, minTokens = 3, nearDup = "minhash", shingleK = 3,
      threshold = 0.5)
    assert(s2.kept === 2,
      "LSH recall finds the planted near-clone at this similarity")
  }

  test("GetHistoricalFeatures writes the point-in-time join result") {
    import spark.implicits._
    val root = Files.createTempDirectory("jobs2").toString
    Seq((1L, 100L), (1L, 350L)).toDF("user_id", "e_ts")
      .write.parquet(s"$root/entities")
    Seq((1L, 50L, 1.0), (1L, 300L, 2.0), (1L, 400L, 3.0))
      .toDF("user_id", "ts_us", "value")
      .write.parquet(s"$root/source")
    GetHistoricalFeatures.run(spark, s"$root/entities", s"$root/source",
      s"$root/out", "user_id", "e_ts", "ts_us", ttlUs = 1000L, Seq("value"))
    val out = spark.read.parquet(s"$root/out")
      .select("e_ts", "value").as[(Long, Double)].collect().toMap
    assert(out === Map(100L -> 1.0, 350L -> 2.0))
  }
}
