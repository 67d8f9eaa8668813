package graft.ops

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Categorify must match MLlib StringIndexer(frequencyDesc,
  * handleInvalid=keep) — the reference's indexer
  * (batch_process_Silver_to_Gold.py:106-126) — including tie-breaks and
  * the unseen-value index. */
class CategorifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("frequency desc ordering with value-asc tie-break") {
    val df = Seq("b", "b", "a", "a", "c").toDF("v")
    val model = Categorify.fit(df, Seq("v"))
    val lut = model.local("v")
    // a and b tie at 2 -> a (value asc) gets 0; c least frequent -> 2
    assert(lut === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // the lazy vocabulary plan (shuffled-join path, save) ranks identically
    assert(model.vocab.filter(col("c") === "v").select("value", "idx")
      .as[(String, Long)].collect().toMap === lut)
    assert(model.sizes("v") === 3L)
  }

  test("transform maps values; unseen -> numLabels; nulls excluded from fit") {
    val fitDf = Seq(Some("x"), Some("x"), Some("y"), None).toDF("v")
    val model = Categorify.fit(fitDf, Seq("v"))
    assert(model.sizes("v") === 2L)
    val out = model.transform(Seq("x", "y", "zzz").toDF("v"))
      .select("v").as[Long].collect().toSeq
    assert(out === Seq(0L, 1L, 2L)) // zzz unseen -> 2 = numLabels
  }

  test("matches MLlib StringIndexer output on skewed data") {
    val data = (1 to 200).map(i => s"v${i % 7}") ++ (1 to 50).map(_ => "v3")
    val df = data.toDF("v")
    val ours = Categorify.fit(df, Seq("v")).local("v")
    val mllib = new StringIndexer().setInputCol("v").setOutputCol("idx")
      .setStringOrderType("frequencyDesc").setHandleInvalid("keep")
      .fit(df)
    val theirs = mllib.labelsArray(0).zipWithIndex
      .map { case (v, i) => v -> i.toLong }.toMap
    assert(ours === theirs)
  }

  test("matches MLlib StringIndexer on tie-heavy random data (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny alphabet -> many frequency ties -> exercises the value-asc
    // tie-break exhaustively
    val gen = Gen.listOfN(60, Gen.oneOf("a", "b", "c", "d", "e"))
    val prop = Prop.forAll(gen) { values =>
      val df = values.toDF("v")
      val ours = Categorify.fit(df, Seq("v")).local("v")
      val theirs = new StringIndexer().setInputCol("v").setOutputCol("i")
        .setStringOrderType("frequencyDesc").setHandleInvalid("keep")
        .fit(df).labelsArray(0).zipWithIndex
        .map { case (v, i) => v -> i.toLong }.toMap
      ours == theirs
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("transform broadcast is size-gated: above-gate vocab rides a shuffled join") {
    // a 100×-scale vocabulary must NOT be force-broadcast (8 GB ceiling /
    // executor OOM); with the gate at 0 and auto-broadcast disabled the
    // executed plan must contain no BroadcastExchange, while the default
    // gate on a small vocab looks values up in the broadcast map: no join,
    // no exchange
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = s.createDataFrame(Seq("a", "b", "b", "c").map(Tuple1(_)))
      .toDF("v")
    val model = Categorify.fit(df, Seq("v"))
    val gated = model.transform(df, broadcastMaxRows = 0L)
    gated.collect()
    // scope the assertion ABOVE the cached lookup's InMemoryRelation: the
    // fit-time plan cached inside it legitimately holds the ≤64-row
    // bucket-offset broadcast, which is not the join under test
    val gatedPlan = gated.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head
    assert(!gatedPlan.contains("BroadcastExchange"),
      s"above-gate vocab still broadcasts:\n$gatedPlan")
    assert(gatedPlan.contains("SortMergeJoin")
      || gatedPlan.contains("ShuffledHashJoin"), gatedPlan)
    val hinted = model.transform(df) // default gate: 3-row vocab broadcasts
    hinted.collect()
    val hintedPlan = hinted.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head
    assert(!hintedPlan.contains("Join") && !hintedPlan.contains("Exchange"),
      s"under-gate vocab still joins or shuffles:\n$hintedPlan")
    // both paths agree on the indexed values
    assert(gated.collect().map(_.getLong(0)).sorted.toSeq
      === hinted.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("empty vocabulary round-trips: an all-null column saves, loads and maps to 0") {
    val dir = java.nio.file.Files.createTempDirectory("catg").toString
    val df = Seq[(String, Option[String])](("a", None), ("b", None)).toDF("v", "n")
    val model = Categorify.fit(df, Seq("v", "n"))
    assert(model.sizes === Map("v" -> 2L, "n" -> 0L))
    model.save(dir)
    assert(new java.io.File(s"$dir/n").isDirectory,
      "an empty vocabulary still gets its <path>/<col> directory")
    val loaded = Categorify.load(spark, dir, Seq("v", "n"))
    assert(loaded.sizes === model.sizes)
    val out = loaded.transform(Seq[(String, Option[String])](
      ("a", None), ("b", Some("x"))).toDF("v", "n"))
      .select("n").as[Long].collect().toSeq
    assert(out === Seq(0L, 0L))
  }

  test("save/load round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("catg").toString
    val df = Seq("a", "b", "b").toDF("v")
    Categorify.fit(df, Seq("v")).save(dir)
    val loaded = Categorify.load(spark, dir, Seq("v"))
    assert(loaded.sizes("v") === 2L)
    val out = loaded.transform(Seq("b").toDF("v")).select("v").as[Long].head()
    assert(out === 0L)
  }
}
