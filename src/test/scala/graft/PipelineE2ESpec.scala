package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Aliccp
import graft.ops.{BronzeSilver, Categorify, SilverGold}
import graft.parse.AliccpCodec._

/** The reference's full medallion path in one flow (SURVEY.md §3):
  * bronze blobs -> 25-col silver -> gold (indexed, split) -> and the
  * stream applying the SAME batch-fitted model (T9 consistency —
  * stream_silver_to_gold.py:34 loads the batch pipeline model). */
class PipelineE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def blob(ids: Seq[(String, String)], seed: Int): String =
    ids.zipWithIndex.map { case ((id, _), i) =>
      s"$id$KvSep${(seed + i) % 5}${WeightSep}1.0"
    }.mkString(RecSep)

  private val userIds = Set("101", "109_14", "110_14", "127_14", "150_14",
    "121", "122", "124", "125", "126", "127", "128", "129")

  test("bronze -> silver -> gold -> retrieval, full 25-column schema") {
    val userFields = Aliccp.silverFields.filter(f => userIds(f._1))
    val itemFields = Aliccp.silverFields.filterNot(f => userIds(f._1))
    val skeleton = (1 to 100).map(i =>
      (i.toLong, i % 3 min 1, i % 5 min 1, s"cf_${i % 10}",
        blob(itemFields, i))).toSeq
      .toDF("sample_id", "click", "conversion", "key", "blob")
    val common = (0 until 10).map(u => (s"cf_$u", blob(userFields, u)))
      .toSeq.toDF("key", "blob")

    val silver = BronzeSilver.toSilver(skeleton, common, Aliccp.silverFields)
    assert(silver.columns.length === 26) // sample_id + 25
    val silverCount = silver.count()
    // rows with click=0 AND conversion=1 dropped
    assert(silverCount === skeleton
      .filter(col("click") =!= 0 || col("conversion") =!= 1).count())

    val gold = SilverGold.toGold(silver,
      keep = Aliccp.goldKeep, rawCopy = Aliccp.goldRawCopy,
      index = Aliccp.goldIndexCols)
    assert(gold.table.count() === silverCount)
    assert(gold.table.columns.contains("user_id_raw"))
    assert(gold.model.sizes.size === 16)

    val retrieval = SilverGold.retrievalSplit(gold.table)
    assert(retrieval.count() ===
      gold.table.filter(col("click") === 1).count())
  }

  test("stream applies the batch-fitted model: indices agree online/offline") {
    val batch = Seq("a", "a", "b", "c", "a").toDF("seg")
    val model = Categorify.fit(batch, Seq("seg"))
    val batchOut = model.transform(batch).distinct()
      .as[Long].collect().toSet

    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val streamOut = model.transform(mem.toDF().toDF("seg"))
    val q = streamOut.writeStream.format("memory")
      .queryName("t9_test").outputMode("append").start()
    mem.addData("a", "b", "c", "UNSEEN")
    q.processAllAvailable()
    val streamed = spark.table("t9_test").as[Long].collect().toSet
    q.stop()
    // same vocabulary: a->0, b->1, c->2; unseen -> numLabels=3
    assert(batchOut === Set(0L, 1L, 2L))
    assert(streamed === Set(0L, 1L, 2L, 3L))
  }
}
