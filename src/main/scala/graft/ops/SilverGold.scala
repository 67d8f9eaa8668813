package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Silver->Gold feature-engineering stage
  * (/root/reference/data_processing/batch_processing/
  * batch_process_Silver_to_Gold.py): select + na.drop (:83-87), raw-id
  * copies (:95-96), frequency-indexing of the categorical columns
  * (:106-126), bulk rename back (:129-130), int casts + load timestamps
  * (:132-152), and the click==1 retrieval split (:171).
  *
  * Differences by design: one single-pass fit instead of 16 serial
  * estimator scans (SURVEY.md §4.2 #5), and indexing by a broadcast map
  * lookup instead of one join per column. `gold.table` is a plan whose
  * load timestamps are taken when it runs: a caller with several sinks
  * (graft.jobs.SilverToGold) writes it once and feeds the others from the
  * written output, so the pipeline is not re-executed per sink (§4.2 #3)
  * and every sink sees the same rows.
  */
object SilverGold {

  /** @param silver input wide table
    * @param keep   columns to carry (na.drop applied across them)
    * @param rawCopy columns duplicated as `<col>_raw` BEFORE indexing
    *                (user_id/item_id in the reference)
    * @param index  categorical columns replaced by their frequency index */
  case class Gold(table: DataFrame, model: Categorify.Model)

  def toGold(silver: DataFrame, keep: Seq[String], rawCopy: Seq[String],
             index: Seq[String], eventTime: String = null): Gold = {
    val selected = silver.select(keep.map(col): _*).na.drop()
    val withRaw = rawCopy.foldLeft(selected)(
      (df, c) => df.withColumn(s"${c}_raw", col(c)))
    val model = Categorify.fit(withRaw, index)
    val indexed = model.transform(withRaw)
    // cast battery + load timestamps (created = wall clock at load;
    // datetime = event time when present, else load time)
    val casted = index.foldLeft(indexed)(
      (df, c) => df.withColumn(c, col(c).cast("int")))
      .withColumn("created", current_timestamp())
      .withColumn("datetime",
        if (eventTime == null) current_timestamp()
        else to_timestamp(col(eventTime)))
    Gold(casted, model)
  }

  /** click==1 subset — the reference's `alicppretrieval` table (:171). */
  def retrievalSplit(gold: DataFrame, clickCol: String = "click"): DataFrame =
    gold.filter(col(clickCol) === 1)
}
