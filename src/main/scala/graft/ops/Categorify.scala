package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Frequency-based categorical indexing — the reference's 16-column
  * `StringIndexer` `Pipeline` (/root/reference/data_processing/
  * batch_processing/batch_process_Silver_to_Gold.py:106-126) rebuilt as a
  * relational operator.
  *
  * Semantics match MLlib `StringIndexer(frequencyDesc, handleInvalid=keep)`:
  * index 0 = most frequent value, ties broken by value ascending, unseen
  * values at transform time -> `numLabels`.
  *
  * Scale design: the reference fits 16 indexers *serially* — 16 full scans
  * (SURVEY.md §4.2 pathology #5). Here one `fit` melts all requested columns
  * into (column, value) pairs and computes every vocabulary in a single
  * scan + single shuffle, and one action brings every vocabulary of at
  * most [[BroadcastMaxRows]] values to the driver. `transform` ships those
  * in ONE broadcast and indexes each column with a map lookup — no join,
  * no exchange, and the job count does not grow with the number of
  * columns. A web-scale vocabulary that would blow the broadcast ceiling
  * stays a distributed plan and rides a shuffled join.
  *
  * Saved layout (read by [[load]], the streaming job and external
  * checks): one directory per column, `<path>/<col>/part-*.parquet`, rows
  * `(value: string, idx: long)`; a column with an empty vocabulary still
  * gets its directory.
  */
object Categorify {

  /** Vocabularies at or under this row count are held on the driver and
    * looked up through a broadcast at transform time; larger ones ride a
    * shuffled join. ~4M rows of (string value, long idx) is comfortably
    * inside Spark's broadcast ceiling (tens of MB); the reference's
    * largest vocabulary (item_id, ~1.84 M) broadcasts, a 100×-scaled one
    * (~184 M rows, multi-GB) must NOT — a forced broadcast there exceeds
    * the 8 GB broadcast limit and OOMs executors. Above the gate the join
    * is left unhinted so AQE may still pick a broadcast if the runtime
    * size turns out small. */
  val BroadcastMaxRows: Long = 4L << 20

  private val VocabSchema = StructType(Seq(
    StructField("value", StringType), StructField("idx", LongType)))

  /** A fitted model.
    *
    * @param sizes every column's vocabulary size — also the index of null
    *              and unseen values
    * @param local the vocabulary (value -> idx) of every column whose size
    *              is at most [[BroadcastMaxRows]], held on the driver
    * @param vocab every vocabulary as a lazy `(c, value, idx)` plan; only
    *              the join and the save of an above-gate column evaluate
    *              it, re-running the fit (or the scan) each time */
  case class Model(sizes: Map[String, Long],
                   local: Map[String, Map[String, Long]],
                   vocab: DataFrame) {

    /** One column's vocabulary as a `(value: string, idx: long)` frame:
      * a local relation when the vocabulary is held, else its plan. */
    def lookup(c: String): DataFrame = local.get(c) match {
      case Some(m) => vocab.sparkSession.createDataFrame(
        m.iterator.map { case (v, i) => Row(v, i) }.toSeq.asJava, VocabSchema)
      case None => vocab.filter(col("c") === c).select("value", "idx")
    }

    /** Replace each fitted column with its index (original value columns are
      * overwritten, like the reference's rename dance at
      * batch_process_Silver_to_Gold.py:126-130). Keys compare as
      * `cast(string)`; null and unseen values map to the vocabulary size.
      *
      * Every held vocabulary of at most `broadcastMaxRows` values goes out
      * in one broadcast and each of those columns becomes a map lookup in
      * the same projection, so the plan gains no join and no exchange. The
      * broadcast is made here, once: a streaming query built on the result
      * reuses it every micro-batch. A larger vocabulary rides a shuffled
      * join instead — MLlib's StringIndexer unconditionally collects labels
      * to the driver and would OOM on a web-scale vocabulary. */
    def transform(df: DataFrame,
                  broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
      val (small, large) = sizes.keys.toSeq.sorted
        .partition(c => local.contains(c) && sizes(c) <= broadcastMaxRows)
      val looked =
        if (small.isEmpty) df
        else {
          val bc = df.sparkSession.sparkContext.broadcast(
            small.map(c => c -> local(c)).toMap)
          df.withColumns(small.map(c => c ->
            udf[Long, String](new Lookup(bc, c, sizes(c))).asNonNullable()(
              col(c).cast("string"))).toMap)
        }
      large.foldLeft(looked) { case (acc, c) =>
        val l = lookup(c)
          .withColumnRenamed("value", s"__${c}_val")
          .withColumnRenamed("idx", s"__${c}_idx")
        acc
          .join(l, acc(c).cast("string") === l(s"__${c}_val"), "left")
          .withColumn(c, coalesce(col(s"__${c}_idx"), lit(sizes(c))))
          .drop(s"__${c}_val", s"__${c}_idx")
      }
    }

    /** One partitioned write of every vocabulary into a temporary
      * directory, then a rename of each `c=<col>` directory to
      * `<path>/<col>`: one job for any number of columns. Held
      * vocabularies are written from the driver's copy; an above-gate one
      * from its plan, sharded by maxRecordsPerFile (a web-scale item_id
      * must not funnel through one task). A column with no values gets
      * an empty `<path>/<col>` of the same schema, which the partitioned
      * write would not create. Existing `<path>/<col>` directories are
      * replaced; nothing else under `path` is touched. */
    def save(path: String): Unit = {
      val spark = vocab.sparkSession
      val rows = local.toSeq.sortBy(_._1).flatMap { case (c, m) =>
        m.iterator.map { case (v, i) => Row(c, v, i) }
      }
      val held = spark.createDataFrame(rows.asJava,
        StructType(StructField("c", StringType) +: VocabSchema.fields))
      val above = sizes.keys.filterNot(local.contains).toSeq
      val all =
        if (above.isEmpty) held
        else held.unionByName(vocab.filter(col("c").isin(above: _*)))
      val tmp = new Path(path, s"_tmp-${java.util.UUID.randomUUID()}")
      all.write.partitionBy("c")
        .option("maxRecordsPerFile", (4 << 20).toString)
        .parquet(tmp.toString)
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      sizes.keys.foreach { c =>
        val dst = new Path(path, c)
        val src = new Path(tmp, s"c=${ExternalCatalogUtils.escapePathName(c)}")
        if (fs.exists(dst)) fs.delete(dst, true)
        if (fs.exists(src)) {
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"could not rename $src to $dst")
        } else lookup(c).write.parquet(dst.toString)
      }
      fs.delete(tmp, true)
    }
  }

  /** value -> idx through the broadcast vocabularies; null and unseen
    * values -> `unseen`. The map is resolved once per deserialized copy,
    * not per row. */
  private final class Lookup(bc: Broadcast[Map[String, Map[String, Long]]],
                             c: String, unseen: Long)
      extends (String => Long) with Serializable {
    @transient private lazy val m = bc.value(c)
    def apply(v: String): Long = if (v == null) unseen else m.getOrElse(v, unseen)
  }

  /** Single-pass multi-column frequency fit.
    *
    * Ranking shape: a naive `Window.partitionBy(column)` puts each
    * column's ENTIRE vocabulary in one sort partition (~184 M rows for a
    * 100×-scaled item_id — a single-task serialization). Instead the
    * q65/q86/coverageVocab distributed prefix-sum: bucket rows by
    * `length(bin(count))` — exact integer log2, so within a column
    * (bucket desc, count desc, value asc) IS the global
    * (count desc, value asc) order — rank inside the (column, bucket)
    * partition, and add a broadcast per-(column, bucket) row-count
    * offset (≤64 buckets × #columns rows). Fully parallel; one action
    * collects every column's size and every vocabulary of at most
    * [[BroadcastMaxRows]] values, and nothing stays cached. */
  def fit(df: DataFrame, cols: Seq[String]): Model = {
    // Melt: one (col, value) row per cell, then a single groupBy computes all
    // vocabularies together. Nulls are excluded (StringIndexer drops them).
    val pairs = df.select(
      explode(map_from_arrays(
        array(cols.map(lit): _*),
        array(cols.map(c => col(c).cast("string")): _*))).as(Seq("c", "value")))
      .filter(col("value").isNotNull)
    val freq = pairs.groupBy("c", "value").count()
    val bucketed = freq.withColumn("__b", length(bin(col("count"))))
    // per-(column, bucket) row counts -> rank offsets and column sizes; the
    // windows run over ≤64 rows per column, never over the vocabulary itself
    val offsets = bucketed.groupBy("c", "__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.partitionBy("c").orderBy(desc("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("size", sum(col("__n")).over(Window.partitionBy("c")))
      .select("c", "__b", "__off", "size")
    val wb = Window.partitionBy("c", "__b")
      .orderBy(desc("count"), asc("value"))
    def ranked(columns: DataFrame): DataFrame =
      bucketed.join(broadcast(columns), Seq("c", "__b"))
        .withColumn("idx",
          row_number().over(wb).cast("long") - 1 + col("__off"))
        .select("c", "value", "idx")
    // the first bucket of each column (offset 0) carries its size once
    val sizes = offsets.filter(col("__off") === 0).select("c", "size")
    held(cols, sizes,
      ranked(offsets.filter(col("size") <= BroadcastMaxRows)), ranked(offsets))
  }

  /** Reads a model written by [[Model.save]]. Sizes and every vocabulary
    * of at most [[BroadcastMaxRows]] values come back in one action (the
    * streaming job then broadcasts them once, not per micro-batch);
    * larger ones stay scans. */
  def load(spark: SparkSession, path: String, cols: Seq[String]): Model = {
    val vocab = cols.map(c =>
      spark.read.schema(VocabSchema).parquet(s"$path/$c")
        .select(lit(c).as("c"), col("value"), col("idx"))).reduce(_ unionByName _)
    val sizes = vocab.groupBy("c").agg(count(lit(1)).as("size"))
    held(cols, sizes, vocab.join(
      broadcast(sizes.filter(col("size") <= BroadcastMaxRows)).drop("size"), "c"),
      vocab)
  }

  /** One action: `sizes` (c, size) plus the `(c, value, idx)` rows of every
    * under-gate vocabulary in `under`, collected together. A column absent
    * from `sizes` has no values: size 0, empty vocabulary. */
  private def held(cols: Seq[String], sizes: DataFrame, under: DataFrame,
                   vocab: DataFrame): Model = {
    val rows = sizes.select(col("c"), lit(null).cast("string").as("value"),
        lit(null).cast("long").as("idx"), col("size"))
      .unionByName(under.withColumn("size", lit(null).cast("long")))
      .collect()
    val (sizeRows, vocabRows) = rows.partition(_.isNullAt(2))
    val size = sizeRows.map(r => r.getString(0) -> r.getLong(3)).toMap
    val values = vocabRows.groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2))
    val sizesAll = cols.map(c => c -> size.getOrElse(c, 0L)).toMap
    Model(sizesAll,
      cols.filter(c => sizesAll(c) <= BroadcastMaxRows)
        .map(c => c -> values.getOrElse(c, Array.empty[(String, Long)]).toMap).toMap,
      vocab)
  }

  /** Pure-column variant for a single column when the vocabulary must stay
    * in-plan (used by oracle-checked queries): returns (df with idx column).
    * Same semantics as fit+transform but expressed as one in-plan join.
    * Same bucketed prefix-sum ranking as [[fit]] — no fully-global
    * `Window.orderBy` (that would sort the whole vocabulary in one
    * task); the only single-partition window left runs over the ≤64-row
    * bucket table. */
  def indexColumn(df: DataFrame, c: String, as: String): DataFrame = {
    val freq = df.filter(col(c).isNotNull)
      .groupBy(col(c).cast("string").as("__v")).count()
    val bucketed = freq.withColumn("__b", length(bin(col("count"))))
    val offsets = bucketed.groupBy("__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(desc("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__off")
    val wb = Window.partitionBy("__b").orderBy(desc("count"), asc("__v"))
    val lut = bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn(as,
        row_number().over(wb).cast("long") - 1 + col("__off"))
      .select("__v", as)
    // no broadcast hint on the vocabulary join: its size is unknown until
    // runtime, and AQE broadcasts it when it IS small — a forced hint
    // would OOM on a 100×-scale high-cardinality column (the only hinted
    // broadcast above is the ≤64-row bucket-offset table)
    df.join(lut, df(c).cast("string") === lut("__v"), "left")
      .drop("__v")
  }
}
