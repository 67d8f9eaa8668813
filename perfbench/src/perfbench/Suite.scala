package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** query_suite: a fixed sample of SparkEntry.queries over the seeded
  * fixture (perfbench/fixture.py), each written to the noop sink with an
  * Observation row count, in passes. The seed sets the fixture and each
  * pass's query order. The first [[Suite.WarmupPasses]] passes are not
  * measured: the first is cold (JIT, codegen, the per-run IVF index), and
  * the second is still 20-30% slower than the later ones. Then one
  * measured pass runs per 10 s of --seconds (a warm pass takes 4-6 s on 4
  * cores, the warm-up passes about 22 s): a fixed count, so a run on a
  * slowed host medians the same passes as any other. suite_s is their
  * median. A query that throws fails the run. Row counts are checked
  * against each query's DuckDB oracle twin (SparkEntry.oracleSql) by
  * run.py, which also checks that every query of the sample reported one. */
final class Suite extends Workload {
  import Suite._

  def measure(ctx: Ctx, spark: SparkSession): Unit = {
    val dir = ctx.fixture.getOrElse(sys.error("query_suite needs --fixture")).toString
    val rng = new scala.util.Random(ctx.seed)
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPasses, untracedPasses = mutable.ArrayBuffer.empty[Double]
    val family = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rows = mutable.Map.empty[String, Long]
    val queryS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (pass <- 0 until WarmupPasses + math.max(2, ctx.seconds / SecondsPerPass)) {
      val measured = pass >= WarmupPasses
      val isTraced = ctx.trace && measured && pass % 2 == 1
      var sum = 0.0
      rng.shuffle(Sample).foreach { case (q, fam) =>
        ctx.attempted += 1
        val req = s"$q-$pass"
        val s = ctx.unit(spark, isTraced) {
          ctx.tracer.span(s"SparkEntry.queries.$q", req) {
            try {
              val obs = org.apache.spark.sql.Observation()
              SparkEntry.queries(q)(spark, dir).observe(obs, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
              val n = obs.get("n").asInstanceOf[Long]
              ctx.check(rows.getOrElseUpdate(q, n) == n,
                s"$q: $n rows in pass $pass, ${rows(q)} before")
            } catch {
              case e: Exception =>
                ctx.failed += 1
                ctx.check(false, s"$q failed in pass $pass: $e")
            }
          }
        }
        // per-query hygiene: operators persist intermediates whose lifetime
        // is the returned plan's (SparkEntry.queries' caching contract)
        spark.catalog.clearCache()
        sum += s
        queryS.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        if (isTraced) family(fam) += s
      }
      passS += sum
      if (measured) (if (isTraced) tracedPasses else untracedPasses) += sum
      Heap.sample()
    }
    val warm = passS.drop(WarmupPasses).toSeq
    ctx.metric("result_s", Stats.median(warm), "s")
    ctx.metric("suite_s", Stats.median(warm), "s")
    ctx.metric("suite.first_pass_s", passS.head, "s")
    // geometric mean over queries of each one's median warm time: every
    // query moves it, and none dominates (a median over the mixed sample
    // jumps between whichever queries sit in the middle)
    val perQuery = queryS.values.map(ts => Stats.median(ts.drop(WarmupPasses).toSeq))
    ctx.metric("request_ms",
      math.exp(perQuery.map(math.log).sum / perQuery.size) * 1e3, "ms")
    ctx.notes("passes_s") = passS.toSeq
    ctx.notes("query_rows") = rows.toMap
    ctx.notes("query_s") = queryS.toMap
    ctx.notes("sample") = Sample.map(_._1)
    ctx.notes("oracle_sql") =
      SparkEntry.oracleSql.filter { case (q, _) => Sample.exists(_._1 == q) }
    if (ctx.trace) {
      ctx.tracedUnits = tracedPasses.length // spark.* per pass, not per query
      val n = tracedPasses.length.toDouble
      Families.foreach(f => ctx.metric(s"suite.${f}_s", family(f) / n, "s"))
      ctx.overhead(tracedPasses.toSeq, untracedPasses.toSeq)
      val ps = ctx.recorder.progresses
      ctx.metric("streaming.state_commit_ms",
        ps.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum / n, "ms")
      ctx.metric("streaming.state_rows",
        ps.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum / n, "count")
    }
  }
}

object Suite {
  val WarmupPasses = 2
  val SecondsPerPass = 10
  val Families = Seq("feature_store", "streaming", "llm", "multimodal", "relational")

  /** The sample and each query's family: from every 12th query by sorted
    * name (plus q23_stream_latest, the stateful latest-per-key replay),
    * enough to cover the five families in a warm pass of about 5 s. */
  val Sample: Seq[(String, String)] = Seq(
    "q01_pricing_agg" -> "relational",
    "q54_array_funcs" -> "relational",
    "q158_scd2" -> "feature_store",
    "q23_stream_latest" -> "streaming",
    "q17_minhash_lsh" -> "llm",
    "q78_pii_redact" -> "llm",
    "q114_alaw_decode" -> "multimodal")
}
