package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Zipf(s) over ranks 0..n-1 by inverse CDF; rank r maps to a seeded
  * permutation so hot keys scatter over the key space. */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  private val perm = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val p = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    perm(lo)
  }
}

/** AliCCP-shaped bronze CSVs: a skeleton file (sample_id, click,
  * conversion, common key, feature count, item-side KV blob) and a common
  * file (key, feature count, user-side KV blob). Blob triples are
  * `field\x02value\x031.0` joined by `\x01`. Users and items are
  * Zipf-skewed; a known share of rows are click=0/conversion=1 (dropped by
  * silver), fields go missing at random, and a few users have no common
  * row. [[expected]] derives the silver/gold facts in plain Scala. */
final case class Bronze(samples: Int, users: Int, items: Int, seed: Long) {
  import Bronze._

  private def userFeatures(u: Int): Seq[(String, Int)] = {
    val r = new SplittableRandom(seed * 31 + u)
    UserFields.map { case (id, card) =>
      id -> (if (id == "101") u else r.nextInt(card)) }
      .filter { case (id, _) => id == "101" || r.nextDouble() >= MissingShare }
  }

  /** Users without a common row: their user-side silver columns are null. */
  def hasCommon(u: Int): Boolean = (u * 2654435761L + seed) % 97 != 0

  private def itemFeatures(item: Int, r: SplittableRandom): Seq[(String, Int)] =
    ItemFields.map { case (id, card) =>
      id -> (id match {
        case "205" => item
        case "206" | "207" | "216" => (item * 7 + card / 3) % card
        case _ => r.nextInt(card)
      })
    }.filter { case (id, _) => id == "205" || r.nextDouble() >= MissingShare }

  private def blob(fs: Seq[(String, Int)]): String =
    fs.map { case (id, v) => s"$id\u0002$v\u00031.0" }.mkString("\u0001")

  /** Skeleton rows: (sample_id, click, conversion, user, item features). */
  def skeleton: Iterator[(Long, Int, Int, Int, Seq[(String, Int)])] = {
    val r = new SplittableRandom(seed)
    val uz = new Zipf(users, 1.1, seed + 1)
    val iz = new Zipf(items, 1.1, seed + 2)
    Iterator.range(0, samples).map { i =>
      val u = uz.sample(r)
      val item = iz.sample(r)
      val click = if (r.nextDouble() < 0.2) 1 else 0
      val conv =
        if (click == 1) (if (r.nextDouble() < 0.1) 1 else 0)
        else if (r.nextDouble() < InvalidShare) 1 else 0
      (i.toLong, click, conv, u, itemFeatures(item, r))
    }
  }

  def write(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val sk = dir.resolve("skeleton.csv")
    val cm = dir.resolve("common.csv")
    val w = Files.newBufferedWriter(sk, UTF_8)
    try skeleton.foreach { case (id, click, conv, u, fs) =>
      w.write(s"$id,$click,$conv,cf_$u,${fs.size},${blob(fs)}\n")
    } finally w.close()
    val c = Files.newBufferedWriter(cm, UTF_8)
    try (0 until users).filter(hasCommon).foreach { u =>
      val fs = userFeatures(u)
      c.write(s"cf_$u,${fs.size},${blob(fs)}\n")
    } finally c.close()
    (sk, cm)
  }

  /** Plain-Scala silver and gold facts for these files. */
  lazy val expected: Expected = {
    val idToCol = graft.model.Aliccp.silverFields.toMap
    val userCache = scala.collection.mutable.Map.empty[Int, Map[String, Int]]
    def userCols(u: Int) = userCache.getOrElseUpdate(u,
      if (!hasCommon(u)) Map.empty
      else userFeatures(u).map { case (id, v) => idToCol(id) -> v }.toMap)
    var silver = 0L
    val online = scala.collection.mutable.Map.empty[Option[Int], Long]
    val vocab = graft.model.Aliccp.goldIndexCols
      .map(_ -> scala.collection.mutable.Set.empty[Int]).toMap
    skeleton.foreach { case (id, click, conv, u, fs) =>
      if (!(click == 0 && conv == 1)) {
        silver += 1
        val row = userCols(u) ++ fs.map { case (f, v) => idToCol(f) -> v } +
          ("click" -> click)
        val key = row.get("user_id")
        online(key) = math.max(online.getOrElse(key, -1L), id)
        if (graft.model.Aliccp.goldKeep.forall(row.contains))
          vocab.foreach { case (col, set) => set += row(col) }
      }
    }
    val userAge = online.collect { case (Some(u), _) =>
      u -> userCols(u).get("user_age") }.toMap
    Expected(silver, vocab.map { case (k, v) => k -> v.size.toLong },
      online.size.toLong, userAge)
  }
}

object Bronze {
  /** Share of click=0 rows given conversion=1 (invalid, dropped). */
  val InvalidShare = 0.03
  val MissingShare = 0.02
  /** (field id, cardinality) of the user-side fields (common blob). */
  val UserFields: Seq[(String, Int)] = Seq("101" -> 0, "109_14" -> 40,
    "110_14" -> 300, "127_14" -> 200, "150_14" -> 120, "121" -> 90,
    "122" -> 13, "124" -> 2, "125" -> 7, "126" -> 4, "127" -> 4,
    "128" -> 3, "129" -> 4)
  /** (field id, cardinality) of the item-side fields (skeleton blob). */
  val ItemFields: Seq[(String, Int)] = Seq("205" -> 0, "206" -> 400,
    "207" -> 3000, "210" -> 1500, "216" -> 2500, "508" -> 60, "509" -> 80,
    "702" -> 70, "853" -> 50, "301" -> 3)
}

/** @param vocab distinct non-null values per Categorify column over gold
  * @param onlineRows distinct user_id values (null counts once) in silver
  * @param userAge latest-row user_age per user (latest = max sample_id;
  *                user_age is constant per user) */
final case class Expected(silverRows: Long, vocab: Map[String, Long],
                          onlineRows: Long, userAge: Map[Int, Option[Int]])

/** Entity rows and a feature-history table for the as-of join. History:
  * per key a run of events at distinct increasing times. Entity rows ask
  * at random times, some before a key's first event, some past the TTL,
  * some for keys with no history. */
final case class History(keys: Int, perKey: Int, entities: Int, seed: Long) {
  val TtlUs: Long = 3600L * 1000000L

  /** (user_id, event_ts, f_clicks, f_score) */
  lazy val rows: IndexedSeq[(Long, Long, Long, Double)] = {
    val r = new SplittableRandom(seed + 7)
    (0 until keys).flatMap { k =>
      var t = r.nextLong(TtlUs)
      (0 until perKey).map { j =>
        t += 1 + r.nextLong(TtlUs)
        (k.toLong, t, (j * 3 + k % 5).toLong, r.nextInt(10000) / 100.0)
      }
    }
  }

  /** (entity_id, user_id, ts) */
  lazy val entityRows: IndexedSeq[(Long, Long, Long)] = {
    val r = new SplittableRandom(seed + 11)
    val horizon = (perKey + 2) * TtlUs
    (0 until entities).map { i =>
      (i.toLong, r.nextInt(keys + keys / 20).toLong, r.nextLong(horizon))
    }
  }

  /** entity_id -> expected (f_clicks, f_score), None when nothing is in the
    * TTL window at or before the entity's time. */
  lazy val expected: Map[Long, Option[(Long, Double)]] = {
    val byKey = rows.groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    entityRows.map { case (id, k, ts) =>
      id -> byKey.get(k).flatMap(_.filter(h => h._2 <= ts && h._2 >= ts - TtlUs)
        .lastOption.map(h => (h._3, h._4)))
    }.toMap
  }
}
