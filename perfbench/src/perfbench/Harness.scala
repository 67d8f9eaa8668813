package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One traced call: `parent` is 0 for a root span; `req` is the id shared
  * by every span of one pipeline iteration or query. */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until [[Tracer.write]] at the end of a run. When disabled, [[span]] is
  * a plain call. */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, req,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def write(path: java.nio.file.Path): Unit = {
    val all = spans
    val self = Trace.selfTimes(all)
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  /** Length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it covered by
    * its children (overlapping children are counted once, and child time
    * outside the parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Live heap after a full collection: the old-generation pools' usage
  * after explicit System.gc() calls, sampled between timed units. The
  * run reports the median sample: one sample in a few reads ~20 MB high
  * for reasons outside the benchmark's control, which a maximum would
  * report as a regression. */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Two collections 200 ms apart, keeping the smaller reading: what
    * Spark's ContextCleaner releases in reaction to one collection
    * (broadcast and shuffle blocks) is freed by the next. */
  def sample(): Unit = {
    val mb = (1 to 2).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      oldPools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
    }.min
    synchronized { samples += mb }
  }

  def medianMb: Double = synchronized(Stats.median(samples.toSeq))
}

/** Just enough JSON output for results and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
