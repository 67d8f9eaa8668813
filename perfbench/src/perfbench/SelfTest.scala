package perfbench

import java.nio.file.Files

/** Tests of the benchmark's own code (no Spark): self-time arithmetic
  * and generator determinism. Run with
  * `python3 perfbench/test_perfbench.py`, or directly as
  * `perfbench.Main --selftest 1`; exits non-zero on the first failure. */
object SelfTest {
  private var checks = 0

  private def eq[T](got: T, want: T, what: String): Unit = {
    checks += 1
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
  }

  def run(): Unit = {
    selfTime()
    determinism()
    println(s"selftest ok: $checks checks")
  }

  private def selfTime(): Unit = {
    // parent 0..100 with children 10..30 and 20..50 (overlapping), and a
    // grandchild 15..25 that must not count against the parent again
    val spans = Seq(Span(1, 0, "p", "r", 0, 100), Span(2, 1, "a", "r", 10, 30),
      Span(3, 1, "b", "r", 20, 50), Span(4, 2, "g", "r", 15, 25),
      Span(5, 1, "late", "r", 90, 130))
    val self = Trace.selfTimes(spans)
    eq(self(1), 100L - 40 - 10, "parent minus the union of its children, clipped")
    eq(self(2), 20L - 10, "child minus grandchild")
    eq(self(3), 30L, "leaf")
    eq(self(5), 40L, "leaf outliving its parent keeps its own duration")
    eq(Trace.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))), 25L, "union")
    val t = new Tracer
    t.enabled = true
    t.span("outer", "q") { t.span("inner", "q")(()) }
    val Seq(inner, outer) = t.spans.sortBy(_.name)
    eq(inner.parent, outer.id, "nested span records its parent")
    eq(outer.parent, 0L, "root span has no parent")
  }

  private def determinism(): Unit = {
    val a = Files.createTempDirectory("perfbench-gen-a")
    val b = Files.createTempDirectory("perfbench-gen-b")
    val c = Files.createTempDirectory("perfbench-gen-c")
    try {
      val (s1, c1) = Bronze(2000, 300, 500, 7).write(a)
      val (s2, c2) = Bronze(2000, 300, 500, 7).write(b)
      val (s3, _) = Bronze(2000, 300, 500, 8).write(c)
      eq(Files.mismatch(s1, s2), -1L, "same seed, same skeleton bytes")
      eq(Files.mismatch(c1, c2), -1L, "same seed, same common bytes")
      eq(Files.mismatch(s1, s3) >= 0, true, "another seed, other bytes")
      val e = Bronze(2000, 300, 500, 7).expected
      eq(e.silverRows < 2000 && e.silverRows > 1800, true,
        s"a few percent of rows are invalid (${e.silverRows} kept)")
      eq(History(50, 4, 200, 3).expected, History(50, 4, 200, 3).expected,
        "as-of expectations repeat")
    } finally Seq(a, b, c).foreach { d =>
      val st = Files.walk(d)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally st.close()
    }
  }
}
