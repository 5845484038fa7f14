package graftbench

/** Checks the benchmark's arithmetic on synthetic inputs with known
  * answers. Run with `python3 perfbench/run.py --self-test`; exits
  * non-zero on the first mismatch. */
object SelfTest {
  private var checks = 0

  private def near(what: String, got: Double, want: Double): Unit = {
    checks += 1
    if (math.abs(got - want) > 1e-9) {
      System.err.println(s"FAIL $what: got $got, want $want")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    import Stats._
    // percentiles with sample counts: 1..100 and the small-n edges
    val hundred = (1 to 100).map(_.toDouble)
    near("p50 of 1..100", percentile(hundred, 50), 50.5)
    near("p95 of 1..100", percentile(hundred, 95), 95.05)
    near("p0 of 1..100", percentile(hundred, 0), 1)
    near("p100 of 1..100", percentile(hundred, 100), 100)
    near("p50 of one sample", percentile(Seq(7.0), 50), 7)
    near("p95 of two samples", percentile(Seq(10.0, 20.0), 95), 19.5)
    near("median ignores order", median(Seq(3.0, 1.0, 2.0)), 2)
    near("p50 of an even count", median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    near("mean", mean(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)

    // union of job intervals: overlaps count once, gaps do not count
    near("union, disjoint", unionLength(Seq((0.0, 1.0), (2.0, 3.0))), 2)
    near("union, overlapping", unionLength(Seq((0.0, 5.0), (1.0, 2.0), (4.0, 7.0))), 7)
    near("union, touching", unionLength(Seq((0.0, 1.0), (1.0, 2.0))), 2)
    near("union, unsorted and empty", unionLength(Seq((5.0, 6.0), (3.0, 3.0), (0.0, 1.0))), 2)
    near("union of nothing", unionLength(Nil), 0)
    // driver time = op wall time minus the job union, children clipped
    near("uncovered", uncovered(0, 10, Seq((2.0, 4.0), (3.0, 6.0), (9.0, 12.0))), 5)

    // self time from overlapping spans: op [0,100) has a parse [0,10),
    // an analysis [10,30) and two jobs [20,60) and [50,90); job 1 has a
    // stage [25,55). Op self = 100 - |[0,90)| = 10; job self = 40 - 30.
    val spans = Seq(
      Span(1, "op", 0, 100, 0, 1), Span(2, "parse", 0, 10, 1, 1),
      Span(3, "analysis", 10, 30, 1, 1), Span(4, "job", 20, 60, 1, 1),
      Span(5, "job", 50, 90, 1, 1), Span(6, "stage", 25, 55, 4, 1))
    val self = selfTimes(spans)
    near("op self", self("op"), 10)
    near("parse self", self("parse"), 10)
    near("job self", self("job"), (40 - 30) + 40)
    near("stage self", self("stage"), 30)

    // busy ratio: 800 ms of tasks in 100 ms of ops on 4 cores = 2.0
    // (over-subscribed); 200 ms = 0.5; no wall time = 0
    near("busy ratio", busyRatio(200, 100, 4), 0.5)
    near("busy ratio above one", busyRatio(800, 100, 4), 2.0)
    near("busy ratio, no wall", busyRatio(5, 0, 4), 0)

    println(s"""{"self_test": "ok", "checks": $checks}""")
  }
}
