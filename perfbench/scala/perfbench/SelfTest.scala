package perfbench

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- generator: same seed -> identical inputs, other seed -> other
    def generatedInputs(seed: Long): String =
      (Gen.documents(seed, 300).map(_.toString) ++ Gen.exItems(seed, 200).map(_.toString) ++
        Gen.questions(seed, 60).map(_.toString)).mkString("\n")
    check("documents, items and questions repeat for a seed") {
      generatedInputs(7) == generatedInputs(7)
    }
    check("another seed gives other documents, items and questions") {
      val (a, b) = (Gen.documents(7, 300), Gen.documents(8, 300))
      a != b && Gen.exItems(7, 200) != Gen.exItems(8, 200) &&
        Gen.questions(7, 60) != Gen.questions(8, 60)
    }
    check("item and answer mixes have the stated shares and do not depend on the seed") {
      def shape(seed: Long) = Gen.exItems(seed, 400).map(i => (i.dialect, i.expected, i.predError, i.large))
      val xs = Gen.exItems(3, 400)
      val c = Gen.OutcomeCycle.groupBy(identity).map { case (k, v) => k -> v.length }
      val a = Gen.AnswerCycle.groupBy(identity).map { case (k, v) => k -> v.length }
      c == Map('S' -> 8, 'P' -> 4, 'W' -> 4, 'N' -> 2, 'B' -> 2) &&
        a == Map('N' -> 13, 'R' -> 5, 'W' -> 2) &&
        shape(3) == shape(4) && xs.count(_.large) == 40 && xs.count(_.dialect == "spark") == 100 &&
        Gen.questions(3, 60).map(_.expectedEx) == Gen.questions(4, 60).map(_.expectedEx)
    }
    check("no two served questions share an SQL job description") {
      val qs = Gen.questions(3, 80)
      qs.flatMap(Gen.sqlKeys).toSet.size == qs.map(Gen.sqlKeys(_).size).sum
    }
    check("every doc clears the delta config's 40-char floor") {
      Gen.documents(11, 2000).forall(_.text.length >= Corpus.DeltaCfg.minChars)
    }

    // ---- percentile rule
    check("nearest-rank percentiles") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.pct(xs, 50) == 50.0 && Stats.pct(xs, 90) == 90.0 && Stats.pct(xs, 100) == 100.0 &&
        Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.pct(Nil, 50) == 0.0
    }
    check("tail percentile keeps >= 10 samples beyond it") {
      Stats.tailPercentile(1000).contains(99) && Stats.tailPercentile(200).contains(95) &&
        Stats.tailPercentile(100).contains(90) && Stats.tailPercentile(99).contains(75) &&
        Stats.tailPercentile(40).contains(75) && Stats.tailPercentile(39).contains(50) &&
        Stats.tailPercentile(20).contains(50) && Stats.tailPercentile(19).isEmpty
    }

    // ---- span self time over overlapping children
    check("self time subtracts the union of overlapping children") {
      val parent = Span(1, "p", 1, 0, 0, 100)
      val kids = Seq(Span(2, "a", 1, 1, 10, 40), Span(3, "b", 1, 1, 30, 60),
        Span(4, "c", 1, 1, 90, 130), Span(5, "d", 1, 1, 50, 55))
      // covered: [10, 60) + [90, 100) = 60
      Trace.selfNanos(parent, kids) == 40L && Trace.selfNanos(parent, Nil) == 100L
    }
    check("spans nest across threads a traced call spawns") {
      Trace.enabled = true
      Trace.reset()
      Trace.op(42) {
        Trace.span("outer") {
          val t = new Thread(() => Trace.span("inner")(()))
          t.start(); t.join()
        }
      }
      Trace.enabled = false
      val ss = Trace.all
      val outer = ss.find(_.name == "outer").get
      val inner = ss.find(_.name == "inner").get
      inner.parent == outer.id && inner.op == 42 && outer.op == 42 && outer.parent == 0
    }

    // ---- job-to-op attribution
    check("jobs keep their op property, else go to the one op holding their key and start") {
      def job(id: Int, op: Long, desc: String, start: Long) =
        Job(id, op, desc, start, start + 5, 1, 1, 0, 0, 0, 0, 0, 0, 0)
      val ops = Seq((1L, Set("q001"), 0L, 100L), (2L, Set("q002", "q061"), 40L, 160L),
        (3L, Set("q001"), 200L, 300L), (4L, Set("q003"), 50L, 150L), (5L, Set("q003"), 60L, 170L))
      val key = (j: Job) => Option(j.desc).map(_.stripPrefix("serving "))
      val got = Jobs.attribute(Seq(job(1, 7, "serving q002", 50), job(2, -1, "serving q001", 50),
        job(3, -1, "serving q061", 50), job(4, -1, "serving q001", 250), job(5, -1, "serving q001", 150),
        job(6, -1, null, 50), job(7, -1, "serving q003", 100), job(8, -1, "serving q003", 55)),
        key, ops).map(j => j.id -> j.op).toMap
      // job 5 lies outside both q001 windows, job 7 in both q003 windows
      got == Map(1 -> 7L, 2 -> 1L, 3 -> 2L, 4 -> 3L, 5 -> -1L, 6 -> -1L, 7 -> -1L, 8 -> 4L)
    }
    check("a span on a thread without an op takes the op its thread names") {
      Trace.enabled = true
      Trace.reset()
      Trace.opOfThread = () => 9L
      try {
        Trace.span("server")(Trace.span("child")(()))
        Trace.op(3)(Trace.span("client")(()))
      } finally { Trace.opOfThread = () => 0L; Trace.enabled = false }
      Trace.all.map(s => s.name -> s.op).toMap == Map("server" -> 9L, "child" -> 9L, "client" -> 3L)
    }
    check("driver idle time is op wall minus the union of its jobs") {
      val ops = Seq((1L, "item", 0L, 100000000L))
      val jobs = Seq(Job(1, 1, null, 10000000, 30000000, 1, 1, 0, 0, 0, 0, 0, 0, 0),
        Job(2, 1, null, 20000000, 50000000, 1, 1, 0, 0, 0, 0, 0, 0, 0))
      val m = Layers.spark(ops, jobs)
      m("spark.driver_idle_ms_per_op") == 60.0 && m("spark.jobs_per_op") == 2.0 &&
        m("spark.jobs_per_op.item") == 2.0
    }

    // ---- tables: same seed -> same content, other seed -> other
    val spark = graft.core.GraftSession.build("perfbench-selftest", 2)
    try {
      val root = System.getProperty("java.io.tmpdir")
      def digest(seed: Long, dir: String): Seq[String] = {
        Gen.writeTables(spark, dir, seed, 0.05, Gen.documents(seed, 200))
        graft.catalog.Tables.all.map { t =>
          spark.read.parquet(s"$dir/$t.parquet")
            .selectExpr("count(*)", "sum(CAST(xxhash64(*) AS DECIMAL(38, 0)))")
            .collect().head.mkString(":")
        }
      }
      val a = digest(5, s"$root/t5a")
      check("tables repeat for a seed") { a == digest(5, s"$root/t5b") }
      check("another seed gives other tables") {
        val b = digest(6, s"$root/t6")
        a.zip(b).count { case (x, y) => x != y } >= 8
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
