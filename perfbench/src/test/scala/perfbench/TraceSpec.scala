package perfbench

class TraceSpec extends SparkSuite {
  test("the listener attributes each job to the span that ran it") {
    val tr = new Tracer(spark, enabled = true)
    // a narrow scan: one job, one stage, one task per input partition
    tr.span("one")(spark.range(0, 1000, 1, 4).filter("id % 2 = 0").collect())
    tr.span("two") {
      tr.span("inner")(spark.range(0, 10, 1, 2).collect())
      spark.range(0, 10, 1, 3).collect()
    }
    tr.span("none")(spark.range(10))
    tr.finish()
    val byName = tr.spans.map(s => s.name -> s).toMap
    val one = tr.countsUnder(byName("one"))
    assert((one.jobs, one.stages, one.tasks) == ((1L, 1L, 4L)))
    assert(tr.countsUnder(byName("two")).jobs == 2)
    assert(tr.countsUnder(byName("inner")).tasks == 2)
    assert(tr.countsUnder(byName("none")).jobs == 0)
    assert(tr.roots.map(_.name) == Seq("one", "two", "none"))
    assert(tr.planMsUnder(byName("one")) > 0)
    assert(tr.selfMs(byName("two")) <= byName("two").ms - byName("inner").ms + 1e-9)
  }

  test("disabled, spans record nothing") {
    val tr = new Tracer(spark, enabled = false)
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.spans.isEmpty)
  }
}
