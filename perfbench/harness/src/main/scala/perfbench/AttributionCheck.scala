package perfbench

/** Self-test of [[Attribution]] on synthetic listener events (no Spark
  * session). Exits non-zero on the first failed expectation.
  * Run: python3 perfbench/run.py --self-test */
object AttributionCheck {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val a = new Attribution
    a.openSpan("0/k1")
    a.jobStart("0/k1", 1, 100, Seq(10, 11), fromTables = true)
    a.taskEnd(10, Seq("task_cpu_s" -> 0.5))
    a.untagged(_.add("executions", 1))
    expect("a running job keeps its span open", a.openJobs("0/k1") == 1)

    // k1 is still draining when k2 opens: tagged events follow their tag,
    // untagged ones the span open now.
    a.openSpan("0/k2")
    a.jobStart("0/k2", 2, 150, Seq(12), fromTables = false)
    a.taskEnd(11, Seq("task_cpu_s" -> 0.25))
    a.stageCompleted(10)
    a.jobEnd(1, 200, succeeded = true)
    a.untagged(_.add("executions", 1))
    expect("the span closes once its last job ended", a.openJobs("0/k1") == 0)
    val k1 = a.closeSpan("0/k1")
    expect("tagged jobs, stages and tasks land on their span",
      k1.get("jobs") == 1 && k1.get("infer_jobs") == 1 && k1.get("stages") == 1 &&
        k1.get("tasks") == 2 && k1.get("task_cpu_s") == 0.75)
    expect("an untagged event goes to the span open when it is handled",
      k1.get("executions") == 1)
    expect("the job becomes a child span with its interval",
      k1.children.toSeq == Seq(Span("spark.job", 100, 200, Map("job" -> 1, "ok" -> true))))

    a.taskEnd(11, Seq("task_cpu_s" -> 9.0))
    expect("an event for a closed span is counted late, not moved", a.late == 1)
    a.jobEnd(2, 260, succeeded = false)
    val k2 = a.closeSpan("0/k2")
    expect("the other span kept only its own events",
      k2.get("jobs") == 1 && k2.get("tasks") == 0 && k2.get("executions") == 1 &&
        k2.get("task_cpu_s") == 0)

    a.untagged(_.add("executions", 1))
    a.jobStart(null, 3, 300, Seq(13), fromTables = false)
    expect("events outside any span are late; untagged jobs are ignored",
      a.late == 2 && a.openJobs("0/k2") == 0)

    val parsed = Harness.parse(List("--sf", "d", "--out", "o", "--trace"))
    expect("argument parsing", parsed.sf == "d" && parsed.out == "o" && parsed.trace)
    expect("JSON rendering", Json.render(Map("a" -> Seq(1, 2.5, null), "b" -> "x\"\n")) ==
      "{\"a\":[1,2.5,null],\"b\":\"x\\\"\\n\"}")
    if (failures > 0) sys.exit(1)
  }
}
