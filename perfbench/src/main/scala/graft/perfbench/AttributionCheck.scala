package graft.perfbench

/** Self-test of the span attribution (run by perfbench/tests): jobs under
  * two job groups plus jobs with none, then every per-span sum must add up
  * to the listener's whole-run totals, each group must have its own tasks,
  * and [[Acc.idleMillis]] must subtract the union of job intervals.
  * Prints ATTRIBUTION_OK, or ATTRIBUTION_FAIL with the reason and exits 1.
  */
object AttributionCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.start("2")
    val sc = spark.sparkContext
    val l = new SpanListener
    sc.addSparkListener(l)
    def job(): Unit = spark.range(0, 200000, 1, 4)
      .selectExpr("id % 7 as k").groupBy("k").count().collect()
    job()
    Seq("a", "b").foreach { g => sc.setJobGroup(g, g); job(); job(); sc.clearJobGroup() }
    job()
    org.apache.spark.PerfbenchBridge.drain(sc)

    val s = l.spanSum
    val t = l.total
    val idle = new Acc
    idle.jobIntervals ++= Seq((10L, 20L), (15L, 30L), (40L, 50L), (95L, 120L))
    val failures = Seq(
      "tasks" -> (s.tasks == t.tasks),
      "cpu" -> (s.cpuNs == t.cpuNs),
      "shuffle" -> (s.shuffleWrite == t.shuffleWrite),
      "jobs" -> (s.jobs == t.jobs),
      "group a" -> l.bySpan.get("a").exists(a => a.tasks > 0 && a.jobs >= 2),
      "group b" -> l.bySpan.get("b").exists(b => b.shuffleWrite > 0 && b.jobs >= 2),
      "unattributed" -> l.bySpan.get(SpanListener.Unattributed).exists(_.tasks > 0),
      // [0, 100]: busy 10..30, 40..50, 95..100 = 35 ms, idle 65 ms
      "idleMillis" -> (idle.idleMillis(0L, 100L) == 65L)
    ).collect { case (name, false) => name }
    spark.stop()
    if (failures.isEmpty) println("ATTRIBUTION_OK")
    else {
      println(s"ATTRIBUTION_FAIL ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
